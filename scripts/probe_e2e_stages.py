#!/usr/bin/env python3
"""Per-stage decomposition of the composed corpus pipeline at scale,
driven through the DURABLE runner boundaries (corpus_pipeline_run's
stage kernels over parquet edges), one rep per stage with spill
counters — the harness behind BASELINE.md's e2e stage tables.

Each stage reads its input from the previous stage's materialized
parquet boundary and writes its own, so the timing isolates the stage's
cost exactly the way the 100 TB runner pays it (no cache interplay
between stages — r13's decomposition showed the exact-pair clean stage
spills only under the fused cached chain; this harness attributes cost
and spill per stage edge instead). Canaries bracket the session per the
split-rule protocol. A failed canary or spill probe omits its fields
and never sinks the run (bench.py's omission rule).

Usage:
  python scripts/probe_e2e_stages.py [--sf DIR] [--candidates exact|lsh]
                                     [--out F] [--keep-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bench import make_spill_probe, run_canary, run_spark_canary  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=".localdata/sf10")
    ap.add_argument("--candidates", default="lsh", choices=("exact", "lsh"))
    ap.add_argument("--out", default=".localdata/e2e_stages.json")
    ap.add_argument(
        "--keep-dir",
        default=None,
        help="materialize boundaries here (kept); default: temp dir, removed",
    )
    args = ap.parse_args()

    canary = run_canary()

    from nrg_etl_airflow_spark_emr_spark.pipelines.corpus import (
        _stage_kept,
        _stage_lined,
        _stage_manifest,
        clean_corpus,
    )
    from nrg_etl_airflow_spark_emr_spark.session import get_spark

    spark = get_spark(app_name="probe-e2e-stages")
    mark, measure = make_spill_probe(spark)

    mat = args.keep_dir or tempfile.mkdtemp(prefix="e2e_stages_")
    os.makedirs(mat, exist_ok=True)
    stages = (
        ("cleaned", lambda _: clean_corpus(
            spark, args.sf, candidates=args.candidates
        ).select("doc_id", "text")),
        ("lined", _stage_lined),
        ("kept", _stage_kept),
        ("manifest", _stage_manifest),
    )
    out: dict = {
        "sf_dir": args.sf,
        "candidates": args.candidates,
        **canary,
        "stages": {},
    }
    out.update(run_spark_canary(spark))
    try:
        prev = None
        for name, fn in stages:
            d = os.path.join(mat, name)
            spark.catalog.clearCache()
            marker = mark()
            t0 = time.monotonic()
            fn(prev).write.mode("overwrite").parquet(d)
            wall = round(time.monotonic() - t0, 3)
            spill = measure(marker)
            rows = spark.read.parquet(d).count()
            rec = {"wall": wall, "rows": rows}
            if spill is not None:
                rec["spill_mem"], rec["spill_disk"] = spill
            out["stages"][name] = rec
            print(f"{name}: {wall}s spill={spill} rows={rows}", flush=True)
            prev = spark.read.parquet(d)
    finally:
        if args.keep_dir is None:
            shutil.rmtree(mat, ignore_errors=True)
    out.update({f"{k}_end": v for k, v in run_spark_canary(spark).items()})
    out.update({f"{k}_end": v for k, v in run_canary().items()})
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
