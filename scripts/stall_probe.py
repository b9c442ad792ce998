#!/usr/bin/env python3
"""Driver-stall repro harness (VERDICT r15 'Next round' item 2).

Runs ONE pinned catalog query in a loop inside one session and records,
per rep: wall seconds, the delta of the driver JVM's TOTAL JIT
compilation time (CompilationMXBean), and the delta of total GC time
(GarbageCollectorMXBeans). A rep whose wall exceeds 2x the median of
the preceding reps is flagged as a stall, so the JIT/GC share of each
stall is measured rather than guessed — the r15 jstack sessions showed
the C2 compiler thread burning 13-27 s of CPU during stall windows and
this harness quantifies that association per rep.

Conf bisect: pass extra Spark conf as NAME=VALUE args after the query —
each run is one config point (JVM flags need a fresh driver anyway):

  python scripts/stall_probe.py sim_knn_ivfpq 20
  python scripts/stall_probe.py sim_knn_ivfpq 20 spark.sql.codegen.wholeStage=false
  SPARK_GRAFT_DRIVER_JAVA_OPTS='-XX:TieredStopAtLevel=1' \
      python scripts/stall_probe.py sim_knn_ivfpq 20

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
SPARK_GRAFT_DRIVER_JAVA_OPTS (appended to any spark.driver.extraJavaOptions
given as NAME=VALUE; -Djava.net.preferIPv4Stack=true is always kept).
Prints one JSON line with per-rep rows and a summary.

The session now sets spark.sql.codegen.cache.maxEntries=1024, so the
SCALE.md bisect's pre-fix "baseline" row needs it passed explicitly:

  python scripts/stall_probe.py sim_knn_ivfpq 20 spark.sql.codegen.cache.maxEntries=100
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs
from nrg_etl_airflow_spark_emr_spark.session import get_spark


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    extra = dict(kv.split("=", 1) for kv in sys.argv[3:])
    jopts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
    key, ipv4 = "spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true"
    if jopts or key in extra:
        opts = " ".join(o for o in (extra.get(key, ""), jopts) if o)
        extra[key] = opts if ipv4 in opts.split() else f"{ipv4} {opts}"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"stall-probe-{name}", extra=extra)
    spec = all_specs()[name]

    mf = spark._jvm.java.lang.management.ManagementFactory

    def comp_ms() -> int:
        return mf.getCompilationMXBean().getTotalCompilationTime()

    def gc_ms() -> int:
        it = mf.getGarbageCollectorMXBeans().iterator()
        tot = 0
        while it.hasNext():
            tot += it.next().getCollectionTime()
        return tot

    rows = []
    for rep in range(reps):
        spark.catalog.clearCache()
        c0, g0 = comp_ms(), gc_ms()
        t0 = time.perf_counter()
        spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        rows.append(
            {
                "rep": rep,
                "wall": round(wall, 3),
                "d_compile_ms": comp_ms() - c0,
                "d_gc_ms": gc_ms() - g0,
            }
        )
        print(rows[-1], file=sys.stderr, flush=True)
    spark.stop()

    walls = [r["wall"] for r in rows]
    med = statistics.median(walls)
    stalls = [r for r in rows if r["wall"] > 2 * med]
    print(
        json.dumps(
            {
                "query": name,
                "conf": {k: v for k, v in extra.items()},
                "java_opts": jopts,
                "median": round(med, 3),
                "min": min(walls),
                "max": max(walls),
                "p90": round(sorted(walls)[int(0.9 * (len(walls) - 1))], 3),
                "n_stalls_gt_2x_median": len(stalls),
                "stall_reps": stalls,
                "total_compile_ms": sum(r["d_compile_ms"] for r in rows),
                "total_gc_ms": sum(r["d_gc_ms"] for r in rows),
                "rows": rows,
            }
        )
    )


if __name__ == "__main__":
    main()
