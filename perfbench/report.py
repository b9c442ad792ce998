"""Turn one run's passes, operations and spans into the printed metrics."""

from __future__ import annotations

import json
import os
import statistics

import spans as tr
import workloads as wl

MB = 2**20

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_s.p50": "s",
    "driver_rss_peak_mb": "MB",
}

#: End-to-end metrics in the JSON result, the ones BENCHMARK.json bounds.
#: The others are printed in the summary only. On a shared 4-core host,
#: query_s.p50 rests on the one or two rows at the middle of a pass, and the
#: peak RSS moves in G1 heap-expansion steps; both spread by a quarter or
#: more between runs.
GATED = ("setup_s", "cold_pass_s", "pass_s")


def build(bench) -> tuple[list[str], dict]:
    """Summary lines and the metrics of the run's last JSON line: the
    end-to-end metrics, or with tracing the per-layer metrics."""
    cold = bench.passes[0]
    warm = [p for p in bench.passes if p["kind"] == "warm"]
    warm_ops = [o["secs"] for p in warm for o in p["ops"]]
    e2e = {
        "setup_s": statistics.median(bench.setup_s),
        "cold_pass_s": cold["secs"],
        "pass_s": statistics.median(p["secs"] for p in warm),
        "query_s.p50": statistics.median(warm_ops),
        "driver_rss_peak_mb": bench.rss_mb,
    }
    attempted = len(bench.ops)
    failed = [o for o in bench.ops if not o["ok"]]
    lines = [
        f"workload {bench.workload} seed {bench.args.seed} on local[{bench.cpus}]: "
        f"1 cold pass, {len(warm)} warm passes, {len(warm_ops)} warm operations"
    ]
    lines.append("  passes (s): " + " ".join(f"{p['kind']} {p['secs']:.3f}" for p in bench.passes))
    lines += [f"  {k} = {v:.4f} {END_TO_END_UNITS[k]}" for k, v in e2e.items()]
    p = tr.tail_percentile(len(warm_ops))
    lines.append(
        f"  query_s.tail = {tr.nearest_rank(warm_ops, p):.4f} s (p{p:g} of {len(warm_ops)})"
        if p is not None else f"  query_s.tail: not supported by {len(warm_ops)} warm operations"
    )
    lines.append(f"  failed_share = {len(failed) / attempted:.4f} ({len(failed)} of {attempted} operations)")
    for name in sorted({o["name"] for o in failed}):
        mine = [o for o in failed if o["name"] == name]
        lines.append(f"  FAILED {name} x{len(mine)}: {mine[0]['detail']}")
    lines.append(disk_line(bench.disk))
    if not bench.trace:
        return lines, {k: {"value": e2e[k], "unit": END_TO_END_UNITS[k]} for k in GATED}

    traced = [p for p in bench.passes if p["kind"] == "traced"]
    per_pass = [pass_layers(bench, p) for p in traced]
    layers = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    layers["trace.overhead_share"] = statistics.median(p["secs"] for p in traced) / e2e["pass_s"] - 1.0
    layers.update(bench.host)
    for p, m in zip(traced, per_pass):
        own = m["self.driver_s"] + m["self.job_s"] + m["self.stage_s"]
        lines.append(
            f"  traced pass {p['secs']:.4f} s = self times: driver {m['self.driver_s']:.4f}"
            f" + jobs {m['self.job_s']:.4f} + stages {m['self.stage_s']:.4f} ({own:.4f} s)"
        )
    return lines, {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}


def disk_line(disk: list[int]) -> str:
    """Scratch disk use must stay flat across warm passes."""
    first, last = disk[1], disk[-1]
    flat = last <= max(2 * first, first + 64 * MB)
    return (f"  scratch disk after each pass (MB): {' '.join(f'{d / MB:.1f}' for d in disk)}"
            f" -> {'flat' if flat else 'GROWING'}")


LAYER_UNITS = {
    "catalog.builder_s": "s",
    "catalog.builder_jobs": "count",
    "catalog.plan_s": "s",
    "catalog.consume_s": "s",
    "catalog.consume_jobs": "count",
    "sources.tables.calls": "count",
    "sources.tables.load_ms": "ms",
    "sources.tables.load_jobs": "count",
    "sources.readers.csv_read_s": "s",
    "sources.readers.csv_read_jobs": "count",
    "sources.readers.write_s": "s",
    "sources.readers.files_written": "count",
    "sources.readers.partitions_written": "count",
    "sources.readers.mb_written": "MB",
    "sources.readers.write_amp": "ratio",
    "qc.evaluate_s": "s",
    "qc.evaluate_jobs": "count",
    "spark.plan.analysis_ms": "ms",
    "spark.plan.optimization_ms": "ms",
    "spark.plan.planning_ms": "ms",
    "spark.codegen.compiles": "count",
    "spark.codegen.compile_ms": "ms",
    "jvm.jit_ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.gc_count": "count",
    "spark.exec.jobs": "count",
    "spark.exec.stages": "count",
    "spark.exec.tasks": "count",
    "spark.exec.failed_tasks": "count",
    "spark.exec.task_ms": "ms",
    "spark.exec.cpu_ms": "ms",
    "spark.exec.busy_share": "ratio",
    "spark.exec.shuffle_read_mb": "MB",
    "spark.exec.shuffle_write_mb": "MB",
    "spark.exec.input_mb": "MB",
    "spark.exec.spill_mb": "MB",
    "spark.exec.task_skew": "ratio",
    "driver.gap_s": "s",
    "spark.storage.rdds_held": "count",
    "spark.storage.mb_held": "MB",
    "self.driver_s": "s",
    "self.job_s": "s",
    "self.stage_s": "s",
    "host.canary_1t_s": "s",
    "host.canary_nt_s": "s",
    "host.loadavg": "load",
    "trace.overhead_share": "ratio",
}


def pass_layers(bench, p: dict) -> dict:
    """Per-layer metrics of one traced pass."""
    t = bench.tracer
    m = dict.fromkeys((k for k in LAYER_UNITS if not k.startswith(("host.", "trace."))), 0.0)
    for op in p["ops"]:
        idx = t.subtree(op["span"])
        sub = [t.spans[i] for i in idx]
        for i, s in zip(idx, sub):
            under = _ancestor_names(t, i)
            if s.layer == "catalog.builder":
                m["catalog.builder_s"] += s.duration
            elif s.layer == "catalog.plan":
                m["catalog.plan_s"] += s.duration
            elif s.layer == "catalog.consume":
                m["catalog.consume_s"] += s.duration
            elif s.name == "load_table":
                m["sources.tables.calls"] += 1
                m["sources.tables.load_ms"] += 1000 * s.duration
            elif s.name == "read_csv_table":
                m["sources.readers.csv_read_s"] += s.duration
            elif s.name == "write_partitioned_parquet":
                m["sources.readers.write_s"] += s.duration
            elif s.name == "qc.evaluate":
                m["qc.evaluate_s"] += s.duration
            elif s.layer == "spark.job":
                m["spark.exec.jobs"] += 1
                for name, key in (("builder", "catalog.builder_jobs"), ("consume", "catalog.consume_jobs"),
                                  ("load_table", "sources.tables.load_jobs"),
                                  ("read_csv_table", "sources.readers.csv_read_jobs"),
                                  ("qc.evaluate", "qc.evaluate_jobs")):
                    if name in under:
                        m[key] += 1
            elif s.layer == "spark.stage":
                a = s.attrs["stage"]
                m["spark.exec.stages"] += 1
                m["spark.exec.tasks"] += a["tasks"]
                m["spark.exec.failed_tasks"] += a["failed_tasks"]
                m["spark.exec.task_ms"] += a["run_ms"]
                m["spark.exec.cpu_ms"] += a["cpu_ms"]
                m["spark.exec.shuffle_read_mb"] += a["shuffle_read_bytes"] / MB
                m["spark.exec.shuffle_write_mb"] += a["shuffle_write_bytes"] / MB
                m["spark.exec.input_mb"] += a["input_bytes"] / MB
                m["spark.exec.spill_mb"] += a["spill_bytes"] / MB
        # Self times over the operation's own tree, rooted at the op span.
        local = {i: k for k, i in enumerate(idx)}
        tree = [tr.Span(s.name, s.layer, s.start, s.end, local.get(s.parent)) for s in sub]
        for s, own in zip(sub, tr.self_times(tree)):
            key = {"spark.job": "self.job_s", "spark.stage": "self.stage_s"}.get(s.layer, "self.driver_s")
            m[key] += own
        jobs = [(s.start, s.end) for s in sub if s.layer == "spark.job"]
        m["driver.gap_s"] += op["secs"] - _covered(jobs, op["start"], op["end"])
        for plan in op["plans"]:
            for phase in ("analysis", "optimization", "planning"):
                m[f"spark.plan.{phase}_ms"] += plan.get(phase, 0.0)
        jvm = op["jvm"]
        m["spark.codegen.compiles"] += jvm.codegen_compiles
        m["spark.codegen.compile_ms"] += jvm.codegen_ms
        m["jvm.jit_ms"] += jvm.jit_ms
        m["jvm.gc_ms"] += jvm.gc_ms
        m["jvm.gc_count"] += jvm.gc_count
        rdds, mb = op["storage"]
        m["spark.storage.rdds_held"] = max(m["spark.storage.rdds_held"], rdds)
        m["spark.storage.mb_held"] = max(m["spark.storage.mb_held"], mb)
        for w in op["writes"]:
            m["sources.readers.files_written"] += w["files"]
            m["sources.readers.partitions_written"] += w["partitions"]
            m["sources.readers.mb_written"] += w["bytes"] / MB
    m["spark.exec.busy_share"] = m["spark.exec.task_ms"] / 1000 / (p["secs"] * bench.cpus)
    m["spark.exec.task_skew"] = p["task_skew"]
    if bench.workload == wl.NRG_WORKLOAD:
        m["sources.readers.write_amp"] = m["sources.readers.mb_written"] * MB / bench.nrg["input_bytes"]
    return m


def _ancestor_names(t: tr.Tracer, i: int) -> set[str]:
    names = set()
    while (i := t.spans[i].parent) is not None:
        names.add(t.spans[i].name)
    return names


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def write_trace(bench, directory: str) -> None:
    """Write the run's spans once, at the end."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"{bench.workload}-seed{bench.args.seed}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(bench.tracer.to_json(), f)
