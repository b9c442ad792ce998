#!/usr/bin/env python3
"""The repo's benchmark: one closed-loop client on local[nproc].

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload catalog-sql --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --workload nrg-etl --seed 1 --seconds 3 --trace 1

One process runs one operation at a time. A run times the session set-up
(``session.get_spark``), runs one cold pass over the workload, then warm
passes until ``--seconds`` have been measured, and at least three. Every operation's output is
verified outside the timed region. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` alternates untraced and traced passes and prints the
per-layer metrics derived from the traced passes' spans. The last line of
standard output is one JSON object; README.md explains every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import sparkstats  # noqa: E402
import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402

SF_DIR = os.path.join(HERE, "data", "sf0.01")

# Passes after the cold one. The median of three warm passes drops one pass
# that a burst of load from other tenants of a shared host slowed down. With
# tracing the passes are warm, traced, warm: each pass is still a little
# faster than the one before, and a traced pass between two warm ones
# cancels that trend out of trace.overhead_share.
MIN_PASSES = 3


def configure_env(scratch: str) -> int:
    """Point Spark, its JVM and its Python workers at this host, this
    checkout and the run's own scratch directory. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(4, mem_kb // 2**20 // 4))  # a quarter of RAM, at most 4 GB
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_MASTER": f"local[{cpus}]",
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        # Python workers import the program's UDFs by module path.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # The driver JVM's own temporary files (native libraries, spills
        # outside the block manager) stay in the scratch directory too, and
        # it writes no perf-data file to the system temporary directory.
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = tmp
    sys.path.insert(1, ROOT)
    return cpus


def start_session():
    """``session.get_spark`` and its wall time: JVM start plus session."""
    from nrg_etl_airflow_spark_emr_spark.session import get_spark

    t0 = time.perf_counter()
    # The console progress bar only redraws stderr; the run has no terminal.
    spark = get_spark(app_name="perfbench", extra={"spark.ui.showConsoleProgress": "false"})
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_canary(cpus: int) -> dict[str, float]:
    """Run canary.py in a child process with BLAS pinned to one thread."""
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1", OMP_NUM_THREADS="1")
    out = subprocess.run([sys.executable, os.path.join(HERE, "canary.py"), str(cpus)],
                         capture_output=True, text=True, timeout=120, check=True, env=env)
    return json.loads(out.stdout.strip().splitlines()[-1])


class Bench:
    """One run: set-up, a cold pass, then warm (and traced) passes."""

    def __init__(self, args, cpus: int, scratch: str, cache: str) -> None:
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.cpus = cpus
        self.scratch = scratch
        self.cache = cache
        self.tracer = tr.Tracer()
        self.ops: list[dict] = []       # every operation, in order
        self.passes: list[dict] = []
        self.disk: list[int] = []       # scratch bytes after each pass
        self.writes: list[str] = []     # paths given to write_partitioned_parquet
        self.setup_s: list[float] = []
        self.host: dict[str, float] = {}
        self.rss_mb = 0.0

    # --- Run ----------------------------------------------------------------

    def run(self) -> None:
        self.prepare()
        if self.trace:
            self.host = host_canary(self.cpus)
            self.host["host.loadavg"] = os.getloadavg()[0]
        with self.tracer.span(f"run-seed{self.args.seed}", "bench.run"):
            spark, secs = start_session()
            self.setup_s.append(secs)
            self.stats = sparkstats.SparkStats(spark)
            try:
                with self.tracer.span(self.workload, "bench.workload"):
                    self.measure(spark)
            finally:
                self.rss_mb = sparkstats.vm_hwm_mb(self.stats.jvm_pid) + sparkstats.vm_hwm_mb("self")
                stop_session(spark)

    def prepare(self) -> None:
        import digest
        import nrg_input

        if self.workload == wl.NRG_WORKLOAD:
            self.nrg = nrg_input.cached(self.args.seed, self.cache)
            self.out_dir = os.path.join(self.scratch, "nrg-out")
        else:
            self.expected = digest.load_expected()

    def measure(self, spark) -> None:
        from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

        self.spark = spark
        self.wrappers = tr.LayerWrappers(wl.PACKAGE, wl.LAYER_FUNCTIONS, self.on_layer_call)
        self.specs = all_specs()
        orders = wl.pass_orders(self.workload, self.args.seed)
        self.run_pass(next(orders), "cold")
        kinds = ("warm", "traced") if self.trace else ("warm",)
        t0 = time.perf_counter()
        n = 0
        while n < MIN_PASSES or time.perf_counter() - t0 < self.args.seconds:
            self.run_pass(next(orders), kinds[n % len(kinds)])
            n += 1

    # --- Passes and operations ----------------------------------------------

    def run_pass(self, order: list[str], kind: str) -> None:
        traced = kind == "traced"
        ops = []
        if traced:
            self.wrappers.install()
            self.stats.listen_plans()
        try:
            name = f"pass{len(self.passes)}"
            with self.tracer.span(name, "bench.pass") if traced else contextlib.nullcontext():
                for name in order:
                    ops.append(self.run_op(name, traced))
        finally:
            if traced:
                self.stats.unlisten_plans()
                self.wrappers.restore()
        rec = {"kind": kind, "ops": ops, "secs": sum(o["secs"] for o in ops)}
        if traced:
            rec["task_skew"] = self.longest_stage_skew(ops)
        self.passes.append(rec)
        self.disk.append(sparkstats.dir_bytes(self.scratch))

    def run_op(self, name: str, traced: bool) -> dict:
        self.spark.catalog.clearCache()
        if self.workload == wl.NRG_WORKLOAD:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        op = {"name": name, "traced": traced, "ok": False, "span": len(self.tracer.spans)}
        if traced:
            marker = self.stats.last_job_id()
            before = self.stats.jvm_counters()
            n_writes = len(self.writes)
        result = None
        op["start"] = time.time()
        try:
            with self.tracer.span(name, "bench.op") if traced else contextlib.nullcontext():
                result = self.call(name, traced)
        except Exception as e:  # a failing operation is counted, not fatal
            op["detail"] = f"raised {type(e).__name__}: {e}"[:300]
        op["end"] = time.time()
        op["secs"] = op["end"] - op["start"]
        if traced:
            self.stats.flush()
            op["jvm"] = self.stats.jvm_counters().minus(before)
            op["plans"] = self.stats.take_plans()
            self.attach_spark(op["span"], self.stats.jobs_after(marker))
            op["storage"] = self.stats.storage_held()
            op["writes"] = [written(p) for p in self.writes[n_writes:]]
        if "detail" not in op:
            try:
                op["ok"], op["detail"] = self.verify(name, result)
            except Exception as e:  # noqa: BLE001 - reported as a failed operation
                op["detail"] = f"verification raised {type(e).__name__}: {e}"[:300]
        if traced:
            self.stats.take_plans()  # drop the verification's own queries
        self.ops.append(op)
        return op

    def call(self, name: str, traced: bool):
        if self.workload == wl.NRG_WORKLOAD:
            from nrg_etl_airflow_spark_emr_spark.pipelines import nrg

            m = self.nrg
            return nrg.run_pipeline(
                self.spark, m["bal_auth_csv"], m["weather_csv"], m["locations_csv"],
                self.out_dir, max_unmatched_station_days=m["expected"]["null_station_days"],
            )
        builder = self.specs[name].builder
        phase = self.tracer.span if traced else lambda *_: contextlib.nullcontext()
        with phase("builder", "catalog.builder"):
            df = builder(self.spark, SF_DIR)
        with phase("consume", "catalog.consume"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def verify(self, name: str, result) -> tuple[bool, str]:
        if self.workload != wl.NRG_WORKLOAD:
            import digest

            got, want = digest.spark_digest(result), self.expected[name]
            return got == want, "" if got == want else f"digest {got} != oracle {want}"
        with open(result.qc_report_path, encoding="utf-8") as f:
            report = json.load(f)
        actual = {r["check"]: r["actual"] for r in report["results"]}
        got = {
            "qc_failed": report["n_failed"],
            "qc_checks": report["n_checks"],
            "bal_auth_rows": actual.get("bal_auth_row_count_min_1"),
            "time_rows": actual.get("time_row_count_min_1"),
            "weather_rows": actual.get("weather_row_count_min_1"),
            "null_station_days": actual.get("weather_null_partition_keys"),
            "bal_auth_partitions": partitions(result.bal_auth_path),
            "time_partitions": partitions(result.time_path),
            "weather_partitions": partitions(result.weather_path),
        }
        expect = {"qc_failed": 0, "qc_checks": 10, **self.nrg["expected"]}
        bad = {k: (got[k], v) for k, v in expect.items() if got[k] != v}
        return not bad, "" if not bad else f"(got, expected) {bad}"

    # --- Tracing ------------------------------------------------------------

    def on_layer_call(self, span_name: str, fn, args, kwargs):
        with self.tracer.span(span_name, wl.LAYER_OF[span_name]):
            result = fn(*args, **kwargs)
        if span_name == "write_partitioned_parquet":
            self.writes.append(kwargs["path"] if "path" in kwargs else args[1])
        return result

    def attach_spark(self, op_idx: int, jobs) -> None:
        """Add the operation's Spark jobs and their stages as child spans,
        each job under the innermost span open when it was submitted, and
        split the consume call at its first job into plan + consume."""
        from dataclasses import asdict

        t = self.tracer
        among = t.subtree(op_idx)
        for job in jobs:
            parent = t.innermost(job.start, among)
            j = t.add(f"job{job.job_id}", "spark.job", job.start, job.end,
                      op_idx if parent is None else parent)
            for sid in job.stage_ids:
                st = self.stats.stage(sid)
                if st is not None:
                    t.add(f"stage{sid}", "spark.stage", st.start, st.end, j, stage=asdict(st))
        for i in among:
            c = t.spans[i]
            if c.layer == "catalog.consume":
                first = min((s.start for s in t.spans if s.layer == "spark.job" and s.parent == i),
                            default=c.end)
                first = min(max(c.start, first), c.end)
                t.add("plan", "catalog.plan", c.start, first, op_idx)
                c.start = first

    def longest_stage_skew(self, ops: list[dict]) -> float:
        stages = [s for o in ops for i in self.tracer.subtree(o["span"])
                  if (s := self.tracer.spans[i]).layer == "spark.stage"]
        if not stages:
            return 1.0
        longest = max(stages, key=lambda s: s.duration)
        return self.stats.task_skew(sparkstats.Stage(**longest.attrs["stage"]))


def written(path: str) -> dict:
    """Parquet files, partition directories and bytes under one write."""
    files = [os.path.join(d, f) for d, _dirs, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return {"files": len(files), "partitions": partitions(path),
            "bytes": sum(os.path.getsize(f) for f in files)}


def partitions(path: str) -> int:
    """Leaf partition directories holding parquet files."""
    return sum(1 for d, _dirs, files in os.walk(path)
               if d != path and any(f.endswith(".parquet") for f in files))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, wl.PACKAGE, "__init__.py")):
        print(f"perfbench: the program ({wl.PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(state, f"run-{os.getpid()}")
    bench = Bench(args, configure_env(scratch), scratch, os.path.join(state, "cache"))
    try:
        bench.run()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    import report

    summary, metrics = report.build(bench)
    print("\n".join(summary))
    if bench.trace:
        report.write_trace(bench, os.path.join(state, "traces"))
    failed = sum(1 for o in bench.ops if not o["ok"])
    print(json.dumps({"correct": failed == 0, "attempted": len(bench.ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
