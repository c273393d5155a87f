"""Benchmark entry point.

    python3 kgbench/run.py --workload mixed_load_linked --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Prints one JSON object as the
last line of standard output: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it is a JSON
``detail`` record (effective Spark confs, load average at start and
end, tail percentiles and their sample counts, failure messages).
See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "load_triples_per_s": "triples/s",
    "store_bytes_per_triple": "B",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "update_p50_ms": "ms",
    "update_tail_ms": "ms",
    "ops_per_s": "1/s",
    "ops_ok_frac": "frac",
}

PER_LAYER = {
    "parse.self_s": "s",
    "parse.arrow_self_s": "s",
    "parse.per_file_self_s": "s",
    "parse.files_in": "count",
    "parse.stmts_out": "count",
    "parse.errors_out": "count",
    "parse.spark_tasks": "count",
    "canon.self_s": "s",
    "ops.fingerprint_self_s": "s",
    "ops.dedup_self_s": "s",
    "ops.dedup_in": "count",
    "ops.dedup_out": "count",
    "ops.dedup_kept_frac": "frac",
    "link.edges_self_s": "s",
    "link.cc_self_s": "s",
    "link.rewrite_self_s": "s",
    "link.edges": "count",
    "link.members": "count",
    "link.cc_spark_jobs": "count",
    "lineage.self_s": "s",
    "catalog.commit_self_s": "s",
    "catalog.bytes_written": "B",
    "catalog.files_written": "count",
    "catalog.commit_spark_jobs": "count",
    "catalog.read_statements_ms": "ms",
    "catalog.snapshots_end": "count",
    "catalog.live_paths_end": "count",
    "sparql.compile_ms": "ms",
    "sparql.execute_ms": "ms",
    "sparql.rows_out": "count",
    "sparql.spark_jobs_per_read": "count",
    "results.write_ms": "ms",
    "update.insert_data_ms": "ms",
    "update.delete_data_ms": "ms",
    "update.modify_ms": "ms",
    "update.load_ms": "ms",
    "update.drop_ms": "ms",
    "update.bytes_written_per_op": "B",
    "update.files_written_per_op": "count",
    "update.spark_jobs_per_op": "count",
    "update.spark_tasks_per_op": "count",
    "session.start_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_pct": "%",
    "peak_rss_mb": "MB",
}


class Env:
    """Per-run scratch directory, Spark session and tracers."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.session_s = 0.0
        self.tracers = []
        self.t0 = time.perf_counter()

    def log(self, what: str) -> None:
        print(f"kgbench: {time.perf_counter() - self.t0:7.1f}s {what}", file=sys.stderr,
              flush=True)

    def path(self, name: str) -> str:
        p = os.path.join(self.work, name)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def tracer(self):
        from measure import Tracer

        self.tracers.append(Tracer(self.spark.sparkContext))
        return self.tracers[-1]


def prepare_process(work: str) -> None:
    """Environment of this process, the JVM it launches and the Python
    workers: the checkout importable everywhere, scratch files inside
    the run's own directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    sys.path[:0] = [ROOT, HERE]


def start_session(env: Env) -> None:
    from tripleforge.session import get_spark

    t = time.perf_counter()
    # the engine's own defaults, at the machine's core count; only
    # console-progress and UI are switched off (neither is set by the engine)
    spark = get_spark(
        app_name="kgbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={"spark.ui.showConsoleProgress": "false", "spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    env.spark, env.session_s = spark, time.perf_counter() - t


def stop_session(env: Env) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    env.spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def attempted(run) -> int:
    return len(run.ops) + run.checks


def failed(run) -> int:
    """Failed operations (a wrong answer counts) plus failed checks."""
    return sum(not o.ok for o in run.ops) + run.failed_checks


def end_to_end(run, peak_rss: int) -> dict:
    from measure import tail

    ops = [o for o in run.ops if not o.traced]
    reads = [1000 * o.seconds for o in ops if o.kind.startswith("read:")]
    writes = [o for o in ops if o.kind == "build" or o.kind.startswith("update:")]
    loads = [o for o in writes if o.triples]
    rt, ut = tail(reads), tail([1000 * o.seconds for o in writes])
    values = {
        "setup_s": run.setup_s,
        "load_triples_per_s": sum(o.triples for o in loads) / sum(o.seconds for o in loads),
        "store_bytes_per_triple": run.store_bytes_per_triple,
        "read_p50_ms": statistics.median(reads),
        "read_tail_ms": rt["value"],
        "update_p50_ms": statistics.median(1000 * o.seconds for o in writes),
        "update_tail_ms": ut["value"],
        "ops_per_s": len(ops) / sum(o.seconds for o in ops),
        "peak_rss_mb": peak_rss / 2**20,
        "ops_ok_frac": 1.0 - failed(run) / attempted(run),
    }
    return values, {"read_tail": rt, "update_tail": ut}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tripleforge", "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tests", "oracle_rdf.py")):
        print(f"kgbench: no tripleforge source checkout at {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_process(work)
    from measure import PeakRss, load_average
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    env = Env(work)
    load_start = load_average()
    try:
        with PeakRss() as rss:
            start_session(env)
            try:
                run = WORKLOADS[args.workload](
                    env.spark, env, args.seed, args.seconds, bool(args.trace))
                confs = dict(env.spark.sparkContext.getConf().getAll())
            finally:
                stop_session(env)
        if args.trace:
            out = os.path.join(ROOT, ".kgbench_out")
            os.makedirs(out, exist_ok=True)
            for i, tr in enumerate(env.tracers):
                tr.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}-{i}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, tails = end_to_end(run, rss.peak)
    if args.trace:
        layer = {**run.layer, "peak_rss_mb": e2e["peak_rss_mb"]}
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    detail = {
        "detail": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "load_avg_1m": {"start": load_start, "end": load_average()},
            "peak_rss_mb_by_command": {k: v / 2**20 for k, v in rss.peak_by_command.items()},
            "spark_confs": confs,
            "ops": len(run.ops), "checks": run.checks,
            "tails": tails,
            "op_seconds": {k: [round(o.seconds, 3) for o in run.ops if o.kind == k]
                           for k in sorted({o.kind for o in run.ops})},
            "failures": run.failures[:20],
            "end_to_end": e2e,
        }
    }
    print(json.dumps(detail))
    print(json.dumps({"correct": failed(run) == 0, "attempted": attempted(run),
                      "failed": failed(run), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
