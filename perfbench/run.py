"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of ``workloads.py`` against the program in this
checkout on ``local[nproc]``, checks its outputs, prints the workload's
named figures and, as the last line of standard output, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (tracing off); with ``--trace 1`` they
are the per-layer ones from a traced run. All files go to a scratch
directory inside the checkout that is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from tracing import Tracer
from workloads import HEADLINE, WORKLOADS, Run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"  # fits a 15 GB sandbox; the program's default is 48g

SELF_LAYERS = [
    "functions.embedding", "sources.export", "vector_table", "operators.ivf",
    "operators.knn", "operators.dedup", "queries", "bench",
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` from /proc/<pid>/status (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_spark(work: str, cpus: int):
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # python workers import the encoder from this directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [HERE, ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from pgvector_db_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(run, session_s: float, traced_ms: list[float], plain_ms: list[float]) -> dict[str, float]:
    """Per-layer metrics from the traced run's spans. A metric whose
    layer the workload never calls reads 0."""
    tr = run.tracer

    def secs(name):
        return [s.seconds for s in tr.named(name)]

    def mean_count(names, attr):
        spans = [s for n in names for s in tr.named(n)]
        n = len(tr.named(names[-1]))
        return sum(getattr(s, attr) for s in spans) / n if n else 0.0

    def rate(name):
        spans = tr.named(name)
        t = sum(s.seconds for s in spans)
        return sum(s.work for s in spans) / t if t else 0.0

    def extra(name):
        xs = run.extra.get(name, [])
        return sum(xs) / len(xs) if xs else 0.0

    m = {
        "ivf.search.plan_ms": median(secs("ivf.search.plan")) * 1e3,
        "ivf.search.exec_ms": median(secs("ivf.search.exec")) * 1e3,
        "ivf.search.spark_jobs": mean_count(["ivf.search.plan", "ivf.search.exec"], "jobs"),
        "ivf.search.spark_tasks": mean_count(["ivf.search.plan", "ivf.search.exec"], "tasks"),
        "ivf.search.files_per_query": extra("files_per_query"),
        "ivf.search.rows_examined_per_result": extra("rows_examined_per_result"),
        "ivf.layout.files": extra("ivf.layout.files"),
        "ivf.layout.bytes": extra("ivf.layout.bytes"),
        "ivf.search_filtered.plan_ms": median(secs("ivf.search_filtered.plan")) * 1e3,
        "ivf.search_filtered.exec_ms": median(secs("ivf.search_filtered.exec")) * 1e3,
        "ivf.search_filtered.spark_jobs": mean_count(
            ["ivf.search_filtered.plan", "ivf.search_filtered.exec"], "jobs"),
        "knn.exact.exec_ms": median(secs("knn.exact.exec")) * 1e3,
        "knn.exact.rows_per_s": (
            run.extra["table_rows"][0] / median(secs("knn.exact.exec"))
            if secs("knn.exact.exec") else 0.0),
        "embedding.embed_text.rows_per_s": rate("embedding.embed_text"),
        "embedding.embed_text.spark_jobs": mean_count(["embedding.embed_text"], "jobs"),
        "vector_table.copy_from.s": median(secs("vector_table.copy_from")),
        "vector_table.copy_from.rows_per_s": rate("vector_table.copy_from"),
        "ivf.build.s": median(secs("ivf.build")),
        "ivf.build.spark_jobs": mean_count(["ivf.build"], "jobs"),
        "ivf.batch_search.s": median(secs("ivf.batch_search")),
        "ivf.batch_search.spark_tasks": mean_count(["ivf.batch_search"], "tasks"),
        "dedup.minhash_lsh_pairs.docs_per_s": rate("dedup.minhash_lsh_pairs"),
        "dedup.planted_pairs_found_ratio": extra("planted_pairs_found_ratio"),
        "export.save_partitioned.s": median(secs("export.save_partitioned")),
        "export.bytes_per_row": extra("export.bytes_per_row"),
    }
    for q in HEADLINE:
        m[f"queries.{q}.ms"] = median(secs(f"queries.{q}")) * 1e3
        m[f"queries.{q}.spark_jobs"] = mean_count([f"queries.{q}"], "jobs")
    m["catalog.load_tables.s"] = median(secs("catalog.load_tables"))
    m["session.get_spark.s"] = session_s
    m["spark.failed_tasks"] = float(sum(s.failed_tasks for s in tr.spans))
    self_s = tr.self_seconds_by_layer(run.roots)
    for layer in SELF_LAYERS:
        m[f"self_ms.{layer}"] = self_s.get(layer, 0.0) * 1e3 / len(run.roots) if run.roots else 0.0
    m["trace.overhead_ms"] = (
        median(traced_ms) - median(plain_ms) if traced_ms and plain_ms else 0.0
    )
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pgvector_db_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout ({exc})", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cpus)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(spark, tracer, args.seed % 2**64, args.seconds, work)
        WORKLOADS[args.workload](run)
        from pyspark import SparkContext

        rss = {
            "driver.peak_rss_mb": vm_hwm_mb(os.getpid()),
            "jvm.peak_rss_mb": vm_hwm_mb(SparkContext._gateway.proc.pid),
        }
        if args.trace:
            tracer.resolve()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    run.e2e["setup_s"] = session_s + median(run.setup_s)
    run.report["setup_s"] = (run.e2e["setup_s"], "s")
    run.report["peak_rss_mb"] = (sum(rss.values()), "MB")
    run.report["error_rate"] = (run.failed / max(1, run.attempted), "ratio")
    for name, (value, unit) in run.report.items():
        print(f"{name:<40} {value:>14.4f} {unit}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        kind = "ivf" if run.lat.get("ivf") else "pass"
        values = per_layer(
            run, session_s,
            [t * 1e3 for t in run.times(kind, traced=True)],
            [t * 1e3 for t in run.times(kind, traced=False)],
        ) | rss
        wanted = spec["per_layer"]
    else:
        values = run.e2e
        wanted = spec["end_to_end"]
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
