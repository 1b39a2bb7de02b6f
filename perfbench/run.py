"""One command for the benchmark: ``python3 perfbench/run.py --workload
<registry|ingest> --seed N --seconds S --trace 0|1``, run from the
root of the repository.

It generates the workload's inputs from the seed, sets the engine up
(``session.get_spark`` plus a warm-up), runs the workload, checks its
outputs, and prints as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
holds the run's details (steadiness stamps, warm-pass drift, per-workload
figures). Scratch files go to ``.perfbench/`` under the repository root;
the traced run also writes its spans there as JSONL.

See perfbench/README.md for the workloads and the meaning of each metric.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.ingest import IngestWorkload  # noqa: E402
from perfbench.registry import MODULES, RegistryWorkload  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
# outlives a run: the last untraced warm pass, the base of trace overhead
LAST = os.path.join(ROOT, ".perfbench-last")

WORKLOADS = {"registry": RegistryWorkload, "ingest": IngestWorkload}


def _cpu_times() -> tuple[int, int]:
    """(steal jiffies, total of user..steal jiffies) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def _host_probe_s() -> float:
    """Median time of a fixed pure-Python loop: how fast one core of the
    host ran around the run, to tell a slow host from a slow program."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        s = 0
        for i in range(200_000):
            s += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the JVM, in MB."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return py + hwm / 1024


def _end_jvm() -> None:
    """End the JVM this process launched and wait for it, with its Python
    workers: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _warmup(spark) -> None:
    """The warm-up every workload gets: one small aggregate job, which loads
    the JVM's job-path classes. Everything after it is the workload's."""
    spark.range(100_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.environ.get("PYTHONPATH", "")]
    ).rstrip(os.pathsep)
    # half the cores run tasks; the rest are left to the JVM's compiler and
    # GC threads, the Python driver and other tenants of a shared host
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, (os.cpu_count() or 2) // 2)))
    try:
        import __spark_entry__  # noqa: F401
        from streaming_data_pipeline_with_iceberg_and_spark_spark.session import get_spark
        from tools import selfcheck  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e}); run from the repo root",
              file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    t = time.perf_counter()
    workload.prepare(WORK, args.seed)
    prepare_s = time.perf_counter() - t

    tracer = Tracer(bool(args.trace))
    probe_before = _host_probe_s()
    load1_before = os.getloadavg()[0]
    steal0, total0 = _cpu_times()
    t0 = time.perf_counter()
    with tracer.span("get_spark", "session.get_spark"):
        spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobGroup("warmup", "benchmark warm-up")
    with tracer.span("warmup", "session.warmup"):
        _warmup(spark)
    t2 = time.perf_counter()
    try:
        res = workload.run(spark, args.seconds, tracer)
        peak_rss = _rss_mb(spark)
    finally:
        spark.stop()
        _end_jvm()
    steal1, total1 = _cpu_times()
    probe_after = _host_probe_s()

    walls = res["warm_walls"]
    ops = res["ops"]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "prepare_s": prepare_s,
        "get_spark_s": t1 - t0,
        "warmup_s": t2 - t1,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "load1_before": load1_before,
        "load1_after": os.getloadavg()[0],
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "host_probe_s": [probe_before, probe_after],
        "warm_walls_s": walls,
        # last warm pass over the first: near 1.0 when timing began after
        # warm-up settled
        "warm_drift": walls[-1] / walls[0],
        "op_samples": len(ops),
        "peak_rss_mb": peak_rss,
        **res.get("extra", {}),
    }
    if args.trace:
        metrics = _layer_metrics(res, tracer, t1 - t0, t2 - t1, peak_rss)
        tracer.write(os.path.join(WORK, f"spans-{args.workload}.jsonl"))
        detail["trace_overhead"] = _trace_overhead(args.workload, res["warm_pass_s"])
    else:
        metrics = {
            "setup_s": (t2 - t0, "s"),
            "warm_pass_s": (res["warm_pass_s"], "s"),
            "op_p50_s": (statistics.median(ops), "s"),
        }
        os.makedirs(LAST, exist_ok=True)
        with open(os.path.join(LAST, f"untraced-{args.workload}.json"), "w") as f:
            json.dump({"warm_pass_s": res["warm_pass_s"]}, f)
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _trace_overhead(workload: str, traced_warm: float) -> dict | None:
    """Traced warm pass against the last untraced run of this workload in
    the same directory, if there was one."""
    path = os.path.join(LAST, f"untraced-{workload}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)["warm_pass_s"]
    return {"untraced_warm_pass_s": base, "traced_warm_pass_s": traced_warm,
            "share": traced_warm / base - 1.0}


# Units of the per-layer metrics; a layer the workload does not use reports 0.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "memory.peak_rss_mb": "MB",
    "bench.cold_pass_s": "s",
    "operators.build_s": "s",
    "operators.execute_s": "s",
    "operators.build_jobs": "count",
    **{f"{m}.{k}": "s" for m in MODULES for k in ("build_s", "execute_s", "cold_s")},
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.failed_tasks": "count",
    "scheduler.cluster_idle_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "scan.input_bytes": "bytes",
    "spill.bytes": "bytes",
    "ndjson.latest_offset_ms": "ms",
    "ndjson.get_batch_ms": "ms",
    "ingest.query_planning_ms": "ms",
    "ingest.add_batch_ms": "ms",
    "ingest.wal_commit_ms": "ms",
    "ingest.commit_offsets_ms": "ms",
    "ingest.batches": "count",
    "ingest.rows_per_batch": "count",
    "ingest.add_batch_growth": "ratio",
    "ingest.rows_per_s": "1/s",
    "ingest.freshness_p50_s": "s",
    "ingest.freshness_p90_s": "s",
    "ingest.lander_lateness_s": "s",
    "snapshots.versions": "count",
    "snapshots.files": "count",
    "snapshots.bytes_per_input_byte": "ratio",
    "snapshots.read_where_s": "s",
    "snapshots.read_where_file_frac": "ratio",
    "snapshots.fast_count_s": "s",
    "snapshots.dashboard_p50_s": "s",
    "self.bench_s": "s",
    "self.operators.build_s": "s",
    "self.operators.execute_s": "s",
    "self.ingest_s": "s",
}


def _layer_metrics(res: dict, tracer, get_spark_s: float, warmup_s: float,
                   peak_rss: float) -> dict:
    layers = dict(res.get("layers", {}))
    layers.update((k, v) for k, v in res.get("extra", {}).items() if k in LAYER_UNITS)
    layers["session.get_spark_s"] = get_spark_s
    layers["session.warmup_s"] = warmup_s
    layers["memory.peak_rss_mb"] = peak_rss
    layers["bench.cold_pass_s"] = res["cold_pass_s"]
    # self time per settled warm pass or drain, by layer
    settled = set(res["settled_ids"])
    for layer, secs in tracer.self_times(settled).items():
        layers[f"self.{layer}_s"] = secs / len(settled)
    return {k: (float(layers.get(k, 0.0)), u) for k, u in LAYER_UNITS.items()}


if __name__ == "__main__":
    sys.exit(main())
