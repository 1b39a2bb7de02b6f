"""The reference ingest loop: NDJSON lands, a micro-batch enriches it, and a
snapshot commits.

- Closed-loop drains: each drain runs ``streaming.ingest.start_snapshot_ingest``
  with ``max_files_per_trigger=10`` (the reference's SQS cap) and
  ``availableNow`` over the same pre-generated landing, into a fresh table
  and checkpoint. The first drain is the cold one.
- Dashboard reads on the cold drain's table: ``SnapshotTable.read_where`` on
  an hour of the producer's ``timestamp`` plus an aggregate, and
  ``fast_count``.
- Open-loop freshness: files land by atomic rename at a fixed rate while an
  untriggered stream runs; a file's freshness is the ``committed_at`` of the
  snapshot holding its rows minus the time the file was due.

The order is: cold drain, dashboard reads, open loop, warm drains.

Jobs of a drain run under the stream's own job group (its ``runId``).
After timing, every table's row count must equal the rows landed, and in
the cold, last warm and open-loop tables every landed file must be visible
exactly once.
"""

from __future__ import annotations

import os
import re
import statistics
import time

from . import gen
from .trace import group_stats

MAX_FILES_PER_TRIGGER = 10
# landing for the closed-loop drains (~21 MB), and for the open loop
DRAIN_FILES, OPEN_FILES, ROWS_PER_FILE = 30, 20, 2500
# files per second landed in the open loop: well below the ~15 files/s a
# warm drain sustains
OPEN_RATE = 5.0
DRAIN_S = 2.0  # nominal warm drain, which sets the number of drains
DASHBOARD_READS = 4
_PHASES = {
    "latestOffset": "ndjson.latest_offset_ms",
    "getBatch": "ndjson.get_batch_ms",
    "queryPlanning": "ingest.query_planning_ms",
    "addBatch": "ingest.add_batch_ms",
    "walCommit": "ingest.wal_commit_ms",
    "commitOffsets": "ingest.commit_offsets_ms",
}


def _q(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, round(p * len(s) + 0.5) - 1))]


class IngestWorkload:
    def warm_count(self, seconds: float) -> int:
        """Warm drains that fill ``seconds`` at the nominal drain time; fixed
        by the arguments, so every run does the same work."""
        return max(4, round(seconds / DRAIN_S))

    def prepare(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        payloads = gen.gps_payloads(seed, DRAIN_FILES + OPEN_FILES, ROWS_PER_FILE)
        self.landing = os.path.join(work, "landing")
        gen.land_files(self.landing, payloads[: DRAIN_FILES])
        self.landed_bytes = sum(len(p) for p in payloads[: DRAIN_FILES])
        self.open_payloads = payloads[DRAIN_FILES :]

    # -- closed-loop drains ----------------------------------------------
    def _drain(self, spark, k: int, tracer) -> dict:
        from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
            start_snapshot_ingest,
        )

        tracer.pass_id = f"drain{k}"
        root = os.path.join(self.work, "tables", f"drain{k}")
        w0, t0 = time.time(), time.perf_counter()
        with tracer.span(f"drain{k}", "bench"):
            with tracer.span("start_snapshot_ingest", "ingest"):
                q = start_snapshot_ingest(
                    spark,
                    self.landing,
                    root,
                    checkpoint_dir=os.path.join(self.work, "ckpt", f"drain{k}"),
                    available_now=True,
                    max_files_per_trigger=MAX_FILES_PER_TRIGGER,
                )
            with tracer.span("await_drain", "ingest"):
                q.awaitTermination()
        wall = time.perf_counter() - t0
        d = {"wall": wall, "root": root, "progress": _batches(q)}
        if tracer.enabled:
            d["sched"] = group_stats(spark, [str(q.runId)], (w0, w0 + wall))
        return d

    # -- dashboard reads ---------------------------------------------------
    def _dashboard(self, spark, root: str, tracer) -> dict:
        from pyspark.sql import functions as F

        from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
            SnapshotTable,
        )

        tracer.pass_id = "dashboard"
        table = SnapshotTable(spark, root)
        n_files = len(table.files().collect())
        reads, counts, fracs = [], [], []
        for i in range(DASHBOARD_READS):
            hour = (self.seed + 5 * i) % 24
            lo, hi = f"2024-06-01 {hour:02d}:00:00", f"2024-06-01 {hour:02d}:59:59"
            t0 = time.perf_counter()
            with tracer.span("read_where", "snapshots"):
                df = table.read_where("timestamp", lo, hi)
            t1 = time.perf_counter()
            with tracer.span("dashboard_agg", "bench"):
                df.groupBy("vehicle_id").agg(F.avg("speed_kmh"), F.count("*")).collect()
            t2 = time.perf_counter()
            with tracer.span("fast_count", "snapshots"):
                table.fast_count()
            t3 = time.perf_counter()
            reads.append((t1 - t0, t2 - t0))
            counts.append(t3 - t2)
            fracs.append(len(df.inputFiles()) / n_files)
        return {"reads": reads, "counts": counts, "fracs": fracs, "n_files": n_files}

    # -- open-loop freshness -------------------------------------------------
    def _open_loop(self, spark, tracer) -> dict:
        from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
            SnapshotTable,
        )
        from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
            start_snapshot_ingest,
        )

        tracer.pass_id = "open_loop"
        landing = os.path.join(self.work, "landing_open")
        os.makedirs(landing)
        root = os.path.join(self.work, "tables", "open_loop")
        lander = gen.OpenLoopLander(landing, self.open_payloads, OPEN_RATE,
                                    first=DRAIN_FILES)
        with tracer.span("start_snapshot_ingest", "ingest"):
            q = start_snapshot_ingest(
                spark,
                landing,
                root,
                checkpoint_dir=os.path.join(self.work, "ckpt", "open_loop"),
                available_now=False,
                max_files_per_trigger=MAX_FILES_PER_TRIGGER,
            )
        table = SnapshotTable(spark, root)
        want = OPEN_FILES * ROWS_PER_FILE
        lander.start()
        lander.join()
        deadline = time.time() + 60
        while (table.current_version() is None or table.fast_count() != want) and time.time() < deadline:
            time.sleep(0.05)
        q.stop()
        committed = {r.version: r.committed_at for r in table.history().collect()}
        files = (
            table.read()
            .selectExpr("input_file", "input_file_name() AS data_file")
            .distinct()
            .collect()
        )
        fresh = []
        for r in files:
            version = int(re.search(r"/data/s(\d+)/", r.data_file).group(1))
            fresh.append(committed[version] - lander.due[os.path.basename(r.input_file)])
        return {"fresh": fresh, "progress": _batches(q), "root": root,
                "lateness_s": lander.lateness_s}

    def run(self, spark, seconds: float, tracer) -> dict:
        cold = self._drain(spark, 0, tracer)
        # the dashboard and the open loop run before the warm drains, so the
        # JVM has run the stream path longer when the warm drains start
        t0 = time.perf_counter()
        dash = self._dashboard(spark, cold["root"], tracer)
        t1 = time.perf_counter()
        opened = self._open_loop(spark, tracer)
        t2 = time.perf_counter()
        warm: list[dict] = []
        for k in range(1, self.warm_count(seconds) + 1):
            warm.append(self._drain(spark, k, tracer))
        t3 = time.perf_counter()
        failed = self.check(spark, [cold] + warm, opened)
        t4 = time.perf_counter()
        # the later half of the warm drains: JIT drift is flatter there
        settled = warm[len(warm) // 2 :]
        walls = [w["wall"] for w in settled]
        drained = DRAIN_FILES * ROWS_PER_FILE
        out = {
            "cold_pass_s": cold["wall"],
            "warm_pass_s": statistics.median(walls),
            "ops": [p["durationMs"]["triggerExecution"] / 1e3 for w in settled for p in w["progress"]],
            "warm_walls": [w["wall"] for w in warm],
            "settled_ids": [f"drain{i}" for i in range(len(warm) - len(settled) + 1, len(warm) + 1)],
            # drains, dashboard reads and open-loop files
            "attempted": 1 + len(warm) + DASHBOARD_READS + OPEN_FILES,
            "failed": failed,
            "extra": {
                "ingest.rows_per_s": drained / statistics.median(walls),
                "landed_mb": self.landed_bytes / 1e6,
                "phase_s": {"dashboard": t1 - t0, "open_loop": t2 - t1, "warm": t3 - t2,
                            "check": t4 - t3},
                "ingest.freshness_p50_s": _q(opened["fresh"], 0.5),
                "ingest.freshness_p90_s": _q(opened["fresh"], 0.9),
                "freshness_samples": len(opened["fresh"]),
                "open_rate_files_per_s": OPEN_RATE,
                "ingest.lander_lateness_s": opened["lateness_s"],
                "snapshots.dashboard_p50_s": statistics.median(t for _, t in dash["reads"]),
            },
        }
        if tracer.enabled:
            out["layers"] = self._layers(spark, settled, dash, opened)
        return out

    def _layers(self, spark, warm, dash, opened) -> dict:
        from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
            SnapshotTable,
        )

        batches = [p for w in warm for p in w["progress"]]
        out = {
            metric: statistics.median(p["durationMs"].get(phase, 0) for p in batches)
            for phase, metric in _PHASES.items()
        }
        out["ingest.batches"] = statistics.median(len(w["progress"]) for w in warm)
        out["ingest.rows_per_batch"] = statistics.median(p["numInputRows"] for p in batches)
        adds = [p["durationMs"].get("addBatch", 0) for p in opened["progress"]]
        k = max(1, len(adds) // 10)
        out["ingest.add_batch_growth"] = statistics.median(adds[-k:]) / max(
            1e-9, statistics.median(adds[:k])
        )
        table = SnapshotTable(spark, warm[-1]["root"])
        out["snapshots.versions"] = table.current_version()
        out["snapshots.files"] = dash["n_files"]
        table_bytes = sum(r.file_bytes for r in table.files().collect())
        out["snapshots.bytes_per_input_byte"] = table_bytes / self.landed_bytes
        out["snapshots.read_where_s"] = statistics.median(r for r, _ in dash["reads"])
        out["snapshots.read_where_file_frac"] = statistics.median(dash["fracs"])
        out["snapshots.fast_count_s"] = statistics.median(dash["counts"])
        sched = [w["sched"] for w in warm]
        for key in set().union(*sched):
            out[key] = statistics.median(s.get(key, 0.0) for s in sched)
        return out

    def check(self, spark, drains: list[dict], opened: dict) -> int:
        """Failed operations: a table whose row count differs from the rows
        landed, or, for the cold, last warm and open-loop tables, whose
        landed files are not each visible exactly once with all their rows."""
        from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
            SnapshotTable,
        )

        failed = 0
        tables = [(d["root"], DRAIN_FILES, 0) for d in drains]
        tables.append((opened["root"], OPEN_FILES, DRAIN_FILES))
        for i, (root, n_files, first) in enumerate(tables):
            table = SnapshotTable(spark, root)
            ok = table.fast_count() == n_files * ROWS_PER_FILE
            if ok and i in (0, len(tables) - 2, len(tables) - 1):
                per_file = {
                    os.path.basename(r.input_file): r["count"]
                    for r in table.read().groupBy("input_file").count().collect()
                }
                want = {gen.file_name(k): ROWS_PER_FILE for k in range(first, first + n_files)}
                ok = per_file == want
            if not ok:
                print(f"perfbench: table {root} does not hold the landed rows", flush=True)
                failed += 1
        return failed


def _batches(q) -> list[dict]:
    """Progress of the stream's data-carrying micro-batches, in order."""
    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else p.jsonValue()
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out
