"""Reference-parity ETL: NDJSON → enrichment → managed table.

The reference's whole pipeline (spark_job.py:78-123 + the ``while True`` loop
:172-188) collapses into one Structured Streaming query:

    poll SQS / sleep(10)      → trigger(processingTime='10 seconds')
    get_messages(10)          → maxFilesPerTrigger=10
    spark.read.json(files)    → readStream file source
    SQL enrichment :156-164   → enrich() below (same three derived columns)
    saveAsTable append :59-64 → foreachBatch → Warehouse.write
    poller.commit() :185      → checkpointLocation (exactly-once upgrade:
                                the reference can duplicate a batch if it
                                crashes between write :61 and commit :185)

``enrich`` is also usable on bounded DataFrames — batch and streaming share
the same transformation, which is the point of the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..io import small_df
from ..sources.ndjson import read_stream
from ..sources.tables import Warehouse


def enrich(df: DataFrame) -> DataFrame:
    """The reference's enrichment projection (spark_job.py:156-164):
    SELECT *, input_file, processed_time, processed_date.

    In streaming, ``input_file_name()`` is unreliable; ``_metadata.file_path``
    is the supported column — used when available, else fallback."""
    if "_metadata" in df.columns or df.isStreaming:
        input_file = F.col("_metadata.file_path")
    else:
        input_file = F.input_file_name()
    return df.select(
        "*",
        input_file.alias("input_file"),
        F.current_timestamp().alias("processed_time"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd").alias("processed_date"),
    )


def with_event_time(df: DataFrame, col: str = "timestamp") -> DataFrame:
    """Parse the producer's string timestamp (gps-tracking-simulation.py:58)
    into a real event-time column — the fix the reference never applies
    (SURVEY.md §1.2)."""
    return df.withColumn("event_ts", F.to_timestamp(col, "yyyy-MM-dd HH:mm:ss"))


def start_ingest(
    spark: SparkSession,
    source_dir: str,
    warehouse: Warehouse,
    table: str = "gps_tracking_table",
    checkpoint_dir: str | None = None,
    partition_cols: list[str] | None = None,
    trigger_seconds: int = 10,
    max_files_per_trigger: int = 10,
    available_now: bool = False,
) -> StreamingQuery:
    """Run the reference pipeline as one streaming query.

    ``available_now=True`` drains all pending files then stops (used by
    tests and backfills); otherwise ProcessingTime(trigger_seconds) mirrors
    the reference's sleep(10) cadence."""
    warehouse.create_namespace()
    stream = read_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )
    enriched = enrich(stream.withColumn("_metadata", F.col("_metadata")))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        warehouse.write(batch_df.drop("_metadata"), table, partition_cols)

    writer = enriched.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def start_rollup_ingest(
    spark: SparkSession,
    source_dir: str,
    warehouse: Warehouse,
    table: str = "speed_rollup_1min",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Streaming continuous aggregate: a per-minute per-vehicle rollup
    (event count + speed sum; avg derives at read time) maintained
    incrementally — each micro-batch computes its PARTIAL aggregate and
    folds it into the rollup table with an additive MERGE. Serving reads
    never touch raw events, and each batch shuffles only its own rows.

    Additive updates are not naturally replay-safe (foreachBatch delivers
    at-least-once on restart), so applied batch ids are recorded in a
    ``<table>__batchlog`` table and replayed batch ids are skipped — the
    same idempotence upgrade the checkpoint gives plain appends. The resi-
    dual crash window (between rollup write and log write) mirrors the
    reference's write-then-commit gap (spark_job.py:61 vs :185); an
    Iceberg/Delta deployment closes it by writing both in one transaction.
    """
    log_table = table + "__batchlog"
    warehouse.create_namespace()
    stream = read_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )
    parsed = with_event_time(stream)

    def rollup_batch(batch_df: DataFrame, batch_id: int) -> None:
        if warehouse.table_exists(log_table):
            seen = (
                warehouse.read(log_table)
                .filter(F.col("batch_id") == batch_id)
                .limit(1)
                .count()
            )
            if seen:
                return
        partial = (
            batch_df.withColumn("bucket_start", F.date_trunc("minute", "event_ts"))
            .groupBy("bucket_start", "vehicle_id")
            .agg(
                F.count("*").alias("n"),
                F.sum("speed_kmh").alias("speed_sum"),
            )
        )
        if warehouse.table_exists(table):
            warehouse.merge_additive(
                partial, table, ["bucket_start", "vehicle_id"], ["n", "speed_sum"]
            )
        else:
            warehouse.write(partial, table, mode="overwrite")
        log_row = small_df(spark, [(batch_id,)], "batch_id long")
        warehouse.write(log_row, log_table, mode="append")

    writer = parsed.writeStream.foreachBatch(rollup_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_upsert_ingest(
    spark: SparkSession,
    source_dir: str,
    warehouse: Warehouse,
    table: str = "vehicle_latest",
    key_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Streaming upsert: each micro-batch MERGEs into the table instead of
    appending — the CDC/latest-state pattern (one row per vehicle, newest
    reading wins). Composition of the reference's ingest loop with its
    declared-but-unused CoW merge mode (spark_job.py:50-52).

    Within a batch, the newest row per key is picked by event time before the
    merge (a MERGE source must have unique keys); across batches the merge
    makes replays idempotent, so the query is exactly-once end-to-end even
    under restart."""
    key_cols = key_cols or ["vehicle_id"]
    warehouse.create_namespace()
    stream = read_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )
    parsed = with_event_time(stream)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = (
            batch_df.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(*key_cols).orderBy(
                        F.desc("event_ts"), F.desc("timestamp")
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if warehouse.table_exists(table):
            warehouse.merge(latest, table, key_cols)
        else:
            warehouse.write(latest, table, mode="overwrite")

    writer = (
        parsed.writeStream.foreachBatch(upsert_batch).outputMode("update")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_snapshot_ingest(
    spark: SparkSession,
    source_dir: str,
    table_root: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    compact_every: int | None = None,
) -> StreamingQuery:
    """The reference's core loop, snapshot-complete: streaming NDJSON ingest
    where every micro-batch commits one SNAPSHOT of a versioned table
    (``sources.snapshots.SnapshotTable``) — the closest in-sandbox
    re-expression of its Iceberg commit-per-poll design (spark_job.py:
    172-188: poll → read → enrich → Iceberg snapshot commit). Beyond the
    reference: the commit is idempotent under foreachBatch replay (batch_id
    in the commit log), every historical version stays time-travelable, and
    ``compact_every`` folds small-file compaction into the stream — one
    compaction commit every N batches, the maintenance Iceberg runs as
    ``rewrite_data_files``."""
    from ..sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, table_root)
    stream = read_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )
    enriched = enrich(stream.withColumn("_metadata", F.col("_metadata")))

    # cadence counts committed BATCHES, not table versions — compaction
    # commits (and any other maintenance) consume versions of their own,
    # which would drift "every N batches" into "every N-1" after the first
    n_committed = {"n": 0}

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        v = snap.append_batch(batch_df.drop("_metadata"), batch_id)
        if v is None:
            return  # replay
        n_committed["n"] += 1
        if compact_every and n_committed["n"] % compact_every == 0:
            snap.compact()

    writer = enriched.writeStream.foreachBatch(commit_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _max_seen_batch(tables, stream_id: str) -> int:
    """Highest batch number this STREAM has stamped on any of ``tables``
    (-1 if none). Batch keys are namespaced ``<stream_id>#<n>`` so two
    different pipelines writing the same table can never mistake each
    other's batch numbers for their own (un-namespaced ids silently DROP
    batches in that case). Scanned once per stream start — replays only
    happen right after a restart, so the per-batch guard is an in-memory
    watermark compare, not an O(log) re-parse."""
    mx = -1
    prefix = stream_id + "#"
    for t in tables:
        for s in t._log():
            b = s.get("batch_id")
            if isinstance(b, str) and b.startswith(prefix):
                try:
                    mx = max(mx, int(b[len(prefix) :]))
                except ValueError:
                    pass
    return mx


def start_transactional_fanout_ingest(
    spark: SparkSession,
    source_dir: str,
    facts_root: str,
    rollup_root: str,
    txn_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "fanout",
) -> StreamingQuery:
    """Streaming fan-out with MULTI-TABLE atomicity: each micro-batch
    appends the raw facts AND refreshes the per-minute per-vehicle rollup
    as one transaction — a reader can never see the facts without the
    matching rollup (or vice versa). This closes the last consistency gap
    in the reference's loop: it writes one table then commits its queue
    cursor (spark_job.py:61 vs :185); a second derived table would widen
    that window, and only a catalog-level transaction closes it.

    Exactly-once under foreachBatch replay: the stream's first batch
    completes any crashed transaction (``recover_transactions``) and reads
    the highest ``<stream_id>#<n>`` batch key stamped on either table; the
    per-batch replay guard is then a driver-memory watermark compare, so
    steady-state overhead does not grow with history. Per-batch work
    scales with the BATCH: the rollup fold re-aggregates rollup+partial,
    bounded by group cardinality, never by total facts."""
    from ..sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
        recover_transactions,
    )

    facts = SnapshotTable(spark, facts_root)
    rollup = SnapshotTable(spark, rollup_root)
    stream = read_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )
    parsed = with_event_time(stream)
    state = {"max_seen": None}

    def fanout_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch([facts, rollup], stream_id)
        if batch_id <= state["max_seen"]:
            return
        partial = (
            batch_df.withColumn("bucket_start", F.date_trunc("minute", "event_ts"))
            .groupBy("bucket_start", "vehicle_id")
            .agg(F.count("*").alias("n"), F.sum("speed_kmh").alias("speed_sum"))
        )
        if rollup.current_version() is not None:
            folded = (
                rollup.read()
                .unionByName(partial)
                .groupBy("bucket_start", "vehicle_id")
                .agg(F.sum("n").alias("n"), F.sum("speed_sum").alias("speed_sum"))
            )
        else:
            folded = partial
        txn = MultiTableTransaction([facts, rollup], txn_dir)
        key = f"{stream_id}#{batch_id}"
        txn.stage_append(facts, batch_df, batch_id=key)
        txn.stage_overwrite(rollup, folded, batch_id=key)
        txn.commit()
        state["max_seen"] = batch_id

    writer = parsed.writeStream.foreachBatch(fanout_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    seen_root: str,
    txn_dir: str,
    fingerprint_cols: list[str],
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "dedup_ingest",
) -> StreamingQuery:
    """Incremental dedup at ingest: each micro-batch keeps only rows whose
    content fingerprint has never been seen — within the batch OR in any
    previous batch — and commits the novel rows plus their fingerprints
    atomically. This is how dedup actually runs on a growing 100 TB corpus:
    the alternative (re-running `dedup_exact` over the whole table per
    ingest) re-shuffles the entire corpus every batch; here per-batch cost
    is one anti-join of the BATCH against the fingerprint table.

    The fingerprint is 128 bits (two independently-seeded xxhash64 halves):
    a single 64-bit hash collides with ~50% probability near 5 billion
    unique rows — exactly the target scale — and a collision would silently
    drop a distinct row forever; at 128 bits the probability is ~2⁻⁶⁴ even
    at a trillion rows. (A strictly-exact variant would verify on the
    columns themselves at the cost of storing them in the seen table.)

    Scale shape: the fingerprint table holds 16 bytes per unique row ever
    ingested — a small fraction of corpus bytes; the anti-join shuffles the
    batch (small) against it, and at real scale the fingerprint table
    would be bucketed on the fingerprint so the join co-locates without
    re-shuffling the seen side. Atomicity matters here: committing the
    corpus but not the fingerprints would let a replay re-admit
    duplicates; the multi-table transaction makes corpus+fingerprints one
    commit, and the namespaced ``<stream_id>#<n>`` batch key (checked
    against an in-memory watermark seeded once at stream start) makes
    replays skips."""
    from ..sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
        recover_transactions,
    )

    corpus = SnapshotTable(spark, corpus_root)
    seen = SnapshotTable(spark, seen_root)
    stream = read_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch([corpus, seen], stream_id)
        if batch_id <= state["max_seen"]:
            return
        batch_fp = batch_df.withColumn(
            "fp_hi", F.xxhash64(*fingerprint_cols)
        ).withColumn(
            "fp_lo", F.xxhash64(F.lit(1), *fingerprint_cols)
        ).dropDuplicates(["fp_hi", "fp_lo"])
        if seen.current_version() is not None:
            novel = batch_fp.join(seen.read(), ["fp_hi", "fp_lo"], "left_anti")
        else:
            novel = batch_fp
        # both staged writes derive from novel — persist so the source scan,
        # hashing, and the anti-join run once, not once per staged table
        novel = novel.persist()
        try:
            txn = MultiTableTransaction([corpus, seen], txn_dir)
            key = f"{stream_id}#{batch_id}"
            txn.stage_append(corpus, novel.drop("fp_hi", "fp_lo"), batch_id=key)
            txn.stage_append(seen, novel.select("fp_hi", "fp_lo"), batch_id=key)
            txn.commit()
        finally:
            novel.unpersist()
        state["max_seen"] = batch_id

    writer = stream.writeStream.foreachBatch(dedup_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_neardup_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    seen_root: str,
    txn_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "neardup_ingest",
) -> StreamingQuery:
    """Incremental NEAR-dup (MinHash) dedup at ingest — the fuzzy twin of
    :func:`start_incremental_dedup_ingest`. Each micro-batch admits only
    documents that are not near-duplicates (estimated Jaccard ≥
    ``threshold``) of any document in the batch or any previously admitted
    document, then commits the admitted rows plus their LSH bucket entries
    atomically. On a growing 100 TB corpus this replaces re-running the
    full-batch MinHash job per ingest (which re-shuffles the whole corpus)
    with per-batch cost: one map-side signature pass over the BATCH, a
    batch-sized self-join, and one join of batch×8 band rows against the
    bucket table.

    The seen table stores (band_idx, band_sig, seen_sig): 8 rows and one
    32-long signature per admitted doc — metadata-scale relative to corpus
    bytes. A new doc whose band signature collides with a stored bucket is
    only dropped if full-signature agreement clears the threshold (band
    collision alone is an LSH candidate, not a verdict). At real scale the
    seen table would be bucketed on (band_idx, band_sig) so the probe join
    co-locates without re-shuffling the seen side.

    Within-batch semantics are greedy min-id-survivor: a doc is dropped if
    it near-matches a smaller id in the same batch (transitive chains keep
    the chain minimum, like batch `dedup_apply`). Docs with NULL text
    tokenize to nothing, carry no signature, and are admitted as-is —
    exact-dedup them upstream with :func:`start_incremental_dedup_ingest`
    if needed (short non-null docs shingle down to a single word n-gram,
    so two one-word docs with the same word ARE near-dups).

    Exactly-once: same protocol as the exact path — multi-table transaction
    over (corpus, seen), namespaced batch keys, transaction recovery at
    stream start."""
    import math

    from ..operators.dedup import _MH_BANDS, _MH_PERMS, minhash_sig_bands
    from ..sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
        recover_transactions,
    )

    corpus = SnapshotTable(spark, corpus_root)
    seen = SnapshotTable(spark, seen_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}
    n_agree_min = math.ceil(threshold * _MH_PERMS)
    band_arr = F.array(*[F.col(f"band{b}") for b in range(_MH_BANDS)])

    def agree(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, z: F.when(x == z, 1).otherwise(0)),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    def neardup_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch([corpus, seen], stream_id)
        if batch_id <= state["max_seen"]:
            return
        sigs = minhash_sig_bands(batch_df, text_col).persist()
        try:
            # Broadcast hints below mark the frames bounded by the trigger
            # cap (maxFilesPerTrigger), NOT by corpus size — batch ids, the
            # within-batch dup set, the batch band frame, the batch hit set.
            # AQE does convert these joins at runtime (probe recorded in
            # COVERAGE.md), but conversion happens only after the non-batch
            # side's shuffle map stage has already been written; the explicit
            # hint skips shuffling the corpus-scale seen table entirely.
            no_sig = batch_df.join(
                F.broadcast(sigs.select(id_col)), id_col, "left_anti"
            )
            expl = sigs.select(
                id_col,
                "sig",
                F.posexplode(band_arr).alias("band_idx", "band_sig"),
            )
            # within-batch: drop any doc near-matching a SMALLER id
            a, b = expl.alias("a"), expl.alias("b")
            dup_in_batch = (
                a.join(
                    b,
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_sig") == F.col("b.band_sig"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                )
                .filter(agree(F.col("a.sig"), F.col("b.sig")) >= n_agree_min)
                .select(F.col(f"b.{id_col}").alias(id_col))
                .distinct()
            )
            survivors = sigs.join(F.broadcast(dup_in_batch), id_col, "left_anti")
            # vs every previously admitted doc, via the bucket table
            if seen.current_version() is not None:
                seen_df = seen.read()
                # Loud migration guard: if the persisted bucket table was
                # written under a different signature scheme (e.g. the
                # round-6 xxhash64→md5 change moved band_sig long→string),
                # the equi-join below would silently type-coerce to NULL and
                # re-admit every historical near-duplicate. Type drift here
                # is an operator error that needs a rebuild, not a cast.
                expl_t = dict(expl.dtypes)
                expected = {
                    "band_idx": expl_t["band_idx"],
                    "band_sig": expl_t["band_sig"],
                    # seen_sig must match the BATCH signatures: a silent
                    # element-type or length drift would make agree() never
                    # reach threshold
                    "seen_sig": expl_t["sig"],
                }
                seen_t = dict(seen_df.dtypes)
                drift = {
                    c: (seen_t.get(c), want)
                    for c, want in expected.items()
                    if seen_t.get(c) != want
                }
                if drift:
                    raise RuntimeError(
                        f"seen table at {seen_root} column types {drift} "
                        "(stored, expected) do not match the current "
                        "MinHash pipeline: the signature scheme changed; "
                        "rebuild the seen table from the corpus before "
                        "resuming ingest"
                    )
                hits = (
                    F.broadcast(
                        survivors.select(
                            id_col,
                            "sig",
                            F.posexplode(band_arr).alias("band_idx", "band_sig"),
                        )
                    )
                    .join(seen_df, ["band_idx", "band_sig"])
                    .filter(agree(F.col("sig"), F.col("seen_sig")) >= n_agree_min)
                    .select(id_col)
                    .distinct()
                )
                survivors = survivors.join(F.broadcast(hits), id_col, "left_anti")
            survivors = survivors.persist()
            try:
                admitted = survivors.drop(
                    "sig", *[f"band{i}" for i in range(_MH_BANDS)]
                ).unionByName(no_sig)
                seen_rows = survivors.select(
                    F.posexplode(band_arr).alias("band_idx", "band_sig"),
                    F.col("sig").alias("seen_sig"),
                )
                txn = MultiTableTransaction([corpus, seen], txn_dir)
                key = f"{stream_id}#{batch_id}"
                txn.stage_append(corpus, admitted, batch_id=key)
                txn.stage_append(seen, seen_rows, batch_id=key)
                txn.commit()
            finally:
                survivors.unpersist()
        finally:
            sigs.unpersist()
        state["max_seen"] = batch_id

    writer = stream.writeStream.foreachBatch(neardup_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_pca_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    moments_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "pca_ingest",
) -> StreamingQuery:
    """EXACT streaming PCA: maintain the corpus's (n, Σx, XᵀX) moment vector
    incrementally at ingest. PCA's sufficient statistics are plain sums, so
    each micro-batch appends its own (pos, v) partial row-set — computed by
    the SAME GEMM pass batch PCA uses (operators/similarity.py
    pca_moment_partials) — and a fit finalized from the moments table at ANY
    point (similarity.pca_fit_from_moments) equals a full batch refit over
    everything ingested so far, without ever rescanning the corpus. At
    100 TB this turns "refresh the PCA/whitening transform" from a
    full-corpus job into a metadata read: the moments table holds
    (1+d+d²) rows per batch (~4 k rows for d=64) and finalize is one tiny
    hash agg + a d×d driver eig.

    Exactly-once: corpus rows and their moment partials commit in ONE
    multi-table transaction with namespaced batch keys (same protocol as
    the incremental dedup paths); a replayed batch is skipped whole, so the
    moments can never double-count a batch the corpus saw once.

    Rows with NULL embedding are admitted to the corpus but contribute no
    moments — identical to batch PCA's NULL filter."""
    from ..operators.similarity import pca_moment_partials
    from ..sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
        recover_transactions,
    )

    corpus = SnapshotTable(spark, corpus_root)
    moments = SnapshotTable(spark, moments_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}

    def pca_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch([corpus, moments], stream_id)
        if batch_id <= state["max_seen"]:
            return
        # both the moment pass and the corpus append consume the batch —
        # persist so the source is materialized once, the same trick
        # dedup_batch uses for its staged writes (on the local NDJSON
        # micro-bench the gain is inside run noise — per-batch cost is
        # dominated by text parse + fixed job/txn overhead, profiled in
        # COVERAGE.md — but on a wide-row or remote source the second
        # uncached pass is the cost that matters)
        batch_df = batch_df.persist()
        partial = pca_moment_partials(batch_df).persist()
        try:
            # Loud dimension guard: partial sums only merge meaningfully
            # within ONE pos-space (1+d+d² entries). Mixed dims inside one
            # micro-batch (two sources in one trigger window) or drift vs
            # the table would silently corrupt every future fit — that is
            # an upstream schema error, not a cast.
            new_dims = sorted(
                r["d"] for r in partial.select("d").distinct().collect()
            )
            if len(new_dims) > 1:
                raise RuntimeError(
                    f"embedding dimension drift WITHIN one micro-batch: "
                    f"dims {new_dims}; fix the upstream schema"
                )
            if new_dims and moments.current_version() is not None:
                old_dims = sorted(
                    r["d"] for r in moments.read().select("d").distinct().collect()
                )
                if old_dims and old_dims != new_dims:
                    raise RuntimeError(
                        f"embedding dimension drift: moments table at "
                        f"{moments_root} holds dim {old_dims} but this "
                        f"batch produced dim {new_dims}; mixed-dimension "
                        "moments are meaningless — fix the upstream schema "
                        "or rebuild the moments table"
                    )
            txn = MultiTableTransaction([corpus, moments], txn_dir)
            key = f"{stream_id}#{batch_id}"
            txn.stage_append(corpus, batch_df, batch_id=key)
            txn.stage_append(moments, partial, batch_id=key)
            txn.commit()
        finally:
            partial.unpersist()
            batch_df.unpersist()
        state["max_seen"] = batch_id

    writer = stream.writeStream.foreachBatch(pca_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_bm25_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    postings_root: str,
    stats_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "bm25_ingest",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """EXACT incremental BM25 index maintenance: keep the (term, doc_id, tf,
    dl) postings table and the (n_docs, sum_dl) corpus-stats table current
    at ingest — the retrieval twin of :func:`start_incremental_pca_ingest`.
    Both tables are plain mergeable sums over disjoint documents, so
    ``operators.textops.bm25_rank_from_index`` over the maintained tables
    returns EXACTLY what a batch ``bm25_rank`` over the full ingested corpus
    would, without ever re-tokenizing old documents. At 100 TB this turns
    "serve BM25 over the live corpus" from a full-corpus tokenize+shuffle
    per query batch into a postings-table scan filtered to the query terms
    (the inverted-index property bm25_score_postings exploits); df and avgdl
    need no stored per-term state because df falls out of the postings
    themselves and avgdl finalizes from two integers.

    Exactly-once: corpus rows, their postings, and their stats partial
    commit in ONE multi-table transaction with namespaced batch keys (the
    incremental dedup/PCA protocol); a replayed batch is skipped whole, so
    the index can never double-count a batch the corpus saw once.

    NULL-text docs are admitted to the corpus but contribute no postings
    and no stats — identical to the batch path's guard. Re-ingesting the
    same ``doc_id`` in a LATER batch appends a second posting set for it
    (append semantics; dedup is the upstream dedup-ingest paths' job).
    """
    from ..operators.textops import bm25_doc_postings, bm25_stats_partial
    from ..sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
        recover_transactions,
    )

    corpus = SnapshotTable(spark, corpus_root)
    postings = SnapshotTable(spark, postings_root)
    stats = SnapshotTable(spark, stats_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}

    def bm25_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch([corpus, postings, stats], stream_id)
        if batch_id <= state["max_seen"]:
            return
        # three consumers of the batch (corpus append, postings agg, stats
        # agg) — persist so the source is materialized once
        batch_df = batch_df.persist()
        try:
            txn = MultiTableTransaction([corpus, postings, stats], txn_dir)
            key = f"{stream_id}#{batch_id}"
            txn.stage_append(corpus, batch_df, batch_id=key)
            txn.stage_append(
                postings, bm25_doc_postings(batch_df, text_col, id_col), batch_id=key
            )
            txn.stage_append(
                stats, bm25_stats_partial(batch_df, text_col), batch_id=key
            )
            txn.commit()
        finally:
            batch_df.unpersist()
        state["max_seen"] = batch_id

    writer = stream.writeStream.foreachBatch(bm25_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_ann_ingest(
    spark: SparkSession,
    source_dir: str,
    index_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "ann_ingest",
    pinned_seeds: bool = False,
) -> StreamingQuery:
    """Maintain a SERVING ANN index at ingest — the third incremental-index
    twin (dedup hashes, PCA moments, BM25 postings, now IVF cells): the
    first non-empty micro-batch bootstraps the quantizer (FAISS's
    train-on-first-chunk recipe; ``pinned_seeds`` selects the reproducible
    md5-Forgy init), and every later batch is ENCODED with the stored
    centroids and appended — cost proportional to the batch, the index
    layout untouched, queries answerable at any point via
    ``IvfIndex.query`` with manifest-pruned probed-cell scans. Periodic
    quantizer refresh stays an explicit offline ``IvfIndex.build`` (the
    retrain cadence is an operator decision, not an ingest side effect).

    Exactly-once WITHOUT a multi-table transaction: the index is ONE table,
    so the snapshot layer's idempotent ``append_batch`` (commit keyed by
    the namespaced batch id, replays skipped whole) is the entire protocol;
    each commit restamps the centroid pointer so every version's props name
    the quantizer its rows were encoded with."""
    from ..operators.similarity import IvfIndex

    idx = IvfIndex(spark, index_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}

    def ann_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            state["max_seen"] = _max_seen_batch([idx.table], stream_id)
        if batch_id <= state["max_seen"]:
            return
        key = f"{stream_id}#{batch_id}"
        has_quantizer = (
            idx.table.current_version() is not None
            and idx.table.snapshot_props().get("ivf_centroids") is not None
        )
        if has_quantizer:
            idx.append_batch(batch_df, key)
        else:
            idx.bootstrap_batch(batch_df, key, pinned_seeds=pinned_seeds)
        state["max_seen"] = batch_id

    writer = stream.writeStream.foreachBatch(ann_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_markov_ingest(
    spark: SparkSession,
    source_dir: str,
    counts_root: str,
    state_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "markov_ingest",
) -> StreamingQuery:
    """EXACT incremental Markov-transition maintenance: keep the
    (prev_type, next_type, n) transition-count table current at ingest —
    the STATEFUL member of the incremental family (dedup/PCA/BM25/IVF are
    stateless per batch; transitions cross micro-batch boundaries). Per
    batch: within-batch transitions from the usual lag window, PLUS one
    boundary transition per user joining the batch's first event against
    the per-user last-event STATE table; the state table then advances to
    each user's new last event. Counts are plain mergeable sums, so
    ``operators.analytics.markov_from_counts`` over the maintained table
    returns EXACTLY the batch ``markov_transitions`` over everything
    ingested (parity test in tests/test_streaming.py). At 100 TB this
    turns "refresh the behavior model" from a full-corpus window sort into
    per-batch work plus a user-keyed state join; the state table holds ONE
    row per active user.

    ORDER CONTRACT (checked loudly, the PCA dimension-drift discipline): a
    user's events in a later batch must be strictly later — by (ts,
    event_id) — than their events in earlier batches (the per-key-ordered
    delivery a keyed log gives). A violating batch raises rather than
    silently double-counting a boundary: exact incremental maintenance
    under arbitrary late data would require retracting already-counted
    transitions, which is a rebuild, not an append.

    Exactly-once: count partials and the state overwrite commit in ONE
    multi-table transaction with namespaced batch keys; replayed batches
    are skipped whole.
    """
    from ..operators.analytics import markov_transition_counts
    from ..sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
        recover_transactions,
    )

    counts = SnapshotTable(spark, counts_root)
    last_state = SnapshotTable(spark, state_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}

    def markov_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch([counts, last_state], stream_id)
        if batch_id <= state["max_seen"]:
            return
        b = batch_df.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        ).persist()
        try:
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            ranked = b.select(
                "user_id",
                "ts",
                "event_id",
                "event_type",
                F.row_number().over(w).alias("__rn"),
                F.count("*").over(Window.partitionBy("user_id")).alias("__n"),
            ).persist()
            within = markov_transition_counts(b)
            prev = (
                last_state.read()
                if last_state.current_version() is not None
                else None
            )
            firsts = ranked.filter(F.col("__rn") == 1)
            if prev is not None:
                joined = firsts.join(
                    prev.select(
                        "user_id",
                        F.col("ts").alias("p_ts"),
                        F.col("event_id").alias("p_eid"),
                        F.col("event_type").alias("p_type"),
                    ),
                    "user_id",
                )
                # ORDER CONTRACT guard: the batch's first event per user
                # must be strictly after that user's stored last event
                n_bad = (
                    joined.filter(
                        (F.col("ts") < F.col("p_ts"))
                        | (
                            (F.col("ts") == F.col("p_ts"))
                            & (F.col("event_id") <= F.col("p_eid"))
                        )
                    )
                    .limit(1)
                    .count()
                )
                if n_bad:
                    raise RuntimeError(
                        "markov ingest order contract violated: a batch "
                        "delivered a user event at or before that user's "
                        "already-ingested last event; exact incremental "
                        "transition counts require per-user-ordered "
                        "delivery — route this source through a keyed, "
                        "ordered log or rebuild the counts table"
                    )
                boundary = joined.groupBy(
                    F.col("p_type").alias("prev_type"),
                    F.col("event_type").alias("next_type"),
                ).agg(F.count("*").alias("n"))
                partial = within.unionByName(boundary)
            else:
                partial = within
            lasts = ranked.filter(F.col("__rn") == F.col("__n")).select(
                "user_id", "ts", "event_id", "event_type"
            )
            if prev is not None:
                # users absent from this batch keep their stored last event
                carried = prev.join(
                    lasts.select("user_id"), "user_id", "left_anti"
                )
                new_state = carried.unionByName(lasts)
            else:
                new_state = lasts
            txn = MultiTableTransaction([counts, last_state], txn_dir)
            key = f"{stream_id}#{batch_id}"
            txn.stage_append(counts, partial, batch_id=key)
            txn.stage_overwrite(last_state, new_state, batch_id=key)
            txn.commit()
        finally:
            ranked.unpersist()
            b.unpersist()
        state["max_seen"] = batch_id

    writer = stream.writeStream.foreachBatch(markov_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_engagement_ingest(
    spark: SparkSession,
    source_dir: str,
    activity_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "engagement_ingest",
) -> StreamingQuery:
    """EXACT incremental DAU/WAU/MAU maintenance: keep the DISTINCT
    (user_id, day) activity table current at ingest, so the engagement
    triple finalizes from a |users|×|active-days|-bounded table instead of
    re-scanning the raw event fact — at 100 TB the difference between a
    dashboard query and a full-corpus pass. Per batch: the batch's
    activity pairs (via ``operators.analytics.activity_pairs`` — the SAME
    definition the batch operator uses, so the two paths cannot diverge)
    anti-join the maintained table and only novel pairs append.

    DISTINCT pairs are an idempotent, order-independent merge — unlike the
    Markov path there is no cross-batch ordering contract, late or
    out-of-order events are handled exactly, and
    ``engagement_from_activity`` over the maintained table equals the
    batch ``events_dau_wau_mau`` over everything ingested (parity test in
    tests/test_streaming.py). One table, so exactly-once is the snapshot
    layer's idempotent ``append_batch`` (namespaced batch key, replays
    skipped whole — the incremental-ANN protocol); the anti-join
    additionally makes even a NON-replayed duplicate pair a no-op. At real
    scale the activity table would be bucketed on user_id so the per-batch
    anti-join co-locates without re-shuffling the maintained side."""
    from ..operators.analytics import activity_pairs
    from ..sources.snapshots import SnapshotTable

    activity = SnapshotTable(spark, activity_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def engagement_batch(batch_df: DataFrame, batch_id: int) -> None:
        pairs = activity_pairs(batch_df)
        if activity.current_version() is not None:
            pairs = pairs.join(activity.read(), ["user_id", "day"], "left_anti")
        activity.append_batch(pairs, f"{stream_id}#{batch_id}")

    writer = stream.writeStream.foreachBatch(engagement_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_cooccurrence_ingest(
    spark: SparkSession,
    source_dir: str,
    items_root: str,
    delta_root: str,
    txn_dir: str,
    schema,
    cap: int | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "cooccurrence_ingest",
) -> StreamingQuery:
    """EXACT incremental co-occurrence maintenance by DELTA-USER
    RECOMPUTE — the incremental-view-maintenance pattern for aggregates
    whose per-user contribution is NOT a per-row sum (a user's pair set
    changes non-monotonically when their basket grows or crosses the
    power-user cap). Per batch, only users with NOVEL (user, item) pairs
    are touched: subtract each touched user's OLD pair contribution
    (pairs of their pre-batch basket under the cap rule), add their NEW
    contribution (old ∪ novel, same rule), and append the compacted ±1
    rows to a (item_a, item_b, d) delta table.
    ``operators.analytics.cooccurrence_edges_from_index`` then equals the
    batch ``_basket_pairs`` over everything ingested (parity test in
    tests/test_streaming.py), with ONE shared pair definition
    (``basket_pair_rows``) so the two paths cannot diverge.

    Like the engagement path there is NO ordering contract: distinct item
    sets are order-free, so late and out-of-order events are exact by
    construction. Per-batch cost is bounded by the touched users' basket
    sizes (≤ cap each), never the corpus: at 100 TB this turns "refresh
    the taste graph" from a full-history pair regeneration into work
    proportional to the batch. The delta table grows by ≤ 2·C(cap,2)
    rows per touched user per batch; periodic compaction is an overwrite
    with the summed edges (min_count=1).

    Exactly-once: the novel-pair append and the delta append commit in
    ONE multi-table transaction with namespaced batch keys; replayed
    batches are skipped whole (the Markov/BM25 protocol)."""
    from ..operators.analytics import (
        _CO_USER_CAP,
        basket_pair_rows,
        baskets_from_items,
        user_item_pairs,
    )
    from ..sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
        recover_transactions,
    )

    if cap is None:
        cap = _CO_USER_CAP
    items_t = SnapshotTable(spark, items_root)
    delta_t = SnapshotTable(spark, delta_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}

    def co_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch([items_t, delta_t], stream_id)
        if batch_id <= state["max_seen"]:
            return
        batch_pairs = user_item_pairs(batch_df)
        have = items_t.read() if items_t.current_version() is not None else None
        novel = (
            batch_pairs.join(have, ["user_id", "item"], "left_anti")
            if have is not None
            else batch_pairs
        ).persist()
        try:
            affected = novel.select("user_id").distinct()
            if have is not None:
                # pre-batch items of ONLY the touched users — the bounded
                # recompute set; broadcast the (trigger-cap-bounded)
                # affected-user list so the maintained side is not
                # re-shuffled (the neardup-ingest discipline)
                old_items = have.join(F.broadcast(affected), "user_id")
                old_pairs = basket_pair_rows(baskets_from_items(old_items, cap))
                new_items = old_items.unionByName(novel)
            else:
                old_pairs = None
                new_items = novel
            new_pairs = basket_pair_rows(baskets_from_items(new_items, cap))
            delta = new_pairs.select(
                "item_a", "item_b", F.lit(1).alias("d")
            )
            if old_pairs is not None:
                delta = delta.unionByName(
                    old_pairs.select("item_a", "item_b", F.lit(-1).alias("d"))
                )
            delta = (
                delta.groupBy("item_a", "item_b")
                .agg(F.sum("d").alias("d"))
                .filter(F.col("d") != 0)
            )
            txn = MultiTableTransaction([items_t, delta_t], txn_dir)
            key = f"{stream_id}#{batch_id}"
            txn.stage_append(items_t, novel, batch_id=key)
            txn.stage_append(delta_t, delta, batch_id=key)
            txn.commit()
        finally:
            novel.unpersist()
        state["max_seen"] = batch_id

    writer = stream.writeStream.foreachBatch(co_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_funnel_ingest(
    spark: SparkSession,
    source_dir: str,
    state_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "funnel_ingest",
) -> StreamingQuery:
    """EXACT incremental funnel maintenance — the STATE-MACHINE member of
    the incremental family (sums: engagement/BM25/PCA; delta-recompute:
    co-occurrence; boundary-state: Markov; this one is a monotone
    per-user state machine). The maintained table holds one (user_id,
    t1, t2, t3, last_ts, last_eid) row: the first view, the first click
    strictly after it, and the first purchase strictly after THAT — the
    exact stage semantics of ``operators.analytics.funnel_conversion``.
    Because each t_k only ever transitions NULL→value and never moves
    once set (under ordered delivery, any later event is later than the
    set value, so "first after" can only be filled by the earliest
    qualifying event — which is exactly what the update takes),
    ``funnel_from_state`` / ``funnel_latency_from_state`` equal the batch
    operators over everything ingested (parity test in
    tests/test_streaming.py). At 100 TB this turns the funnel dashboard
    from a full-fact window scan into a |users|-bounded read.

    ORDER CONTRACT (the Markov discipline, checked loudly): a user's
    funnel events in a later batch must be strictly later — by (ts,
    event_id) — than that user's already-ingested funnel events. A
    violating batch raises: a late view could retroactively lower t1 and
    re-qualify clicks this state machine already passed over — that is a
    rebuild, not an append.

    Exactly-once: ONE state table, maintained by the idempotent
    ``overwrite(batch_id=...)`` protocol — replayed batches are skipped
    whole."""
    from ..operators.analytics import _FUNNEL
    from ..sources.snapshots import SnapshotTable

    state_t = SnapshotTable(spark, state_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}

    def funnel_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            state["max_seen"] = _max_seen_batch([state_t], stream_id)
        if batch_id <= state["max_seen"]:
            return
        b = batch_df.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isin(_FUNNEL)
        )
        per_user = b.groupBy("user_id").agg(
            *[
                F.array_sort(
                    F.collect_list(F.when(F.col("event_type") == t, F.col("ts")))
                ).alias(f"ts_{t}")
                for t in _FUNNEL
            ],
            F.max(F.struct("ts", "event_id")).alias("_last"),
            F.min(F.struct("ts", "event_id")).alias("_first"),
        )
        prev = state_t.read() if state_t.current_version() is not None else None
        if prev is not None:
            joined = per_user.join(
                prev.select(
                    "user_id",
                    F.col("t1").alias("p_t1"),
                    F.col("t2").alias("p_t2"),
                    F.col("t3").alias("p_t3"),
                    F.struct(
                        F.col("last_ts").alias("ts"),
                        F.col("last_eid").alias("event_id"),
                    ).alias("p_last"),
                ),
                "user_id",
                "left",
            )
            n_bad = (
                joined.filter(
                    F.col("p_last").isNotNull()
                    & (F.col("_first") <= F.col("p_last"))
                )
                .limit(1)
                .count()
            )
            if n_bad:
                raise RuntimeError(
                    "funnel ingest order contract violated: a batch "
                    "delivered a user funnel event at or before that "
                    "user's already-ingested last funnel event; a late "
                    "view can retroactively re-stage the funnel — route "
                    "this source through a keyed, ordered log or rebuild "
                    "the state table"
                )
        else:
            joined = per_user.select(
                "*",
                F.lit(None).cast("timestamp").alias("p_t1"),
                F.lit(None).cast("timestamp").alias("p_t2"),
                F.lit(None).cast("timestamp").alias("p_t3"),
                F.lit(None)
                .cast("struct<ts:timestamp,event_id:bigint>")
                .alias("p_last"),
            )
        t1 = F.coalesce(
            F.col("p_t1"), F.try_element_at("ts_view", F.lit(1))
        )
        t2 = F.coalesce(
            F.col("p_t2"),
            F.try_element_at(F.filter("ts_click", lambda c: c > t1), F.lit(1)),
        )
        t3 = F.coalesce(
            F.col("p_t3"),
            F.try_element_at(F.filter("ts_purchase", lambda x: x > t2), F.lit(1)),
        )
        updated = joined.select(
            "user_id",
            t1.alias("t1"),
            t2.alias("t2"),
            t3.alias("t3"),
            F.greatest(F.col("_last"), F.col("p_last")).alias("_nl"),
        ).select(
            "user_id",
            "t1",
            "t2",
            "t3",
            F.col("_nl.ts").alias("last_ts"),
            F.col("_nl.event_id").alias("last_eid"),
        )
        if prev is not None:
            carried = prev.join(
                updated.select("user_id"), "user_id", "left_anti"
            )
            new_state = carried.unionByName(updated)
        else:
            new_state = updated
        state_t.overwrite(new_state, batch_id=f"{stream_id}#{batch_id}")
        state["max_seen"] = batch_id

    writer = stream.writeStream.foreachBatch(funnel_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_rfm_ingest(
    spark: SparkSession,
    source_dir: str,
    state_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "rfm_ingest",
) -> StreamingQuery:
    """EXACT incremental RFM / user-lifecycle maintenance — the eighth
    incremental path, in the MERGEABLE-SUMS class (with PCA moments, BM25
    stats and engagement pairs): each batch appends its per-user partials
    (min first-day, max last-day, event count, raw value sum — computed by
    ``operators.analytics.rfm_user_partials``, the SAME pass the batch
    operator uses) and serving merges them with one user-keyed agg.
    ``rfm_from_user_state`` over the maintained table equals the batch
    ``events_rfm_segments`` over everything ingested, and the same state's
    d_first column serves first-day cohort slicing; cohort RETENTION needs
    no extra state at all — it finalizes from the engagement ingest's
    DISTINCT activity table via ``retention_from_activity`` (parity tests
    in tests/test_streaming.py). At 100 TB this turns the lifecycle
    dashboard from a full-fact scan into a |users|-bounded read.

    min/max/sum partials are order-independent and duplicate-free by
    construction, so — unlike the Markov and funnel state machines —
    there is NO ordering contract: late and out-of-order events merge
    exactly. One table, so exactly-once is the snapshot layer's
    idempotent ``append_batch`` (namespaced batch key, replays skipped
    whole). The partials log grows one row per (batch, touched user);
    ``compact_user_state`` collapses it between drains without disturbing
    replay protection. At real scale the state table would be bucketed on
    user_id so the serve-side merge co-locates without a shuffle."""
    from ..operators.analytics import rfm_user_partials
    from ..sources.snapshots import SnapshotTable

    state_t = SnapshotTable(spark, state_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def rfm_batch(batch_df: DataFrame, batch_id: int) -> None:
        state_t.append_batch(
            rfm_user_partials(batch_df), f"{stream_id}#{batch_id}"
        )

    writer = stream.writeStream.foreachBatch(rfm_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_hourly_ingest(
    spark: SparkSession,
    source_dir: str,
    counts_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "hourly_ingest",
) -> StreamingQuery:
    """EXACT incremental (day, hour) traffic-count maintenance — the ninth
    incremental path, mergeable-sums class: each batch appends its bucket
    count partials (``operators.analytics.hourly_counts``, the SAME pass
    the batch ops use) under the idempotent namespaced batch key; counts
    are additive so late and out-of-order events merge exactly, with no
    ordering contract. ``seasonality_from_counts`` and
    ``anomalies_from_counts`` over the maintained table equal the batch
    ``events_hourly_seasonality`` / ``events_hourly_anomalies`` over
    everything ingested (parity test in tests/test_streaming.py) — which
    completes the served-from-state dashboard: engagement, retention,
    RFM, funnel, AND the seasonality/anomaly panel all finalize from
    maintained tables bounded by users or calendar buckets, never a
    full-fact re-scan. ``compact_hourly_counts`` collapses the partials
    log between drains (overwrite keeps the key log → replay-safe)."""
    from ..operators.analytics import hourly_counts
    from ..sources.snapshots import SnapshotTable

    counts_t = SnapshotTable(spark, counts_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def hourly_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts_t.append_batch(
            hourly_counts(batch_df), f"{stream_id}#{batch_id}"
        )

    writer = stream.writeStream.foreachBatch(hourly_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_value_hist_ingest(
    spark: SparkSession,
    source_dir: str,
    hist_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "value_hist_ingest",
) -> StreamingQuery:
    """EXACT incremental per-type value-quantile maintenance — the
    ELEVENTH incremental path, mergeable-sums class: each batch appends
    its PINNED fixed-width (event_type, bin, c) histogram partials
    (``operators.analytics.value_hist``, the SAME pass the batch op uses)
    under the idempotent namespaced batch key. The bin function is pure
    (floor(value / width), no data-derived edges), so counts are additive
    forever — late and out-of-order events merge exactly, no ordering
    contract, state bounded by value-span/width rows per type.
    ``quantiles_from_value_hist`` over the maintained table equals the
    batch ``events_value_quantiles`` over everything ingested (parity
    test in tests/test_streaming.py): per-type p50/p90/p99 monitoring
    serves from metadata-sized state, never a fact re-scan — this is how
    a latency/price dashboard stays O(1) per refresh at 100 TB.
    ``compact_value_hist`` collapses the partials log between drains
    (overwrite keeps the key log → replay-safe)."""
    from ..operators.analytics import value_hist
    from ..sources.snapshots import SnapshotTable

    hist_t = SnapshotTable(spark, hist_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def hist_batch(batch_df: DataFrame, batch_id: int) -> None:
        hist_t.append_batch(value_hist(batch_df), f"{stream_id}#{batch_id}")

    writer = stream.writeStream.foreachBatch(hist_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_value_hist(
    spark: SparkSession, hist_root: str, compaction_id=None
) -> None:
    """Rewrite the value-histogram partials table as its per-(type, bin)
    sum — a semantic no-op (readers merge either way); the overwrite
    keeps the log so the stream's batch keys survive (the
    compact_hourly_counts protocol)."""
    from ..operators.analytics import merge_value_hist
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, hist_root)
    t.overwrite(merge_value_hist(t.read()), batch_id=compaction_id)


def start_incremental_corpus_rollup_ingest(
    spark: SparkSession,
    source_dir: str,
    cells_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "corpus_rollup_ingest",
) -> StreamingQuery:
    """EXACT incremental corpus-rollup maintenance — the TWELFTH
    incremental path, mergeable-sums class, and the first DOC-side
    dashboard path (the events side already serves engagement, retention,
    RFM, funnel, seasonality, anomalies, sessions and value quantiles
    from state): each batch appends its leaf (lang, source) cell partials
    (``operators.textops.corpus_cells``, the SAME pass the batch rollup
    uses) under the idempotent namespaced batch key. All three measures
    are additive integer sums — late and out-of-order documents merge
    exactly, no ordering contract, state bounded by |langs| × |sources|
    rows. ``rollup_from_cells`` over the maintained table equals the
    batch ``text_rollup_by_lang_source`` over everything ingested (parity
    test in tests/test_streaming.py) — the corpus volume dashboard never
    re-scans the corpus. ``compact_corpus_cells`` collapses the partials
    log between drains (overwrite keeps the key log → replay-safe)."""
    from ..operators.textops import corpus_cells
    from ..sources.snapshots import SnapshotTable

    cells_t = SnapshotTable(spark, cells_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def cells_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells_t.append_batch(corpus_cells(batch_df), f"{stream_id}#{batch_id}")

    writer = stream.writeStream.foreachBatch(cells_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_corpus_cells(
    spark: SparkSession, cells_root: str, compaction_id=None
) -> None:
    """Rewrite the corpus-cell partials table as its per-cell sum — a
    semantic no-op (readers merge either way); the overwrite keeps the
    log so the stream's batch keys survive (the compact_value_hist
    protocol)."""
    from ..operators.textops import merge_corpus_cells
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, cells_root)
    t.overwrite(merge_corpus_cells(t.read()), batch_id=compaction_id)


def start_incremental_shingle_index_ingest(
    spark: SparkSession,
    source_dir: str,
    index_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "shingle_index_ingest",
) -> StreamingQuery:
    """EXACT incremental shingle-index maintenance — the THIRTEENTH
    incremental path, append-only-postings class (the BM25 postings
    discipline on the dedup/decontamination shingle grain): each batch
    appends its documents' DISTINCT (doc_id, shingle) posting rows
    (``operators.dedup.doc_shingle_rows`` — the SAME shingle definition
    the Jaccard/LSH/decontamination chain uses) under the idempotent
    namespaced batch key. Each document arrives once (the corpus-rollup
    contract), so postings from disjoint batches union to the full
    corpus index exactly — no ordering contract, late documents merge
    exactly. ``decontaminate_from_index`` over the maintained table
    equals batch ``decontaminate_split`` over everything ingested
    (parity test): the continuous-curation loop — "which of today's
    train docs leak tomorrow's eval set" — serves from state, with the
    document-frequency cap recomputed at query time over the maintained
    postings, so a shingle that ONLY LATER crosses the boilerplate cap
    is dropped exactly as the batch face would. State is
    posting-cardinality (Σ per-doc distinct shingles) — the price of any
    inverted index; ``compact_shingle_index`` collapses the per-batch
    small files between drains (overwrite keeps the key log →
    replay-safe)."""
    from ..operators.dedup import doc_shingle_rows
    from ..sources.snapshots import SnapshotTable

    index_t = SnapshotTable(spark, index_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        index_t.append_batch(
            doc_shingle_rows(batch_df), f"{stream_id}#{batch_id}"
        )

    writer = stream.writeStream.foreachBatch(index_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def decontaminate_from_index(index: DataFrame) -> DataFrame:
    """Serve the eval-set decontamination audit from the MAINTAINED
    shingle index — exactly equal to batch
    ``operators.sampling.decontaminate_split`` over every document
    ingested (the serving face IS the shared core over the maintained
    postings)."""
    from ..operators.sampling import decon_from_postings

    return decon_from_postings(index)


def compact_shingle_index(
    spark: SparkSession, index_root: str, compaction_id=None
) -> None:
    """Rewrite the per-batch posting files as one compacted set — a
    semantic no-op (the postings are already distinct rows; only the
    file layout changes). The overwrite keeps the log so the stream's
    batch keys survive (the compact_corpus_cells protocol)."""
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, index_root)
    t.overwrite(t.read(), batch_id=compaction_id)


def start_incremental_word_cells_ingest(
    spark: SparkSession,
    source_dir: str,
    cells_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "word_cells_ingest",
) -> StreamingQuery:
    """EXACT incremental tokenizer-training state — the NINETEENTH
    incremental path, mergeable-sums class: each batch appends its
    per-word-TYPE frequency partials (``operators.textops.
    bpe_word_table`` — the SAME pre-tokenizer pass both trainers run)
    under the idempotent namespaced batch key.  Frequencies are
    additive integer sums, so partials from any batch split merge
    exactly — no ordering contract, late documents exact, state bounded
    by vocabulary (word types), not corpus bytes.

    ``bpe_merges_from_word_cells(cells) ≡ train_bpe_merges`` and
    ``unigram_vocab_from_word_cells(cells)`` ≡ the batch unigram
    trainer over everything ingested (parity test): BOTH tokenizer
    trainers re-run from a word-type-bounded state table instead of a
    corpus re-scan — the "retrain the tokenizer nightly" loop at 100 TB
    touches no document bytes.  ``compact_word_cells`` collapses the
    per-batch partials between drains (overwrite keeps the key log →
    replay-safe)."""
    from ..operators.textops import bpe_word_table
    from ..sources.snapshots import SnapshotTable

    cells_t = SnapshotTable(spark, cells_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def cells_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells_t.append_batch(
            bpe_word_table(batch_df), f"{stream_id}#{batch_id}"
        )

    writer = stream.writeStream.foreachBatch(cells_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_word_cells(
    spark: SparkSession, cells_root: str, compaction_id=None
) -> None:
    """Rewrite the word-cells partials as their per-word merge — a
    semantic no-op (readers merge either way). The overwrite keeps the
    log so batch keys survive (the compact_source_token_cells
    protocol)."""
    from ..operators.textops import merge_word_cells
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, cells_root)
    t.overwrite(merge_word_cells(t.read()), batch_id=compaction_id)


def start_incremental_pricing_ingest(
    spark: SparkSession,
    source_dir: str,
    cells_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "pricing_ingest",
) -> StreamingQuery:
    """EXACT incremental TPC-H Q1 pricing state — the TWENTIETH
    incremental path, mergeable-sums class on the RELATIONAL fact: each
    lineitem batch appends its integer pricing partials
    (``operators.relational.lineitem_pricing_cells`` — money as exact
    cents/basis-point integers, numerators as decimal(38,0) sums) under
    the idempotent namespaced batch key.  ``q1_from_pricing_cells``
    over the maintained cells equals batch ``q1_pricing_summary`` over
    everything ingested (parity test) — the pricing dashboard refreshes
    from a |flag×status|-bounded state table instead of re-scanning the
    fact, and the integer cells make the maintained face the MORE exact
    of the two.  ``compact_pricing_cells`` collapses partials between
    drains (overwrite keeps the key log → replay-safe)."""
    from ..operators.relational import lineitem_pricing_cells
    from ..sources.snapshots import SnapshotTable

    cells_t = SnapshotTable(spark, cells_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def pricing_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells_t.append_batch(
            lineitem_pricing_cells(batch_df), f"{stream_id}#{batch_id}"
        )

    writer = stream.writeStream.foreachBatch(pricing_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_pricing_cells(
    spark: SparkSession, cells_root: str, compaction_id=None
) -> None:
    """Rewrite the pricing partials as their per-group merge — a
    semantic no-op (readers merge either way); the overwrite keeps the
    key log (the compact_word_cells protocol)."""
    from ..operators.relational import merge_pricing_cells
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, cells_root)
    t.overwrite(merge_pricing_cells(t.read()), batch_id=compaction_id)


# Envelope schema for the TWENTY-FIRST path's interleaved fact stream:
# lineitem and order rows share one source so arrival order is genuinely
# arbitrary (a lineitem can precede ITS order in the same or an earlier
# batch — the case the delta-join must union later).
REVENUE_ENVELOPE_SCHEMA = (
    "kind string, l_orderkey long, l_extendedprice double,"
    " l_discount double, o_orderkey long, o_custkey long,"
    " o_orderdate timestamp"
)


def start_incremental_revenue_ingest(
    spark: SparkSession,
    source_dir: str,
    li_root: str,
    orders_root: str,
    cells_root: str,
    txn_dir: str,
    cust_dim: DataFrame,
    schema=REVENUE_ENVELOPE_SCHEMA,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "revenue_ingest",
) -> StreamingQuery:
    """EXACT incremental Q5 revenue-by-nation — the TWENTY-FIRST
    incremental path and the first JOIN-BEARING one: the maintained view
    is an aggregate over orders ⋈ lineitem (⋈ the static
    customer→nation dimension), kept exact by the classic DELTA-JOIN
    identity instead of mergeable partials alone:

        Δ(L ⋈ O) = ΔL ⋈ (O ∪ ΔO)  ∪  L_old ⋈ ΔO

    - ΔL pre-aggregates to per-orderkey integer revenue partials
      (``lineitem_order_partials`` — aggregation pushed below the join,
      so join inputs are order-mass, never lineitem-mass).
    - ΔO filters to Q5's pinned date window and resolves
      o_custkey → (n_name, r_name) through the broadcast ``cust_dim``
      (``customer_nation_dim``), so orders state carries the view's
      group keys directly.
    - Both join legs' contributions collapse to (r_name, n_name) integer
      delta cells, appended additively — a lineitem arriving BEFORE its
      order waits in lineitem state and is picked up by the L_old ⋈ ΔO
      leg when the order lands; an order arriving first feeds the
      ΔL ⋈ O leg forever after.  Either order of arrival, any batch
      split: the union of the two legs counts every (lineitem, order)
      pair exactly once (ΔL pairs with everything known by this batch's
      end; old L pairs with exactly the new orders).

    State: lineitem partials are order-keyed integer sums (≤ one row
    per order per batch; compaction merges to one per order), orders
    state is one row per in-window order, cells are
    ≤ |region×nation| rows.  All three commit in ONE multi-table
    transaction under namespaced batch keys with recovery at stream
    start (the standard protocol), so replay is a no-op.
    ``q5_from_revenue_cells(cells) ≡ q5_revenue_by_nation`` over
    everything ingested — parity-tested across uneven splits,
    out-of-order arrival, replay and compaction."""
    from ..operators.relational import (
        _Q5_DATE_HI,
        _Q5_DATE_LO,
        lineitem_order_partials,
    )
    from ..sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
        recover_transactions,
    )

    li_t = SnapshotTable(spark, li_root)
    ord_t = SnapshotTable(spark, orders_root)
    cells_t = SnapshotTable(spark, cells_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}

    def revenue_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch(
                [li_t, ord_t, cells_t], stream_id
            )
        if batch_id <= state["max_seen"]:
            return
        dl = lineitem_order_partials(
            batch_df.filter(F.col("kind") == "lineitem")
        ).persist()
        do = (
            batch_df.filter(F.col("kind") == "order")
            .filter(
                (F.col("o_orderdate") >= F.lit(_Q5_DATE_LO))
                & (F.col("o_orderdate") < F.lit(_Q5_DATE_HI))
            )
            .join(
                F.broadcast(cust_dim),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select("o_orderkey", "n_name", "r_name")
            .persist()
        )
        try:
            o_old = (
                ord_t.read()
                if ord_t.current_version() is not None
                else spark.createDataFrame(
                    [], "o_orderkey long, n_name string, r_name string"
                )
            )
            l_old = (
                li_t.read()
                if li_t.current_version() is not None
                else spark.createDataFrame(
                    [], "o_orderkey long, rev_num decimal(38,0), n long"
                )
            )
            # leg 1: new lineitems against everything known by batch end
            c1 = dl.join(o_old.unionByName(do), "o_orderkey")
            # leg 2: previously-stated lineitems against the new orders
            # only (leg 1 already covered ΔL ⋈ ΔO)
            c2 = l_old.join(do, "o_orderkey")
            delta_cells = (
                c1.unionByName(c2)
                .groupBy("r_name", "n_name")
                .agg(
                    F.sum("rev_num").alias("rev_num"),
                    F.sum("n").alias("n"),
                )
            )
            txn = MultiTableTransaction([li_t, ord_t, cells_t], txn_dir)
            key = f"{stream_id}#{batch_id}"
            txn.stage_append(li_t, dl, batch_id=key)
            txn.stage_append(ord_t, do, batch_id=key)
            txn.stage_append(cells_t, delta_cells, batch_id=key)
            txn.commit()
        finally:
            dl.unpersist()
            do.unpersist()
        state["max_seen"] = batch_id

    writer = stream.writeStream.foreachBatch(revenue_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_revenue_state(
    spark: SparkSession,
    li_root: str,
    orders_root: str,
    cells_root: str,
    compaction_id=None,
) -> None:
    """Collapse the 21st path's three state tables between drains — a
    semantic no-op for every future batch and for the serve face:
    lineitem partials merge per order, cells merge per (r_name, n_name)
    (both additive integer sums), orders rewrite as-is (already one row
    per order; only file layout changes).  Overwrites keep the key logs
    so replay protection survives (the compact_pricing_cells protocol)."""
    from ..operators.relational import (
        merge_order_partials,
        merge_revenue_cells,
    )
    from ..sources.snapshots import SnapshotTable

    li_t = SnapshotTable(spark, li_root)
    li_t.overwrite(merge_order_partials(li_t.read()), batch_id=compaction_id)
    ord_t = SnapshotTable(spark, orders_root)
    ord_t.overwrite(ord_t.read(), batch_id=compaction_id)
    cells_t = SnapshotTable(spark, cells_root)
    cells_t.overwrite(
        merge_revenue_cells(cells_t.read()), batch_id=compaction_id
    )


RECON_ENVELOPE_SCHEMA = (
    "kind string, l_orderkey long, l_extendedprice double,"
    " l_discount double, l_tax double, o_orderkey long, o_totalprice double"
)


def start_incremental_recon_ingest(
    spark: SparkSession,
    source_dir: str,
    state_root: str,
    schema=RECON_ENVELOPE_SCHEMA,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "recon_ingest",
) -> StreamingQuery:
    """EXACT incremental order-reconciliation maintenance — the
    TWENTY-SECOND incremental path, and the second one whose served view
    is a JOIN (orders ⋈ lineitem rollup): where the 21st path needed the
    delta-join identity (its aggregate groups by a DIMENSION attribute),
    the reconciliation view joins header and lines ON THE AGGREGATION KEY
    itself (o_orderkey), so the join degenerates into a per-key merge of
    two additive partial families — no stored-side join at ingest at all:

    - lineitem-kind rows pre-aggregate to per-order (line_cents, n_lines)
      partials (``recon_line_partials`` — the SAME cents expression and
      collapse the batch audit uses);
    - order-kind rows become (hdr_cents, hdr_n=1) partials
      (``recon_order_partials``);
    - both append into ONE order-keyed state table with every column an
      additive integer sum — the mergeable-sums IVM class: no ordering
      contract, a lineitem landing batches before its header (or after
      it, or split across batches) merges exactly, replay is a no-op
      under the idempotent namespaced batch key.

    ``reconciliation_from_state(state) ≡ order_reconciliation_audit``
    over everything ingested (parity test across uneven interleaved
    splits, out-of-order arrival both ways, replay, compaction).  At
    100 TB the finance gate refreshes from |orders|-bounded state —
    never re-scanning the lineitem fact."""
    from ..operators.quality import recon_line_partials, recon_order_partials
    from ..sources.snapshots import SnapshotTable

    state_t = SnapshotTable(spark, state_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def recon_batch(batch_df: DataFrame, batch_id: int) -> None:
        lines = recon_line_partials(
            batch_df.filter(F.col("kind") == "lineitem")
        ).select(
            "k",
            F.lit(0).cast("long").alias("hdr_cents"),
            F.lit(0).cast("long").alias("hdr_n"),
            "line_cents",
            "n_lines",
        )
        hdrs = recon_order_partials(
            batch_df.filter(F.col("kind") == "order")
        ).select(
            "k",
            "hdr_cents",
            "hdr_n",
            F.lit(0).cast("long").alias("line_cents"),
            F.lit(0).cast("long").alias("n_lines"),
        )
        state_t.append_batch(
            lines.unionByName(hdrs), f"{stream_id}#{batch_id}"
        )

    writer = stream.writeStream.foreachBatch(recon_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_recon_state(
    spark: SparkSession, state_root: str, compaction_id=None
) -> None:
    """Collapse the 22nd path's partials log to one row per order — a
    semantic no-op (all columns additive integer sums; overwrite keeps
    the key log so replay protection survives)."""
    from ..operators.quality import merge_recon_partials
    from ..sources.snapshots import SnapshotTable

    state_t = SnapshotTable(spark, state_root)
    state_t.overwrite(
        merge_recon_partials(state_t.read()), batch_id=compaction_id
    )


def start_incremental_kgram_index_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    index_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "kgram_index_ingest",
) -> StreamingQuery:
    """EXACT incremental positional k-gram index maintenance — the
    EIGHTEENTH incremental path, append-only-postings class on the
    ExactSubstr grain: each batch appends its documents' sliding
    (doc_id, pos, h) k-gram rows (``operators.dedup.kgram_rows`` — the
    SAME leaf pass batch ``dedup_exact_substr`` runs) together with the
    corpus rows in ONE multi-table transaction.  Each document arrives
    once, so postings from disjoint batches union to the full-corpus
    index exactly — no ordering contract, late documents merge exactly,
    and the "shared by ≥2 docs" statistic is recomputed at query time
    over the maintained postings, so a k-gram that only LATER becomes
    shared flips its spans exactly as the batch face would.

    ``exact_substr_from_index(index, corpus) ≡ dedup_exact_substr``
    over everything ingested (parity test): the repeated-span audit —
    "which spans of today's corpus are boilerplate" — serves from state
    with the corpus-wide tokenize+hash pass paid once at ingest;
    serving re-tokenizes only span-bearing documents.  State is
    posting-cardinality (Σ per-doc window count ≈ corpus tokens — the
    price of any positional index; compacted between drains by
    ``compact_kgram_index``)."""
    from ..operators.dedup import es_tokenized, kgram_rows
    from ..sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
        recover_transactions,
    )

    corpus = SnapshotTable(spark, corpus_root)
    index_t = SnapshotTable(spark, index_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch([corpus, index_t], stream_id)
        if batch_id <= state["max_seen"]:
            return
        txn = MultiTableTransaction([corpus, index_t], txn_dir)
        key = f"{stream_id}#{batch_id}"
        txn.stage_append(corpus, batch_df, batch_id=key)
        txn.stage_append(index_t, kgram_rows(es_tokenized(batch_df)), batch_id=key)
        txn.commit()
        state["max_seen"] = batch_id

    writer = stream.writeStream.foreachBatch(index_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_kgram_index(
    spark: SparkSession, index_root: str, compaction_id=None
) -> None:
    """Rewrite the per-batch k-gram posting files as one compacted set —
    a semantic no-op (rows unchanged; only the file layout). The
    overwrite keeps the log so the stream's batch keys survive (the
    compact_shingle_index protocol)."""
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, index_root)
    t.overwrite(t.read(), batch_id=compaction_id)


ORDERS_ENVELOPE_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def start_incremental_benford_ingest(
    spark: SparkSession,
    source_dir: str,
    cells_root: str,
    schema=ORDERS_ENVELOPE_SCHEMA,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "benford_ingest",
) -> StreamingQuery:
    """EXACT incremental Benford digit counters — the TWENTY-FOURTH
    incremental path, mergeable-sums class at its most extreme: each
    order batch appends its (digit, n_obs) first-digit partials
    (``operators.analytics.benford_digit_cells`` — the SAME leaf pass
    the batch audit runs) under the idempotent namespaced batch key.
    Counts are additive, so late/out-of-order orders merge exactly with
    no ordering contract, and the ENTIRE maintained state is ≤ 9
    counter rows — the forensic monitor (`benford_from_digit_cells` ≡
    batch ``benford_digit_audit``) refreshes per drain from metadata,
    never re-scanning the fact. A fabricated-amounts injection shows up
    as a χ² jump on the next drain."""
    from ..operators.analytics import benford_digit_cells
    from ..sources.snapshots import SnapshotTable

    cells_t = SnapshotTable(spark, cells_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def benford_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells_t.append_batch(
            benford_digit_cells(batch_df), f"{stream_id}#{batch_id}"
        )

    writer = stream.writeStream.foreachBatch(benford_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_benford_cells(
    spark: SparkSession, cells_root: str, compaction_id=None
) -> None:
    """Collapse the digit partials log to ≤9 rows — a semantic no-op
    (additive sums; overwrite keeps the key log, replay-safe)."""
    from ..operators.analytics import merge_benford_cells
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, cells_root)
    t.overwrite(merge_benford_cells(t.read()), batch_id=compaction_id)


EMBEDDING_ENVELOPE_SCHEMA = "vec_id long, embedding array<float>"


def start_incremental_code_index_ingest(
    spark: SparkSession,
    source_dir: str,
    codes_root: str,
    schema=EMBEDDING_ENVELOPE_SCHEMA,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "code_index_ingest",
) -> StreamingQuery:
    """EXACT incremental binary sign-code index — the TWENTY-THIRD
    incremental path, append-only-projection class: each embedding batch
    appends its 64-bit sign codes (``operators.similarity._sign_coded``
    — the SAME packing the batch ``knn_hamming`` computes on the fly)
    under the idempotent namespaced batch key.  The code is a pure
    per-row function of the vector, and each vector arrives once, so
    per-batch code appends union to exactly the full-corpus code table
    — no ordering contract, no merge step, replay a no-op.

    ``hamming_from_code_index(codes) ≡ knn_hamming`` over everything
    ingested (parity test): the binary search face serves from a table
    that is 16 bytes/vector — the "store the codes next to the vectors"
    claim of the compression ladder made into maintained state; the
    float embeddings are never re-read at query time.
    ``compact_code_index`` collapses file layout between drains."""
    from ..operators.similarity import _sign_coded
    from ..sources.snapshots import SnapshotTable

    codes_t = SnapshotTable(spark, codes_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def code_batch(batch_df: DataFrame, batch_id: int) -> None:
        codes_t.append_batch(
            _sign_coded(batch_df.filter(F.col("embedding").isNotNull())),
            f"{stream_id}#{batch_id}",
        )

    writer = stream.writeStream.foreachBatch(code_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_code_index(
    spark: SparkSession, codes_root: str, compaction_id=None
) -> None:
    """Rewrite the per-batch code files as one compacted set — a
    semantic no-op (rows unchanged; the overwrite keeps the key log so
    replay protection survives)."""
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, codes_root)
    t.overwrite(t.read(), batch_id=compaction_id)


def start_incremental_mixture_ingest(
    spark: SparkSession,
    source_dir: str,
    cells_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "mixture_ingest",
) -> StreamingQuery:
    """EXACT incremental mixture-weight maintenance — the FOURTEENTH
    incremental path, mergeable-sums class: each batch appends its
    per-source (n_docs, total_tokens) cell partials
    (``operators.sampling.source_token_cells``, the SAME pass the batch
    mixture planner uses) under the idempotent namespaced batch key.
    Both measures are additive integer sums — late and out-of-order
    documents merge exactly, no ordering contract, state bounded by
    |sources| rows. ``mixture_from_token_cells`` over the maintained
    table equals the batch ``domain_mixture_weights`` over everything
    ingested (parity test in tests/test_streaming.py) — a continuously
    ingesting training pipeline re-plans its sampling mixture per drain
    from metadata-sized state instead of re-tokenizing the corpus.
    ``compact_source_token_cells`` collapses the partials log between
    drains (overwrite keeps the key log → replay-safe)."""
    from ..operators.sampling import source_token_cells
    from ..sources.snapshots import SnapshotTable

    cells_t = SnapshotTable(spark, cells_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def cells_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells_t.append_batch(
            source_token_cells(batch_df), f"{stream_id}#{batch_id}"
        )

    writer = stream.writeStream.foreachBatch(cells_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_source_token_cells(
    spark: SparkSession, cells_root: str, compaction_id=None
) -> None:
    """Rewrite the source-cell partials table as its per-source sum — a
    semantic no-op (readers merge either way); the overwrite keeps the
    log so the stream's batch keys survive (the compact_corpus_cells
    protocol)."""
    from ..operators.sampling import merge_source_token_cells
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, cells_root)
    t.overwrite(merge_source_token_cells(t.read()), batch_id=compaction_id)


def start_incremental_daily_type_ingest(
    spark: SparkSession,
    source_dir: str,
    cells_root: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "daily_type_ingest",
) -> StreamingQuery:
    """EXACT incremental monitoring-series maintenance — the FIFTEENTH
    incremental path, mergeable-sums class: each batch appends its
    (event_type, day, n) count partials
    (``operators.analytics.daily_type_cells``, the SAME pass the batch
    monitoring grid uses) under the idempotent namespaced batch key.
    The count is an additive integer sum — late and out-of-order events
    merge exactly, no ordering contract, state bounded by
    |types| × calendar days. ``grid_from_daily_cells`` over the
    maintained table equals the batch ``daily_type_grid`` over
    everything ingested, so BOTH monitoring faces — the CUSUM
    changepoint and the seasonal-naive forecast backtest — serve from
    metadata-sized state per refresh instead of a fact re-scan (parity
    test in tests/test_streaming.py asserts the full backtest readout).
    ``compact_daily_type_cells`` collapses the partials log between
    drains (overwrite keeps the key log → replay-safe)."""
    from ..operators.analytics import daily_type_cells
    from ..sources.snapshots import SnapshotTable

    cells_t = SnapshotTable(spark, cells_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def cells_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells_t.append_batch(
            daily_type_cells(batch_df), f"{stream_id}#{batch_id}"
        )

    writer = stream.writeStream.foreachBatch(cells_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_daily_type_cells(
    spark: SparkSession, cells_root: str, compaction_id=None
) -> None:
    """Rewrite the daily-cell partials table as its per-(type, day) sum —
    a semantic no-op (readers merge either way); the overwrite keeps the
    log so the stream's batch keys survive (the compact_corpus_cells
    protocol)."""
    from ..operators.analytics import merge_daily_type_cells
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, cells_root)
    t.overwrite(merge_daily_type_cells(t.read()), batch_id=compaction_id)


def apply_sessions_batch(
    spark: SparkSession,
    closed_t,
    open_t,
    txn_dir: str,
    batch_df: DataFrame,
    key,
) -> bool:
    """One micro-batch of exact incremental sessionization: within-batch
    ``session_rollup`` + boundary stitch against the open-session state,
    committed as one multi-table transaction under ``key``. Returns False
    (whole-batch no-op) when ``key`` has already committed — replay
    protection lives HERE so the streaming closure and the model test
    drive the identical code path. Semantics, the order contract and the
    state shapes are documented on ``start_incremental_sessions_ingest``."""
    from ..operators.windows import _SESSION_GAP_S, session_rollup
    from ..sources.snapshots import (
        MultiTableTransaction,
        transaction_batch_seen,
    )

    if transaction_batch_seen([closed_t, open_t], key):
        return False
    b = batch_df.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).persist()
    ranked = None

    def _nsum(a, b_):
        # null-skipping add: parity with SUM(value) over the merged
        # session's events (NULL only when BOTH sides are all-NULL)
        return F.when(
            a.isNull() & b_.isNull(), F.lit(None).cast("double")
        ).otherwise(F.coalesce(a, F.lit(0.0)) + F.coalesce(b_, F.lit(0.0)))

    try:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ranked = b.select(
            "user_id",
            "ts",
            "event_id",
            F.row_number().over(w).alias("__rn"),
            F.count("*").over(Window.partitionBy("user_id")).alias("__n"),
        ).persist()
        sess = (
            session_rollup(b, round_value=False)
            .withColumnRenamed("session_value", "value_sum")
            .withColumn(
                "__m", F.max("session_id").over(Window.partitionBy("user_id"))
            )
        )
        prev = open_t.read() if open_t.current_version() is not None else None
        firsts = ranked.filter(F.col("__rn") == 1).select(
            "user_id", F.col("ts").alias("__ts0"), F.col("event_id").alias("__eid0")
        )
        lasts = ranked.filter(F.col("__rn") == F.col("__n")).select(
            "user_id",
            F.col("ts").alias("__lts"),
            F.col("event_id").alias("__leid"),
        )
        if prev is not None:
            pj = firsts.join(prev, "user_id")
            n_bad = (
                pj.filter(
                    (F.col("__ts0") < F.col("last_ts"))
                    | (
                        (F.col("__ts0") == F.col("last_ts"))
                        & (F.col("__eid0") <= F.col("last_eid"))
                    )
                )
                .limit(1)
                .count()
            )
            if n_bad:
                raise RuntimeError(
                    "sessions ingest order contract violated: a batch "
                    "delivered a user event at or before that user's "
                    "already-ingested last event; exact incremental "
                    "sessionization requires per-user-ordered delivery "
                    "— route this source through a keyed, ordered log "
                    "or rebuild the session tables"
                )
            minfo = pj.select(
                "user_id",
                (
                    F.col("__ts0").cast("long") - F.col("last_ts").cast("long")
                    <= _SESSION_GAP_S
                ).alias("__merged"),
                F.col("session_start").alias("__p_start"),
                F.col("n_events").alias("__p_n"),
                F.col("value_sum").alias("__p_v"),
            )
        else:
            minfo = None
        if minfo is not None:
            adj = sess.join(minfo, "user_id", "left")
            stitch = F.col("__merged").eqNullSafe(F.lit(True)) & (
                F.col("session_id") == 1
            )
            adj = adj.select(
                "user_id",
                "session_id",
                "__m",
                F.when(stitch, F.col("__p_start"))
                .otherwise(F.col("session_start"))
                .alias("session_start"),
                "session_end",
                F.when(stitch, F.col("n_events") + F.col("__p_n"))
                .otherwise(F.col("n_events"))
                .alias("n_events"),
                F.when(stitch, _nsum(F.col("value_sum"), F.col("__p_v")))
                .otherwise(F.col("value_sum"))
                .alias("value_sum"),
            )
            # stored open sessions that did NOT merge close now (their
            # user showed up again after a full gap)
            old_closures = prev.join(
                minfo.filter(~F.col("__merged")).select("user_id"), "user_id"
            ).select(
                "user_id",
                "session_start",
                F.col("last_ts").alias("session_end"),
                "n_events",
                "value_sum",
            )
        else:
            adj = sess.select(
                "user_id",
                "session_id",
                "__m",
                "session_start",
                "session_end",
                "n_events",
                "value_sum",
            )
            old_closures = None
        closure_cols = [
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            "value_sum",
        ]
        closures = adj.filter(F.col("session_id") < F.col("__m")).select(
            *closure_cols
        )
        if old_closures is not None:
            closures = closures.unionByName(old_closures)
        new_open = (
            adj.filter(F.col("session_id") == F.col("__m"))
            .join(lasts, "user_id")
            .select(
                "user_id",
                "session_start",
                F.col("__lts").alias("last_ts"),
                F.col("__leid").alias("last_eid"),
                "n_events",
                "value_sum",
            )
        )
        txn = MultiTableTransaction([closed_t, open_t], txn_dir)
        txn.stage_append(closed_t, closures, batch_id=key)
        if open_t.current_version() is None:
            txn.stage_append(open_t, new_open, batch_id=key)
        else:
            # merge-on-read upsert: ONE O(batch-users) data dir + ONE
            # O(batch-users) equality-delete file per batch — never a
            # rewrite of the O(total-users) open set (the r10/r11 cost
            # finding; a CoW merge would rewrite every file whose user
            # range the batch touches, i.e. everything under a uniform
            # user spread). compact_open_sessions() materializes the
            # pending deletes periodically.
            txn.stage_upsert_keys(open_t, new_open, key="user_id", batch_id=key)
        txn.commit()
        return True
    finally:
        # guard: if the try block raised before `ranked` was bound, an
        # unguarded unpersist would mask the original exception
        if ranked is not None:
            ranked.unpersist()
        b.unpersist()


def apply_scd2_batch(
    spark: SparkSession,
    closed_t,
    open_t,
    txn_dir: str,
    batch_df: DataFrame,
    key,
) -> bool:
    """One micro-batch of exact incremental SCD2 maintenance (the
    SIXTEENTH path, round 13; boundary-state class): within-batch change
    detection + boundary stitch against the per-user open-version state,
    committed as one multi-table transaction under ``key``.  Returns
    False (whole-batch no-op) when ``key`` has already committed.

    Stitch rule (the Kimball change-detection rule across the batch
    boundary): the batch's first change for a user MERGES into the
    stored open version when its state equals the stored state (a
    repeated state is never a new version — valid_from and version carry
    over); otherwise the stored open version CLOSES at the first batch
    change's timestamp.  Every batch change with a successor closes
    inside the batch; the last becomes the new open boundary.  Version
    numbers continue from the stored open version.

    ORDER CONTRACT (the sessions/Markov discipline, checked loudly): a
    user's events in a later batch must be strictly later by
    (ts, event_id) than their stored last event — a late event can
    re-open or re-split ALREADY-CLOSED versions, which is a rebuild, not
    an append.  NULL user/state/ts/event_id rows are excluded, same as
    the batch face.

    PER-BATCH COST: closed versions append-only; the open table is a
    keyed MERGE-ON-READ upsert (``stage_upsert_keys``) — one
    O(batch-users) data dir + one O(batch-users) equality-delete file
    per batch, never a rewrite of the open set (the sessions r12
    machinery, measured flat in tests)."""
    from ..sources.snapshots import (
        MultiTableTransaction,
        transaction_batch_seen,
    )

    if transaction_batch_seen([closed_t, open_t], key):
        return False
    b = batch_df.filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    ).persist()
    try:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ev = b.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("state"),
            F.row_number().over(w).alias("__rn"),
            F.count("*").over(Window.partitionBy("user_id")).alias("__n"),
            F.lag("event_type").over(w).alias("__prev"),
        )
        firsts = ev.filter(F.col("__rn") == 1).select(
            "user_id",
            F.col("ts").alias("__ts0"),
            F.col("event_id").alias("__eid0"),
        )
        lasts = ev.filter(F.col("__rn") == F.col("__n")).select(
            "user_id",
            F.col("ts").alias("__lts"),
            F.col("event_id").alias("__leid"),
        )
        chg = ev.filter(
            F.col("__prev").isNull() | (F.col("__prev") != F.col("state"))
        )
        wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
        chg = chg.select(
            "user_id",
            "state",
            F.col("ts").alias("valid_from"),
            F.row_number().over(wc).alias("__bi"),
            F.lead("ts").over(wc).alias("valid_to"),
        )
        prev = open_t.read() if open_t.current_version() is not None else None
        if prev is not None:
            pj = firsts.join(prev, "user_id")
            n_bad = (
                pj.filter(
                    (F.col("__ts0") < F.col("last_ts"))
                    | (
                        (F.col("__ts0") == F.col("last_ts"))
                        & (F.col("__eid0") <= F.col("last_eid"))
                    )
                )
                .limit(1)
                .count()
            )
            if n_bad:
                raise RuntimeError(
                    "scd2 ingest order contract violated: a batch "
                    "delivered a user event at or before that user's "
                    "already-ingested last event; exact incremental SCD2 "
                    "requires per-user-ordered delivery — route this "
                    "source through a keyed, ordered log or rebuild the "
                    "version tables"
                )
            minfo = pj.select(
                "user_id",
                F.col("version").alias("__p_ver"),
                F.col("state").alias("__p_state"),
                F.col("valid_from").alias("__p_from"),
            )
            adj = chg.join(minfo, "user_id", "left")
            merged = (F.col("__bi") == 1) & (
                F.col("state").eqNullSafe(F.col("__p_state"))
            )
            known = F.col("__p_ver").isNotNull()
            adj = adj.select(
                "user_id",
                "state",
                # the merged first change IS the stored open version:
                # valid_from and version carry over (state is equal)
                F.when(merged, F.col("__p_from"))
                .otherwise(F.col("valid_from"))
                .alias("valid_from"),
                "valid_to",
                F.when(~known, F.col("__bi").cast("long"))
                .when(
                    # every change of a MERGED user shifts by −1 (bi 1 is
                    # the carried stored version; bi k is version p+k−1)
                    F.first(merged.cast("int")).over(
                        Window.partitionBy("user_id").orderBy("__bi")
                    )
                    == 1,
                    F.col("__p_ver") + F.col("__bi") - 1,
                )
                .otherwise(F.col("__p_ver") + F.col("__bi"))
                .alias("version"),
                merged.alias("__merged_first"),
                F.col("__bi"),
            )
            # stored open versions that did NOT merge close at the first
            # batch change's timestamp
            first_batch = adj.filter(F.col("__bi") == 1).select(
                "user_id",
                F.col("valid_from").alias("__t1"),
                F.col("__merged_first"),
            )
            old_closures = (
                prev.join(
                    first_batch.filter(~F.col("__merged_first")).select(
                        "user_id", "__t1"
                    ),
                    "user_id",
                )
                .select(
                    "user_id",
                    "version",
                    "state",
                    "valid_from",
                    F.col("__t1").alias("valid_to"),
                )
            )
        else:
            adj = chg.select(
                "user_id",
                "state",
                "valid_from",
                "valid_to",
                F.col("__bi").cast("long").alias("version"),
                F.lit(False).alias("__merged_first"),
                F.col("__bi"),
            )
            old_closures = None
        closure_cols = ["user_id", "version", "state", "valid_from", "valid_to"]
        closures = adj.filter(F.col("valid_to").isNotNull()).select(
            *closure_cols
        )
        if old_closures is not None:
            closures = closures.unionByName(old_closures)
        new_open = (
            adj.filter(F.col("valid_to").isNull())
            .join(lasts, "user_id")
            .select(
                "user_id",
                "version",
                "state",
                "valid_from",
                F.col("__lts").alias("last_ts"),
                F.col("__leid").alias("last_eid"),
            )
        )
        txn = MultiTableTransaction([closed_t, open_t], txn_dir)
        txn.stage_append(closed_t, closures, batch_id=key)
        if open_t.current_version() is None:
            txn.stage_append(open_t, new_open, batch_id=key)
        else:
            # merge-on-read keyed upsert: O(batch-users) data + delete
            # files per batch (the sessions open-boundary machinery)
            txn.stage_upsert_keys(open_t, new_open, key="user_id", batch_id=key)
        txn.commit()
        return True
    finally:
        b.unpersist()


def start_incremental_scd2_ingest(
    spark: SparkSession,
    source_dir: str,
    closed_root: str,
    open_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "scd2_ingest",
) -> StreamingQuery:
    """EXACT incremental SCD2 dimension maintenance — semantics, the
    order contract and per-batch cost are documented on
    :func:`apply_scd2_batch`; ``operators.windows.scd2_from_state`` over
    (closed log + open boundaries) equals batch ``scd2_from_events``
    over everything ingested.  At 100 TB this turns "refresh the
    versioned dimension" from a full-fact window sort into per-batch
    change detection plus a user-keyed boundary join; the open table
    holds ONE row per tracked user and closed versions are append-only.
    Exactly-once via namespaced batch keys in one multi-table
    transaction; pending open-table deletes compact on the sessions
    cadence."""
    from ..sources.snapshots import SnapshotTable, recover_transactions

    closed_t = SnapshotTable(spark, closed_root)
    open_t = SnapshotTable(spark, open_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}

    def scd2_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch([closed_t, open_t], stream_id)
        if batch_id <= state["max_seen"]:
            return
        apply_scd2_batch(
            spark, closed_t, open_t, txn_dir, batch_df, f"{stream_id}#{batch_id}"
        )
        state["max_seen"] = batch_id
        snap_deletes = (
            open_t._snapshot(None).get("deletes", [])
            if open_t.current_version() is not None
            else []
        )
        if len(snap_deletes) >= _OPEN_COMPACT_EVERY:
            compact_open_sessions(spark, open_root)

    writer = stream.writeStream.foreachBatch(scd2_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_sessions_ingest(
    spark: SparkSession,
    source_dir: str,
    closed_root: str,
    open_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "sessions_ingest",
) -> StreamingQuery:
    """EXACT incremental sessionization — the TENTH incremental path, in
    the BOUNDARY-STATE class (with Markov transitions): gap-based sessions
    cross micro-batch boundaries, so the state is (a) an append-only log
    of CLOSED sessions and (b) one OPEN-session row per active user
    (start, last event, running count/value). Per batch: run the SAME
    ``operators.windows.session_rollup`` pass the batch operator uses on
    the batch alone, then stitch at the boundary — a user's first batch
    session MERGES into their stored open session when the gap to the
    stored last event is within the session gap, otherwise the stored
    session closes; every batch session except the user's last closes;
    the last becomes the new open boundary. ``sessions_from_state`` over
    the two tables equals batch ``sessionize`` over everything ingested
    (parity + hypothesis model in tests/test_streaming.py). At 100 TB
    this turns "refresh sessions" from a full-fact window sort into
    per-batch work plus a user-keyed boundary join; the open table holds
    ONE row per active user and closed sessions are append-only.

    ORDER CONTRACT (checked loudly, the Markov discipline): a user's
    events in a later batch must be strictly later — by (ts, event_id) —
    than their events in earlier batches. A violating batch raises
    rather than silently corrupting session boundaries: a late event can
    split or merge ALREADY-CLOSED sessions, which is a rebuild, not an
    append. Anonymous (NULL user_id) and NULL-ts events are excluded —
    the engagement/RFM discipline; the batch twin for parity carries the
    same filter.

    PER-BATCH COST (the r10 advice finding, retired in r12): the
    open-boundary table is maintained by a keyed MERGE-ON-READ upsert
    (``MultiTableTransaction.stage_upsert_keys`` — the Iceberg v2
    equality-delete shape): each batch stages one O(batch-users) data dir
    plus one O(batch-users) delete file; users outside the batch are
    never read or rewritten. A copy-on-write merge would NOT fix the old
    O(total-users) rewrite here — batch users spread uniformly over the
    id space, so every file's key range intersects every batch — which
    is exactly the case MoR deletes exist for. The read side
    (``sessions_from_state``) anti-joins the pending delete files;
    ``compact_open_sessions`` materializes them periodically so the
    per-read delete-file count stays bounded (run it on the same cadence
    as the other paths' compactions).

    Exactly-once: the closed-session append and the open-boundary
    upsert commit in ONE multi-table transaction with namespaced
    batch keys; replayed batches are skipped whole."""
    from ..sources.snapshots import SnapshotTable, recover_transactions

    closed_t = SnapshotTable(spark, closed_root)
    open_t = SnapshotTable(spark, open_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}

    def sessions_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch([closed_t, open_t], stream_id)
        if batch_id <= state["max_seen"]:
            return
        apply_sessions_batch(
            spark, closed_t, open_t, txn_dir, batch_df, f"{stream_id}#{batch_id}"
        )
        state["max_seen"] = batch_id
        # bound the open table's pending delete-file count: readers pay
        # one anti-join per pending eq-delete, so compact every few
        # batches — the O(open-set) rewrite runs OFF the per-batch
        # critical path (standard Iceberg maintenance cadence), keeping
        # ingest latency O(batch)
        snap_deletes = (
            open_t._snapshot(None).get("deletes", [])
            if open_t.current_version() is not None
            else []
        )
        if len(snap_deletes) >= _OPEN_COMPACT_EVERY:
            compact_open_sessions(spark, open_root)

    writer = stream.writeStream.foreachBatch(sessions_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_hourly_counts(
    spark: SparkSession, counts_root: str, compaction_id=None
) -> None:
    """Rewrite the hourly-count partials table as its per-bucket sum — a
    semantic no-op (readers merge either way); the overwrite keeps the
    log so the stream's batch keys survive (the compact_user_state
    protocol)."""
    from ..operators.analytics import merge_hourly_counts
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, counts_root)
    t.overwrite(merge_hourly_counts(t.read()), batch_id=compaction_id)


# pending eq-delete files on the sessions open table before the streaming
# closure compacts them away (each pending file costs readers one anti-join)
def _resolve_merge_log(
    log: DataFrame, nodes: DataFrame, max_rounds: int = 64
) -> DataFrame:
    """Resolve ``nodes`` (one column ``node``) to their live cluster
    labels by chasing pointers through the append-only merge log (a
    functional forest: each node appears as a source at most once, every
    event targets a strictly smaller label).  Per-round cost is one
    keyed lookup join of the frontier (batch-bounded) against the log —
    O(batch × chain depth), never O(corpus).  Chains are depth-1 right
    after :func:`compact_cluster_merges`; the round cap fails loudly
    (like the CC iteration cap) rather than return a stale label."""
    kv = log.select(F.col("node").alias("__n"), F.col("target").alias("__t"))
    cur = nodes.select("node", F.col("node").alias("root"))
    for _ in range(max_rounds):
        step = cur.join(kv, cur["root"] == kv["__n"], "left").localCheckpoint(
            eager=True
        )
        if step.filter(F.col("__t").isNotNull()).isEmpty():
            return step.select("node", "root")
        cur = step.select(
            "node", F.coalesce("__t", "root").alias("root")
        )
    raise RuntimeError(
        f"merge-log resolution did not reach a fixpoint in {max_rounds} "
        "rounds; run compact_cluster_merges and retry"
    )


def start_incremental_cluster_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    bands_root: str,
    merges_root: str,
    txn_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    stream_id: str = "cluster_ingest",
) -> StreamingQuery:
    """Exact incremental near-dup CLUSTER maintenance at ingest — the
    SEVENTEENTH maintenance path.  The batch face
    (``operators.dedup.dedup_clusters_lsh``) recomputes connected
    components of the signature-agreement graph from scratch; this path
    maintains the same labels as documents arrive, so "which cluster is
    this doc in" is answerable per batch without re-shuffling the corpus.

    Mechanism (union-find as an append-only event log):

    - Per batch, find signature-agreement edges among batch docs (one
      band self-join) and between batch docs and every admitted doc (one
      band-keyed probe join against the maintained ``bands`` table — the
      near-dup ingest's probe shape).  The edge predicate
      (:func:`~..operators.dedup.sig_agreement` ≥ 23/32 on band
      collision) is a pure pair function, so edges only ever accumulate
      — the monotonicity that makes merge-only state EXACT under any
      batch split, arrival order, and late data.
    - Resolve old endpoints to live labels through the merge log
      (:func:`_resolve_merge_log` pointer chase), run the star-
      alternation CC on the REDUCED batch graph only (batch docs +
      touched live labels — bounded by batch size, never corpus), and
      append one ``(node, target)`` merge event per label that changed:
      new docs joining a cluster, and old cluster labels union-found
      into a smaller one.  Full CC recompute never happens at ingest;
      the log stays a functional forest (each source at most once,
      targets strictly smaller), which is what keeps serve-side
      resolution O(log depth).
    - ``clusters_from_lsh_state(corpus, merges) ≡ dedup_clusters_lsh``
      — parity-tested across batch splits, replay, and compaction.

    Exactly-once: corpus rows, band rows and merge events commit in ONE
    multi-table transaction under namespaced batch keys with recovery at
    stream start (the standard protocol).  State: ``bands`` is 8 rows +
    one 32-long signature per admitted doc (metadata-scale; bucketed on
    (band_idx, band_sig) at real scale); ``merges`` is bounded by
    duplicate mass (≤ one event per doc ever in a cluster + one per
    cluster merge).

    ``id_col`` contract: ids must be ORDERABLE and consistently typed
    across batches — cluster labels are component minima and merge
    targets are strictly smaller than their source, so the id column's
    total order is load-bearing; the merge-log schema derives from the
    id type at first batch."""
    from ..operators.dedup import (
        _LSH_CC_AGREE_MIN,
        _MH_BANDS,
        _band_self_join_edges,
        _collapse_identical_sigs,
        _connected_components,
        minhash_sig_bands,
        sig_agreement,
    )
    from ..sources.snapshots import (
        MultiTableTransaction,
        SnapshotTable,
        recover_transactions,
    )

    corpus = SnapshotTable(spark, corpus_root)
    bands = SnapshotTable(spark, bands_root)
    merges = SnapshotTable(spark, merges_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {"max_seen": None}
    band_arr = F.array(*[F.col(f"band{b}") for b in range(_MH_BANDS)])

    def cluster_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state["max_seen"] is None:
            recover_transactions(spark, txn_dir)
            state["max_seen"] = _max_seen_batch([corpus, bands, merges], stream_id)
        if batch_id <= state["max_seen"]:
            return
        sigs = minhash_sig_bands(batch_df, text_col).persist()
        try:
            # Collapse identical signatures first (the batch face's r15
            # storm fix, shared helpers so the two faces cannot drift):
            # within-batch edges = rep-level band self-join + (rep,
            # member) star edges — component-exact (stars are real
            # agreement edges; any member's cross edge is witnessed by
            # its rep's), so CC labels and therefore merge events are
            # unchanged, while an m-copy batch storm costs m-1 star
            # edges instead of O(m²) candidates.
            rep_rows, star = _collapse_identical_sigs(sigs, id_col)
            expl = rep_rows.select(
                id_col,
                "sig",
                F.posexplode(band_arr).alias("band_idx", "band_sig"),
            )
            edges = _band_self_join_edges(rep_rows, id_col).unionByName(star)
            # batch-vs-admitted edges via the maintained bands table; old
            # endpoints resolve to live labels through the merge log
            if bands.current_version() is not None:
                seen_df = bands.read()
                expl_t = dict(expl.dtypes)
                seen_t = dict(seen_df.dtypes)
                expected = {
                    "band_idx": expl_t["band_idx"],
                    "band_sig": expl_t["band_sig"],
                    "seen_sig": expl_t["sig"],
                }
                drift = {
                    c: (seen_t.get(c), want)
                    for c, want in expected.items()
                    if seen_t.get(c) != want
                }
                if drift:
                    raise RuntimeError(
                        f"bands table at {bands_root} column types {drift} "
                        "(stored, expected) do not match the current MinHash "
                        "pipeline; rebuild the cluster state before resuming"
                    )
                hits = (
                    F.broadcast(expl)
                    .join(seen_df, ["band_idx", "band_sig"])
                    .filter(
                        sig_agreement(F.col("sig"), F.col("seen_sig"))
                        >= _LSH_CC_AGREE_MIN
                    )
                    .select(
                        F.col(id_col).alias("new_id"),
                        F.col("seen_id").alias("old_id"),
                    )
                    .distinct()
                )
                # empty-log schema derives from the id column's actual
                # type (ids must be ORDERABLE — the functional-forest
                # invariant "target strictly smaller" and min-label CC
                # both lean on the column's total order; a hardcoded
                # long schema would break the first cross-batch probe
                # for non-long ids)
                id_type = dict(batch_df.dtypes)[id_col]
                log = (
                    merges.read()
                    if merges.current_version() is not None
                    else spark.createDataFrame(
                        [], f"node {id_type}, target {id_type}"
                    )
                )
                resolved = _resolve_merge_log(
                    log, hits.select(F.col("old_id").alias("node")).distinct()
                )
                old_edges = hits.join(
                    resolved, hits["old_id"] == resolved["node"]
                ).select(
                    F.col("new_id").alias("doc_a"),
                    F.col("root").alias("doc_b"),
                )
                edges = (
                    edges.unionByName(old_edges)
                    .filter(F.col("doc_a") != F.col("doc_b"))
                    .distinct()
                )
            edges = edges.persist()
            try:
                verts = (
                    edges.select(F.col("doc_a").alias("doc_id"))
                    .union(edges.select(F.col("doc_b").alias("doc_id")))
                    .distinct()
                )
                labels = _connected_components(verts, edges)
                events = labels.filter(
                    F.col("doc_id") != F.col("cluster_id")
                ).select(
                    F.col("doc_id").alias("node"),
                    F.col("cluster_id").alias("target"),
                )
                band_rows = sigs.select(
                    F.posexplode(band_arr).alias("band_idx", "band_sig"),
                    F.col(id_col).alias("seen_id"),
                    F.col("sig").alias("seen_sig"),
                )
                txn = MultiTableTransaction([corpus, bands, merges], txn_dir)
                key = f"{stream_id}#{batch_id}"
                txn.stage_append(corpus, batch_df, batch_id=key)
                txn.stage_append(bands, band_rows, batch_id=key)
                txn.stage_append(merges, events, batch_id=key)
                txn.commit()
            finally:
                edges.unpersist()
        finally:
            sigs.unpersist()
        state["max_seen"] = batch_id

    writer = stream.writeStream.foreachBatch(cluster_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_cluster_merges(
    spark: SparkSession, merges_root: str, compaction_id=None
) -> None:
    """Rewrite the cluster merge log as its fully-resolved depth-1 forest
    (node → final label) — a semantic no-op for readers (CC resolution
    gives the same roots either way) that bounds both the serve-side CC
    depth and the ingest-side pointer chase.  The overwrite appends a
    commit and never erases the log, so the stream's namespaced batch
    keys survive and replay protection is unaffected (the
    ``compact_user_state`` protocol)."""
    from ..operators.dedup import _connected_components
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, merges_root)
    log = t.read()
    edges = log.select(
        F.col("node").alias("doc_a"), F.col("target").alias("doc_b")
    )
    verts = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .union(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    labels = _connected_components(verts, edges)
    flat = labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("target")
    )
    t.overwrite(flat, batch_id=compaction_id)


_OPEN_COMPACT_EVERY = 4


def compact_open_sessions(
    spark: SparkSession, open_root: str, compaction_id=None
) -> None:
    """Materialize the open-boundary table's pending merge-on-read
    equality deletes (one per ingested batch) into plain data files — a
    semantic no-op for readers that bounds ``sessions_from_state``'s
    per-read delete-file anti-joins. The overwrite appends a commit and
    never erases the log, so the stream's namespaced batch keys survive
    and replay protection is unaffected (the ``compact_user_state``
    protocol)."""
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, open_root)
    t.overwrite(t.read(), batch_id=compaction_id)


def compact_user_state(
    spark: SparkSession, state_root: str, compaction_id=None
) -> None:
    """Rewrite the user-state partials table as its per-user merge — a
    semantic no-op (readers merge either way) that collapses the
    per-batch partial history to one row per user. Run between ingest
    drains: the overwrite appends a commit, it never erases the log, so
    the stream's namespaced batch keys survive and replay protection is
    unaffected (the ``compact_cooccurrence_index`` protocol). Pass
    ``compaction_id`` to make the compaction itself replay-safe if driven
    from an at-least-once scheduler."""
    from ..operators.analytics import merge_user_state
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, state_root)
    t.overwrite(merge_user_state(t.read()), batch_id=compaction_id)


def compact_cooccurrence_index(
    spark: SparkSession, delta_root: str, compaction_id=None
) -> None:
    """Rewrite the co-occurrence delta table as its summed edges — a
    semantic no-op (readers sum either way) that collapses the ±1 batch
    history to one row per surviving pair. Run between ingest drains: the
    overwrite appends a commit, it never erases the log, so the stream's
    namespaced batch keys survive and replay protection is unaffected
    (``_max_seen_batch`` scans the full log). Zero-sum pairs are true
    zeros and are dropped. Pass ``compaction_id`` to make the compaction
    itself replay-safe if driven from an at-least-once scheduler."""
    from ..operators.analytics import cooccurrence_edges_from_index
    from ..sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, delta_root)
    edges = cooccurrence_edges_from_index(t.read(), min_count=1)
    t.overwrite(
        edges.select("item_a", "item_b", F.col("co_users").alias("d")),
        batch_id=compaction_id,
    )


def run_batch_ingest(
    spark: SparkSession,
    files: list[str] | str,
    warehouse: Warehouse,
    table: str = "gps_tracking_table",
    partition_cols: list[str] | None = None,
) -> None:
    """The reference's original batch path (process_message → load_data_to_
    iceberg, spark_job.py:78-123) for explicit file lists."""
    from ..sources.ndjson import read_batch

    warehouse.create_namespace()
    df = enrich(read_batch(spark, files))
    warehouse.write(df, table, partition_cols)
