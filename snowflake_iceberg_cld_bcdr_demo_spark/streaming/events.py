"""Streaming event ingestion + windowed analytics.

Maps the reference's micro-batch behaviors to Structured Streaming:

- the 5-minute sync task (`16_sync_task_primary.sql:483-489`) →
  ``Trigger.AvailableNow`` / ``ProcessingTime`` micro-batches with
  checkpointed exactly-once progress (the scheduler's non-overlap
  guarantee comes free from the streaming engine),
- Iceberg snapshot appends becoming visible downstream
  (`05_append_campaigns.py:119-123` → `11:127`) → a file-source stream
  over the table directory: new snapshot data dirs are discovered as new
  files, i.e. incremental consumption without reprocessing history,
- daily/hourly rollups (`31:582-592`) → event-time windows with
  watermarks bounding state.

Everything is builder-style (returns unstarted DataFrames/queries) so
tests and jobs compose them with their own sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.lakehouse import LakehouseCatalog


def checkpoint_writer_id(checkpoint_dir: str) -> str:
    """A stable WRITER identity for a stream lineage, derived from its
    checkpoint dir: micro-batch ids restart at 0 for every new
    checkpoint, so every batch_id-guarded sink scopes its idempotency
    to this id (the Delta ``txnAppId`` discipline).  Same checkpoint →
    same id → crash-replays still no-op; a NEW checkpoint pointed at an
    EXISTING table gets a fresh id, so its batch 0 is not silently
    swallowed by a previous stream's batch 0."""
    import hashlib
    import os as _os

    key = _os.path.abspath(checkpoint_dir)
    return "ckpt-" + hashlib.md5(key.encode()).hexdigest()[:12]


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory — each newly landed file is a
    micro-batch input (the snapshot-append consumption pattern).  At
    cluster scale ``maxFilesPerTrigger`` bounds batch size so one giant
    backfill can't blow executor memory."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time windowed rollup with a watermark (the hourly heartbeat
    rollup `31:582-592`, streaming form).  The watermark bounds state:
    windows older than max(event time) − watermark are finalized and
    evicted, so state size is O(active windows), not O(history)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_session_rollup(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Native streaming session windows (``session_window`` + watermark):
    per-user sessions close after ``gap`` of inactivity; the watermark
    finalizes and EVICTS sessions whose end fell behind max(event time)
    − watermark, so state is O(open sessions) — the built-in
    MergingSessionsExec alternative to the custom
    ``applyInPandasWithState`` sessionizer in ``operators/sessions.py``
    (same semantics, engine-managed state).  Update-mode unsupported for
    session windows; emit with append mode once sessions finalize."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    key_cols: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon
    (``dropDuplicates`` with bounded state) — the streaming form of exact
    dedup for at-least-once upstream sources."""
    return events.withWatermark(ts_col, watermark).dropDuplicates([*key_cols, ts_col])


def stream_content_admit(
    docs_stream: DataFrame,
    catalog: LakehouseCatalog,
    namespace: str,
    corpus_table: str,
    checkpoint_dir: str,
    text_col: str = "text",
    ts_col: str = "ingested_at",
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Streaming corpus admission: the incremental-dedup gate
    (`operators.corpus.incremental_dedup`) as a continuous ingest.
    Each micro-batch of candidate documents is

    1. content-fingerprinted (md5 of the whitespace-normalized text),
    2. deduplicated WITHIN the stream (``dropDuplicates`` on the
       fingerprint under a watermark — bounded state),
    3. anti-joined against the fingerprints already in the corpus
       table (re-read per batch, so admissions in batch N block
       re-admission in batch N+1),
    4. appended with the fingerprint column, ``batch_id``-idempotent.

    Scale: the per-batch anti-join is fingerprint-to-fingerprint (32-
    byte keys, uniform), and the corpus side reads only the fingerprint
    column (column pruning).  State never holds document text — only
    fingerprints inside the watermark horizon.

    Returns the StreamingQuery."""
    from ..functions.text import fingerprint as _fp

    deduped = (
        docs_stream.withColumn("fingerprint", _fp(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicates(["fingerprint"])
    )

    wid = checkpoint_writer_id(checkpoint_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fresh = batch_df
        if catalog.table_exists(namespace, corpus_table):
            seen = catalog.load(namespace, corpus_table).select("fingerprint")
            fresh = batch_df.join(seen, "fingerprint", "left_anti")
            if fresh.isEmpty():
                return
            catalog.append(
                namespace, corpus_table, fresh, batch_id=batch_id, writer_id=wid
            )
        else:
            catalog.create_table(
                namespace, corpus_table, fresh, batch_id=batch_id, writer_id=wid
            )

    writer = (
        deduped.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_to_lakehouse(
    stream_df: DataFrame,
    catalog: LakehouseCatalog,
    namespace: str,
    table: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Sink a stream into a lakehouse table via ``foreachBatch`` append —
    one snapshot per micro-batch, giving the same append-only snapshot
    lineage batch writers produce.

    Exactly-once into the manifest: ``foreachBatch`` itself is
    at-least-once (a crash after the append but before the checkpoint
    commit replays the batch on restart), so the sink passes ``batch_id``
    through to :meth:`LakehouseCatalog.append`, which records it in the
    snapshot and skips any batch already committed — replays become
    no-ops, the idempotent-sink contract Structured Streaming expects."""

    wid = checkpoint_writer_id(checkpoint_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not catalog.table_exists(namespace, table):
            catalog.create_table(
                namespace, table, batch_df, batch_id=batch_id, writer_id=wid
            )
        else:
            catalog.append(
                namespace, table, batch_df, batch_id=batch_id, writer_id=wid
            )

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_snapshot_read(
    catalog: LakehouseCatalog,
    namespace: str,
    table: str,
    after_snapshot_id: int | None = None,
    expected_table_uuid: str | None = None,
) -> tuple[DataFrame | None, int]:
    """Batch-incremental read of a lakehouse table: rows added AFTER a
    known snapshot (Iceberg incremental-scan analog).  Returns
    (DataFrame-or-None, latest_snapshot_id) — callers persist the cursor
    and hand it back next cycle, which is exactly how the reference's
    5-minute sync avoids reprocessing (`16:121-132` re-lists, we re-read
    only new dirs).

    Lineage resets: if the table was re-created (``mode='overwrite'``)
    snapshot ids restart at 1, so a stale cursor could silently skip the
    new table's data.  Callers should persist ``catalog.table_uuid()``
    alongside the cursor and pass it as ``expected_table_uuid``: on a
    uuid mismatch — or a cursor beyond the current history — the reader
    falls back to a full re-read instead of returning None."""
    snaps = catalog.snapshots(namespace, table)
    # cursors track MAIN history: staged WAP-branch snapshots are not
    # downstream-visible until published
    main = [s for s in snaps if s.branch is None]
    latest = main[-1].snapshot_id
    if after_snapshot_id is not None and any(
        s.operation not in ("append", "create")
        for s in main
        if after_snapshot_id < s.snapshot_id <= latest
    ):
        # a rewrite/replace/rollback intervened: the dir difference is NOT
        # an append delta (rewritten dirs mix old and new rows, and a
        # deletion can empty a partition without adding any dir) — fall
        # back to a full re-read, exactly like a lineage reset.  Callers
        # needing row-level diffs across rewrites use catalog.changelog().
        after_snapshot_id = None
    if expected_table_uuid is not None and (
        catalog.table_uuid(namespace, table) != expected_table_uuid
    ):
        after_snapshot_id = None  # table replaced: cursor belongs to the old lineage
    if after_snapshot_id is not None and after_snapshot_id > latest:
        after_snapshot_id = None  # cursor beyond history: lineage reset, full re-read
    if after_snapshot_id is None:
        return catalog.load(namespace, table), latest
    if after_snapshot_id >= latest:
        return None, latest
    seen = set(snaps[after_snapshot_id - 1].data_dirs) if after_snapshot_id >= 1 else set()
    new_dirs = [d for d in main[-1].data_dirs if d not in seen]
    if not new_dirs:
        return None, latest
    # the catalog's own dir read: recorded file schemas (no inference
    # job), missing columns NULL across a schema evolution, hidden
    # partition fields stripped and ALTER TABLE renames applied
    manifest = catalog._read_manifest(namespace, table)
    return catalog._read_dirs_clean(namespace, table, new_dirs, manifest), latest


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "2 hours",
    max_delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a bounded event-time range
    (the funnel join — impressions→clicks — in streaming form).

    Both sides carry a watermark and the join condition bounds
    ``right_ts`` to ``[left_ts, left_ts + max_delay]``, so the state store
    holds only rows inside the watermark+delay horizon — O(window), not
    O(stream).  Outer variants emit unmatched rows once the watermark
    passes; Spark requires the time bound for exactly this state-eviction
    reason, same as a cluster deployment.

    Column collision is avoided by prefixing the right side (``r_``).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    rw = rw.select([F.col(c).alias(f"r_{c}") for c in rw.columns])
    cond = (
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col(f"r_{right_ts}") >= F.col(left_ts))
        & (F.col(f"r_{right_ts}") <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, how)


def apply_cdc_stream(
    stream_df: DataFrame,
    catalog: LakehouseCatalog,
    namespace: str,
    table: str,
    key_cols: list[str],
    checkpoint_dir: str,
    op_col: str = "op",
    seq_col: str = "ts",
    available_now: bool = True,
    mode: str = "cow",
):
    """Apply a change-data-capture stream to a lakehouse table: each
    micro-batch MERGEs into the target — upserts for ``op`` in (I, U),
    row deletion for ``op = 'D'`` — the streaming-upsert pattern an
    Iceberg/Delta user expresses as ``foreachBatch + MERGE INTO``.

    Within a batch, only the LAST change per key (by ``seq_col``) applies
    — intermediate states of a hot key collapse, exactly like engines'
    CDC apply.  Exactly-once: the ``batch_id`` rides into the merge commit
    (and the table-create commit on first batch), so a replayed batch
    after a crash-between-merge-and-checkpoint is a no-op.

    Scale — two write strategies, picked by ``mode``:

    - ``"cow"`` (default): copy-on-write MERGE — target data dirs whose
      key bounds can't overlap the batch's key range carry by reference;
      a trickle of changes rewrites only the touched key ranges' dirs.
      Best read performance (no read-side merge).
    - ``"mor"``: merge-on-read upsert — each batch commits O(batch)
      bytes (a delete-keys dir + the new rows' dir) regardless of table
      size; readers anti-join until compaction.  Best for high-frequency
      small batches against huge tables; schedule ``compact()``."""
    from pyspark.sql import Window

    if mode not in ("cow", "mor"):
        raise ValueError(f"apply_cdc_stream: unknown mode {mode!r}")

    wid = checkpoint_writer_id(checkpoint_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if not catalog.table_exists(namespace, table):
            init = latest.filter(F.col(op_col) != F.lit("D")).drop(op_col)
            catalog.create_table(
                namespace, table, init, batch_id=batch_id, writer_id=wid
            )
            return
        if mode == "mor":
            # the op column never reaches the table: upsert_mor projects
            # inserts onto the target schema after the delete filter
            catalog.upsert_mor(
                namespace,
                table,
                latest,
                equality_cols=key_cols,
                delete_condition=f"{op_col} = 'D'",
                batch_id=batch_id,
                writer_id=wid,
            )
            return
        data_cols = [c for c in latest.columns if c != op_col and c not in key_cols]
        catalog.merge_into(
            namespace,
            table,
            latest,
            on=key_cols,
            when_matched_update={c: f"s.{c}" for c in data_cols},
            when_matched_delete=f"s.{op_col} = 'D'",
            when_not_matched_insert=True,
            insert_condition=F.col(op_col) != F.lit("D"),
            batch_id=batch_id,
            writer_id=wid,
        )

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Dedup on business keys alone even when duplicate deliveries carry
    DIFFERENT event timestamps (retry with a fresh ts): unlike
    ``dropDuplicates([*keys, ts])``, ``dropDuplicatesWithinWatermark``
    keeps the first arrival per key and drops any later arrival that lands
    within the watermark horizon — the at-least-once-source cleaner for
    sources that re-stamp on retry.  State is evicted at the watermark, so
    memory stays bounded at scale."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def query_progress_frame(spark, query) -> DataFrame:
    """Streaming observability: a query's ``recentProgress`` as a
    DataFrame (batch id, rows in/processed-per-second, batch + state
    metrics) — append it to a lakehouse log table and the 5-minute
    heartbeat can alert on ingest stalls the same way it alerts on sync
    lag.  Metadata-only: progress JSON lives on the driver."""
    rows = []
    for p in query.recentProgress:
        state = (p.get("stateOperators") or [{}])[0]
        rows.append(
            (
                p.get("id"),
                int(p["batchId"]),
                float(p.get("numInputRows", 0)),
                float(p.get("processedRowsPerSecond") or 0.0),
                int((p.get("durationMs") or {}).get("triggerExecution", 0)),
                int(state.get("numRowsTotal", 0)),
                p.get("timestamp"),
            )
        )
    return spark.createDataFrame(
        rows,
        "query_id string, batch_id long, num_input_rows double, "
        "processed_rows_per_sec double, trigger_ms long, "
        "state_rows long, ts string",
    )
