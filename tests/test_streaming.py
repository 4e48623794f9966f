"""Structured Streaming tests: incremental file consumption with
checkpoint resume, watermarked windowed aggregation, stream dedup,
snapshot-incremental reads."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from snowflake_iceberg_cld_bcdr_demo_spark.sources.lakehouse import LakehouseCatalog
from snowflake_iceberg_cld_bcdr_demo_spark.streaming import events as S

SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _batch(spark, start_id, n, day=1):
    rows = [
        (
            start_id + i,
            dt.datetime(2024, 1, day, (start_id + i) % 24, 0, 0),
            ["view", "click"][(start_id + i) % 2],
            float(i) + 0.25,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_stream_ingest_incremental_with_checkpoint(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    wh = str(tmp_path / "wh")
    cat = LakehouseCatalog(spark, wh)

    _batch(spark, 0, 10).write.mode("append").parquet(src)
    stream = S.read_file_stream(spark, src, SCHEMA)
    assert stream.isStreaming
    q = S.write_stream_to_lakehouse(stream, cat, "db", "events", ckpt)
    q.awaitTermination(120)
    assert cat.load("db", "events").count() == 10

    # new files land → only the delta is processed on restart (checkpoint)
    _batch(spark, 100, 5).write.mode("append").parquet(src)
    q2 = S.write_stream_to_lakehouse(
        S.read_file_stream(spark, src, SCHEMA), cat, "db", "events", ckpt
    )
    q2.awaitTermination(120)
    assert cat.load("db", "events").count() == 15
    # each micro-batch became one snapshot (append-only lineage)
    assert [s.operation for s in cat.snapshots("db", "events")] == ["create", "append"]


def test_windowed_counts_with_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    _batch(spark, 0, 24).write.mode("append").parquet(src)
    agg = S.windowed_event_counts(
        S.read_file_stream(spark, src, SCHEMA), window="1 hour", watermark="2 hours"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("win_counts")
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == 24
    # hourly windows, split by event_type
    assert out.filter(F.col("window_end") <= F.col("window_start")).count() == 0
    types = {r.event_type for r in out.select("event_type").distinct().collect()}
    assert types == {"view", "click"}


def test_stream_dedup(spark, tmp_path):
    src = str(tmp_path / "src")
    b = _batch(spark, 0, 8)
    b.write.mode("append").parquet(src)
    b.write.mode("append").parquet(src)  # duplicate delivery
    deduped = S.stream_dedup(
        S.read_file_stream(spark, src, SCHEMA), key_cols=["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("dedup_out").count() == 8


def test_incremental_snapshot_read(spark, tmp_path):
    wh = str(tmp_path / "wh")
    cat = LakehouseCatalog(spark, wh)
    cat.create_table("db", "t", _batch(spark, 0, 10))
    df, cur = S.incremental_snapshot_read(cat, "db", "t", after_snapshot_id=None)
    assert df.count() == 10 and cur == 1
    # no new snapshot → nothing to read
    df2, cur2 = S.incremental_snapshot_read(cat, "db", "t", after_snapshot_id=cur)
    assert df2 is None and cur2 == 1
    # append → only the delta comes back
    cat.append("db", "t", _batch(spark, 50, 4))
    df3, cur3 = S.incremental_snapshot_read(cat, "db", "t", after_snapshot_id=cur)
    assert cur3 == 2
    assert df3.count() == 4
    assert df3.agg(F.min("event_id")).collect()[0][0] == 50


def test_incremental_read_detects_lineage_reset(spark, tmp_path):
    """A cursor from a replaced table must not silently skip data: with
    the persisted table_uuid the reader falls back to a full re-read; a
    cursor beyond current history also triggers the fallback."""
    from snowflake_iceberg_cld_bcdr_demo_spark.sources.lakehouse import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_table("db", "t", spark.range(5).select(F.col("id")))
    cat.append("db", "t", spark.range(5, 9).select(F.col("id")))
    df, cur = S.incremental_snapshot_read(cat, "db", "t")
    uid = cat.table_uuid("db", "t")
    assert df.count() == 9 and cur == 2
    # table replaced: snapshot ids reset to 1
    cat.create_table("db", "t", spark.range(100, 103).select(F.col("id")), mode="overwrite")
    df2, cur2 = S.incremental_snapshot_read(
        cat, "db", "t", after_snapshot_id=cur, expected_table_uuid=uid
    )
    assert df2 is not None and df2.count() == 3 and cur2 == 1
    # stale cursor beyond history, even without a uuid, falls back too
    df3, cur3 = S.incremental_snapshot_read(cat, "db", "t", after_snapshot_id=99)
    assert df3 is not None and df3.count() == 3 and cur3 == 1


def test_stream_stream_join(spark, tmp_path):
    """Impressions→clicks funnel join across two file streams: only pairs
    with the same key and click within [impression, impression+1h] match."""
    imp_src, clk_src = str(tmp_path / "imp"), str(tmp_path / "clk")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    imps = [(1, base, "view", 1.0), (2, base, "view", 1.0)]
    clks = [
        (1, base + dt.timedelta(minutes=30), "click", 1.0),  # in range
        (2, base + dt.timedelta(hours=3), "click", 1.0),  # too late
        (3, base + dt.timedelta(minutes=5), "click", 1.0),  # no impression
    ]
    spark.createDataFrame(imps, SCHEMA).write.parquet(imp_src)
    spark.createDataFrame(clks, SCHEMA).write.parquet(clk_src)

    joined = S.stream_stream_join(
        S.read_file_stream(spark, imp_src, SCHEMA),
        S.read_file_stream(spark, clk_src, SCHEMA),
        key="event_id",
        watermark="4 hours",
        max_delay="1 hour",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("funnel")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id, r_ts FROM funnel").collect()
    assert [(r.event_id, r.r_ts) for r in rows] == [(1, base + dt.timedelta(minutes=30))]


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Retries that re-stamp the timestamp still dedup on the business key
    (dropDuplicatesWithinWatermark), where ts-inclusive dedup would not."""
    src = str(tmp_path / "src")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, "view", 1.0),
        (1, base + dt.timedelta(minutes=5), "view", 1.0),  # retry, fresh ts
        (2, base + dt.timedelta(minutes=1), "view", 1.0),
    ]
    spark.createDataFrame(rows, SCHEMA).write.parquet(src)
    deduped = S.stream_dedup_within_watermark(
        S.read_file_stream(spark, src, SCHEMA), ["event_id"], watermark="1 hour"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.event_id for r in spark.sql("SELECT event_id FROM dedup_wm").collect())
    assert got == [1, 2]


def test_streaming_crash_replay_exactly_once(spark, tmp_path):
    """Crash-recovery e2e (VERDICT r2 item 9): simulate a failure AFTER
    the foreachBatch append but BEFORE the checkpoint commit by deleting
    the last checkpoint commit marker, then restart.  Structured
    Streaming replays the batch with the SAME batch_id; the
    batch_id-idempotent sink must turn the replay into a no-op — table
    contents exactly-once."""
    import os

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    wh = str(tmp_path / "wh")
    cat = LakehouseCatalog(spark, wh)

    _batch(spark, 0, 10).write.mode("append").parquet(src)
    q = S.write_stream_to_lakehouse(S.read_file_stream(spark, src, SCHEMA), cat, "db", "ev", ckpt)
    q.awaitTermination(120)
    _batch(spark, 100, 7).write.mode("append").parquet(src)
    q = S.write_stream_to_lakehouse(S.read_file_stream(spark, src, SCHEMA), cat, "db", "ev", ckpt)
    q.awaitTermination(120)
    assert cat.load("db", "ev").count() == 17
    snaps_before = cat.snapshots("db", "ev")
    committed_batches = [s.batch_id for s in snaps_before]

    # the crash: lakehouse append happened (snapshot committed above) but
    # the stream "dies" before recording batch 1 in the checkpoint
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if c.isdigit()][-1]
    os.unlink(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")  # Hadoop checksum shadow
    if os.path.exists(crc):
        os.unlink(crc)

    # restart FROM A FRESH SESSION (what a real crashed process does):
    # Spark replays the uncommitted batch with the same batch_id
    spark2 = spark.newSession()
    cat2 = LakehouseCatalog(spark2, wh)
    q = S.write_stream_to_lakehouse(
        S.read_file_stream(spark2, src, SCHEMA), cat2, "db", "ev", ckpt
    )
    q.awaitTermination(120)

    # exactly-once: no duplicate rows, no duplicate snapshot for the batch
    assert cat.load("db", "ev").count() == 17
    snaps_after = cat.snapshots("db", "ev")
    assert [s.batch_id for s in snaps_after] == committed_batches
    assert cat.load("db", "ev").select("event_id").distinct().count() == 17


def test_apply_cdc_stream_upserts_and_deletes(spark, tmp_path):
    """CDC apply: a change stream (op I/U/D + seq timestamp) merged into a
    lakehouse table per micro-batch — last change per key wins within a
    batch, deletes remove rows, replayed batches are no-ops."""
    from pyspark.sql.types import StructField, StructType

    cdc_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("op", StringType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    src = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    # batch 1: inserts, one key changed twice in-batch (last wins)
    spark.createDataFrame(
        [
            (1, t(0), "I", "ann", 1.0),
            (2, t(0), "I", "bob", 2.0),
            (2, t(5), "U", "bob2", 2.5),
            (3, t(0), "I", "cat", 3.0),
        ],
        cdc_schema,
    ).write.mode("append").parquet(src)
    q = S.apply_cdc_stream(
        S.read_file_stream(spark, src, cdc_schema), cat, "db", "users",
        key_cols=["user_id"], checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)
    rows = {r.user_id: r for r in cat.load("db", "users").collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].name == "bob2" and rows[2].score == 2.5

    # batch 2: update 1, delete 3, insert 4, and a D for a brand-new key
    # (no-op insert guard)
    spark.createDataFrame(
        [
            (1, t(10), "U", "ann2", 1.5),
            (3, t(10), "D", None, None),
            (4, t(10), "I", "dan", 4.0),
            (9, t(10), "D", None, None),
        ],
        cdc_schema,
    ).write.mode("append").parquet(src)
    q = S.apply_cdc_stream(
        S.read_file_stream(spark, src, cdc_schema), cat, "db", "users",
        key_cols=["user_id"], checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)
    rows = {r.user_id: r for r in cat.load("db", "users").collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1].name == "ann2"
    assert rows[4].name == "dan"

    # crash replay: drop the last checkpoint commit and restart — the
    # merge's batch_id idempotence keeps contents exactly-once
    import os

    commits = sorted(c for c in os.listdir(os.path.join(ckpt, "commits")) if c.isdigit())
    os.unlink(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.unlink(crc)
    spark2 = spark.newSession()
    cat2 = LakehouseCatalog(spark2, str(tmp_path / "wh"))
    q = S.apply_cdc_stream(
        S.read_file_stream(spark2, src, cdc_schema), cat2, "db", "users",
        key_cols=["user_id"], checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)
    rows = {r.user_id: r for r in cat.load("db", "users").collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1].name == "ann2"


def test_incremental_read_falls_back_to_full_after_rewrite(spark, tmp_path):
    """A rewrite (row-level delete) between cursor and head means the dir
    difference is not an append delta — the reader must return the FULL
    current state (lineage-reset semantics), never a mixed pseudo-delta."""
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 5).alias("k"))
    cat.create_table("db", "t", df)
    cursor = cat.current_snapshot("db", "t").snapshot_id
    cat.append("db", "t", spark.range(100, 120).select(F.col("id"), (F.col("id") % 5).alias("k")))
    cat.delete_where("db", "t", [("id", "<", 10)])

    delta, latest = S.incremental_snapshot_read(cat, "db", "t", cursor)
    assert latest == cat.current_snapshot("db", "t").snapshot_id
    # full state: 110 rows, no duplicates, deleted rows absent
    assert delta.count() == 110
    assert delta.select("id").distinct().count() == 110
    assert delta.filter("id < 10").count() == 0


def test_apply_cdc_stream_mor_mode(spark, tmp_path):
    """MoR CDC: each batch commits a delete-keys dir + data dir instead of
    rewriting; contents match the CoW semantics exactly."""
    from pyspark.sql.types import StructField, StructType

    cdc_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("op", StringType()),
            StructField("name", StringType()),
        ]
    )
    src = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    spark.createDataFrame(
        [(1, t(0), "I", "ann"), (2, t(0), "I", "bob")], cdc_schema
    ).write.mode("append").parquet(src)
    q = S.apply_cdc_stream(
        S.read_file_stream(spark, src, cdc_schema), cat, "db", "u",
        key_cols=["user_id"], checkpoint_dir=ckpt, mode="mor",
    )
    q.awaitTermination(120)
    spark.createDataFrame(
        [(1, t(5), "U", "ann2"), (2, t(5), "D", None), (3, t(5), "I", "cat")],
        cdc_schema,
    ).write.mode("append").parquet(src)
    q = S.apply_cdc_stream(
        S.read_file_stream(spark, src, cdc_schema), cat, "db", "u",
        key_cols=["user_id"], checkpoint_dir=ckpt, mode="mor",
    )
    q.awaitTermination(120)
    rows = {r.user_id: r.name for r in cat.load("db", "u").collect()}
    assert rows == {1: "ann2", 3: "cat"}
    # the second batch was an upsert commit, not a rewrite
    ops = [s.operation for s in cat.snapshots("db", "u")]
    assert "upsert" in ops and "rewrite" not in ops


def test_stream_session_rollup_native(spark, tmp_path):
    """Native streaming session windows: 10-min-spaced events merge into
    one session per user; a 2-hour silence splits a new session."""
    src = str(tmp_path / "src")
    base = dt.datetime(2024, 1, 1, 8, 0, 0)
    rows = []
    for i in range(6):  # user 1: one 6-event session (10-min spacing)
        rows.append((i, base + dt.timedelta(minutes=10 * i), "view", 1.0))
    rows.append((100, base + dt.timedelta(hours=4), "view", 1.0))  # new session
    ev = spark.createDataFrame(
        [(eid, ts, et, v) for eid, ts, et, v in rows], SCHEMA
    ).withColumn("user_id", F.lit(1))
    ev.write.mode("append").parquet(src)

    schema_with_user = StructType([*SCHEMA.fields, StructField("user_id", LongType())])
    sess = S.stream_session_rollup(
        S.read_file_stream(spark, src, schema_with_user),
        gap="30 minutes",
        watermark="10 hours",
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("native_sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)  # generous: suite runs can share the machine
    q.stop()
    out = sorted(
        spark.table("native_sess_out").collect(), key=lambda r: r.session_start
    )
    assert len(out) == 2
    assert out[0].n_events == 6 and out[1].n_events == 1
    # session end = last event + gap
    assert (out[0].session_end - out[0].session_start) == dt.timedelta(minutes=80)


def test_query_progress_frame(spark, tmp_path):
    src = str(tmp_path / "src")
    _batch(spark, 0, 16).write.mode("append").parquet(src)
    agg = S.windowed_event_counts(S.read_file_stream(spark, src, SCHEMA))
    q = (
        agg.writeStream.format("memory")
        .queryName("prog_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    prog = S.query_progress_frame(spark, q)
    rows = prog.collect()
    assert rows and prog.columns[:3] == ["query_id", "batch_id", "num_input_rows"]
    assert sum(r.num_input_rows for r in rows) == 16.0
    assert all(r.trigger_ms >= 0 for r in rows)


def test_stream_content_admit_dedup_within_and_across_batches(spark, tmp_path):
    """Streaming corpus admission: duplicate content is dropped inside a
    micro-batch AND across restarts (anti-join vs the admitted corpus);
    only genuinely new text is appended."""
    from pyspark.sql.types import (
        LongType as _L,
        StringType as _S,
        StructField as _F,
        StructType as _T,
        TimestampType as _TS,
    )

    schema = _T([
        _F("doc_id", _L()),
        _F("text", _S()),
        _F("ingested_at", _TS()),
    ])
    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "docs_ckpt")
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    first = spark.createDataFrame(
        [
            (1, "unique document alpha", t0),
            (2, "unique document beta", t0),
            (3, "unique document alpha", t0),        # dup within batch
            (4, "Unique   Document ALPHA", t0),      # dup after normalization
        ],
        schema,
    )
    first.write.mode("append").parquet(src)
    stream = S.read_file_stream(spark, src, schema)
    q = S.stream_content_admit(stream, cat, "db", "corpus", ckpt)
    q.awaitTermination(120)
    admitted = cat.load("db", "corpus")
    assert admitted.count() == 2
    assert admitted.select("fingerprint").distinct().count() == 2

    # second wave: one repeat of already-admitted content + one new doc
    spark.createDataFrame(
        [(5, "unique document beta", t0), (6, "brand new gamma text", t0)],
        schema,
    ).write.mode("append").parquet(src)
    q2 = S.stream_content_admit(
        S.read_file_stream(spark, src, schema), cat, "db", "corpus", ckpt
    )
    q2.awaitTermination(120)
    out = cat.load("db", "corpus")
    assert out.count() == 3  # only gamma admitted
    texts = {r.text for r in out.select("text").collect()}
    assert "brand new gamma text" in texts
    assert 5 not in {r.doc_id for r in out.select("doc_id").collect()}


def test_stream_curated_admission_full_gate_set_across_batches(spark, tmp_path):
    """The full curation gate set as a continuous ingest against the
    persisted admission index: exact/near-dup/NB/budget gates all bind
    per micro-batch, admissions UPDATE the incremental state tables
    (fingerprints, signatures, consumed deltas) so batch 2 gates against
    batch 1's admissions, and the frozen model/tau never move — all
    without the corpus ever being rescanned."""
    from pyspark.sql.types import (
        LongType as _L,
        StringType as _S,
        StructField as _Fd,
        StructType as _T,
    )

    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus
    from snowflake_iceberg_cld_bcdr_demo_spark.streaming import curation as C

    body = " ".join(f"w{j}" for j in range(40))
    other = " ".join(f"q{j}" for j in range(40))
    existing = spark.createDataFrame(
        [
            (1, f"alpha corpus document {body}", "src0"),
            (3, f"bravo corpus document {other}", "src0"),
            (5, "short target note here", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_table("db", "corpus", existing)
    state = corpus.admission_state(existing, F.lit(True), nb_top_frac=1.0)
    C.save_admission_state(cat, "db", "adm", state)

    schema = _T([
        _Fd("doc_id", _L()), _Fd("text", _S()), _Fd("source", _S()),
    ])
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    run = lambda: C.stream_curated_admission(
        S.read_file_stream(spark, src, schema),
        cat, "db", "corpus", "adm", ckpt,
        token_budget=100_000, shares={"src0": 1.0},
    ).awaitTermination(180)

    doc_a = "note here w0 q1 w2 q3 w4 q5 w6 q7 target"
    spark.createDataFrame(
        [
            (101, f"alpha corpus document {body}", "src0"),  # exact dup of corpus
            (103, f"charlie corpus document {other}", "src0"),  # near dup of corpus
            (105, doc_a, "src0"),                               # fresh -> admit
        ],
        schema,
    ).write.mode("append").parquet(src)
    run()
    ids = {r.doc_id for r in cat.load("db", "corpus").select("doc_id").collect()}
    assert ids == {1, 3, 5, 105}

    n_fp1 = cat.load("db", "adm_fingerprints").count()
    n_sig1 = cat.load("db", "adm_signatures").count()
    assert n_fp1 == 4          # 3 corpus + 1 admitted
    assert n_sig1 % 4 == 0     # 4 bands per doc

    # wave 2: the statefulness — duplicates OF BATCH 1'S ADMISSION
    spark.createDataFrame(
        [
            (201, doc_a, "src0"),                            # exact dup of 105
            (203, "whee here w0 q1 w2 q3 w4 q5 w6 q7 target", "src0"),  # near dup of 105
            (205, "short document w9 q11 w13 q15 w17 q19 note", "src0"),  # fresh
        ],
        schema,
    ).write.mode("append").parquet(src)
    run()
    ids = {r.doc_id for r in cat.load("db", "corpus").select("doc_id").collect()}
    assert ids == {1, 3, 5, 105, 205}
    assert cat.load("db", "adm_fingerprints").count() == 5

    # consumed is an append-only delta log; totals aggregate at load and
    # equal initial corpus consumption + the two admitted docs' tokens
    raw_log = cat.load("db", "adm_consumed")
    assert raw_log.count() == 3  # initial + one delta per admitting batch
    total = C.load_admission_state(cat, "db", "adm")["consumed"].collect()
    from snowflake_iceberg_cld_bcdr_demo_spark.functions.text import (
        bpe_piece_count,
    )
    # totals == bpe tokens of the WHOLE admitted corpus (initial 3 docs +
    # both admissions)
    whole = (
        cat.load("db", "corpus")
        .select(bpe_piece_count(F.col("text")).cast("long").alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    assert total[0].consumed == whole


def test_frozen_admission_state_rotation_raises(spark, tmp_path):
    """The frozen cache records each frozen table's snapshot: while the
    model/tau stay put the cached DataFrames are served (mutable tables
    may move freely), and a frozen table that moves mid-run — a new
    adm_nb_tau snapshot, or a whole replacement — fails the next load
    instead of serving stale state."""
    from snowflake_iceberg_cld_bcdr_demo_spark.streaming import curation as C

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    consumed = spark.createDataFrame([("src0", 7)], "source string, consumed long")
    tau = spark.createDataFrame([("src0", 0.5)], "source string, nb_tau double")
    for name in C.STATE_TABLES:
        cat.create_table("db", f"adm_{name}", tau if name == "nb_tau" else consumed)

    cache = {}
    C.load_admission_state(cat, "db", "adm", frozen_cache=cache)
    assert set(cache) == {"nb_model", "nb_tau"}
    cat.append("db", "adm_consumed", consumed)
    again = C.load_admission_state(cat, "db", "adm", frozen_cache=cache)
    assert again["nb_tau"] is cache["nb_tau"][1]
    cat.append("db", "adm_nb_tau", tau)
    with pytest.raises(RuntimeError, match="adm_nb_tau moved"):
        C.load_admission_state(cat, "db", "adm", frozen_cache=cache)

    cache = {}
    C.load_admission_state(cat, "db", "adm", frozen_cache=cache)
    cat.create_table("db", "adm_nb_model", consumed, mode="overwrite")
    with pytest.raises(RuntimeError, match="adm_nb_model moved"):
        C.load_admission_state(cat, "db", "adm", frozen_cache=cache)


def test_compact_consumed_log_preserves_totals(spark, tmp_path):
    """The consumed delta log compacts to one row per source with
    identical aggregated totals (and survives further appends)."""
    from snowflake_iceberg_cld_bcdr_demo_spark.streaming import curation as C

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    log = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 7), ("a", 1)],
        "source string, consumed long",
    )
    cat.create_table("db", "adm_consumed", log)
    C.compact_consumed_log(cat, "db", "adm")
    rows = cat.load("db", "adm_consumed").collect()
    assert len(rows) == 2
    assert {(r.source, r.consumed) for r in rows} == {("a", 16), ("b", 7)}
    # a post-compaction delta still aggregates correctly at load time
    cat.append("db", "adm_consumed",
               spark.createDataFrame([("b", 3)], "source string, consumed long"))
    agg = {
        (r.source, r.consumed)
        for r in cat.load("db", "adm_consumed")
        .groupBy("source").agg(F.sum("consumed").alias("consumed")).collect()
    }
    assert agg == {("a", 16), ("b", 10)}


def test_stream_admission_crash_replay_partial_commit(spark, tmp_path):
    """The replay contract at the worst crash point (r10 ADVICE): the
    stream dies with the batch's fingerprints already in the state table
    but its signatures delta never committed.  A replay that re-ran the
    gates would see the batch's own fingerprints and reject every doc
    (signatures lost forever); the staged decision artifact must instead
    fan the remaining appends out unchanged — and a second replay must
    be a full no-op.  The fan-out appends run CONCURRENTLY (r13), so the
    simulated crash refuses the signatures append outright (raise before
    commit) — any-subset-committed is exactly the state the contract
    must survive, whichever appends the pool finished."""
    from snowflake_iceberg_cld_bcdr_demo_spark.functions.text import (
        bpe_piece_count,
    )
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus
    from snowflake_iceberg_cld_bcdr_demo_spark.streaming import curation as C

    body = " ".join(f"w{j}" for j in range(40))
    existing = spark.createDataFrame(
        [
            (1, f"alpha corpus document {body}", "src0"),
            (3, "short target note here", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_table("db", "corpus", existing)
    state = corpus.admission_state(existing, F.lit(True), nb_top_frac=1.0)
    C.save_admission_state(cat, "db", "adm", state)

    batch = spark.createDataFrame(
        [
            (101, f"alpha corpus document {body}", "src0"),   # exact dup
            (105, "note here w0 w2 w4 target fresh", "src0"),  # fresh -> admit
        ],
        "doc_id long, text string, source string",
    )
    kw = dict(token_budget=100_000, shares={"src0": 1.0})

    # first attempt crashes on the signatures append (refused before its
    # commit — deterministic under the concurrent fan-out: every OTHER
    # append may or may not have landed, the contract covers any subset)
    real_append = cat.append

    def crashing_append(namespace, table, df, **kwargs):
        if table == "adm_signatures":
            raise RuntimeError("simulated crash before signatures commit")
        return real_append(namespace, table, df, **kwargs)

    cat.append = crashing_append
    with pytest.raises(RuntimeError, match="simulated crash"):
        C._admit_batch(batch, 0, cat, "db", "corpus", "adm", **kw)
    cat.append = real_append

    # partial-commit state: decisions staged, signatures missing (the
    # other appends committed — the pool always drains every future)
    assert cat.batch_committed("db", "adm_staging", 0)
    assert cat.load("db", "adm_fingerprints").count() == 3  # 2 corpus + 1
    sig_docs = {
        r.doc_id for r in cat.load("db", "adm_signatures")
        .select("doc_id").distinct().collect()
    }
    assert 105 not in sig_docs
    assert cat.load("db", "adm_consumed").count() == 2  # initial + batch

    # replay (what foreachBatch does on restart): completes the fan-out
    C._admit_batch(batch, 0, cat, "db", "corpus", "adm", **kw)
    ids = {r.doc_id for r in cat.load("db", "corpus").select("doc_id").collect()}
    assert ids == {1, 3, 105}  # admitted exactly once
    assert cat.load("db", "adm_fingerprints").count() == 3  # no double append
    sig_docs = {
        r.doc_id for r in cat.load("db", "adm_signatures")
        .select("doc_id").distinct().collect()
    }
    assert 105 in sig_docs
    totals = {
        (r.source, r.consumed)
        for r in C.load_admission_state(cat, "db", "adm")["consumed"].collect()
    }
    admitted_tokens = (
        cat.load("db", "corpus")
        .select(bpe_piece_count(F.col("text")).cast("long").alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    assert totals == {("src0", admitted_tokens)}

    # a second replay is a complete no-op on every table
    before = {
        t: cat.load("db", t).count()
        for t in ("corpus", "adm_fingerprints", "adm_signatures",
                  "adm_consumed", "adm_staging")
    }
    C._admit_batch(batch, 0, cat, "db", "corpus", "adm", **kw)
    after = {t: cat.load("db", t).count() for t in before}
    assert after == before


def test_compact_admission_state_bounds_growth(spark, tmp_path):
    """State lifecycle: after N admitted batches the index holds one
    data dir per table (not one per batch), staging keeps only the
    newest batch's trail, consumed totals are preserved, and the next
    batch still gates correctly against the compacted state — size
    O(admitted docs), never O(batches)."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus
    from snowflake_iceberg_cld_bcdr_demo_spark.streaming import curation as C

    body = " ".join(f"w{j}" for j in range(40))
    existing = spark.createDataFrame(
        [
            (1, f"alpha corpus document {body}", "src0"),
            (3, "short target note here", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_table("db", "corpus", existing)
    C.save_admission_state(
        cat, "db", "adm",
        corpus.admission_state(existing, F.lit(True), nb_top_frac=1.0),
    )
    kw = dict(token_budget=100_000, shares={"src0": 1.0})
    # corpus-vocab texts (the frozen NB gate must score them in) that are
    # pairwise lexically distant (no cross-wave near-dup rejection)
    waves = [
        (100 + i, f"note here w{2*i} w{2*i+1} target fresh item{i} study {i}",
         "src0")
        for i in range(3)
    ]
    for bid, (did, text, src) in enumerate(waves):
        batch = spark.createDataFrame(
            [(did, text, src)], "doc_id long, text string, source string"
        )
        C._admit_batch(batch, bid, cat, "db", "corpus", "adm", **kw)

    ids = {r.doc_id for r in cat.load("db", "corpus").select("doc_id").collect()}
    assert ids == {1, 3, 100, 101, 102}  # every wave admitted
    # pre-maintenance: one data dir per batch accumulated
    n_dirs_before = len(cat.current_snapshot("db", "adm_fingerprints").data_dirs)
    assert n_dirs_before >= 3
    totals_before = sorted(
        C.load_admission_state(cat, "db", "adm")["consumed"].collect()
    )

    sizes = C.compact_admission_state(cat, "db", "adm")

    for t in ("adm_fingerprints", "adm_signatures", "adm_consumed", "adm_staging"):
        assert len(cat.current_snapshot("db", t).data_dirs) == 1, t
    # content O(admitted docs): 2 corpus + 3 admitted fingerprints
    assert sizes["fingerprints"] == 5
    assert sizes["consumed"] == 1
    # staging TTL: only the newest batch's trail survives
    staged = cat.load("db", "adm_staging").collect()
    assert {r.batch_id for r in staged} == {2}
    assert sorted(
        C.load_admission_state(cat, "db", "adm")["consumed"].collect()
    ) == totals_before

    # the compacted state still gates: an exact dup of batch 0's doc is
    # rejected, a fresh doc admits
    nxt = spark.createDataFrame(
        [(900, waves[0][1], "src0"),
         (901, "note here w30 w31 target fresh item9 study 9", "src0")],
        "doc_id long, text string, source string",
    )
    C._admit_batch(nxt, 3, cat, "db", "corpus", "adm", **kw)
    ids2 = {r.doc_id for r in cat.load("db", "corpus").select("doc_id").collect()}
    assert 901 in ids2 and 900 not in ids2


def test_writer_scoped_batch_guard_new_checkpoint_not_swallowed(spark, tmp_path):
    """Micro-batch ids restart at 0 for every new checkpoint.  The
    batch_id guard is scoped per writer lineage (Delta txnAppId style):
    a SECOND stream (new writer) appending to the same state tables
    must not be no-op'd by the first stream's batch 0 — and each
    writer's own crash-replay must still no-op, replaying only ITS
    staged trail."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus
    from snowflake_iceberg_cld_bcdr_demo_spark.streaming import curation as C

    existing = spark.createDataFrame(
        [(1, "alpha corpus document " + " ".join(f"w{j}" for j in range(40)), "src0"),
         (3, "short target note here", "src0")],
        "doc_id long, text string, source string",
    )
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_table("db", "corpus", existing)
    C.save_admission_state(
        cat, "db", "adm",
        corpus.admission_state(existing, F.lit(True), nb_top_frac=1.0),
    )
    kw = dict(token_budget=100_000, shares={"src0": 1.0})
    b1 = spark.createDataFrame(
        [(100, "note here w0 w1 target fresh item0 study 0", "src0")],
        "doc_id long, text string, source string",
    )
    b2 = spark.createDataFrame(
        [(200, "note here w4 w5 target fresh item2 study 2", "src0")],
        "doc_id long, text string, source string",
    )
    C._admit_batch(b1, 0, cat, "db", "corpus", "adm", writer_id="w1", **kw)
    # a NEW stream lineage reuses batch id 0 against the same tables
    C._admit_batch(b2, 0, cat, "db", "corpus", "adm", writer_id="w2", **kw)
    ids = {r.doc_id for r in cat.load("db", "corpus").select("doc_id").collect()}
    assert ids == {1, 3, 100, 200}  # w2's batch 0 was NOT swallowed

    # replays stay no-ops, each scoped to its own staged trail
    before = cat.load("db", "corpus").count()
    C._admit_batch(b1, 0, cat, "db", "corpus", "adm", writer_id="w1", **kw)
    C._admit_batch(b2, 0, cat, "db", "corpus", "adm", writer_id="w2", **kw)
    assert cat.load("db", "corpus").count() == before
    assert cat.load("db", "adm_fingerprints").count() == 4  # 2 corpus + 2

    # the writer column rides the staged trail, so the two batch-0
    # trails are distinguishable
    staged = cat.load("db", "adm_staging").collect()
    assert {(r.writer_id, r.batch_id, r.doc_id) for r in staged} == {
        ("w1", 0, 100), ("w2", 0, 200),
    }


def test_stream_content_admit_fresh_checkpoint_not_swallowed(spark, tmp_path):
    """events.stream_content_admit: a brand-new checkpoint (new stream
    lineage) over an existing corpus table must admit fresh docs even
    though its batch ids restart at 0."""
    import datetime as _dt

    from pyspark.sql.types import (
        LongType as _L,
        StringType as _S,
        StructField as _Fd,
        StructType as _T,
        TimestampType as _TS,
    )

    schema = _T([
        _Fd("doc_id", _L()), _Fd("text", _S()), _Fd("ingested_at", _TS()),
    ])
    t0 = _dt.datetime(2024, 1, 1, 12, 0, 0)
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))

    src1 = str(tmp_path / "src1")
    spark.createDataFrame([(1, "first stream doc", t0)], schema) \
        .write.mode("append").parquet(src1)
    S.stream_content_admit(
        S.read_file_stream(spark, src1, schema), cat, "db", "corpus",
        str(tmp_path / "ckpt1"),
    ).awaitTermination(120)
    assert cat.load("db", "corpus").count() == 1

    # second stream: NEW source dir + NEW checkpoint -> batch ids restart
    src2 = str(tmp_path / "src2")
    spark.createDataFrame([(2, "second stream doc", t0)], schema) \
        .write.mode("append").parquet(src2)
    S.stream_content_admit(
        S.read_file_stream(spark, src2, schema), cat, "db", "corpus",
        str(tmp_path / "ckpt2"),
    ).awaitTermination(120)
    texts = {r.text for r in cat.load("db", "corpus").select("text").collect()}
    assert texts == {"first stream doc", "second stream doc"}
