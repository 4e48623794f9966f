"""Lakehouse catalog tests: snapshot append/time-travel, partitioned
writes with pruning, dual-catalog consistency, EXT registry, view
registry — the reference's S5-S10 operator surface."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from snowflake_iceberg_cld_bcdr_demo_spark.sources.lakehouse import (
    ExternalTables,
    LakehouseCatalog,
    ViewRegistry,
)


@pytest.fixture()
def wh(tmp_path):
    return str(tmp_path / "warehouse")


@pytest.fixture()
def cat(spark, wh):
    return LakehouseCatalog(spark, wh, name="cld")


def _df(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("bucket"),
        F.concat(F.lit("2024-01-0"), (F.col("id") % 3 + 1)).alias("date_key"),
    )


def test_create_load_roundtrip(spark, cat):
    cat.create_table("db", "t", _df(spark, 10))
    assert cat.load("db", "t").count() == 10
    assert cat.list_tables("db") == ["t"]
    assert cat.table_exists("db", "t")


def test_append_creates_snapshots_and_time_travel(spark, cat):
    cat.create_table("db", "t", _df(spark, 10))
    cat.append("db", "t", _df(spark, 5, start=100))
    snaps = cat.snapshots("db", "t")
    # snapshot count grows (`05_append_campaigns.py:115-123`)
    assert [s.snapshot_id for s in snaps] == [1, 2]
    assert [s.operation for s in snaps] == ["create", "append"]
    assert cat.load("db", "t").count() == 15
    # VERSION AS OF
    assert cat.load("db", "t", snapshot_id=1).count() == 10


def test_partitioned_write_prunes(spark, cat):
    cat.create_table("db", "p", _df(spark, 30), partition_by=["date_key"])
    # physical layout has partition dirs
    snap_dir = os.path.join(cat.warehouse, "db", "p", "data-00001")
    assert any(d.startswith("date_key=") for d in os.listdir(snap_dir))
    df = cat.load("db", "p").filter(F.col("date_key") == "2024-01-01")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(extended=False)
    # the filter must reach the scan as a partition filter, not a data filter
    assert "PartitionFilters" in buf.getvalue()
    assert df.count() == 10


def test_dual_catalog_shared_storage(spark, wh, cat):
    """Two catalogs over one warehouse see identical data instantly —
    the EXT vs CLD equivalence check (`90_validation_queries.sql:149-168`)
    and the zero-copy RPO=0 property."""
    other = LakehouseCatalog(spark, wh, name="ext")
    cat.create_table("db", "t", _df(spark, 10))
    assert other.load("db", "t").count() == 10
    cat.append("db", "t", _df(spark, 7, start=50))
    # visible with no refresh/copy step
    assert other.load("db", "t").count() == 17
    assert other.refresh("db") == ["t"]


def test_external_registry(spark, cat):
    cat.create_table("db", "t", _df(spark, 4))
    ext = ExternalTables(cat)
    ext.register("EXT_T", "db", "t")
    assert ext.names() == ["EXT_T"]
    assert ext.load("EXT_T").count() == 4
    with pytest.raises(KeyError):
        ext.register("EXT_MISSING", "db", "nope")
    ext.unregister("EXT_T")
    assert ext.names() == []


def test_link_status_health(spark, wh, cat):
    cat.create_table("db", "t", _df(spark, 3))
    ok = cat.link_status("db")
    assert ok["status"] == "LINK_ACTIVE" and ok["table_count"] == 1
    bad = cat.link_status("no_such_ns")
    assert bad["status"] == "LINK_ACTIVE" and bad["table_count"] == 0


def test_view_registry_apply_and_hashes(spark, wh, cat):
    cat.create_table("db", "t", _df(spark, 6))
    cat.load("db", "t").createOrReplaceTempView("cld_t")
    reg = ViewRegistry(wh, "prod")
    reg.create_or_replace("t_view", "SELECT * FROM cld_t WHERE id > 2")
    created = reg.apply(spark)
    assert created == ["t_view"]
    assert spark.table("t_view").count() == 3
    hashes = reg.definition_hashes(spark)
    row = hashes.collect()[0]
    assert row.object_name == "t_view" and len(row.object_hash) == 64
    # definition change → hash change (drift detection primitive)
    reg.create_or_replace("t_view", "SELECT * FROM cld_t")
    assert reg.definition_hashes(spark).collect()[0].object_hash != row.object_hash


def test_create_table_modes(spark, cat):
    cat.create_table("db", "t", _df(spark, 3))
    with pytest.raises(FileExistsError):
        cat.create_table("db", "t", _df(spark, 3))
    cat.create_table("db", "t", _df(spark, 8), mode="overwrite")
    assert cat.load("db", "t").count() == 8
    # overwrite resets lineage to a fresh create snapshot
    assert cat.snapshots("db", "t")[-1].operation == "create"


# -- round 2: schema evolution, concurrency, commit efficiency ------------


def test_schema_evolution_append_new_column(spark, cat):
    """Appending a snapshot with an added column works: the merged read
    returns the evolved schema (old rows NULL for the new column) and
    time travel returns each snapshot's own schema — the CLD 'automatic
    sync on refresh' observation (`11_catalog_linked_database.sql:163-170`)."""
    cat.create_table("db", "t", _df(spark, 5))
    evolved = _df(spark, 3, start=100).withColumn("score", F.col("id") * 2)
    cat.append("db", "t", evolved)
    cur = cat.load("db", "t")
    assert cur.columns == ["id", "bucket", "date_key", "score"]
    assert cur.count() == 8
    assert cur.filter(F.col("score").isNull()).count() == 5
    # time travel: snapshot 1 predates the column
    old = cat.load("db", "t", snapshot_id=1)
    assert old.columns == ["id", "bucket", "date_key"]
    hist = cat.schema_history("db", "t")
    assert hist[1]["added_columns"] == ["score"]


def test_schema_evolution_append_dropped_column(spark, cat):
    cat.create_table("db", "t", _df(spark, 4))
    narrower = _df(spark, 3, start=50).drop("bucket")
    cat.append("db", "t", narrower)
    cur = cat.load("db", "t")
    # evolved order keeps the original column; new rows read it as NULL
    assert cur.columns == ["id", "bucket", "date_key"]
    assert cur.filter(F.col("bucket").isNull()).count() == 3
    assert cat.schema_history("db", "t")[1]["dropped_columns"] == ["bucket"]


def test_load_snapshot_id_validation(spark, cat):
    cat.create_table("db", "t", _df(spark, 3))
    for bad in (0, -1, 5):
        with pytest.raises(ValueError, match=r"db\.t.*valid: 1\.\.1"):
            cat.load("db", "t", snapshot_id=bad)


def test_overwrite_removes_orphaned_data_dirs(spark, cat):
    cat.create_table("db", "t", _df(spark, 5))
    cat.append("db", "t", _df(spark, 5, start=10))
    cat.append("db", "t", _df(spark, 5, start=20))
    cat.create_table("db", "t", _df(spark, 2), mode="overwrite")
    tbl = os.path.join(cat.warehouse, "db", "t")
    dirs = [d for d in os.listdir(tbl) if d.startswith("data-")]
    # no orphans from the replaced incarnation
    assert len(dirs) == 1
    assert cat.load("db", "t").count() == 2
    assert [s.snapshot_id for s in cat.snapshots("db", "t")] == [1]


def test_overwrite_changes_table_uuid(spark, cat):
    cat.create_table("db", "t", _df(spark, 2))
    u1 = cat.table_uuid("db", "t")
    cat.create_table("db", "t", _df(spark, 2), mode="overwrite")
    assert cat.table_uuid("db", "t") != u1 and u1 != ""


def test_commit_scans_input_exactly_once(spark, cat):
    """The commit row count rides on the write job (`df.observe`) — the
    old post-write `read.parquet(out).count()` re-scan is gone, halving
    write-path I/O (VERDICT r1 scale-killer #1)."""
    from pyspark.sql.types import LongType

    acc = spark.sparkContext.accumulator(0)

    def _tick(v):
        acc.add(1)
        return v

    tick = F.udf(_tick, LongType())
    df = spark.range(25).select(tick(F.col("id")).alias("id"))
    snap = cat.create_table("db", "scanned", df)
    assert snap.row_count == 25 and snap.added_rows == 25
    assert acc.value == 25  # one pass over the input, not two


def test_row_count_is_cumulative_and_ids_unique(spark, cat):
    """Snapshot.row_count is Iceberg's total-records (cumulative), so the
    autoincrement base in jobs/logs.py stays unique across equal-sized
    appends."""
    cat.create_table("db", "t", _df(spark, 4))
    cat.append("db", "t", _df(spark, 4, start=10))
    cat.append("db", "t", _df(spark, 4, start=20))
    snaps = cat.snapshots("db", "t")
    assert [s.row_count for s in snaps] == [4, 8, 12]
    assert [s.added_rows for s in snaps] == [4, 4, 4]


def test_append_batch_id_idempotent(spark, cat):
    cat.create_table("db", "t", _df(spark, 3))
    s1 = cat.append("db", "t", _df(spark, 2, start=10), batch_id=7)
    assert s1.batch_id == 7
    # replay of the same micro-batch: no-op
    s2 = cat.append("db", "t", _df(spark, 2, start=10), batch_id=7)
    assert s2.snapshot_id == s1.snapshot_id
    assert cat.load("db", "t").count() == 5
    # a later batch appends normally
    cat.append("db", "t", _df(spark, 2, start=20), batch_id=8)
    assert cat.load("db", "t").count() == 7


def test_batch_guard_upgrade_boundary_legacy_snapshots(spark, cat):
    """Writer-scoping upgrade boundary: snapshots committed BEFORE
    writer scoping existed carry a batch_id but no writer_id.  A stream
    that crash-replays its last batch across the upgrade (same
    checkpoint, now passing writer_id) must still see the guard — a
    writer-equality-only check would double-append.  New scoped
    snapshots stay invisible to OTHER writers."""
    cat.create_table("db", "t", _df(spark, 3))
    # legacy (pre-scoping) commit: batch_id present, writer_id absent
    cat.append("db", "t", _df(spark, 2, start=10), batch_id=4)
    # crash-replay across the upgrade boundary: same batch, writer now set
    s = cat.append("db", "t", _df(spark, 2, start=10), batch_id=4, writer_id="w1")
    assert cat.load("db", "t").count() == 5  # no double-append
    assert cat.batch_committed("db", "t", 4, writer_id="w1")
    assert cat.batch_committed("db", "t", 4)  # legacy probe unchanged
    # a DIFFERENT writer's scoped snapshot does not guard w2's batch 0
    cat.append("db", "t", _df(spark, 2, start=20), batch_id=9, writer_id="w1")
    assert not cat.batch_committed("db", "t", 9, writer_id="w2")


def test_adopt_legacy_batches_retires_the_any_writer_guard(spark, cat):
    """Maintenance path for the legacy crossover's residual cost: a
    fresh checkpoint writing to a table with unscoped snapshots is
    no-op'd by their batch numbers until the operator ADOPTS those
    snapshots under their true lineage's writer_id — after which the
    old lineage keeps its replay protection (equality guard) and every
    other writer is freed."""
    cat.create_table("db", "t", _df(spark, 3))
    cat.append("db", "t", _df(spark, 2, start=10), batch_id=5)  # legacy
    # fresh stream (new checkpoint, batch ids restart at 0): swallowed
    cat.append("db", "t", _df(spark, 2, start=20), batch_id=0, writer_id="w2")
    assert cat.load("db", "t").count() == 5  # no-op'd by the legacy guard

    assert cat.adopt_legacy_batches("db", "t", "w1") == 1
    assert cat.adopt_legacy_batches("db", "t", "w1") == 0  # idempotent
    # w2's batch 0 now lands; the adopted lineage still replays safely
    cat.append("db", "t", _df(spark, 2, start=20), batch_id=0, writer_id="w2")
    assert cat.load("db", "t").count() == 7
    cat.append("db", "t", _df(spark, 2, start=10), batch_id=5, writer_id="w1")
    assert cat.load("db", "t").count() == 7  # w1 replay still guarded
    assert cat.batch_committed("db", "t", 5, writer_id="w1")
    assert cat.batch_committed("db", "t", 5)  # legacy probe unchanged


def test_concurrent_appends_both_commit(spark, cat):
    """Two writers appending simultaneously serialize through the
    manifest CAS (optimistic retry): both snapshots land, no rows lost —
    the optimistic-concurrency behavior Iceberg provides
    (`05_append_campaigns.py:119-123`)."""
    import threading

    cat.create_table("db", "t", _df(spark, 2))
    barrier = threading.Barrier(2)
    errors = []

    def _writer(start):
        try:
            barrier.wait()
            cat.append("db", "t", _df(spark, 10, start=start))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=_writer, args=(s,)) for s in (100, 200)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    snaps = cat.snapshots("db", "t")
    assert [s.snapshot_id for s in snaps] == [1, 2, 3]
    assert snaps[-1].row_count == 22
    assert cat.load("db", "t").count() == 22


def test_real_iceberg_catalog_branch(spark, tmp_path):
    """Covers the real-Iceberg session branch the moment a runtime jar
    lands in the environment (`session.py` wires `ext`/`cld` SparkCatalogs
    when `_iceberg_jar_present()`); skipped while offline."""
    from snowflake_iceberg_cld_bcdr_demo_spark.session import _iceberg_jar_present

    if not _iceberg_jar_present():
        pytest.skip("no iceberg-spark-runtime jar in this environment")
    # jar present: the catalogs must be registered and writable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cld.smoke")
    spark.range(3).writeTo("cld.smoke.t").createOrReplace()
    assert spark.table("cld.smoke.t").count() == 3
    assert spark.table("ext.smoke.t").count() == 3  # shared warehouse


# -- maintenance: merge / compact / expire --------------------------------


def test_merge_upsert(spark, cat):
    """Copy-on-write MERGE: matched keys update, new keys insert, history
    keeps the pre-merge state reachable."""
    cat.create_table("db", "t", _df(spark, 5))  # ids 0..4
    src = _df(spark, 4, start=3)  # ids 3..6: 3,4 update; 5,6 insert
    updated = src.withColumn("bucket", F.lit("merged"))
    snap = cat.merge_upsert("db", "t", updated, key_cols=["id"])
    assert snap.operation == "replace"
    cur = cat.load("db", "t")
    assert cur.count() == 7
    assert cur.filter(F.col("bucket") == "merged").count() == 4
    assert cur.filter((F.col("id") == 2) & (F.col("bucket") != "merged")).count() == 1
    # pre-merge state still time-travelable
    assert cat.load("db", "t", snapshot_id=1).filter(F.col("bucket") == "merged").count() == 0


def test_compact_and_expire(spark, cat):
    """Compaction folds accumulated append dirs into one; expiration
    deletes dirs only dead snapshots reference and keeps ids stable."""
    cat.create_table("db", "t", _df(spark, 3))
    for s in (10, 20, 30):
        cat.append("db", "t", _df(spark, 3, start=s))
    assert len(cat.current_snapshot("db", "t").data_dirs) == 4
    snap = cat.compact("db", "t", target_file_partitions=1)
    assert snap.operation == "replace" and len(snap.data_dirs) == 1
    assert cat.load("db", "t").count() == 12
    rep = cat.expire_snapshots("db", "t", keep_last=1)
    assert rep["expired_snapshots"] == [1, 2, 3, 4]
    assert len(rep["deleted_dirs"]) == 4
    # live data untouched; expired time travel raises clearly
    assert cat.load("db", "t").count() == 12
    with pytest.raises(ValueError, match="expired"):
        cat.load("db", "t", snapshot_id=2)
    tbl = os.path.join(cat.warehouse, "db", "t")
    assert len([d for d in os.listdir(tbl) if d.startswith("data-")]) == 1


# -- manifest-level data skipping (per-dir column bounds) -----------------


def test_data_skipping_prunes_dirs(spark, cat):
    """Appends with disjoint id ranges → a filtered load reads only the
    dirs whose bounds can match, and results are identical to an
    unpruned filter."""
    cat.create_table("db", "t", _df(spark, 10))          # ids 0..9
    cat.append("db", "t", _df(spark, 10, start=100))     # ids 100..109
    cat.append("db", "t", _df(spark, 10, start=200))     # ids 200..209
    rep = cat.prune_preview("db", "t", [("id", ">=", 200)])
    assert len(rep["kept"]) == 1 and len(rep["skipped"]) == 2
    got = cat.load("db", "t", filters=[("id", ">=", 200)])
    want = cat.load("db", "t").filter(F.col("id") >= 200)
    assert sorted(r.id for r in got.collect()) == sorted(r.id for r in want.collect())
    # equality + IN prune too
    assert len(cat.prune_preview("db", "t", [("id", "=", 105)])["kept"]) == 1
    assert len(cat.prune_preview("db", "t", [("id", "in", [5, 205])])["kept"]) == 2
    # conjunction with no satisfiable dir → empty frame, schema intact
    empty = cat.load("db", "t", filters=[("id", ">", 150), ("id", "<", 190)])
    assert empty.count() == 0
    assert empty.columns == cat.load("db", "t").columns


def test_data_skipping_string_bounds_and_safety(spark, cat):
    """String bounds prune; dirs lacking stats for a column are always
    kept (missing stats can only cost performance, never rows)."""
    a = spark.createDataFrame([("alpha", 1), ("beta", 2)], "name string, v int")
    b = spark.createDataFrame([("yankee", 3), ("zulu", 4)], "name string, v int")
    cat.create_table("db", "s", a)
    cat.append("db", "s", b)
    rep = cat.prune_preview("db", "s", [("name", ">=", "x")])
    assert len(rep["kept"]) == 1 and len(rep["skipped"]) == 1
    assert cat.load("db", "s", filters=[("name", ">=", "x")]).count() == 2
    # long-string bounds are truncated Iceberg-style but stay sound
    long_rows = spark.createDataFrame([("m" * 200,), ("n" * 200,)], "name string")
    cat.create_table("db", "long", long_rows)
    man = cat._read_manifest("db", "long")
    (bounds,) = [s["name"] for s in man["dir_stats"].values()]
    assert len(bounds[0]) <= 64 and len(bounds[1]) <= 64
    assert cat.load("db", "long", filters=[("name", ">=", "m")]).count() == 2
    assert cat.prune_preview("db", "long", [("name", ">", "o")])["kept"] == []
    # filter on a column with no recorded stats (array) keeps every dir
    arr = spark.createDataFrame([([1, 2], 1)], "xs array<int>, v int")
    cat.create_table("db", "arr", arr)
    assert cat.prune_preview("db", "arr", [("v", ">=", 0), ("xs", "=", None)])[
        "skipped"
    ] == []


def test_data_skipping_survives_maintenance(spark, cat):
    """Bounds are recomputed for rewritten dirs (compact/merge) and
    dropped with expired dirs, so pruning stays correct through the
    table's whole maintenance lifecycle."""
    cat.create_table("db", "t", _df(spark, 10))
    cat.append("db", "t", _df(spark, 10, start=100))
    cat.compact("db", "t", target_file_partitions=1)
    rep = cat.prune_preview("db", "t", [("id", ">=", 1000)])
    assert rep["kept"] == [] and len(rep["skipped"]) == 1
    assert cat.load("db", "t", filters=[("id", "<=", 5)]).count() == 6
    cat.expire_snapshots("db", "t", keep_last=1)
    live = {d for s in [cat.current_snapshot("db", "t")] for d in s.data_dirs}
    assert set(cat._read_manifest("db", "t")["dir_stats"]) == live


def test_partitioned_append_reads_and_prunes_across_snapshots(spark, cat):
    """Appending to a hive-partitioned table must stay readable (multiple
    snapshot roots can't share one basePath — per-dir reads union) and
    keep partition pruning at each scan."""
    import contextlib
    import io

    cat.create_table("db", "pa", _df(spark, 30), partition_by=["date_key"])
    cat.append("db", "pa", _df(spark, 9, start=100))
    df = cat.load("db", "pa")
    assert df.count() == 39
    assert set(df.columns) == {"id", "bucket", "date_key"}
    filtered = df.filter(F.col("date_key") == "2024-01-01")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain(extended=False)
    assert "PartitionFilters" in buf.getvalue()
    assert filtered.count() == 10 + 3


def _explain(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(extended=False)
    return buf.getvalue()


def test_hidden_partition_transforms(spark, cat):
    """Iceberg-style transform specs: months()/bucket() derive physical
    partition columns the user never sees; filters on the SOURCE column
    fold through the transform into PartitionFilters."""
    df = spark.range(40).select(
        F.col("id"),
        F.concat(
            F.lit("2024-0"), (F.col("id") % 4 + 1).cast("string"), F.lit("-15")
        ).alias("event_date"),
        (F.col("id") % 7).alias("val"),
    )
    cat.create_table(
        "db", "ht", df, partition_by=["months(event_date)", "bucket(4, id)"]
    )
    snap_dir = os.path.join(cat.warehouse, "db", "ht", "data-00001")
    assert any(d.startswith("_p_months_event_date=") for d in os.listdir(snap_dir))

    out = cat.load("db", "ht")
    assert set(out.columns) == {"id", "event_date", "val"}  # derived cols hidden
    assert out.count() == 40

    # month-range filter folds to a PartitionFilter on the derived column
    filtered = cat.load("db", "ht", filters=[("event_date", ">=", "2024-03-01")])
    plan = _explain(filtered)
    assert "_p_months_event_date" in plan and "PartitionFilters" in plan
    expect = df.filter(F.col("event_date") >= "2024-03-01")
    assert sorted(map(tuple, filtered.collect())) == sorted(map(tuple, expect.collect()))

    # bucket equality prunes to one bucket dir
    one = cat.load("db", "ht", filters=[("id", "=", 7)])
    assert "_p_bucket_id" in _explain(one)
    assert [r.id for r in one.collect()] == [7]

    # appends derive the same layout; reads stay correct across snapshots
    extra = spark.range(100, 110).select(
        F.col("id"), F.lit("2024-02-02").alias("event_date"), F.lit(0).alias("val")
    )
    cat.append("db", "ht", extra)
    feb = cat.load("db", "ht", filters=[("event_date", ">=", "2024-02-01"), ("event_date", "<", "2024-03-01")])
    assert feb.count() == 10 + 10  # 10 original %4==1 rows + 10 appended


def test_truncate_transform_int_and_string(spark, cat):
    df = spark.range(20).select(
        F.col("id"), F.concat(F.lit("SKU-"), F.col("id").cast("string")).alias("sku")
    )
    cat.create_table("db", "tt", df, partition_by=["truncate(5, id)", "truncate(4, sku)"])
    out = cat.load("db", "tt", filters=[("id", ">=", 10)])
    assert out.count() == 10
    assert "_p_truncate_id" in _explain(out)
    assert set(cat.load("db", "tt").columns) == {"id", "sku"}


def test_time_travel_by_timestamp_and_rollback(spark, cat):
    import time as _time

    cat.create_table("db", "tv", _df(spark, 5))
    t_after_create = _time.time()
    _time.sleep(0.05)
    cat.append("db", "tv", _df(spark, 3, start=100))

    # TIMESTAMP AS OF resolves to the snapshot current at that instant
    old = cat.load("db", "tv", as_of_timestamp=t_after_create)
    assert old.count() == 5
    assert cat.load("db", "tv").count() == 8
    with pytest.raises(ValueError, match="no snapshot committed"):
        cat.load("db", "tv", as_of_timestamp=1.0)
    with pytest.raises(ValueError, match="not both"):
        cat.load("db", "tv", snapshot_id=1, as_of_timestamp=t_after_create)

    # rollback: new head references snapshot 1's data, metadata-only
    snap = cat.rollback_to_snapshot("db", "tv", 1)
    assert snap.operation == "rollback" and snap.snapshot_id == 3
    assert cat.load("db", "tv").count() == 5
    # pre-rollback state still reachable (history preserved)
    assert cat.load("db", "tv", snapshot_id=2).count() == 8


def test_metadata_tables(spark, cat):
    cat.create_table("db", "meta", _df(spark, 6), partition_by=["months(date_key)"])
    cat.append("db", "meta", _df(spark, 2, start=50))

    snaps = cat.metadata_table("db", "meta", "snapshots")
    assert [r.operation for r in snaps.collect()] == ["create", "append"]
    assert [r.total_rows for r in snaps.collect()] == [6, 8]

    files = cat.metadata_table("db", "meta", "files")
    assert files.count() == 2  # one dir per snapshot
    assert all("date_key" in r.columns for r in files.collect())

    hist = cat.metadata_table("db", "meta", "history").collect()
    assert [h.is_current for h in hist] == [False, True]

    parts = cat.metadata_table("db", "meta", "partitions").collect()
    assert parts[0].transform == "months" and parts[0].source_column == "date_key"

    with pytest.raises(ValueError, match="unknown metadata table"):
        cat.metadata_table("db", "meta", "nope")


def test_remove_orphan_files(spark, cat):
    """A data dir written by a writer that never committed (lost CAS
    race / crash) is deleted once past the grace period; referenced dirs
    and fresh uncommitted dirs survive."""
    cat.create_table("db", "orph", _df(spark, 5))
    cat.append("db", "orph", _df(spark, 3, start=50))
    base = os.path.join(cat.warehouse, "db", "orph")

    # simulate a stranded writer: claimed dir, wrote data, never committed
    stale = os.path.join(base, "data-00099")
    os.makedirs(stale)
    old = 10_000.0
    os.utime(stale, (os.path.getmtime(stale) - old, os.path.getmtime(stale) - old))
    fresh = os.path.join(base, "data-00098")
    os.makedirs(fresh)

    out = cat.remove_orphan_files("db", "orph", older_than_s=3600.0)
    assert out["deleted"] == ["data-00099"]
    assert out["kept_young"] == ["data-00098"]
    assert not os.path.exists(stale) and os.path.exists(fresh)
    # table contents untouched
    assert cat.load("db", "orph").count() == 8


def test_transform_in_list_and_expired_timestamp(spark, cat):
    import time as _time

    df = spark.range(30).select(
        F.col("id"),
        F.concat(
            F.lit("2024-0"), (F.col("id") % 3 + 1).cast("string"), F.lit("-10")
        ).alias("d"),
    )
    cat.create_table("db", "til", df, partition_by=["months(d)"])
    t1 = _time.time()
    cat.append("db", "til", df.withColumn("id", F.col("id") + 100))

    # IN-list folds through the months transform (each literal mapped)
    out = cat.load("db", "til", filters=[("d", "in", ["2024-01-10", "2024-03-10"])])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_p_months_d" in plan
    assert out.count() == 2 * 20  # two of three months, both snapshots

    # timestamp travel into an expired snapshot raises clearly
    cat.expire_snapshots("db", "til", keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        cat.load("db", "til", as_of_timestamp=t1)


def test_replace_partitions_keeps_null_keyed_partition(spark, cat):
    """A NULL-keyed partition must carry over through a partition-scoped
    replace (NOT IN evaluates to NULL for NULL keys — the naive filter
    silently drops it; a full refresh would keep it)."""
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02"), (3, None)], "id long, date_key string"
    )
    cat.create_table("db", "np", df)
    patch = spark.createDataFrame([(20, "2024-01-02")], "id long, date_key string")
    cat.replace_partitions("db", "np", patch, "date_key", ["2024-01-02"])
    got = sorted((r.id, r.date_key) for r in cat.load("db", "np").collect())
    assert got == [(1, "2024-01-01"), (3, None), (20, "2024-01-02")]

    # explicitly replacing the NULL partition does replace it
    patch2 = spark.createDataFrame([(30, None)], "id long, date_key string")
    cat.replace_partitions("db", "np", patch2, "date_key", [None])
    got = sorted(
        (r.id, r.date_key) for r in cat.load("db", "np").collect()
        if r.date_key is None
    )
    assert got == [(30, None)]


def test_empty_in_list_filter_prunes_everything(spark, cat):
    """An empty IN list matches nothing — on both the transform-aware
    pruning path (partitioned) and the row-level path."""
    df = spark.range(10).select(
        F.col("id"),
        F.concat(F.lit("2024-0"), (F.col("id") % 3 + 1).cast("string"), F.lit("-10")).alias("d"),
    )
    cat.create_table("db", "emptyin", df, partition_by=["months(d)"])
    assert cat.load("db", "emptyin", filters=[("d", "in", [])]).count() == 0
    cat.create_table("db", "emptyin2", df)
    assert cat.load("db", "emptyin2", filters=[("d", "in", [])]).count() == 0


def test_zero_row_writes(spark, cat):
    """Empty create keeps a readable schema; an empty append commits a
    snapshot (cursors/batch ids advance) but adds no data files."""
    df = spark.range(5).limit(0).select(
        F.col("id"), F.lit("x").alias("date_key")
    )
    cat.create_table("db", "zr", df, partition_by=["date_key"])
    loaded = cat.load("db", "zr")
    assert loaded.count() == 0 and set(loaded.columns) == {"id", "date_key"}

    cat.append("db", "zr", _df(spark, 4))
    before_dirs = cat.snapshots("db", "zr")[-1].data_dirs
    snap = cat.append("db", "zr", _df(spark, 4).limit(0))
    assert snap.added_rows == 0 and snap.row_count == 4
    assert snap.data_dirs == before_dirs  # no new data dir
    assert cat.load("db", "zr").count() == 4


def test_two_writer_concurrent_append_cas(spark, tmp_path):
    """Catalog-level two-writer race (VERDICT r2 item 8): two threads
    append concurrently through SEPARATE catalog instances over the same
    warehouse.  The manifest CAS must serialize them — both snapshots
    land, all rows survive, and remove_orphan_files finds nothing (no
    stranded data dirs)."""
    import threading

    wh = str(tmp_path / "wh")
    cat_a = LakehouseCatalog(spark, wh, name="writer_a")
    cat_b = LakehouseCatalog(spark, wh, name="writer_b")
    base = spark.range(100).select(F.col("id"), F.lit("seed").alias("src"))
    cat_a.create_table("db", "t", base)

    errors: list[Exception] = []
    barrier = threading.Barrier(2)

    def writer(cat, tag, lo):
        df = spark.range(lo, lo + 50).select(F.col("id"), F.lit(tag).alias("src"))
        try:
            barrier.wait(timeout=60)  # maximize overlap
            cat.append("db", "t", df)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(cat_a, "a", 1000)),
        threading.Thread(target=writer, args=(cat_b, "b", 2000)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    assert not errors, errors

    snaps = cat_a.snapshots("db", "t")
    assert len(snaps) == 3  # create + both appends (serialized by the CAS)
    assert snaps[-1].row_count == 200
    assert cat_a.load("db", "t").count() == 200
    by_src = {r.src: r.n for r in cat_a.load("db", "t").groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src == {"seed": 100, "a": 50, "b": 50}
    # no stranded dirs: every written data dir is referenced by a snapshot
    orphans = cat_a.remove_orphan_files("db", "t", older_than_s=0.0)
    assert orphans["deleted"] == []
    # snapshot ids strictly increasing, unique (the CAS invariant)
    ids = [s.snapshot_id for s in snaps]
    assert ids == sorted(set(ids))


def test_curated_corpus_ships_as_lakehouse_table(spark, cat):
    """End-to-end product integration: the curated corpus (the curation
    pipeline's output) ships as a lakehouse table — initial curation
    creates it, an incremental batch appends a new snapshot, and time
    travel recovers the previous curated set (the corpus-versioning
    story a training run depends on)."""
    from pyspark.sql import functions as F

    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus

    def batch(start, n):
        return spark.createDataFrame(
            [(i, f"doc body tokens number {i} alpha beta gamma", f"src{i % 2}")
             for i in range(start, start + n)],
            "doc_id long, text string, source string",
        )

    # vec_ids disjoint from doc_ids: docs without vectors pass the
    # embedding gate (identical vectors would flag everything leaked)
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(1000, 1010)],
        "vec_id long, embedding array<double>",
    )
    shares = {"src0": 0.5, "src1": 0.5}

    d1 = corpus.curated_corpus(batch(1, 20), emb, F.col("source") == "src0",
                               10_000, shares)
    cat.create_table("corpus", "curated_decisions", d1.filter("curated"))
    n1 = cat.load("corpus", "curated_decisions").count()
    assert n1 > 0

    d2 = corpus.curated_corpus(batch(21, 20), emb, F.col("source") == "src0",
                               10_000, shares)
    cat.append("corpus", "curated_decisions", d2.filter("curated"))

    snaps = cat.snapshots("corpus", "curated_decisions")
    assert [s.operation for s in snaps] == ["create", "append"]
    total = cat.load("corpus", "curated_decisions").count()
    assert total > n1
    # time travel: the first curated set is recoverable bit-for-bit
    v1 = cat.load("corpus", "curated_decisions", snapshot_id=snaps[0].snapshot_id)
    assert v1.count() == n1
    assert sorted(r.doc_id for r in v1.collect()) == \
        sorted(r.doc_id for r in d1.filter("curated").select("doc_id").collect())


# -- zero-job reads: each dir's file schema lives in the manifest ---------

WIDE_DIRS = 40


def _day(spark, i, extra=False):
    """Five rows of one ``date_key`` day, written as one file."""
    df = spark.range(i * 5, i * 5 + 5, 1, 1).select(
        F.col("id"),
        (F.col("id") % 3).cast("int").alias("v"),
        F.lit(f"2024-{1 + i // 28:02d}-{1 + i % 28:02d}").alias("date_key"),
    )
    return df.withColumn("extra", F.col("id") * 2) if extra else df


def _copy_table(cat, src, dst):
    import shutil

    shutil.copytree(cat._table_path("db", src), cat._table_path("db", dst))


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"lakehouse-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(monkeypatch, cat, table, **kw):
    """The same load with every given schema replaced by Spark's own
    parquet inference, merged across files: the read before the manifest
    recorded schemas."""
    from pyspark.sql.readwriter import DataFrameReader

    with monkeypatch.context() as m:
        m.setattr(
            DataFrameReader, "schema", lambda self, _s: self.option("mergeSchema", "true")
        )
        return cat.load("db", table, **kw)


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory):
    """One catalog holding every read shape, built once:

    - ``part``: 40 one-day dirs, ``date_key``-partitioned;
    - ``ddl``: ``part`` after ``alter_table`` (rename, add);
    - ``spec``: ``part`` after a partition-spec change and two appends;
    - ``unpart``: 40 unpartitioned dirs, every other one with a column more;
    - ``hidden``: transform partitions (months, bucket);
    - ``empty``: an empty partitioned create, then appends;
    - ``mor``: outstanding merge-on-read deletes (delete and upsert)."""
    cat = LakehouseCatalog(spark, str(tmp_path_factory.mktemp("wide") / "wh"))
    for i in range(WIDE_DIRS):
        if i == 0:
            cat.create_table("db", "part", _day(spark, i), partition_by=["date_key"])
            cat.create_table("db", "unpart", _day(spark, i))
        else:
            cat.append("db", "part", _day(spark, i))
            cat.append("db", "unpart", _day(spark, i, extra=i % 2 == 1))
    _copy_table(cat, "part", "ddl")
    cat.alter_table("db", "ddl", rename_columns={"v": "w"}, add_columns={"note": "string"})
    _copy_table(cat, "part", "spec")
    cat.alter_partition_spec("db", "spec", ["bucket(4, id)"])
    for i in (WIDE_DIRS, WIDE_DIRS + 1):
        cat.append("db", "spec", _day(spark, i))
    cat.create_table(
        "db", "hidden", _day(spark, 0), partition_by=["months(date_key)", "bucket(2, id)"]
    )
    cat.append("db", "hidden", _day(spark, 30, extra=True))
    cat.create_table("db", "empty", _day(spark, 0).limit(0), partition_by=["date_key"])
    cat.append("db", "empty", _day(spark, 1))
    cat.append("db", "empty", _day(spark, 2, extra=True))
    cat.create_table("db", "mor", _day(spark, 0))
    cat.append("db", "mor", _day(spark, 1))
    cat.delete_where_mor("db", "mor", [("v", "=", 1)], equality_cols=["id"])
    cat.upsert_mor(
        "db", "mor", _day(spark, 1).withColumn("v", F.lit(9)), equality_cols=["id"]
    )
    for table in ("part", "ddl", "spec", "unpart"):
        assert len(cat.current_snapshot("db", table).data_dirs) >= WIDE_DIRS
    return cat


@pytest.mark.parametrize(
    "table, kw",
    [
        ("part", {}),
        ("ddl", {}),
        ("spec", {}),
        ("spec", {"filters": [("id", "=", 7)]}),
        ("unpart", {}),
        ("unpart", {"snapshot_id": 1}),
        ("hidden", {}),
        ("empty", {}),
        ("empty", {"snapshot_id": 1}),
        ("mor", {}),
        ("part", {"filters": [("id", "<", -1)]}),  # every dir pruned
    ],
)
def test_load_reads_recorded_schemas(spark, wide, monkeypatch, table, kw):
    """``load()`` takes every dir's schema from the manifest: no Spark
    job before an action, at 40 data dirs as at one, and the same schema
    and rows as Spark's own inference gives, for every read shape."""
    got, jobs = _jobs(spark, lambda: wide.load("db", table, **kw))
    assert jobs == 0
    want = _inferred(monkeypatch, wide, table, **kw)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


@pytest.mark.parametrize("table", ["empty", "mor"])
def test_legacy_manifest_upgrades_once(spark, wide, table):
    """A manifest written before schemas were recorded infers the missing
    dirs' schemas once (data and delete dirs) and publishes them; later
    loads launch no job and read what the recorded schemas read."""
    import glob
    import json

    legacy = f"legacy_{table}"
    _copy_table(wide, table, legacy)
    for path in glob.glob(os.path.join(wide._table_path("db", legacy), "_manifest*.json")):
        with open(path) as f:
            m = json.load(f)
        m.pop("dir_schemas")
        m.pop("delete_dir_schemas", None)
        with open(path, "w") as f:
            json.dump(m, f)
    first, upgrade_jobs = _jobs(spark, lambda: wide.load("db", legacy))
    assert upgrade_jobs > 0
    again, jobs = _jobs(spark, lambda: wide.load("db", legacy))
    assert jobs == 0
    recorded = wide._read_manifest("db", table)
    upgraded = wide._read_manifest("db", legacy)
    assert upgraded["dir_schemas"]
    for fam in ("dir_schemas", "delete_dir_schemas"):
        got = upgraded.get(fam, {})
        assert got == {d: recorded[fam][d] for d in got}  # what a commit records
    want = wide.load("db", table)
    for df in (first, again):
        assert df.schema == want.schema
        assert sorted(df.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_fanout_staging_read_prunes_to_one_dir(spark, cat):
    """The stream fan-out reads staging with a ``batch_id`` filter: the
    manifest bounds keep exactly the one dir of that batch."""
    for b in range(3):
        staged = _day(spark, b).withColumn("batch_id", F.lit(b))
        if b == 0:
            cat.create_table("db", "staging", staged, batch_id=b)
        else:
            cat.append("db", "staging", staged, batch_id=b)
    dirs = cat.current_snapshot("db", "staging").data_dirs
    for b in range(3):
        kept = cat.prune_preview("db", "staging", [("batch_id", "=", b)])["kept"]
        assert kept == [dirs[b]]


def test_incremental_read_uses_recorded_schemas(spark, wide):
    """The streaming incremental reader reads the new dirs the catalog's
    way: no inference job, hidden partition fields stripped."""
    from snowflake_iceberg_cld_bcdr_demo_spark.streaming.events import (
        incremental_snapshot_read,
    )

    (delta, latest), jobs = _jobs(
        spark, lambda: incremental_snapshot_read(wide, "db", "hidden", after_snapshot_id=1)
    )
    assert jobs == 0 and latest == 2
    want = wide.load("db", "hidden").filter(F.col("id") >= 150)
    assert delta.columns == want.columns
    assert sorted(delta.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_claimed_data_dir_is_written_in_place(spark, cat):
    """A claimed data dir is never deleted and re-created by the write
    into it: a concurrent claim in that gap would get the same name, and
    two rewrites would land in one dir.  A hidden marker dropped into
    each claimed dir must survive every commit path that fills it."""
    marker = "._claimed"
    claimed = []
    orig = cat._claim_data_dir

    def spy(namespace, table, sid):
        name = orig(namespace, table, sid)
        open(os.path.join(cat._table_path(namespace, table), name, marker), "w").close()
        claimed.append((table, name))
        return name

    cat._claim_data_dir = spy
    try:
        for i in range(3):  # create, append, append: three dirs
            (cat.append if i else cat.create_table)("db", "t", _df(spark, 20, 20 * i))
        cat.purge_rows("db", "t", [("bucket", "=", "1")])  # parallel rewrites
        empty = _df(spark, 0)
        cat.create_table("db", "e", empty)  # zero-row dir kept readable
        cat.create_table("db", "ep", empty, partition_by=["date_key"])
    finally:
        cat._claim_data_dir = orig

    assert cat.load("db", "t").count() == 40
    assert cat.load("db", "e").count() == cat.load("db", "ep").count() == 0
    live = {
        (t, d) for t in ("t", "e", "ep") for d in cat.current_snapshot("db", t).data_dirs
    }
    assert len(live) == 5 and live <= set(claimed)
    for t, d in live:
        assert os.path.exists(os.path.join(cat._table_path("db", t), d, marker)), d


def test_any_parquet_column_name_round_trips(spark, cat):
    """Column names are quoted in the commit statistics, so a dot or a
    backtick in a name is just a character."""
    df = spark.range(3).select(
        F.col("id"), (F.col("id") * 10).alias("a.b"), F.col("id").cast("string").alias("a`b")
    )
    cat.create_table("db", "names", df)
    cat.append("db", "names", df.select("id", "`a.b`", F.lit("x").alias("a`b")))
    got = cat.load("db", "names")
    assert got.columns == ["id", "a.b", "a`b"]
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        [(i, i * 10, str(i)) for i in range(3)] + [(i, i * 10, "x") for i in range(3)]
    )
    first, second = cat._read_manifest("db", "names")["dir_stats"].values()
    assert first["a.b"] == [0, 20, 0] and first["a`b"] == ["0", "2", 0]
    assert second["a.b"] == [0, 20, 0] and second["a`b"] == ["x", "x", 0]


def test_dir_stats_contract(spark, cat):
    """The manifest's ``dir_stats`` per column kind, against values worked
    out by hand; and the statistics are one observed Column however wide
    the frame is."""
    import datetime as dt
    import decimal
    import math

    from pyspark.sql import Column

    utc = dt.timezone.utc
    df = spark.createDataFrame(
        [
            (decimal.Decimal("12.34"), dt.date(2024, 3, 1),
             dt.datetime(2024, 3, 1, 12, 0, 0, 500000, tzinfo=utc),
             dt.datetime(2024, 3, 1, 12, 0, 0, 500000), "a" * 70, None, True, [1]),
            (decimal.Decimal("99.99"), dt.date(2024, 3, 3),
             dt.datetime(2024, 3, 2, tzinfo=utc), dt.datetime(2024, 3, 2),
             "b" * 70, None, False, []),
            (None, None, None, None, None, None, None, None),
        ],
        "dec decimal(10,2), day date, ts timestamp, ntz timestamp_ntz, s string, "
        "nul int, flag boolean, xs array<int>",
    )
    cat.create_table("db", "kinds", df)
    man = cat._read_manifest("db", "kinds")
    ((d, stats),) = man["dir_stats"].items()
    assert man["dir_rows"][d] == 3
    # 2024-03-01 is day 19,783 since the epoch; 12:00:00.5 that day is
    # 1,709,294,400.5 s, and 2024-03-02 00:00 is 1,709,337,600 s
    assert stats == {
        # decimals pass through double, widened one ULP outward
        "dec": [math.nextafter(12.34, -math.inf), math.nextafter(99.99, math.inf), 1],
        "day": [19783, 19785, 1],
        "ts": [1709294400500000, 1709337600000000, 1],
        # NTZ bounds are wall-clock micros, as naive filter literals read
        "ntz": [1709294400500000, 1709337600000000, 1],
        # strings over 64 chars: prefix below, incremented prefix above
        "s": ["a" * 64, "b" * 63 + "c", 1],
        # all-null, boolean and array columns carry no bounds
    }
    assert cat.prune_preview("db", "kinds", [("ntz", ">", dt.datetime(2024, 3, 2))])[
        "kept"
    ] == []

    for width in (1, 40):
        wide = spark.range(1).select(*[F.col("id").alias(f"c{i}") for i in range(width)])
        stats_col, kinds = LakehouseCatalog._stats_exprs(wide)
        assert isinstance(stats_col, Column) and len(kinds) == width
