"""CSV ingestion round-trip tests (S1-S4, S12): generator → CSV →
schema-coerced scan → partitioned lakehouse table → stage handoff."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_iceberg_cld_bcdr_demo_spark.adtech.generate import (
    GeneratorConfig,
    generate_all,
)
from snowflake_iceberg_cld_bcdr_demo_spark.adtech.schemas import TABLES
from snowflake_iceberg_cld_bcdr_demo_spark.sources import ingest
from snowflake_iceberg_cld_bcdr_demo_spark.sources.lakehouse import LakehouseCatalog


@pytest.fixture(scope="module")
def data(spark):
    return generate_all(spark, GeneratorConfig(num_campaigns=6, impressions_per_campaign=100))


def test_csv_roundtrip_preserves_types_and_values(spark, tmp_path, data):
    """CSV sink → schema-declared scan returns the same typed relation
    (the 02→03 pipeline boundary)."""
    for name in ("campaigns", "impressions"):
        path = str(tmp_path / name)
        ingest.write_csv(data[name], path)
        schema, _ = TABLES[name]
        back = ingest.read_csv(spark, path, schema)
        assert [f.dataType.simpleString() for f in back.schema.fields] == [
            f.dataType.simpleString() for f in schema.fields
        ]
        assert back.count() == data[name].count()
    # typed columns survive: numeric aggregation equals the source's
    src_cost = data["impressions"].agg(F.sum(F.col("cost_usd").cast("decimal(18,4)"))).collect()[0][0]
    back = ingest.read_csv(spark, str(tmp_path / "impressions"), TABLES["impressions"][0])
    rt_cost = back.agg(F.sum(F.col("cost_usd").cast("decimal(18,4)"))).collect()[0][0]
    assert src_cost == rt_cost


def test_csv_to_lakehouse_partitioned(spark, tmp_path, data):
    path = str(tmp_path / "imp_csv")
    ingest.write_csv(data["impressions"], path)
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    n = ingest.csv_to_lakehouse(
        spark, path, TABLES["impressions"][0], cat, "adv", "impressions",
        partition_by=["date_key"],
    )
    assert n == data["impressions"].count()
    assert cat.partition_spec("adv", "impressions") == ["date_key"]


def test_stage_export_import(spark, tmp_path, data):
    stage = str(tmp_path / "stage")
    ingest.export_stage(data["campaigns"], stage)
    back = ingest.import_stage(spark, stage, TABLES["campaigns"][0])
    assert back.count() == 6
    assert sorted(r.campaign_id for r in back.select("campaign_id").collect()) == sorted(
        r.campaign_id for r in data["campaigns"].select("campaign_id").collect()
    )


def test_failfast_rejects_malformed(spark, tmp_path):
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part.csv").write_text("campaign_id,budget_usd\nCMP-1,notanumber\n")
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    schema = StructType(
        [StructField("campaign_id", StringType()), StructField("budget_usd", DoubleType())]
    )
    with pytest.raises(Exception):
        ingest.read_csv(spark, str(bad), schema).collect()
    # PERMISSIVE quarantines instead
    ok = ingest.read_csv(spark, str(bad), schema, mode="PERMISSIVE")
    assert ok.count() == 1 and ok.collect()[0].budget_usd is None


def test_cluster_conf_sizing_arithmetic():
    """cluster_conf's capacity math: partition count covers the data at
    the target size, never starves cores, and broadcast stays a small
    fraction of executor memory."""
    from snowflake_iceberg_cld_bcdr_demo_spark.session import cluster_conf

    conf = cluster_conf(executors=1000, cores_per_executor=4,
                        executor_mem_gb=16, dataset_tb=100.0)
    parts = int(conf["spark.sql.shuffle.partitions"])
    assert parts >= 2 * 1000 * 4                      # cores never starve
    # 100 TB * 0.5 / 192MB ≈ 273k partitions
    assert 200_000 <= parts <= 400_000
    assert int(conf["spark.sql.files.maxPartitionBytes"]) == 192 << 20
    assert int(conf["spark.sql.autoBroadcastJoinThreshold"]) <= 256 << 20
    # a tiny cluster/dataset still floors at 2x cores
    small = cluster_conf(executors=2, cores_per_executor=4, dataset_tb=0.001)
    assert int(small["spark.sql.shuffle.partitions"]) == 16


def test_session_skips_python_call_site_capture(spark):
    """The session turns off PySpark's per-call Python call-site capture
    (several py4j round trips per Column call); analysis errors still
    raise."""
    from pyspark.errors import AnalysisException
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    with pytest.raises(AnalysisException):
        spark.range(1).select(F.col("no_such_column")).collect()
