"""Schema-drift export + detection — port of ``EXPORT_SCHEMA_METADATA()``
(F3, `33_schema_sync_task.sql:62-131`) and ``DETECT_SCHEMA_DRIFT()``
(F4, `33:220-498`).

The reference exports every object definition with its SHA-256
(`33:87,105`) into a metadata table, ships it cross-account via a stage
(`33:524-541` — here: the shared warehouse), and runs a 3-way diff daily:

- objects missing on the secondary → LEFT ANTI join (J5, `33:292-305`),
- objects missing on the primary → the reverse anti join (`33:378-391`),
- definition mismatch → INNER join + hash inequality (J6, `33:333-348`),

plus a FULL OUTER object-count comparison (J7, `33:564-578`).  Detected
drift appends to ``schema_drift_log``; ``auto_resync`` copies the primary
definition over (the reference's optional resync, `33:450-497`).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..adtech.schemas import SCHEMA_DRIFT_LOG_SCHEMA, SCHEMA_METADATA_SCHEMA
from ..sources.lakehouse import LakehouseCatalog, ViewRegistry
from .logs import append_rows


def export_schema_metadata(
    spark: SparkSession,
    account_name: str,
    database_name: str,
    registries: dict[str, ViewRegistry],
    monitoring: LakehouseCatalog,
    table: str = "schema_metadata",
) -> int:
    """Snapshot every view definition + sha2 hash into a metadata table
    (F3).  ``registries`` maps schema_name → its ViewRegistry."""
    rows = []
    for schema_name, reg in sorted(registries.items()):
        for name, definition in sorted(reg.definitions().items()):
            rows.append(
                dict(
                    account_name=account_name,
                    database_name=database_name,
                    schema_name=schema_name,
                    object_type="VIEW",
                    object_name=name,
                    object_definition=definition,
                )
            )
    df = spark.createDataFrame(rows, SCHEMA_METADATA_SCHEMA).withColumn(
        "object_hash", F.sha2(F.col("object_definition"), 256)
    )
    # Full snapshot per export (the reference truncates + reinserts,
    # `33:95-100`): create-or-replace, not append.
    monitoring.create_table("monitoring", table, df, mode="overwrite")
    return len(rows)


def detect_schema_drift(
    spark: SparkSession,
    primary_meta: DataFrame,
    secondary_meta: DataFrame,
    monitoring: LakehouseCatalog,
    auto_resync_into: ViewRegistry | None = None,
    max_findings: int = 10_000,
) -> dict:
    """3-way drift diff between two exported metadata snapshots (F4).
    Returns the report dict; logs each drift row; optionally resyncs
    missing/mismatched definitions into the secondary registry.

    The findings collect to the driver by design (they carry object
    DEFINITIONS for the resync/log path, and real drift is a handful of
    objects); ``max_findings`` caps each category so a pathological
    snapshot — e.g. diffing against an empty secondary of a
    million-object catalog — cannot OOM the driver.  Truncation is
    reported (``truncated=True``) so the operator re-runs scoped."""
    t0 = time.time()
    keys = ["object_type", "schema_name", "object_name"]
    p = primary_meta.select(
        *keys,
        F.col("object_hash").alias("primary_hash"),
        F.col("object_definition").alias("primary_definition"),
    )
    s = secondary_meta.select(
        *keys,
        F.col("object_hash").alias("secondary_hash"),
        F.col("object_definition").alias("secondary_definition"),
    )

    missing_on_secondary = p.join(s, keys, "left_anti")  # J5 `33:292-305`
    missing_on_primary = s.join(p, keys, "left_anti")  # J5 reverse `33:378-391`
    mismatched = (
        p.join(s, keys, "inner")  # J6 `33:333-348`
        .filter(F.col("primary_hash") != F.col("secondary_hash"))
    )

    truncated = False

    def _capped_collect(df: DataFrame) -> list:
        # Deterministic truncation: an unordered limit() keeps an
        # arbitrary subset, so WHICH findings get resynced/logged would
        # vary run to run — order by the object key first.  Overflow is
        # detected from one extra collected row instead of a full
        # count() per category (zero extra Spark jobs on healthy
        # snapshots).
        nonlocal truncated
        if max_findings is None:
            return df.collect()
        rows = df.orderBy(*keys).limit(max_findings + 1).collect()
        if len(rows) > max_findings:
            truncated = True
            rows = rows[:max_findings]
        return rows

    drift_rows: list[dict] = []
    for r in _capped_collect(missing_on_secondary):
        drift_rows.append(
            dict(
                object_type=r.object_type,
                schema_name=r.schema_name,
                object_name=r.object_name,
                drift_type="MISSING_ON_SECONDARY",
                primary_hash=r.primary_hash,
                primary_definition=r.primary_definition,
                status="DETECTED",
            )
        )
    for r in _capped_collect(missing_on_primary):
        drift_rows.append(
            dict(
                object_type=r.object_type,
                schema_name=r.schema_name,
                object_name=r.object_name,
                drift_type="MISSING_ON_PRIMARY",
                secondary_hash=r.secondary_hash,
                secondary_definition=r.secondary_definition,
                status="DETECTED",
            )
        )
    for r in _capped_collect(mismatched):
        drift_rows.append(
            dict(
                object_type=r.object_type,
                schema_name=r.schema_name,
                object_name=r.object_name,
                drift_type="DEFINITION_MISMATCH",
                primary_hash=r.primary_hash,
                secondary_hash=r.secondary_hash,
                primary_definition=r.primary_definition,
                secondary_definition=r.secondary_definition,
                status="DETECTED",
            )
        )

    resynced = 0
    if auto_resync_into is not None:
        for row in drift_rows:
            if row["drift_type"] in ("MISSING_ON_SECONDARY", "DEFINITION_MISMATCH"):
                auto_resync_into.create_or_replace(
                    row["object_name"], row["primary_definition"]
                )
                row["status"] = "RESOLVED"
                row["resolved_by"] = "AUTO_RESYNC"
                resynced += 1

    if drift_rows:
        append_rows(
            spark,
            monitoring,
            "schema_drift_log",
            SCHEMA_DRIFT_LOG_SCHEMA,
            drift_rows,
            id_field="drift_id",
        )

    # FULL OUTER object-count comparison (J7 `33:564-578`)
    pc = p.groupBy("object_type").agg(F.count(F.lit(1)).alias("primary_count"))
    sc = s.groupBy("object_type").agg(F.count(F.lit(1)).alias("secondary_count"))
    count_cmp = (
        pc.join(sc, "object_type", "full_outer")
        .select(
            "object_type",
            F.coalesce("primary_count", F.lit(0)).alias("primary_count"),
            F.coalesce("secondary_count", F.lit(0)).alias("secondary_count"),
        )
        .collect()
    )

    return {
        "status": "DRIFT_DETECTED" if drift_rows else "NO_DRIFT",
        "missing_on_secondary": sum(
            1 for r in drift_rows if r["drift_type"] == "MISSING_ON_SECONDARY"
        ),
        "missing_on_primary": sum(
            1 for r in drift_rows if r["drift_type"] == "MISSING_ON_PRIMARY"
        ),
        "definition_mismatch": sum(
            1 for r in drift_rows if r["drift_type"] == "DEFINITION_MISMATCH"
        ),
        "resynced": resynced,
        "truncated": truncated,
        "object_counts": {
            r.object_type: (r.primary_count, r.secondary_count) for r in count_cmp
        },
        "execution_time_ms": int((time.time() - t0) * 1000),
    }
