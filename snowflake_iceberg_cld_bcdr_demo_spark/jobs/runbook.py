"""Reference-cadence schedule assembly (F5) — the `CREATE TASK` wrappers
wired to real jobs at the reference's intervals: 5-min sync
(`16:483-489`), 5-min heartbeat (`31:531-537`), 10-min definition
replication (`20:113,137,171`), daily schema export + drift check
(`33:134-139,504-509`)."""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.lakehouse import LakehouseCatalog
from . import bcdr, drift, heartbeat, mv, sync
from .scheduler import (
    DRIFT_CHECK_INTERVAL_S,
    HEARTBEAT_INTERVAL_S,
    REPLICATION_INTERVAL_S,
    SYNC_INTERVAL_S,
    Scheduler,
)


def build_reference_schedule(
    spark: SparkSession,
    primary: bcdr.Account,
    secondary: bcdr.Account,
    namespace: str,
    monitoring: LakehouseCatalog | None = None,
    with_mv_refresh: bool = False,
    streams: list | None = None,
) -> Scheduler:
    """Assemble the full task graph the reference deploys.  Drive it with
    ``sched.tick()`` (tests / virtual time) or ``sched.run_loop()``.

    The heartbeat task gets the schedule itself (its task-resume pass,
    `31:328-376`, re-enables tasks the failover replication landed
    suspended — including siblings in this very schedule) and the
    optional ``streams`` list (running Structured Streaming queries) so
    every cycle records the full check battery: link status, counts,
    grants, task resume, table lifecycle, stream progress."""
    monitoring = monitoring or primary.catalog
    sched = Scheduler()

    sched.add(
        "sync_prod",
        lambda: sync.sync_prod_database(
            spark, primary.catalog, namespace, primary.prod, monitoring
        ),
        SYNC_INTERVAL_S,
    )
    sched.add(
        "secondary_heartbeat",
        lambda: heartbeat.secondary_heartbeat(
            spark,
            secondary.catalog,
            namespace,
            secondary.prod,
            monitoring,
            scheduler=sched,
            streams=streams,
        ),
        HEARTBEAT_INTERVAL_S,
    )
    sched.add(
        "replicate_definitions",
        lambda: bcdr.replicate_definitions(primary, secondary),
        REPLICATION_INTERVAL_S,
    )

    def _drift_check():
        drift.export_schema_metadata(
            spark, primary.name, "prod", {"prod": primary.prod}, monitoring, "meta_primary"
        )
        drift.export_schema_metadata(
            spark, secondary.name, "prod", {"prod": secondary.prod}, monitoring, "meta_secondary"
        )
        return drift.detect_schema_drift(
            spark,
            monitoring.load("monitoring", "meta_primary"),
            monitoring.load("monitoring", "meta_secondary"),
            monitoring,
            auto_resync_into=secondary.prod,
        )

    sched.add("schema_drift_check", _drift_check, DRIFT_CHECK_INTERVAL_S)

    if with_mv_refresh:
        # Incremental per MV: on a 5-minute cadence only the date_key
        # partitions touched since the last cycle recompute (full rebuild
        # happens automatically on first run / dim drift / lineage reset —
        # see mv.refresh_incremental's decision ladder).
        sched.add(
            "mv_refresh",
            lambda: [
                mv.refresh_incremental(spark, primary.catalog, namespace, v)
                for v in mv.V.AGGREGATE_VIEWS
            ],
            SYNC_INTERVAL_S,
        )
    return sched

