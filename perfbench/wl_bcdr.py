"""Workload ``bcdr_lifecycle``: the reference runbook as repeated task
intervals over one shared lakehouse and two accounts.

Set-up (timed as ``setup_s``): ``adtech.generate`` builds the star schema
(50 campaigns over a 90-day window).  A fixed number of fact rows, spread
over 30 ``date_key`` partitions, is ingested as four tables on the
primary account; EXT tables are registered, ``sync_prod_database``
writes the PROD views and ``replicate_definitions`` copies them to the DR
account.  The rows the generator made after the base form the pool of
fixed-size daily batches, so the load does not depend on the seed.

The timed steps (see :func:`plan`):

- ``day``: a one-day batch appended to each base table (four
  ``LakehouseCatalog.append`` commits), then the serving account re-binds
  its catalog temp views (``jobs.sync.register_catalog_tables``) so the
  day is visible — together the ``batch`` latency; then the five PROD
  ``AGGREGATE_VIEWS`` and the two EXT-side views are read on the serving
  account through Spark's ``noop`` sink;
- ``failover``: untimed ``replicate_definitions``, then ``promote``, table
  re-registration, ``ViewRegistry.apply`` and the first PROD query — the
  recovery time — then ``validate_consistency`` across both accounts;
- traced runs only: ``tasks`` (``sync_prod_database`` on the primary,
  ``secondary_heartbeat`` on the DR side, the drift export plus
  ``detect_schema_drift``) and ``table_maintenance``.
"""

from __future__ import annotations

import datetime
import os
import time
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metrics import engine, fill
from snowflake_iceberg_cld_bcdr_demo_spark.adtech import views as V
from snowflake_iceberg_cld_bcdr_demo_spark.adtech.generate import (
    GeneratorConfig,
    generate_all,
    generate_campaigns,
)
from snowflake_iceberg_cld_bcdr_demo_spark.jobs import bcdr, cleanup, drift, heartbeat, sync
from stats import bytes_per_row, dir_bytes, median, tail

NS = "advertising"
NUM_CAMPAIGNS = 50
WINDOW_DAYS = 90
IMPRESSIONS_PER_CAMPAIGN = 400
#: half the clicks convert (the generator's default is 5%), so that every
#: seed yields enough conversions for the base and the batches; the click
#: rate stays at 2%, which keeps the EXT fan-out view (impressions x clicks
#: x conversions per campaign) small
CONVERSION_RATE = 0.5
#: rows ingested at set-up, rows per daily batch, and batches available
BASE_ROWS = {"impressions": 3_000, "clicks": 60, "conversions": 30}
BATCH_ROWS = {"impressions": 150, "clicks": 3, "conversions": 2}
BASE_DAYS = 30
#: the most daily batches a run may load.  Only active and completed
#: campaigns (about half) get impressions, so a seed yields about 10,000
#: impressions, 200 clicks and 100 conversions; 16 campaigns of 50 still
#: cover the base and this many days
MAX_DAYS = 15
#: the first day of the load schedule (the generator's window start)
DAY0 = datetime.date(2025, 10, 3)
#: compact a table once it holds more data dirs than this (a few days of
#: appends), so the timed pass includes a real rewrite
COMPACT_ABOVE_DIRS = 3
EXT_VIEWS = ("v_campaign_performance_ext", "v_daily_metrics")
READ_VIEWS = tuple(V.AGGREGATE_VIEWS) + EXT_VIEWS
FACTS = ("impressions", "clicks", "conversions")
#: nominal seconds per daily cycle and its share of the failovers: sizes
#: the plan from ``--seconds`` so both sides of a comparison do identical
#: work
NOMINAL_DAY_S = 10.0
MIN_DAYS = 2
#: untimed warm-up: the operation kinds of the untraced plan
WARMUP = ("day", "failover")


def plan(seconds: int, traced: bool = False) -> list[str]:
    """The timed steps: daily cycles, then a failover and a failback.  A
    traced run adds the scheduled task trio and table maintenance, whose
    costs are reported per layer only (the untraced run cannot afford
    them within its time budget).  Raises ``ValueError`` when the daily
    batches would not fit the generated pool."""
    days = max(MIN_DAYS, round(seconds / NOMINAL_DAY_S))
    if days + WARMUP.count("day") > MAX_DAYS:
        raise ValueError(f"--seconds {seconds} needs more than {MAX_DAYS} daily batches")
    steps = ["day"] * days
    if traced:
        steps += ["tasks", "maintenance"]
    return steps + ["failover", "failover"]


class Lifecycle:
    def __init__(self, ctx, days: int) -> None:
        self.ctx = ctx
        self.pool_days = days
        self.spark = ctx.spark
        self.t = ctx.tracer
        self.wh = os.path.join(ctx.run_dir, "warehouse")
        self.samples = {k: [] for k in ("query", "commit", "batch", "recovery")}
        self.layer = {}  # per-layer sample lists, traced runs only
        self.rows_appended = 0
        self.day = 0

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        spark, seed = self.spark, self.ctx.seed
        cfg = GeneratorConfig(
            num_campaigns=NUM_CAMPAIGNS,
            impressions_per_campaign=IMPRESSIONS_PER_CAMPAIGN,
            window_days=WINDOW_DAYS,
            conversion_rate=CONVERSION_RATE,
            seed=seed,
        )
        with self.t.span("adtech", "generate"):
            t0 = time.perf_counter()
            frames = generate_all(spark, cfg)
            for df in frames.values():
                df.persist()
            data = {n: df.toPandas() for n, df in frames.items()}
            for df in frames.values():
                df.unpersist()
            self.generate_s = time.perf_counter() - t0
        self.schemas = {n: frames[n].schema for n in FACTS}
        # Fixed-size inputs, whatever the seed: the base is the first
        # BASE_ROWS rows of each fact table in time order, spread evenly
        # over BASE_DAYS date_key partitions, and daily batch k is the
        # next BATCH_ROWS rows, loaded as day BASE_DAYS + k.  The generator
        # decides the rows; the load schedule decides their date_key.
        self.base, self.batches = {}, {}
        for name in FACTS:
            frame = data[name].sort_values(["timestamp", f"{name[:-1]}_id"], ignore_index=True)
            need = BASE_ROWS[name] + self.pool_days * BATCH_ROWS[name]
            if len(frame) < need:
                raise RuntimeError(f"seed {seed} generated {len(frame)} {name}, need {need}")
            base = frame.iloc[: BASE_ROWS[name]].copy()
            base["date_key"] = [_day(i * BASE_DAYS // len(base)) for i in range(len(base))]
            self.base[name] = base
            self.batches[name] = frame.iloc[BASE_ROWS[name] : need].reset_index(drop=True)
        self.pool = [_day(BASE_DAYS + k) for k in range(self.pool_days)]
        # one new campaign per daily batch, keyed apart from the base ids
        extra = generate_campaigns(
            spark, GeneratorConfig(num_campaigns=self.pool_days, seed=seed + 1)
        ).toPandas()
        extra["campaign_id"] = [f"CMP-{900_001 + i:06d}" for i in range(len(extra))]
        self.new_campaigns = extra
        self.campaign_schema = frames["campaigns"].schema

        self.primary = bcdr.make_account(spark, self.wh, "primary", role="primary")
        self.standby = bcdr.make_account(spark, self.wh, "secondary", role="replica")
        cat = self.primary.catalog
        cat.create_table(
            NS, "campaigns", spark.createDataFrame(data["campaigns"], self.campaign_schema)
        )
        for name in FACTS:
            cat.create_table(
                NS, name, spark.createDataFrame(self.base[name], self.schemas[name]),
                partition_by=["date_key"],
            )
        for t in V.BASE_TABLES:
            self.primary.ext.register(f"EXT_{t.upper()}", NS, t)
        report = sync.sync_prod_database(spark, cat, NS, self.primary.prod)
        self.ctx.check(report["status"] == "SUCCESS", f"set-up sync {report['status']}")
        rep = bcdr.replicate_definitions(self.primary, self.standby)
        self.ctx.check(rep["data_files_copied"] == 0, "set-up replication copied data files")
        self.serving, self.other = self.primary, self.standby
        self._bind(self.serving)
        self._bind_ext(self.serving)
        self.serving.prod.apply(spark, prefix="srv")

    def sizes(self) -> dict:
        cat = self.serving.catalog
        return {
            "rows": {t: cat.current_snapshot(NS, t).row_count for t in V.BASE_TABLES},
            "base_partitions": BASE_DAYS,
            "batch_rows": {"campaigns": 1, **BATCH_ROWS},
        }

    def bytes_per_row(self) -> float:
        cat = self.serving.catalog
        live_rows = sum(cat.current_snapshot(NS, t).row_count for t in V.BASE_TABLES)
        return bytes_per_row(os.path.join(self.wh, NS), live_rows)

    # -- operations --------------------------------------------------------
    def _bind(self, acct) -> None:
        """Bind the catalog temp views the PROD views read to the current
        snapshots of ``acct``'s catalog."""
        sync.register_catalog_tables(self.spark, acct.catalog, NS, "cld")

    def _bind_ext(self, acct) -> None:
        """Re-point the EXT temp views at ``acct``'s external tables.  As
        in the reference, external tables are refreshed by the scheduled
        task (and here at set-up and failover), not by each load."""
        for t in V.BASE_TABLES:
            acct.ext.load(f"EXT_{t.upper()}").createOrReplaceTempView(f"ext_{t}")

    def _view_df(self, view: str):
        if view in EXT_VIEWS:
            return self.spark.sql(V.render(view, {t: f"ext_{t}" for t in V.BASE_TABLES}))
        return self.spark.table(f"srv_{view}")

    def _batch_df(self, table: str, k: int):
        if table == "campaigns":
            rows = self.new_campaigns.iloc[k : k + 1]
            return self.spark.createDataFrame(rows, self.campaign_schema)
        n = BATCH_ROWS[table]
        rows = self.batches[table].iloc[k * n : (k + 1) * n].assign(date_key=self.pool[k])
        return self.spark.createDataFrame(rows, self.schemas[table])

    def commit_day(self, trace_id: str, timed: bool) -> None:
        k, cat = self.day, self.serving.catalog
        self.day += 1
        t_batch = time.perf_counter()
        for table in V.BASE_TABLES:
            expect = BATCH_ROWS.get(table, 1)
            with self.ctx.op(f"append {table}") as ok:
                before = cat.current_snapshot(NS, table).row_count
                batch = self._batch_df(table, k)
                with self.t.span("sources.lakehouse", "append", trace_id) as sp:
                    t0 = time.perf_counter()
                    snap = cat.append(NS, table, batch)
                    dt = time.perf_counter() - t0
                moved = snap.row_count - before
                ok(moved == expect, f"{table} row_count moved by {moved}, batch had {expect}")
                if timed:
                    self.samples["commit"].append(dt)
                    self.rows_appended += expect
                    if sp is not None:
                        new_dir = os.path.join(cat._table_path(NS, table), snap.data_dirs[-1])
                        self.layer.setdefault("commit", []).append({
                            "span": sp,
                            "rows": expect,
                            "files": sum(
                                f.endswith(".parquet") for _, _, fs in os.walk(new_dir) for f in fs
                            ),
                            "bytes": dir_bytes(new_dir),
                        })
        with self.ctx.op("register tables"):
            with self.t.span("jobs.sync", "register_catalog_tables", trace_id) as sp:
                self._bind(self.serving)
            if timed and sp is not None:
                self.layer.setdefault("register", []).append(sp.seconds)
        if timed:
            self.samples["batch"].append(time.perf_counter() - t_batch)

    def read_views(self, trace_id: str, timed: bool) -> None:
        for view in READ_VIEWS:
            with self.ctx.op(f"read {view}"):
                with self.t.span("adtech", f"views.{view}", trace_id) as sp:
                    t0 = time.perf_counter()
                    self._view_df(view).write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                if timed:
                    self.samples["query"].append(dt)
                    if sp is not None:
                        self.layer.setdefault(f"view.{view}", []).append(sp)

    def tasks(self, trace_id: str, timed: bool) -> None:
        """The scheduled trio: primary sync, DR heartbeat, drift check."""
        spark, p, s = self.spark, self.serving, self.other

        def drift_check() -> dict:
            for acct, table in ((p, "meta_p"), (s, "meta_s")):
                drift.export_schema_metadata(
                    spark, acct.name, "prod", {"prod": acct.prod}, p.catalog, table
                )
            return drift.detect_schema_drift(
                spark,
                p.catalog.load("monitoring", "meta_p"),
                p.catalog.load("monitoring", "meta_s"),
                p.catalog,
            )

        trio = (
            ("sync", "jobs.sync", "sync_prod_database", "SUCCESS",
             lambda: sync.sync_prod_database(spark, p.catalog, NS, p.prod)),
            ("heartbeat", "jobs.heartbeat", "secondary_heartbeat", "SUCCESS",
             lambda: heartbeat.secondary_heartbeat(spark, s.catalog, NS, s.prod)),
            ("drift", "jobs.drift", "export_and_detect", "NO_DRIFT", drift_check),
        )
        for key, layer, name, want, fn in trio:
            with self.ctx.op(name) as ok:
                with self.t.span(layer, name, trace_id) as sp:
                    report = fn()
                ok(report["status"] == want, f"{name}: {report}")
                if timed and sp is not None:
                    self.layer.setdefault(key, []).append(sp)
        # the sync task refreshes the external tables too
        self._bind_ext(p)

    def failover(self, trace_id: str, timed: bool) -> None:
        spark, old, new = self.spark, self.serving, self.other
        with self.ctx.op("failover") as ok:
            with self.t.span("jobs.bcdr", "replicate_definitions", trace_id) as sp0:
                rep = bcdr.replicate_definitions(old, new)
            ok(rep["data_files_copied"] == 0, "replication copied data files")
            t0 = time.perf_counter()
            with self.t.span("jobs.bcdr", "promote", trace_id) as sp1:
                res = bcdr.promote(new, old_primary=old)
            with self.t.span("jobs.sync", "register_catalog_tables", trace_id):
                sync.register_catalog_tables(spark, new.catalog, NS, "cld")
            with self.t.span("sources.lakehouse", "views_apply", trace_id) as sp2:
                new.prod.apply(spark, prefix="srv")
            with self.t.span("jobs.bcdr", "first_query", trace_id) as sp3:
                spark.table("srv_v_campaign_performance").write.format("noop").mode(
                    "overwrite"
                ).save()
            dt = time.perf_counter() - t0
            ok(res["status"] == "PROMOTED", f"promote {res}")
            self.serving, self.other = new, old
            self._bind_ext(new)
            results = bcdr.validate_consistency(spark, new, old, NS)
            bad = [r["table"] for r in results if r["verdict"] != "MATCH"]
            ok(not bad and len(results) == len(V.BASE_TABLES), f"consistency mismatch {bad}")
            if timed:
                self.samples["recovery"].append(dt)
                if sp1 is not None:
                    self.layer.setdefault("failover", []).append(
                        {"replicate": sp0, "promote": sp1, "apply": sp2, "first": sp3,
                         "files_copied": rep["data_files_copied"]}
                    )

    def maintenance(self, trace_id: str, timed: bool) -> None:
        cat = self.serving.catalog
        with self.ctx.op("table_maintenance"):
            before = {t: cat.current_snapshot(NS, t) for t in V.BASE_TABLES}
            with self.t.span("jobs.cleanup", "table_maintenance", trace_id) as sp:
                rep = cleanup.table_maintenance(
                    cat, NS, compact_above_dirs=COMPACT_ABOVE_DIRS, keep_snapshots=5
                )
            # expiry may drop the files the bound snapshots read
            self._bind(self.serving)
            self._bind_ext(self.serving)
            if timed and sp is not None:
                compacted = [r["table"].split(".", 1)[1] for r in rep if r["compacted"]]
                rewritten = sum(
                    _dirs_bytes(cat, before[t].data_dirs, t) for t in compacted
                )
                self.layer.setdefault("maintenance", []).append(
                    {"span": sp, "dirs": sum(len(before[t].data_dirs) for t in compacted),
                     "bytes": rewritten}
                )

    def step(self, n: int, kind: str, timed: bool) -> None:
        tid = f"{'step' if timed else 'warmup'}-{n}"
        with self.t.span("bench", kind, tid):
            if kind == "day":
                self.commit_day(tid, timed)
                self.read_views(tid, timed)
            else:
                getattr(self, kind)(tid, timed)

    def _view_counts(self) -> dict[str, int]:
        """Rows of every read view, in one query whose branches run side
        by side."""
        each = [
            self._view_df(v).agg(F.count(F.lit(1)).alias("n")).withColumn("view", F.lit(v))
            for v in READ_VIEWS
        ]
        return {r.view: r.n for r in reduce(DataFrame.unionByName, each).collect()}

    def verify_views(self) -> None:
        """Each view returns the same row count on both accounts.  The
        views are bound to the serving account when this runs, and to the
        other one after it: nothing may read them afterwards."""
        serving = self._view_counts()
        self._bind(self.other)
        self.other.prod.apply(self.spark, prefix="srv")
        self._bind_ext(self.other)
        other = self._view_counts()
        for v in READ_VIEWS:
            self.ctx.check(
                serving[v] == other[v], f"view {v} rows differ across accounts: {serving[v]} vs {other[v]}"
            )

def _day(k: int) -> str:
    return str(DAY0 + datetime.timedelta(days=k))


def _dirs_bytes(cat, dirs, table) -> int:
    base = cat._table_path(NS, table)
    return sum(dir_bytes(os.path.join(base, d)) for d in dirs)


def _p50(values) -> float:
    return median(values) if values else 0.0


def run(ctx, t_process: float) -> dict:
    steps = plan(ctx.seconds, ctx.trace)
    wl = Lifecycle(ctx, WARMUP.count("day") + steps.count("day"))
    wl.setup()
    setup_s = time.perf_counter() - t_process
    for n, kind in enumerate(WARMUP):
        wl.step(n, kind, timed=False)
    t = ctx.tracer
    if ctx.trace:
        t.start()
    t0 = time.perf_counter()
    for n, kind in enumerate(steps):
        wl.step(n, kind, timed=True)
    wall = time.perf_counter() - t0
    wl.verify_views()
    s = wl.samples
    info = {
        "plan": steps,
        "setup_s": setup_s,
        "timed_wall_s": wall,
        "samples": {k: [len(v), _p50(v)] for k, v in s.items()},
        **wl.sizes(),
    }
    if not ctx.trace:
        q_tail, q_pct, q_n = tail(s["query"])
        c_tail, c_pct, c_n = tail(s["commit"])
        info.update(query_tail_pct=q_pct, query_n=q_n, commit_tail_pct=c_pct, commit_n=c_n)
        metrics = {
            "setup_s": setup_s,
            "query_p50_s": median(s["query"]),
            "query_tail_s": q_tail,
            "queries_per_s": len(s["query"]) / sum(s["query"]),
            "commit_p50_s": median(s["commit"]),
            "commit_tail_s": c_tail,
            "batch_p50_s": median(s["batch"]),
            "recovery_p50_s": median(s["recovery"]),
            "rows_per_s": wl.rows_appended / wall,
            "bytes_per_row": wl.bytes_per_row(),
        }
        return {"metrics": metrics, "info": info}

    L = wl.layer
    commits = L.get("commit", [])
    rows = sum(c["rows"] for c in commits)
    cat = wl.serving.catalog
    heads = [cat.describe_table(NS, tb) for tb in V.BASE_TABLES]
    fo = L.get("failover", [])
    mt = L.get("maintenance", [])
    values = {
        "lakehouse.commit_s": _p50([c["span"].seconds for c in commits]),
        "lakehouse.commit_jobs": _p50([len(c["span"].jobs) for c in commits]),
        "lakehouse.commit_py4j": _p50([c["span"].py4j for c in commits]),
        "lakehouse.commit_files": _p50([c["files"] for c in commits]),
        "lakehouse.bytes_written_per_row": sum(c["bytes"] for c in commits) / max(1, rows),
        "lakehouse.data_dirs": sum(h["n_data_dirs"] for h in heads),
        "lakehouse.snapshots_live": sum(h["n_snapshots"] - h["n_expired"] for h in heads),
        "lakehouse.views_apply_s": _p50([f["apply"].seconds for f in fo]),
        "sync.s": _p50([sp.seconds for sp in L.get("sync", [])]),
        "sync.jobs": _p50([len(sp.jobs) for sp in L.get("sync", [])]),
        "sync.register_s": _p50(L.get("register", [])),
        "heartbeat.s": _p50([sp.seconds for sp in L.get("heartbeat", [])]),
        "heartbeat.jobs": _p50([len(sp.jobs) for sp in L.get("heartbeat", [])]),
        "drift.s": _p50([sp.seconds for sp in L.get("drift", [])]),
        "drift.jobs": _p50([len(sp.jobs) for sp in L.get("drift", [])]),
        "cleanup.maintenance_s": _p50([m["span"].seconds for m in mt]),
        "cleanup.bytes_rewritten": sum(m["bytes"] for m in mt),
        "cleanup.dirs_compacted": sum(m["dirs"] for m in mt),
        "bcdr.promote_s": _p50([f["promote"].seconds for f in fo]),
        "bcdr.first_query_s": _p50([f["first"].seconds for f in fo]),
        "bcdr.replicate_s": _p50([f["replicate"].seconds for f in fo]),
        "bcdr.data_files_copied": sum(f["files_copied"] for f in fo),
        "adtech.generate_s": wl.generate_s,
        "trace.overhead_frac": t.overhead_frac(wall),
        "py4j.calls": t.py4j.calls,
    }
    for v in READ_VIEWS:
        sps = L.get(f"view.{v}", [])
        values[f"adtech.views.{v}.p50_s"] = _p50([sp.seconds for sp in sps])
        values[f"adtech.views.{v}.jobs"] = _p50([len(sp.jobs) for sp in sps])
    values.update(engine(t, t.all_jobs(), wall, ctx.cores))
    return {"metrics": fill(values), "info": info}
