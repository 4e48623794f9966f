"""Workload ``curation_stream``: ``stream_curated_admission`` over a
seeded document set, as a closed loop of landed files and micro-batches.

Set-up (timed as ``setup_s``): documents are generated; a seeded
``CORPUS_DOCS`` of them become the corpus and its admission index is
built with ``operators.corpus.admission_state`` and saved
(``save_admission_state``).  The rest is split into parquet files of
``ROWS_PER_FILE`` documents, one per micro-batch of the run.

The timed loop runs ``SEGMENTS`` stream runs over one checkpoint.  Each
run starts the stream (``maxFilesPerTrigger=1``), lands one file at a
time and waits for its micro-batch (one client, closed loop), then reads
the corpus the way a consumer would and checks it.  Between runs the
state maintenance task ``compact_admission_state`` runs, as the module
asks.  The first batch of every run gives the restart recovery time.

A traced run ends with the ``registry`` step (``wl_registry``), which
measures the ``plans`` and ``sources.testdata`` layers.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
from metrics import engine, fill
from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus as corpus_ops
from snowflake_iceberg_cld_bcdr_demo_spark.sources.lakehouse import LakehouseCatalog
from snowflake_iceberg_cld_bcdr_demo_spark.streaming import curation as C
from snowflake_iceberg_cld_bcdr_demo_spark.streaming import events as S
from stats import bytes_per_row, median, tail

#: a third of the sf0.1 ``documents`` table (5,000 rows) is the corpus;
#: the other two thirds, split in 16, give the size of one landed file
CORPUS_DOCS = 1_667
ROWS_PER_FILE = 208
WARMUP_BATCHES = 1
#: nominal seconds of one micro-batch with its reads: sizes the batch
#: count from ``--seconds`` so both sides of a comparison do identical work
NOMINAL_BATCH_S = 7.0
MIN_BATCHES = 3
NS = "db"


def plan(seconds: int) -> list[int]:
    """Batches per stream run: two runs over one checkpoint, so that two
    restarts are measured."""
    n = max(MIN_BATCHES, round(seconds / NOMINAL_BATCH_S))
    return [n - n // 2, n // 2]


class Curation:
    def __init__(self, ctx, files: int) -> None:
        self.ctx = ctx
        self.files = files
        self.spark = ctx.spark
        self.t = ctx.tracer
        self.wh = os.path.join(ctx.run_dir, "warehouse")
        self.src = os.path.join(ctx.run_dir, "landing")
        self.pool = os.path.join(ctx.run_dir, "pool")
        self.ckpt = os.path.join(ctx.run_dir, "checkpoint")
        self.samples = {k: [] for k in ("query", "commit", "batch", "recovery")}
        self.compact_s = []
        self.progress = []  # traced pass: one dict per micro-batch
        self.offered = 0
        self.admitted = 0
        self.admitted_timed = 0
        self.next_file = 0
        self._commit_lock = threading.Lock()
        self._timing_commits = False

    def setup(self) -> None:
        spark, seed = self.spark, self.ctx.seed
        rng = np.random.default_rng(seed)
        n_docs = CORPUS_DOCS + self.files * ROWS_PER_FILE
        docs = datagen.documents(rng, n_docs).select(["doc_id", "source", "text"])
        in_corpus = np.zeros(n_docs, dtype=bool)
        in_corpus[rng.permutation(n_docs)[:CORPUS_DOCS]] = True
        os.makedirs(self.pool)
        pq.write_table(docs.filter(in_corpus), os.path.join(self.pool, "corpus.parquet"))
        rest = docs.filter(~in_corpus)
        for i in range(self.files):
            part = rest.slice(i * ROWS_PER_FILE, ROWS_PER_FILE)
            pq.write_table(part, os.path.join(self.pool, f"batch-{i:03d}.parquet"))
        corpus_df = spark.read.parquet(os.path.join(self.pool, "corpus.parquet"))
        self.schema = corpus_df.schema
        self.shares = {f"src{i}": 1 / 20 for i in range(20)}
        self.cat = LakehouseCatalog(spark, self.wh, name="curation")
        self.cat.create_table(NS, "corpus", corpus_df)
        self.base_rows = self.cat.current_snapshot(NS, "corpus").row_count
        with self.t.span("operators.corpus", "admission_state"):
            t0 = time.perf_counter()
            state = corpus_ops.admission_state(corpus_df, F.lit(True), nb_top_frac=1.0)
            C.save_admission_state(self.cat, NS, "adm", state)
            self.admission_state_s = time.perf_counter() - t0
        os.makedirs(self.src)
        self.writer_id = S.checkpoint_writer_id(self.ckpt)
        # time every lakehouse append the stream's sink makes
        append = self.cat.append

        def timed_append(*args, **kwargs):
            t0 = time.perf_counter()
            snap = append(*args, **kwargs)
            if self._timing_commits:
                with self._commit_lock:
                    self.samples["commit"].append(time.perf_counter() - t0)
            return snap

        self.cat.append = timed_append

    def sizes(self) -> dict:
        return {
            "docs": CORPUS_DOCS + self.files * ROWS_PER_FILE,
            "corpus_base_rows": self.base_rows,
            "files": self.files,
            "rows_per_file": ROWS_PER_FILE,
        }

    def _land(self) -> int:
        i = self.next_file
        self.next_file += 1
        os.replace(
            os.path.join(self.pool, f"batch-{i:03d}.parquet"),
            os.path.join(self.src, f"batch-{i:03d}.parquet"),
        )
        return ROWS_PER_FILE

    def _start(self):
        return C.stream_curated_admission(
            S.read_file_stream(self.spark, self.src, self.schema, max_files_per_trigger=1),
            self.cat,
            NS,
            "corpus",
            "adm",
            self.ckpt,
            token_budget=10**9,
            shares=self.shares,
            available_now=False,
        )

    def _batch(self, q, trace_id: str, timed: bool, started: float | None) -> None:
        """Land one file and wait for its micro-batch; then read.  For the
        first batch of a stream run, ``started`` is when the run began."""
        t = self.t
        n = self._land()
        seen = len(q.recentProgress)
        if t.enabled:
            group = str(q.runId)
            tracker = self.spark.sparkContext.statusTracker()
            with t.py4j.quiet():
                jobs0 = set(tracker.getJobIdsForGroup(group))
            calls0 = t.py4j.calls
        with self.ctx.op("micro-batch") as ok:
            if t.enabled:
                with t.py4j.quiet():
                    q.processAllAvailable()
            else:
                q.processAllAvailable()
            new = [p for p in q.recentProgress[seen:] if p.numInputRows > 0]
            ok(len(new) == 1, f"{len(new)} micro-batches for one landed file")
            ok(q.exception() is None, f"stream failed: {q.exception()}")
            if new and timed:
                p = new[-1]
                self.offered += n
                self.samples["batch"].append(p.durationMs["triggerExecution"] / 1000)
                if started is not None:
                    self.samples["recovery"].append(time.perf_counter() - started)
                if t.enabled:
                    with t.py4j.quiet():
                        jobs = sorted(set(tracker.getJobIdsForGroup(group)) - jobs0)
                    self.progress.append(
                        {
                            "batch_id": p.batchId,
                            "rows": p.numInputRows,
                            "add_batch_s": p.durationMs.get("addBatch", 0) / 1000,
                            "planning_s": p.durationMs.get("queryPlanning", 0) / 1000,
                            "jobs": jobs,
                            "py4j": t.py4j.calls - calls0,
                        }
                    )
            batch_id = new[-1].batchId if new else None
        if batch_id is not None:
            self._read(batch_id, trace_id, timed)

    def _read(self, batch_id: int, trace_id: str, timed: bool) -> None:
        """A consumer's reads of the corpus after a batch, with the
        exactly-once checks: unique doc ids, and corpus rows equal to the
        base rows plus every admitted (staged) row so far."""
        cat = self.cat
        staged = (
            cat.load(NS, "adm_staging")
            .filter((F.col("batch_id") == batch_id) & (F.col("writer_id") == self.writer_id))
            .count()
        )
        self.admitted += staged
        if timed:
            self.admitted_timed += staged
        reads = {
            "by_source": lambda c: c.groupBy("source").count(),
            "length_mix": lambda c: c.groupBy("source").agg(
                F.avg(F.length("text")).alias("avg_len"), F.max("doc_id").alias("max_id")
            ),
            "recent": lambda c: c.orderBy(F.col("doc_id").desc()).limit(50),
        }
        for name, build in reads.items():
            with self.ctx.op(f"read {name}"):
                with self.t.span("sources.lakehouse", f"read.{name}", trace_id):
                    t0 = time.perf_counter()
                    build(cat.load(NS, "corpus")).write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                if timed:
                    self.samples["query"].append(dt)
        with self.ctx.op("exactly-once check") as ok:
            with self.t.span("sources.lakehouse", "read.unique_ids", trace_id):
                t0 = time.perf_counter()
                row = cat.load(NS, "corpus").agg(
                    F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("ids")
                ).collect()[0]
                dt = time.perf_counter() - t0
            ok(row.n == row.ids, f"duplicate doc ids: {row.n} rows, {row.ids} ids")
            want = self.base_rows + self.admitted
            ok(row.n == want, f"corpus rows {row.n}, base + staged {want}")
            if timed:
                self.samples["query"].append(dt)

    def segment(self, s: int, batches: int, timed: bool) -> None:
        """One stream run: start from the checkpoint, ``batches`` closed-loop
        micro-batches, stop.  Start to the first committed batch is the
        restart recovery time."""
        tid = f"{'segment' if timed else 'warmup'}-{s}"
        started = time.perf_counter()
        q = self._start()
        try:
            for b in range(batches):
                self._batch(q, f"{tid}-batch-{b}", timed, started if b == 0 else None)
        finally:
            q.stop()
        self.t.record_stream(str(q.runId), "streaming.curation", tid)

    def task(self) -> None:
        """``compact_admission_state``, run between stream runs."""
        with self.ctx.op("compact_admission_state") as ok:
            with self.t.span("streaming.curation", "compact_admission_state") as sp:
                sizes = C.compact_admission_state(self.cat, NS, "adm")
            ok(sizes.get("fingerprints", 0) >= self.base_rows, f"state shrank: {sizes}")
            self.compact_s.append(sp.seconds)


def _p50(values) -> float:
    return median(values) if values else 0.0


def run(ctx, t_process: float) -> dict:
    segments = plan(ctx.seconds)
    wl = Curation(ctx, WARMUP_BATCHES + sum(segments))
    wl.setup()
    setup_s = time.perf_counter() - t_process
    wl.segment(0, WARMUP_BATCHES, timed=False)
    t = ctx.tracer
    if ctx.trace:
        t.start()
    wl._timing_commits = True
    t0 = time.perf_counter()
    for n, batches in enumerate(segments):
        wl.segment(n, batches, timed=True)
        if ctx.trace:
            # the state maintenance between stream runs: per layer only,
            # the untraced run cannot afford it within its time budget
            wl.task()
    wall = time.perf_counter() - t0
    wl._timing_commits = False
    s = wl.samples
    info = {
        "plan": segments,
        "setup_s": setup_s,
        "timed_wall_s": wall,
        "samples": {k: [len(v), _p50(v)] for k, v in s.items()},
        "admitted": wl.admitted,
        "offered": wl.offered,
        **wl.sizes(),
    }
    if not ctx.trace:
        q_tail, q_pct, q_n = tail(s["query"])
        c_tail, c_pct, c_n = tail(s["commit"])
        info.update(query_tail_pct=q_pct, query_n=q_n, commit_tail_pct=c_pct, commit_n=c_n)
        live_rows = wl.cat.current_snapshot(NS, "corpus").row_count
        metrics = {
            "setup_s": setup_s,
            "query_p50_s": median(s["query"]),
            "query_tail_s": q_tail,
            "queries_per_s": len(s["query"]) / sum(s["query"]),
            "commit_p50_s": median(s["commit"]),
            "commit_tail_s": c_tail,
            "batch_p50_s": median(s["batch"]),
            "recovery_p50_s": median(s["recovery"]),
            "rows_per_s": wl.offered / wall,
            "bytes_per_row": bytes_per_row(os.path.join(wl.wh, NS), live_rows),
        }
        return {"metrics": metrics, "info": info}

    prog = wl.progress
    third = max(1, len(prog) // 3)

    def input_bytes(ps) -> float:
        return _p50([t.stage_metrics(p["jobs"])["input_bytes"] for p in ps])

    values = {
        "corpus.admission_state_s": wl.admission_state_s,
        "curation.compact_s": _p50(wl.compact_s),
        "curation.add_batch_s": _p50([p["add_batch_s"] for p in prog]),
        "curation.planning_s": _p50([p["planning_s"] for p in prog]),
        "curation.jobs_per_batch": _p50([len(p["jobs"]) for p in prog]),
        "curation.py4j_per_batch": _p50([p["py4j"] for p in prog]),
        "curation.input_bytes_first": input_bytes(prog[:third]),
        "curation.input_bytes_last": input_bytes(prog[-third:]),
        "curation.admitted_frac": wl.admitted_timed / max(1, wl.offered),
        "lakehouse.commit_s": _p50(s["commit"]),
        "trace.overhead_frac": t.overhead_frac(wall),
        "py4j.calls": t.py4j.calls,
    }
    values.update(engine(t, t.all_jobs(), wall, ctx.cores))
    # the query registry's layers, measured after this workload's own
    import wl_registry

    registry, info["registry"] = wl_registry.run(ctx)
    values.update(registry)
    return {"metrics": fill(values), "info": info}
