"""Streaming curated admission: the full curation gate set as a
continuous ingest.

`streaming.events.stream_content_admit` is the exact-dedup-only
admission stream; THIS module productionizes the complete
:func:`operators.corpus.curated_incremental_admit` discipline — exact +
near-dup vs the corpus, frozen NB quality model at its frozen operating
point, remaining mixture budget, stateless scrub — against the PERSISTED
admission index (:func:`operators.corpus.admission_state`), so no
micro-batch ever rescans the corpus.  The reference's own lifecycle is
the batch form of this loop (append → sync → validate,
`/root/reference/scripts/05_append_campaigns.py:112-123` →
`16_sync_task_primary.sql`); Structured Streaming's checkpointing gives
the non-overlap + exactly-once progress its task scheduler provides.

State layout (all lakehouse tables under one prefix):

- ``{prefix}_fingerprints`` / ``{prefix}_signatures`` — INCREMENTAL:
  each batch appends its admitted docs' fingerprints and banded MinHash
  signatures, so batch N+1's gates see batch N's admissions,
- ``{prefix}_consumed`` — an append-only per-source token-delta LOG,
  aggregated to totals at load time: `LakehouseCatalog.append`'s
  ``batch_id`` idempotency then covers crash-replay for free, which an
  in-place merge of running totals would not (a replayed merge
  double-counts),
- ``{prefix}_nb_model`` / ``{prefix}_nb_tau`` — FROZEN: the quality
  model and its per-source operating points never move inside the
  stream; retrain offline and :func:`save_admission_state` to rotate.

Crash-replay correctness: the per-batch gate decisions DEPEND on state
tables the same batch appends to (batch N's fingerprints land in
``{prefix}_fingerprints``, which the exact-dup gate reads).  A naive
replay that recomputed the gates after a partial commit would see its
own fingerprints and reject every doc, so the remaining appends would
never happen.  The sink therefore makes the DECISION itself durable
first: the admitted trail is staged to a ``{prefix}_staging`` table
(batch_id-keyed) BEFORE any state append, and every append fans out
from that artifact.  On replay, a batch already present in staging
skips the gates entirely and re-derives the appends from the stored
trail; each append is additionally batch_id-guarded, so the ones that
did commit before the crash no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint
from ..operators import corpus as corpus_ops
from ..operators.dedup import _banded_signatures
from ..sources.lakehouse import LakehouseCatalog, Snapshot

STATE_TABLES = ("fingerprints", "signatures", "consumed", "nb_model", "nb_tau")


def save_admission_state(
    catalog: LakehouseCatalog,
    namespace: str,
    prefix: str,
    state: dict[str, DataFrame],
) -> None:
    """Persist an :func:`operators.corpus.admission_state` dict as five
    lakehouse tables under ``prefix`` (snapshotted, time-travelable —
    the admission index is itself BCDR-managed state)."""
    missing = set(STATE_TABLES) - set(state)
    if missing:
        raise ValueError(f"save_admission_state: missing {sorted(missing)}")
    # the optional sixth table (the frozen IVF embedding index) persists
    # alongside the core five when present
    for name in state:
        catalog.create_table(namespace, f"{prefix}_{name}", state[name])


#: state tables that never change inside a stream run (retrain offline
#: and :func:`save_admission_state` to rotate) — safe to reuse across
#: micro-batches via ``load_admission_state(frozen_cache=...)``
FROZEN_STATE_TABLES = ("nb_model", "nb_tau", "emb_index")


def load_admission_state(
    catalog: LakehouseCatalog,
    namespace: str,
    prefix: str,
    frozen_cache: dict[str, tuple[Snapshot, DataFrame]] | None = None,
) -> dict[str, DataFrame]:
    """Reload the admission index.  ``consumed`` is stored as an
    append-only delta log; it aggregates back to per-source totals here
    (sources are few — this is a tiny map-side groupBy).

    ``frozen_cache`` (a dict the caller keeps across calls) memoizes the
    FROZEN tables' DataFrames — the model/tau/IVF index never move
    inside a stream run, so re-resolving their snapshots every
    micro-batch is pure per-batch driver overhead; the mutable tables
    (fingerprints/signatures/consumed) are re-resolved every call so
    batch N+1 sees batch N's appends.  The cache keeps each frozen
    table's snapshot next to its DataFrame, and every later call checks
    it against the table's current snapshot (a manifest read, no Spark
    job): a frozen table that moved mid-run raises instead of serving
    stale state."""
    cache = frozen_cache if frozen_cache is not None else {}
    for name, (snap, _) in cache.items():
        now = catalog.current_snapshot(namespace, f"{prefix}_{name}")
        if now != snap:
            raise RuntimeError(
                f"load_admission_state: frozen table {prefix}_{name} moved "
                f"from snapshot {snap.snapshot_id} to {now.snapshot_id} "
                "inside a stream run; restart the stream to rotate it"
            )
    names = [*STATE_TABLES]
    if "emb_index" in cache or catalog.table_exists(
        namespace, f"{prefix}_emb_index"
    ):
        names.append("emb_index")
    state = {}
    for name in names:
        if name in cache:
            state[name] = cache[name][1]
        elif frozen_cache is not None and name in FROZEN_STATE_TABLES:
            # the snapshot is read BEFORE the load, so a rotation that
            # lands in between fails the next call's check
            snap = catalog.current_snapshot(namespace, f"{prefix}_{name}")
            state[name] = catalog.load(namespace, f"{prefix}_{name}")
            frozen_cache[name] = (snap, state[name])
        else:
            state[name] = catalog.load(namespace, f"{prefix}_{name}")
    state["consumed"] = (
        state["consumed"]
        .groupBy("source")
        .agg(F.sum("consumed").alias("consumed"))
    )
    return state


def _admit_batch(
    batch_df: DataFrame,
    batch_id: int,
    catalog: LakehouseCatalog,
    namespace: str,
    corpus_table: str,
    state_prefix: str,
    *,
    token_budget: int,
    shares: dict[str, float],
    nd_threshold: float = 0.5,
    blocklist: list[str] | None = None,
    blocklist_max_hits: int = 2,
    boiler_grams: DataFrame | None = None,
    es_windows: DataFrame | None = None,
    writer_id: str | None = None,
    frozen_cache: dict[str, tuple[Snapshot, DataFrame]] | None = None,
) -> None:
    """One micro-batch of :func:`stream_curated_admission` (module-level
    so crash-replay is testable without a StreamingQuery).  Gate → stage
    the decision artifact → fan out the four remaining appends
    concurrently (they are independent and individually batch_id-guarded
    — see the Scale note in :func:`stream_curated_admission`); see the module
    docstring for the replay contract.  ``writer_id`` scopes every
    batch_id guard to one stream lineage (micro-batch ids restart at 0
    for a new checkpoint — see ``events.checkpoint_writer_id``)."""
    if batch_df.isEmpty():
        return
    staging_table = f"{state_prefix}_staging"
    if not catalog.batch_committed(namespace, staging_table, batch_id, writer_id):
        state = load_admission_state(
            catalog, namespace, state_prefix, frozen_cache=frozen_cache
        )
        trail = corpus_ops.curated_incremental_admit(
            batch_df,
            None,
            None,  # nb_target unused: the model and tau come frozen
            token_budget,
            shares,
            nd_threshold=nd_threshold,
            blocklist=blocklist,
            blocklist_max_hits=blocklist_max_hits,
            boiler_grams=boiler_grams,
            es_windows=es_windows,
            state=state,
            include_text=True,
        )
        # Make the decision artifact durable BEFORE any state append
        # (staged even when empty, so a replay never re-runs the gates
        # for a batch whose decisions were already taken).  The gates
        # evaluate exactly ONCE — into this write; the fan-out below
        # reads the stored trail back, the same derivation a crash
        # replay uses (r13 additionally materialized the trail through
        # an eager localCheckpoint first — a whole extra executor-memory
        # copy of the batch plus its write, per batch, for data the
        # staging table stores anyway).
        staged = (
            trail.filter("admitted")
            .select("doc_id", "source", "text", "n_mix_tokens")
            .withColumn("batch_id", F.lit(batch_id))
            .withColumn("writer_id", F.lit(writer_id).cast("string"))
        )
        if catalog.table_exists(namespace, staging_table):
            catalog.append(
                namespace, staging_table, staged,
                batch_id=batch_id, writer_id=writer_id,
            )
        else:
            catalog.create_table(
                namespace, staging_table, staged,
                batch_id=batch_id, writer_id=writer_id,
            )
    # Fan out from the DURABLE decision artifact — first run and crash
    # replay take the identical path; each append below is additionally
    # batch_id-guarded, so a replay no-ops the ones that committed
    # before a crash.  The batch_id filter prunes on the manifest's
    # per-dir bounds, so the read stays O(batch) as staging grows.
    admitted = (
        catalog.load(namespace, staging_table, filters=[("batch_id", "=", batch_id)])
        # null-safe: two stream lineages may both have a batch 0
        # staged; only THIS writer's trail replays
        .filter(F.col("writer_id").eqNullSafe(F.lit(writer_id).cast("string")))
        .drop("batch_id", "writer_id")
    )
    if admitted.isEmpty():
        return
    docs = admitted.select("doc_id", "source", "text")

    def _corpus_append() -> None:
        if catalog.table_exists(namespace, corpus_table):
            catalog.append(
                namespace, corpus_table, docs,
                batch_id=batch_id, writer_id=writer_id,
            )
        else:
            catalog.create_table(
                namespace, corpus_table, docs,
                batch_id=batch_id, writer_id=writer_id,
            )

    def _state_append(table_suffix: str, df: DataFrame) -> None:
        catalog.append(
            namespace, f"{state_prefix}_{table_suffix}", df,
            batch_id=batch_id, writer_id=writer_id,
        )

    # The four fan-out appends are mutually independent by the replay
    # contract: the staged trail above is the durable decision artifact,
    # each append derives from it alone and is batch_id-guarded, so ANY
    # subset may commit before a crash and the replay no-ops exactly the
    # committed ones (tests/test_streaming.py pins a partial-commit
    # crash).  Running them from a small driver thread pool overlaps the
    # four jobs — the later jobs' tasks back-fill executors idled by the
    # earlier jobs' single-task tail stages (each append here is a small
    # write job whose wall time is mostly fixed latency).  Measured at
    # sf0.1: the sequential fan-out was ~2.3s/batch, signatures alone
    # 1.5s; overlapped the fan-out is bounded by the slowest append.
    tail = [
        _corpus_append,
        lambda: _state_append(
            "fingerprints",
            docs.select(fingerprint(F.col("text")).alias("fingerprint")),
        ),
        lambda: _state_append(
            "signatures", _banded_signatures(docs, "text", "doc_id")
        ),
        lambda: _state_append(
            "consumed",
            admitted.groupBy("source").agg(
                F.sum("n_mix_tokens").alias("consumed")
            ),
        ),
    ]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # inheritable_thread_target: under PySpark's default pinned-thread
    # mode a bare pool thread pins a fresh JVM thread that is never
    # reclaimed (4 leaked per batch on a long-running stream) and does
    # NOT inherit the stream's job group — query.stop() could not cancel
    # in-flight appends.  The wrapper propagates the submitting thread's
    # local properties (job group/description) into each worker and
    # unpins its JVM thread when the task exits.
    with ThreadPoolExecutor(max_workers=len(tail)) as pool:
        futures = [pool.submit(inheritable_thread_target(fn)) for fn in tail]
        # surface the FIRST failure after every append settled (a crash
        # mid-pool leaves the usual any-subset-committed state)
        for f in futures:
            f.result()


def stream_curated_admission(
    docs_stream: DataFrame,
    catalog: LakehouseCatalog,
    namespace: str,
    corpus_table: str,
    state_prefix: str,
    checkpoint_dir: str,
    token_budget: int,
    shares: dict[str, float],
    nd_threshold: float = 0.5,
    blocklist: list[str] | None = None,
    blocklist_max_hits: int = 2,
    boiler_grams: DataFrame | None = None,
    es_windows: DataFrame | None = None,
    available_now: bool = True,
):
    """Run the full curated-admission gate set over a document stream.

    Each micro-batch: (1) reload the admission index (fingerprints and
    signatures grow as earlier batches admit; model/tau stay frozen),
    (2) gate the batch with ``curated_incremental_admit(state=...,
    existing_docs=None)`` — the corpus itself is NEVER read, (3) stage
    the admitted trail to ``{state_prefix}_staging`` (the durable
    decision artifact — see the module docstring for why this must
    precede every state append), (4) append the admitted docs (scrubbed
    text — the shipped-text contract) to the corpus table, (5) append
    their fingerprints + banded signatures and the per-source token
    deltas to the state tables.  Every append carries the micro-batch
    id, and a replayed batch re-derives (4)-(5) from the staged trail
    instead of re-running the gates → idempotent under restart-replay
    at ANY crash point.

    Scale: per batch the corpus-sized inputs are the state tables only
    — fingerprint anti-join on 32-byte keys, signature probe with the
    BATCH side broadcast, a one-row model and a per-source tau/consumed
    map; nothing corpus-sized shuffles, nothing batch-sized rescans.

    Returns the started StreamingQuery."""

    from .events import checkpoint_writer_id

    wid = checkpoint_writer_id(checkpoint_dir)
    # frozen model/tau/IVF DataFrames survive across micro-batches (one
    # snapshot resolution per stream run, not per batch)
    frozen: dict[str, tuple[Snapshot, DataFrame]] = {}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        _admit_batch(
            batch_df,
            batch_id,
            catalog,
            namespace,
            corpus_table,
            state_prefix,
            token_budget=token_budget,
            shares=shares,
            nd_threshold=nd_threshold,
            blocklist=blocklist,
            blocklist_max_hits=blocklist_max_hits,
            boiler_grams=boiler_grams,
            es_windows=es_windows,
            writer_id=wid,
            frozen_cache=frozen,
        )

    writer = (
        docs_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_consumed_log(
    catalog: LakehouseCatalog, namespace: str, prefix: str
) -> None:
    """Offline maintenance for the consumed delta log: rewrite it as one
    row per source (the aggregated totals).  Semantics are unchanged —
    :func:`load_admission_state` aggregates either way — this just stops
    the log growing one row per source per batch forever.  Run it
    BETWEEN stream runs (compaction is a replace snapshot; a stream
    crash-replaying a batch from before the compaction would no longer
    find its batch_id guard), e.g. from the same maintenance window as
    `jobs.cleanup.table_maintenance`."""
    t = f"{prefix}_consumed"
    totals = (
        catalog.load(namespace, t)
        .groupBy("source")
        .agg(F.sum("consumed").alias("consumed"))
    )
    catalog.merge_upsert(namespace, t, totals, ["source"])


def compact_admission_state(
    catalog: LakehouseCatalog,
    namespace: str,
    prefix: str,
    keep_last_snapshots: int = 2,
) -> dict[str, int]:
    """Full lifecycle maintenance for the admission index — run BETWEEN
    stream runs (every rewrite here is a replace/delete snapshot; a
    stream crash-replaying a batch from before the maintenance would no
    longer find its batch_id guard on the rewritten table).  Keeps the
    index's cost O(admitted docs), never O(batches):

    - ``consumed``: the per-batch delta log folds to one row per source
      (:func:`compact_consumed_log` — totals unchanged),
    - ``fingerprints`` / ``signatures``: CONTENT already grows one row
      per admitted doc, but each micro-batch appended its own file and
      snapshot — small-file compaction rewrites the accumulated dirs
      into one, and snapshot expiry drops the per-batch history (the
      manifest keeps expired entries marked, so the batch_id replay
      guard survives),
    - ``staging``: the durable decision artifacts are TRANSIENT — the
      stream starts batch N+1 only after batch N's sink returned, so
      every staged trail below the newest staged batch_id belongs to a
      fully committed batch and is dead weight.  Rows below the max
      batch_id are deleted (TTL), then the survivor is compacted.

    Returns per-table row counts after maintenance (the state-size
    budget a scheduler can alert on)."""
    compact_consumed_log(catalog, namespace, prefix)
    tables = [f"{prefix}_consumed", f"{prefix}_fingerprints", f"{prefix}_signatures"]
    staging = f"{prefix}_staging"
    if catalog.table_exists(namespace, staging):
        # TTL is per WRITER lineage (batch ids restart per checkpoint):
        # a row is dead once ITS writer has staged a newer batch.  The
        # delete API is range-based, so take the conservative cut — the
        # smallest per-writer max — which is exact for the common
        # single-writer case and never deletes a writer's newest trail.
        st = catalog.load(namespace, staging)
        per_writer_max = (
            st.groupBy("writer_id").agg(F.max("batch_id").alias("mx"))
            if "writer_id" in st.columns
            else st.agg(F.max("batch_id").alias("mx"))
        )
        cut = per_writer_max.agg(F.min("mx")).collect()[0][0]
        if cut is not None:
            catalog.delete_where(namespace, staging, [("batch_id", "<", cut)])
        tables.append(staging)
    sizes: dict[str, int] = {}
    for t in tables:
        catalog.compact(namespace, t)
        catalog.expire_snapshots(namespace, t, keep_last=keep_last_snapshots)
        sizes[t[len(prefix) + 1:]] = catalog.load(namespace, t).count()
    return sizes
