"""Physical-plan regression tests: the scale properties PLANS.md
documents, asserted so a refactor can't silently reintroduce a shuffle,
lose a broadcast, or collapse to a single partition.  Complements the
value-level oracle gate (which can't see plan quality)."""

from __future__ import annotations

import pytest

from snowflake_iceberg_cld_bcdr_demo_spark.plans import QUERY_SPECS
from snowflake_iceberg_cld_bcdr_demo_spark.sources.bucketing import exchange_count

from .conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = QUERY_SPECS[name].build(spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    ["chunk_documents", "pii_scrub", "embedding_quantize_error", "token_count",
     "text_quality", "lang_id", "doc_fingerprint", "image_byte_profile"],
)
def test_narrow_ops_have_zero_exchanges(spark, name):
    """The zero-shuffle contract: these run at parquet-scan speed at any
    scale — one narrow stage, no Exchange of any kind."""
    df = QUERY_SPECS[name].build(spark, SF_SMALL)
    assert exchange_count(df) == 0
    assert "BroadcastExchange" not in _plan(spark, name)


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    [
        ("q1_pricing_summary", 1),   # partial agg → single shuffle
        ("dedup_exact_groups", 1),   # one shuffle on md5(text)
        ("decontaminate_eval_overlap", 2),  # corpus agg + tiny eval-vocab distinct
        ("gap_fill_daily_orders", 1),  # daily rollup only; spine broadcasts
        ("funnel_conversion", 2),    # user agg + final scalar fold
        ("mixture_sample", 3),       # 1 wide (group, key-bucket) rank shuffle
        #                              + 2 over the O(groups×buckets) count side
        ("hourly_volume_anomalies", 2),  # hourly rollup + calendar-sized window
        ("asof_click_to_view", 1),   # union-then-window: ONE shuffle, no range self-join
        ("cohort_retention", 3),     # first-seen agg + activity distinct + rollup
        # round-3 additions
        ("stats_corr_by_flag", 1),   # five decimal co-moments in ONE hash agg
        ("session_window_rollup", 1),  # one user_id shuffle into MergingSessions
        ("split_assignment_counts", 1),  # hash_split is a projection; 1 agg shuffle
        ("curriculum_bin_profile", 1),   # fixed-width bins: projection + 1 agg
        ("stratified_split_counts", 1),  # ONE stratum-key shuffle serves window+agg
        ("shuffle_head", 0),         # TakeOrdered: no global sort materialization
        ("data_quality_report", 3),  # row rules share 1 agg/table; unique+fk add 2
        ("html_extract_stats", 0),   # five regexp passes fused, scan-bound
        ("boilerplate_ngram_share", 2),  # ONE (source, gram) shuffle + doc rollup
        ("resample_linear_daily", 2),  # obs rollup + group-hash spine/join/windows
        # round-5 additions
        ("image_byte_profile", 0),   # all-Catalyst byte folds: pure projection
        ("source_quota_audit", 1),   # ONE strata shuffle, rank-cut pushed down
        ("term_postings_index", 2),  # (term,doc) dedup + term rollup
        # winnow: selection is row-local and the fingerprint table is
        # consumed single-pass (r8): fp distinct + fingerprint-partition
        # window + doc rollup + coverage-ids
        ("winnow_shared_spans", 4),
        # r8 carry-through-band shape: signature groupBy + pair distinct
        # (band self-join reuses the banded exchange; no sig join-back,
        # no persist)
        ("minhash_near_dup_pairs", 3),
        # ONE text-carrying exact-collapse groupBy (first(text) rides the
        # content-hash shuffle; no docs join-back) + carry-through
        # minhash (no copies join-backs, no persist)
        ("neardup_skewsafe_pairs", 4),
        # round-8 additions
        ("collapse_repetitions", 1),   # row-local lookbacks; coverage join
        ("audio_waveform_profile", 0),  # generate + Arrow kernel: narrow
        ("video_frame_profile", 0),     # same; per-asset agg kernel-local
        ("corpus_datasheet", 1),        # one global aggregate
        ("conjunctive_term_search", 2),  # (doc,term) agg + doc rollup
        ("mixture_token_budget", 3),    # counts + bucket windows + final
        # r9 map-fold shape: token-count histogram only; scoring is a
        # narrow broadcast-map projection (was 5: explode+join+refold)
        ("lm_quality_scores", 2),
        # round-9 additions
        ("nb_quality_filter", 2),    # training histogram; scoring narrow
        ("dsir_importance_weights", 2),  # same shape, bigram buckets
        # |train| max rollup + coverage distinct + the r10 scan-
        # parallelism guard's round-robin (single-file local scans must
        # not serialize the probe arithmetic)
        ("embedding_decontaminate_ivf", 3),
        # round-10 additions
        ("char_entropy_profile", 3),  # per-(doc,char) agg + doc fold + join
        # the STAGED curated pipeline's final assembly: reads the flags
        # stage table, so only the mixture walk + split remain visible
        # (a blow-up here means a stage table stopped materializing and
        # the 11-gate lineage leaked into one plan)
        ("curated_corpus_decisions", 4),
        ("curated_corpus_report", 5),
        # lineage cut at the flag table (the stage discipline): the
        # mixture walk over the checkpointed flags is what remains
        ("curated_incremental_admit", 7),
        # round-10 session additions
        ("bm25_search", 0),   # scan + scalar-agg broadcast + TakeOrdered
        ("zorder_cells", 1),  # span-stats broadcast + one cell groupBy
        ("phrase_search", 0),  # positional intersect: pure projection
        # round-11 additions.  The *_indexed registry entries build the
        # postings index INLINE (the oracle replays build+query as one
        # plan); the served production shape reads a persisted index, so
        # the build's (term, doc_id) shuffle disappears there.
        ("bm25_search_indexed", 5),   # index build + pivot + dl join
        ("phrase_search_indexed", 2),  # index build + per-doc pivot
        ("conjunctive_search_indexed", 2),  # index build + doc rollup
        # inline build (postings + dfs + doclens agg) + (q,doc) fold +
        # per-query top-k window; the served form drops the build side
        ("bm25_search_many", 8),
        # banded hamming self-join over the checkpointed 410-int
        # fingerprint table: one distinct shuffle, one band broadcast
        ("image_near_dup_ahash", 1),
        ("audio_near_dup_ahash", 1),  # same shape, waveform hashes
        ("video_near_dup_ahash", 1),  # same shape, frame-sampled hashes
        # per-kind checkpointed fp frames -> union -> count_distinct agg
        ("media_fp_inventory", 4),
        ("ann_recall_datasheet", 0),   # four top-k sets, all broadcast folds
        # round-13: retrain-on-survivors recall row — PQ codebook train
        # (per-subspace argmin + fixed-point means) dominates
        ("ann_rebuild_recall", 8),
        # bound-certified sketch audits: exact + sketch share the group agg
        ("distinct_users_by_type_approx", 2),
        ("event_value_deciles_approx", 2),   # sketch agg + rank recount
        ("heavy_hitters_approx", 3),         # exact rollup + sketch + total
        ("compression_quality_signals", 0),  # Arrow stage + broadcast join
        # 8 artifact rows x (count + multiset-equality certificate) over
        # staged (lineage-cut) state frames; an audit is O(corpus) by
        # definition, but the cut keeps each artifact computed once —
        # unstaged this was 102
        ("takedown_cascade_audit", 40),
    ],
)
def test_shuffle_budgets(spark, name, max_exchanges):
    # a prior test may have left a query-internal persist (e.g. winnow's
    # fingerprint table) cached; a CacheManager hit rewrites the plan
    # with InMemoryRelation wrappers whose printed subtrees double-count
    # exchanges — measure the cold plan
    spark.catalog.clearCache()
    df = QUERY_SPECS[name].build(spark, SF_SMALL)
    assert exchange_count(df) <= max_exchanges


@pytest.mark.parametrize("name", ["q3_top_orders", "q5_region_revenue", "q7_volume_shipping"])
def test_dim_joins_broadcast(spark, name):
    """Dimension joins must be broadcast at test scale — a missing
    broadcast here would mean a fact-sized shuffle at every scale."""
    assert "BroadcastExchange" in _plan(spark, name)


def test_pack_contiguous_never_single_partitions_the_fact(spark):
    """The distributed prefix sum's contract: the fact side moves through
    a range exchange (parallel), never a SinglePartition exchange — the
    only SinglePartition allowed is the per-partition-totals window
    (~shuffle-partition-count rows)."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus
    from snowflake_iceberg_cld_bcdr_demo_spark.sources.testdata import table

    # pin=False: the production default eagerly localCheckpoints (pinning
    # the sampled range boundaries), which replaces lineage with an RDD
    # scan — the UNPINNED build exposes the real plan shape to assert on.
    df = corpus.pack_contiguous(table(spark, SF_SMALL, "documents"), pin=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    assert "MapInPandas" in plan
    # the per-partition-totals window is the only single-partition stage
    assert plan.count("Exchange SinglePartition") <= 1


def test_winnow_selection_is_row_local(spark):
    """The round-6 rewrite's contract: winnowing selects fingerprints
    row-locally — no per-character doc_id sort shuffle (any Window in
    the plan must partition by FINGERPRINT, the r8 single-pass doc-count
    shape, never by doc_id over positions), and the md5 k-gram producer
    appears exactly ONCE in the whole plan: the fingerprint table is
    consumed single-pass with no persisted/duplicated subtree, and the
    Generate barrier stops CollapseProject from inlining the hash into
    the sliding-min lambda (which would re-hash per position)."""
    plan = _plan(spark, "winnow_shared_spans")
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "windowspecdefinition(fingerprint" in line, line
    generates = [l for l in plan.splitlines() if "md5" in l]
    assert len(generates) == 1, f"md5 producer not single-pass: {generates}"
    assert generates[0].count("md5") == 1


def test_neardup_decontaminate_broadcasts_eval_side(spark):
    """The bipartite LSH join's 100 TB contract: the (fixed-size) eval
    side broadcasts, so the training corpus is probed map-side and never
    exchanges on the band key."""
    plan = _plan(spark, "neardup_decontaminate")
    assert "BroadcastExchange" in plan


def test_ann_cosine_topk_uses_take_ordered(spark):
    """Exact ANN baseline must not globally sort the corpus: top-k is a
    per-partition reduction (TakeOrderedAndProject)."""
    plan = _plan(spark, "ann_cosine_topk")
    assert "TakeOrderedAndProject" in plan
    assert exchange_count(QUERY_SPECS["ann_cosine_topk"].build(spark, SF_SMALL)) == 0


def test_bm25_topk_uses_take_ordered(spark):
    """BM25 is the scan-bound retrieval baseline: per-term tf columns in
    one narrow projection (no explode, no per-term join), corpus stats
    as a broadcast row, and top-k via per-partition heaps — a global
    sort here would materialize the whole scored corpus at 100 TB."""
    plan = _plan(spark, "bm25_search")
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan  # no explode in the scoring path


def test_curated_corpus_composition_adds_no_cartesian(spark):
    """The composed curation pipeline may contain exactly the broadcast
    nested loops its stages document (one-row model/prior maps, the
    broadcast eval side) — never a non-broadcast cartesian product."""
    plan = _plan(spark, "curated_corpus_decisions")
    assert "CartesianProduct" not in plan


def test_embedding_decontaminate_ivf_no_nested_loop(spark):
    """The IVF variant exists to replace the broadcast NLJ with a hash
    join on the cell key — the plan must show no nested-loop join."""
    plan = _plan(spark, "embedding_decontaminate_ivf")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_testdata_table_infers_each_file_schema_once(spark):
    """``sources.testdata.table`` keeps each file's schema: reading a
    table again launches no schema-inference job and gives the same
    schema (``events`` included: nanos read as long, then cast)."""
    import uuid

    from snowflake_iceberg_cld_bcdr_demo_spark.sources import testdata

    for name in ("lineitem", "events"):
        first = testdata.table(spark, SF_SMALL, name)
        sc = spark.sparkContext
        group = f"testdata-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            again = testdata.table(spark, SF_SMALL, name)
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert again.schema == first.schema
    assert dict(again.dtypes)["ts"] == "timestamp_ntz"
