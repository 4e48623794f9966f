"""Corpus-preparation operator invariants (decontamination, chunking,
PII scrub, packing, quantization).  Value-level parity with the SQL
oracle is covered by test_oracle_parity / the driver gate; these tests
assert the semantic invariants the oracle can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus, similarity
from snowflake_iceberg_cld_bcdr_demo_spark.sources.testdata import table

from .conftest import SF_SMALL

BUDGET = 512


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF_SMALL, "documents")


def test_chunks_reconstruct_document(spark, docs):
    """Non-overlapped chunking (stride == chunk) partitions the token
    stream exactly: concatenating chunks in order restores the tokenized
    text, and every chunk except the last is full-size."""
    chunks = corpus.chunk_documents(docs, chunk_tokens=32, stride=32)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(" ", F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text")))
                        .getField("chunk_text")).alias("rebuilt"),
            F.max("n_chunk_tokens").alias("max_len"),
            F.sum("n_chunk_tokens").alias("total"),
        )
    )
    orig = docs.select(
        "doc_id",
        F.concat_ws(" ", F.regexp_extract_all("text", F.lit(r"\S+"), 0)).alias("norm"),
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0)).alias("n_tokens"),
    )
    j = rebuilt.join(orig, "doc_id").cache()
    assert j.filter(F.col("rebuilt") != F.col("norm")).count() == 0
    assert j.filter(F.col("total") != F.col("n_tokens")).count() == 0
    assert j.filter(F.col("max_len") > 32).count() == 0


def test_overlapping_chunks_cover_with_stride(docs):
    """With stride < chunk, consecutive chunk starts differ by exactly the
    stride and the final chunk reaches the end of the document."""
    chunks = corpus.chunk_documents(docs, chunk_tokens=40, stride=30)
    per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"), F.max("chunk_id").alias("last_id")
    )
    # chunk ids are dense 0..n-1
    assert per_doc.filter(F.col("n_chunks") != F.col("last_id") + 1).count() == 0
    n_tok = F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
    expect = docs.select("doc_id", (F.floor((n_tok - 1) / 30.0) + 1).alias("want"))
    assert per_doc.join(expect, "doc_id").filter(F.col("n_chunks") != F.col("want")).count() == 0


def test_pack_greedy_invariants(docs):
    packed = corpus.pack_greedy(docs, budget_tokens=BUDGET, num_shards=8).cache()
    # every document is assigned exactly once
    assert packed.count() == docs.count()
    assert packed.select("doc_id").distinct().count() == docs.count()
    fills = packed.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n_docs")
    )
    # a bin only exceeds the budget when it holds a single oversized doc
    assert fills.filter((F.col("fill") > BUDGET) & (F.col("n_docs") > 1)).count() == 0
    # greedy never leaves two consecutive bins both under half... weaker but
    # useful: average fill is a sane fraction of budget (no degenerate
    # one-doc-per-bin packing for normal-sized docs)
    stats = fills.agg(F.avg("fill").alias("avg_fill")).collect()[0]
    assert stats.avg_fill > BUDGET * 0.5


def test_pack_greedy_is_deterministic(docs):
    a = sorted(map(tuple, corpus.pack_greedy(docs, num_shards=8).collect()))
    b = sorted(map(tuple, corpus.pack_greedy(docs, num_shards=8).collect()))
    assert a == b


def test_pack_contiguous_offsets_consistent(docs):
    packed = corpus.pack_contiguous(docs, budget_tokens=BUDGET).cache()
    rows = sorted(map(tuple, packed.collect()))
    cum = 0
    for _doc_id, n_tokens, bin_id, offset in rows:
        assert bin_id == cum // BUDGET
        assert offset == cum % BUDGET
        cum += n_tokens


def test_decontaminate_excludes_eval_and_flags_dupes(spark, docs):
    """A training doc that IS an eval doc's text (planted duplicate) must
    be flagged contaminated; eval docs never appear in the output."""
    ev = docs.filter(F.col("doc_id") % 10 == 0).limit(1).collect()[0]
    planted = spark.createDataFrame(
        [(999_999, ev.text, ev.lang, ev.source, ev.n_chars)], docs.schema
    )
    out = corpus.decontaminate(docs.union(planted), eval_mod=10).cache()
    assert out.filter(F.col("doc_id") % 10 == 0).count() == 0
    flagged = out.filter(F.col("doc_id") == 999_999).collect()
    assert len(flagged) == 1 and flagged[0].contaminated
    assert flagged[0].n_overlap == flagged[0].n_grams


def test_pii_scrub_redacts(spark):
    df = spark.createDataFrame(
        [(1, "mail me at jane.doe+x@example.com from 10.1.255.3 or call 5551234567 ext 12345")],
        "doc_id long, text string",
    )
    row = corpus.pii_scrub(df).collect()[0]
    assert row.n_email == 1 and row.n_long_number == 1 and row.n_ipv4 == 1
    assert "<EMAIL>" in row.clean_text and "<NUM>" in row.clean_text and "<IP>" in row.clean_text
    assert "example.com" not in row.clean_text and "5551234567" not in row.clean_text
    assert "10.1.255.3" not in row.clean_text
    assert "12345" in row.clean_text  # short numbers survive


def test_quantize_reconstruction_quality(spark):
    emb = table(spark, SF_SMALL, "embeddings")
    stats = similarity.quantize_error_stats(emb)
    bad = stats.filter((F.col("cos_recon") < 0.999) | (F.col("mse") > 1e-3)).count()
    assert bad == 0
    assert stats.count() == emb.count()  # no zero vectors in testdata


def test_prepare_corpus_end_to_end(spark, docs):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup

    pairs = dedup.minhash_similarity(docs, k=8, num_hashes=16, bands=4).filter(
        F.col("est_jaccard") >= 0.5
    )
    clean, flags = corpus.prepare_corpus(docs, pairs)
    clean = clean.cache()
    flags = flags.cache()
    n_kept = flags.filter(F.col("q_keep") & F.col("e_keep") & F.col("c_keep")).count()
    assert clean.count() == n_kept > 0
    assert {"clean_text", "n_email", "n_long_number"} <= set(clean.columns)
    # survivors have no duplicate normalized texts left
    from snowflake_iceberg_cld_bcdr_demo_spark.functions.text import fingerprint

    survivors = docs.join(clean.select("doc_id"), "doc_id")
    fp_counts = (
        survivors.select(fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .count()
        .filter(F.col("count") > 1)
    )
    assert fp_counts.count() == 0


def test_mixture_sample_exact_quotas_and_determinism(docs):
    out = corpus.mixture_sample(
        docs, {"src0": 1.0, "src1": 0.5}, default_fraction=0.0
    ).cache()
    by_src = {r.source: r.n for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src["src0"] == sizes["src0"]  # keep-all source
    assert by_src["src1"] == -(-sizes["src1"] // 2)  # exact ceil quota
    assert set(by_src) == {"src0", "src1"}  # default 0.0 drops the rest
    again = corpus.mixture_sample(docs, {"src0": 1.0, "src1": 0.5}, default_fraction=0.0)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_mixture_sample_single_source_skew(spark, docs):
    """The pathological single-source corpus: the ranking window must NOT
    collapse to one reducer (VERDICT r2 item 5).  Key-range bucketing
    spreads the sort over (group, md5-prefix bucket) while the output
    stays bit-identical to the single-window semantic — ranks are exactly
    1..quota with no gaps, and quota is exact."""
    one_src = docs.select("doc_id", F.lit("web_crawl").alias("source"), "text")
    n = one_src.count()
    out = corpus.mixture_sample(
        one_src, {"web_crawl": 0.3}, key_buckets=16
    ).cache()
    rows = out.collect()
    quota = -(-n * 3 // 10)  # ceil(n * 0.3)
    assert len(rows) == quota  # exact quota on a single skewed source
    assert sorted(r.rk for r in rows) == list(range(1, quota + 1))  # contiguous global ranks
    assert all(r.n_group == n for r in rows)

    # the selected set is the true global md5 top-quota (bucketing is
    # selection, not sampling): recompute with the naive single window
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    naive = (
        one_src.select("doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= quota)
    )
    assert {(r.doc_id, r.rk) for r in rows} == {
        (r.doc_id, r.rk) for r in naive.collect()
    }

    # >1 shuffle partition does the ranking: the wide exchange hashes on
    # (source, _kb), and multiple key buckets are actually populated
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(extended=False)
    assert "_kb" in buf.getvalue()
    n_buckets = (
        one_src.select(
            (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
             .cast("long") * 16 / 65536).cast("int").alias("kb")
        )
        .distinct()
        .count()
    )
    assert n_buckets > 1


def test_repetition_stats_flags_repetitive_text(spark):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import textops

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "a completely varied sentence with distinct words only"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.repetition_stats(df).collect()}
    assert rows[1].distinct_token_frac == 1 / 6
    assert rows[1].top_token_frac == 1.0
    assert rows[1].top_bigram_frac == 1.0
    assert rows[2].distinct_token_frac == 1.0
    assert rows[2].top_token_frac == 1 / 8


def test_corpus_to_lakehouse_roundtrip(spark, docs, tmp_path):
    """Integration: prepared corpus lands in a lakehouse table under a
    hidden bucket partition spec; doc_id lookups prune to one bucket."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup
    from snowflake_iceberg_cld_bcdr_demo_spark.sources.lakehouse import LakehouseCatalog

    pairs = dedup.minhash_similarity(docs, k=8, num_hashes=16, bands=4).filter(
        F.col("est_jaccard") >= 0.5
    )
    clean, _flags = corpus.prepare_corpus(docs, pairs)
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_table("corpus", "clean_docs", clean, partition_by=["bucket(8, doc_id)"])

    out = cat.load("corpus", "clean_docs")
    assert out.count() == clean.count()
    assert "_p_bucket_doc_id" not in out.columns  # hidden partitioning

    some_id = out.select("doc_id").limit(1).collect()[0].doc_id
    one = cat.load("corpus", "clean_docs", filters=[("doc_id", "=", some_id)])
    assert one.count() == 1
    # the filter folded through the bucket transform into a PartitionFilter
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "_p_bucket_doc_id" in plan


def test_incremental_dedup_admits_only_new_texts(spark, docs):
    """Arriving batch: one doc duplicating the corpus, two copies of one
    new text, one genuinely new text → exactly two admitted."""
    existing = docs
    dup_of_corpus = docs.limit(1).select(
        F.lit(777_001).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    batch = dup_of_corpus.unionByName(
        spark.createDataFrame(
            [
                (777_002, "a brand new document body", "en", "srcX", 25),
                (777_003, "a brand new document body", "en", "srcX", 25),
                (777_004, "another unseen text entirely", "en", "srcX", 28),
            ],
            docs.schema,
        )
    )
    admitted = corpus.incremental_dedup(batch, existing)
    ids = sorted(r.doc_id for r in admitted.collect())
    assert ids == [777_002, 777_004]
    assert admitted.columns == docs.columns  # helper cols dropped


def test_prepare_corpus_preserves_metadata(spark, docs):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup

    pairs = dedup.minhash_similarity(docs, k=8, num_hashes=16, bands=4).filter(
        F.col("est_jaccard") >= 0.5
    )
    clean, _ = corpus.prepare_corpus(docs, pairs)
    assert {"lang", "source", "n_chars", "clean_text"} <= set(clean.columns)


def test_packing_honors_custom_id_col(spark):
    """Both packers advertise an ``id_col`` parameter — the Arrow output
    schema must carry the caller's column name, not a hardcoded doc_id."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f g h i")], "row_id long, text string"
    )
    cont = corpus.pack_contiguous(df, budget_tokens=4, id_col="row_id")
    assert cont.columns[0] == "row_id"
    rows = sorted(map(tuple, cont.collect()))
    cum = 0
    for _rid, n_tokens, bin_id, offset in rows:
        assert bin_id == cum // 4 and offset == cum % 4
        cum += n_tokens
    greedy = corpus.pack_greedy(df, budget_tokens=4, num_shards=2, id_col="row_id")
    assert greedy.columns[0] == "row_id"
    assert greedy.count() == 3


def test_hash_split_deterministic_and_exclusive(spark):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = corpus.hash_split(docs, id_col="doc_id", seed=7)
    b = corpus.hash_split(docs.repartition(13), id_col="doc_id", seed=7)
    # assignment is a pure function of (seed, id): partitioning-invariant
    assert a.groupBy("split").count().collect() == sorted(
        b.groupBy("split").count().collect()
    ) or {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}
    counts = {r.split: r["count"] for r in a.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    # hash uniformity: 80/10/10 within a loose tolerance at n=2000
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    # a different seed produces a different assignment
    c = corpus.hash_split(docs, id_col="doc_id", seed=8)
    joined = a.select("doc_id", F.col("split").alias("s1")).join(
        c.select("doc_id", F.col("split").alias("s2")), "doc_id"
    )
    assert joined.filter("s1 != s2").count() > 0


def test_hash_split_rejects_bad_fractions(spark):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus

    with pytest.raises(ValueError, match="sum to 1"):
        corpus.hash_split(
            spark.range(5).withColumnRenamed("id", "doc_id"),
            fractions=(("a", 0.5), ("b", 0.2)),
        )


def test_global_shuffle_replayable_and_balanced(spark):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus

    docs = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    o1 = [r.doc_id for r in corpus.global_shuffle(docs, seed=3).collect()]
    o2 = [r.doc_id for r in corpus.global_shuffle(docs.repartition(7), seed=3).collect()]
    assert o1 == o2  # same seed → exact same order, any input partitioning
    assert o1 != sorted(o1)  # it actually permutes
    o3 = [r.doc_id for r in corpus.global_shuffle(docs, seed=4).collect()]
    assert o1 != o3  # different seed → different permutation


def test_stratified_split_exact_quota(spark):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus

    rows = [(i, ["web", "book", "code"][i % 3]) for i in range(999)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = corpus.stratified_split_flags(df, strata_col="source", frac=0.3)
    per = {
        r.source: (r.n, r.k)
        for r in out.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum(F.col("selected").cast("long")).alias("k"))
        .collect()
    }
    for n, k in per.values():
        assert k == int(0.3 * n)  # EXACT floor quota per stratum


def test_curriculum_bins_caps_tail(spark):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, 0), (2, 199), (3, 200), (4, 5000)], "doc_id long, n_chars int"
    )
    got = {r.doc_id: r.bin_id for r in corpus.curriculum_bins(df).collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 9}

def test_duplicate_spans_one_row_per_doc_on_duplicate_ids(spark):
    """Duplicate doc_ids in the input must not fan out into duplicate
    output rows: the coverage base is distinct ids (output contract =
    one row per doc_id)."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "the same text repeated here ten times over for the span"),
         (1, "the same text repeated here ten times over for the span"),
         (2, "x")],
        "doc_id long, text string",
    )
    out = dedup.duplicate_spans(docs, window=16, stride=4).collect()
    assert sorted(r.doc_id for r in out) == [1, 2]
    short = [r for r in out if r.doc_id == 2][0]
    assert short.n_windows == 0 and short.n_dup_windows == 0

def test_minhash_rowlocal_matches_groupby_signatures(spark):
    """The shuffle-free signature fold must be bit-identical to the
    explode+groupBy matrix (same md5 halves, same hash family, same
    MIN multiset)."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = dedup.minhash_signatures(
        dedup.char_shingles(docs, dedup_shingles=False), num_hashes=16
    )
    b = dedup.minhash_signatures_rowlocal(docs, num_hashes=16)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # and it truly has no exchange
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

def test_winnowing_guarantee_and_selectivity(spark):
    """Winnowing's detection guarantee: two docs sharing a substring of
    length >= k + window - 1 MUST share at least one fingerprint; docs
    with no long shared run share none; and selection keeps far fewer
    than all positions."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup

    shared = "the quick brown fox jumps over the lazy dog near the river"
    docs = spark.createDataFrame(
        [
            (1, "intro text then " + shared + " and some trailing words"),
            (2, "totally different start " + shared + " different ending"),
            (3, "no overlap here at all just independent content words"),
        ],
        "doc_id long, text string",
    )
    fp = dedup.winnow_fingerprints(docs, k=16, window=8)
    by_doc = {
        r.doc_id: set(r.fps)
        for r in fp.groupBy("doc_id")
        .agg(F.collect_set("fingerprint").alias("fps"))
        .collect()
    }
    assert by_doc[1] & by_doc[2], "shared >=23-char run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # selectivity: far fewer fingerprints than k-gram positions
    n_positions = len(
        "intro text then " + shared + " and some trailing words"
    ) - 15
    assert len(by_doc[1]) < n_positions / 2

    profile = {r.doc_id: r for r in dedup.winnow_span_profile(docs, k=16, window=8).collect()}
    assert profile[1].n_shared > 0 and profile[3].n_shared == 0
    assert profile[3].shared_fraction == 0.0


def test_source_quota_deterministic_cap(spark):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus

    docs = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(100)],
        "doc_id long, source string",
    )
    q = corpus.source_quota(docs, per_source=10, seed=42)
    kept = q.filter("kept").groupBy("source").count().collect()
    assert {r.source: r["count"] for r in kept} == {"s0": 10, "s1": 10, "s2": 10}
    # determinism across reruns
    a = sorted((r.doc_id, r.quota_rank) for r in q.collect())
    b = sorted(
        (r.doc_id, r.quota_rank)
        for r in corpus.source_quota(docs, per_source=10, seed=42).collect()
    )
    assert a == b
    # a source smaller than the quota keeps everything
    small = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id long, source string")
    assert corpus.source_quota(small, per_source=10).filter("kept").count() == 2


def test_term_postings_caps_and_df(spark):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus

    docs = spark.createDataFrame(
        [(i, "common " + ("rare " if i == 0 else "word ") * 3) for i in range(30)],
        "doc_id long, text string",
    )
    idx = {r.term: r for r in corpus.term_postings(docs, min_df=2, max_postings=5).collect()}
    assert "rare" not in idx  # df=1 < min_df
    assert idx["common"].df == 30
    assert len(idx["common"].postings) == 5  # capped
    assert list(idx["common"].postings) == [0, 1, 2, 3, 4]  # sorted ascending
    assert idx["word"].total_tf == 29 * 3


def test_approx_distinct_error_within_bound(spark):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = corpus.approx_distinct_audit(docs, rsd=0.05).collect()
    assert rows
    for r in rows:
        assert r.rel_error <= 0.15, f"{r.source}: rel_error {r.rel_error}"

def test_lsh_band_bucket_cap_drops_hot_keys(spark):
    """A hot band bucket (many identical docs) explodes quadratically;
    max_band_bucket drops those keys while distinct near-dups survive."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup

    hot = [(i, "exact same boilerplate page content repeated everywhere") for i in range(40)]
    near = [
        (100, "a genuinely distinct document about rivers and mountains"),
        (101, "a genuinely distinct document about rivers and mountain"),
    ]
    docs = spark.createDataFrame(hot + near, "doc_id long, text string")
    sig = dedup.minhash_signatures(
        dedup.char_shingles(docs, dedup_shingles=False), num_hashes=16
    )
    uncapped = dedup.lsh_candidate_pairs(sig, 16, 4).count()
    capped = dedup.lsh_candidate_pairs(sig, 16, 4, max_band_bucket=10)
    rows = capped.collect()
    assert uncapped >= 40 * 39 // 2  # the hot cluster's quadratic pairs
    assert (100, 101) in {(r.doc_a, r.doc_b) for r in rows}  # near-dups kept
    assert all(r.doc_a >= 100 for r in rows)  # hot bucket gone


def test_neardup_skewsafe_collapses_exact_dups(spark):
    """Exact duplicates collapse to ONE canonical row before banding;
    the quadratic pair count stays symbolic in pair_weight."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup

    dup_text = "the exact same boilerplate page content repeated"
    docs = spark.createDataFrame(
        [(i, dup_text) for i in range(30)]
        + [
            (200, "some distinct text about oceans and tides and shores"),
            (201, "some distinct text about oceans and tides and shore"),
        ],
        "doc_id long, text string",
    )
    out = dedup.neardup_skewsafe(docs).collect()
    pairs = {(r.doc_a, r.doc_b): r for r in out}
    # no pair between exact copies (they are one canonical doc now)
    assert all(not (a < 30 and b < 30) for a, b in pairs)
    assert (200, 201) in pairs
    r = pairs[(200, 201)]
    assert r.copies_a == 1 and r.copies_b == 1 and r.pair_weight == 1
    # the canonical of the 30-copy cluster carries its weight when paired
    canon_pairs = [r for (a, b), r in pairs.items() if a == 0 or b == 0]
    for r in canon_pairs:
        assert max(r.copies_a, r.copies_b) == 30
        assert r.pair_weight == 30 * min(r.copies_a, r.copies_b)

def test_prepare_corpus_optional_lm_and_quota_gates(spark):
    """lm_floor and per_source_quota compose with the base gates; the
    default call keeps its original output shape."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus, dedup

    rows = [
        (i, "the quick brown fox jumps over the lazy dog again today fine", f"s{i % 2}")
        for i in range(8)
    ] + [
        (100, "zzgibberishqq xylophonequark jjqq wwxx yyzz aabb ccdd eeff gghh iijj", "s0"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pairs = dedup.minhash_similarity(docs)

    # default: unchanged shape (no lm_keep / s_keep columns)
    _, base_flags = corpus.prepare_corpus(docs, pairs)
    assert "lm_keep" not in base_flags.columns and "s_keep" not in base_flags.columns

    clean, flags = corpus.prepare_corpus(
        docs, pairs, lm_floor=-3.5, per_source_quota=2
    )
    fl = {r.doc_id: r for r in flags.collect()}
    assert "lm_keep" in flags.columns and "s_keep" in flags.columns
    # the gibberish doc has rare tokens -> low LM score -> gated out
    assert fl[100].lm_keep is False
    # quota: at most 2 survivors per source among the kept
    kept_ids = {r.doc_id for r in clean.select("doc_id").collect()}
    per_src = {}
    for i in kept_ids:
        src = f"s{i % 2}" if i < 100 else "s0"
        per_src[src] = per_src.get(src, 0) + 1
    assert all(v <= 2 for v in per_src.values())
    assert 100 not in kept_ids

def test_approx_percentile_error_within_bound(spark):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = corpus.approx_percentile_audit(docs, value_col="n_chars").collect()
    assert rows
    for r in rows:
        for p in (50, 90, 99):
            assert r[f"rel_err_p{p}"] <= 0.05, (r["source"], p, r[f"rel_err_p{p}"])


def test_remove_duplicate_blocks_drops_shared_boilerplate(spark):
    """Planted boilerplate: a 50-char block shared by two docs is
    removed from BOTH while each doc's unique prose survives verbatim;
    a doc with no shared tile is untouched; empty docs keep a zero row."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup as D

    boiler = ("subscribe to our newsletter for daily updates now" + " " * 50)[:50]
    assert len(boiler) == 50
    u1 = "alpha bravo charlie delta echo foxtrot golf hotel"[:49]
    u2 = "november oscar papa quebec romeo sierra tango unif"[:49]
    docs = spark.createDataFrame(
        [
            (1, boiler + u1),          # tile1 = boiler (shared), tile2 = u1
            (2, boiler + u2),          # tile1 = boiler (shared), tile2 = u2
            (3, "completely unique prose with no shared passages"),
            (4, "   "),                # whitespace-only -> empty normalized
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.remove_duplicate_blocks(docs, block=50).collect()}
    assert out[1].n_blocks == 2 and out[1].n_dup_blocks == 1
    assert out[1].clean_text == u1
    assert out[2].clean_text == u2
    assert out[3].n_dup_blocks == 0
    assert out[3].clean_text == "completely unique prose with no shared passages"
    assert out[4].n_blocks == 0 and out[4].clean_text == "" and out[4].clean_len == 0


def test_shingle_containment_flags_subsumed_doc(spark):
    """An excerpt doc fully contained in a longer doc gets containment
    1.0 and is named as `contained_doc` even though its union-normalized
    Jaccard is well below any dedup threshold; a disjoint pair scores
    zero on both measures."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup as D

    long_doc = (
        "the quick brown fox jumps over the lazy dog while the rain in "
        "spain stays mainly in the plain and the cat sat on the mat "
        "watching the dog chase the fox across the field all afternoon"
    )
    excerpt = "the rain in spain stays mainly in the plain"
    other = "zzz completely disjoint qqq material vvv"
    docs = spark.createDataFrame(
        [(1, excerpt), (2, long_doc), (3, other)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    out = {(r.doc_a, r.doc_b): r for r in
           D.shingle_containment_pairs(docs, pairs, k=8).collect()}
    sub = out[(1, 2)]
    assert sub.containment == 1.0 and sub.contained_doc == 1
    assert sub.jaccard < 0.5  # union-normalized measure under-scores it
    assert (1, 3) not in out or out[(1, 3)].n_common == 0


def test_remove_boilerplate_ngrams_drops_shared_footer(spark):
    """A 5-gram footer planted in 3 docs of one source is stripped from
    all of them (all covered tokens, including overlap-extended runs);
    unique prose survives in normalized token form; a 2-doc phrase stays
    (below min_docs); short and empty docs pass through."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import extract as E

    footer = "subscribe to our daily newsletter"          # 5 tokens
    rare = "limited time offer ends soon"                 # only in 2 docs
    rows = [
        (1, f"alpha bravo charlie {footer}", "s1"),
        (2, f"delta echo foxtrot {footer} golf", "s1"),
        (3, f"{footer} hotel india juliet", "s1"),
        (4, f"kilo lima mike {rare}", "s1"),
        (5, f"november oscar papa {rare}", "s1"),
        (6, "tiny doc", "s1"),
        (7, "   ", "s1"),
        # same footer in ANOTHER source, only once there -> stays
        (8, f"quebec romeo sierra {footer}", "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.doc_id: r
        for r in E.remove_boilerplate_ngrams(docs, n=5, min_docs=3).collect()
    }
    assert out[1].clean_text == "alpha bravo charlie"
    assert out[1].n_dropped_tokens == 5
    assert out[2].clean_text == "delta echo foxtrot golf"
    assert out[3].clean_text == "hotel india juliet"
    assert out[4].clean_text == f"kilo lima mike {rare}"   # below min_docs
    assert out[6].clean_text == "tiny doc" and out[6].n_dropped_tokens == 0
    assert out[7].n_tokens == 0 and out[7].clean_text == ""
    assert out[8].clean_text == f"quebec romeo sierra {footer}"  # per-source


def test_neardup_decontaminate_flags_planted_leak(spark):
    """A training doc that PARAPHRASES an eval doc (shared prose with a
    few words changed — invisible to exact-hash dedup) must be flagged
    contaminated with a high estimated Jaccard; an unrelated training
    doc reports zero matches and stays clean."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup as D

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain stays mainly in the plain and the cat sat on the mat "
        "watching the dog chase the fox across the field all afternoon"
    )
    leaked = base.replace("afternoon", "evening")  # near-dup, not exact
    clean = (
        "completely unrelated prose about spark catalyst optimizer "
        "plans shuffles broadcasts and adaptive query execution stages "
        "with nothing in common with the benchmark passage at all here"
    )
    evald = spark.createDataFrame([(100, base)], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, leaked), (2, clean)], "doc_id long, text string"
    )
    out = {r.train_doc_id: r for r in D.neardup_decontaminate(train, evald).collect()}
    assert out[1].contaminated and out[1].n_eval_matches == 1
    assert out[1].max_est_jaccard >= 0.5
    assert not out[2].contaminated and out[2].n_eval_matches == 0
    assert out[2].max_est_jaccard == 0.0


def test_mixture_token_budget_lands_within_budget(spark):
    """The token-budget contract: per source, admitted docs consume
    min(target, available) tokens up to one boundary-doc overshoot —
    the last admitted doc STRADDLES the target (tok_before < target <=
    tok_before + n_tokens), never undershoots; tok_before is the exact
    cumulative audit trail; sources outside `shares` are dropped."""
    from collections import defaultdict

    from snowflake_iceberg_cld_bcdr_demo_spark.functions.text import bpe_piece_count
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus
    from snowflake_iceberg_cld_bcdr_demo_spark.sources.testdata import table

    docs = table(spark, SF_SMALL, "documents")
    budget, shares = 3000, {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    out = corpus.mixture_token_budget(docs, budget, shares).collect()
    avail = {
        r.source: r.t
        for r in docs.groupBy("source")
        .agg(F.sum(bpe_piece_count(F.col("text"))).alias("t"))
        .collect()
    }
    per = defaultdict(list)
    for r in out:
        per[r.source].append(r)
    assert set(per) <= set(shares)
    for s, share in shares.items():
        target = int(budget * share)
        rows = sorted(per[s], key=lambda r: r.tok_before)
        # audit trail: tok_before is the exact running sum in admission order
        acc = 0
        for r in rows:
            assert r.tok_before == acc, (s, r)
            acc += r.n_tokens
        if avail[s] <= target:
            assert acc == avail[s], s  # everything admitted
        else:
            last = rows[-1]
            assert last.tok_before < target <= last.tok_before + last.n_tokens
            assert acc < target + last.n_tokens


def test_overlap_block_removal_catches_boundary_straddlers(spark):
    """The two-phase recall claim (round-7 task): a 50-char passage
    planted to STRADDLE the single-phase tile boundary (starting at
    char offset 25, i.e. aligned with phase B) is invisible to
    `remove_duplicate_blocks` but removed by the overlap variant; and
    on the same corpus the two-phase dropped-tile count is a superset
    (>=) of the single-phase count per document."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup as D

    # deterministic filler with no cross-doc repeats (digits vary by doc)
    def filler(tag: str, n: int) -> str:
        return ("".join(f"{tag}{i:03d}." for i in range(200)))[:n]

    passage = ("the quick brown fox jumps over the lazy dog again." * 2)[:50]
    assert len(passage) == 50
    # passage occupies chars [25, 75): straddles the 50-boundary, and is
    # exactly a phase-B window (offset 25) => detected only two-phase
    d1 = filler("aa", 25) + passage + filler("bb", 75)
    d2 = filler("cc", 25) + passage + filler("dd", 75)
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, filler("ee", 150))], "doc_id long, text string"
    )
    single = {r.doc_id: r for r in D.remove_duplicate_blocks(docs, block=50).collect()}
    two = {
        r.doc_id: r
        for r in D.remove_duplicate_blocks_overlap(docs, block=50).collect()
    }
    # single-phase blind: no aligned tile equals across docs
    assert single[1].n_dup_blocks == 0 and single[2].n_dup_blocks == 0
    assert passage in single[1].clean_text
    # two-phase: the straddling window flags BOTH covered tiles (0 and 1)
    assert two[1].n_dup_blocks == 2 and two[2].n_dup_blocks == 2
    assert passage not in two[1].clean_text
    assert two[1].clean_text == d1[100:150]  # tile 2 survives verbatim
    # untouched doc stays intact under both
    assert two[3].n_dup_blocks == 0 and two[3].clean_text == filler("ee", 150)
    # superset property on every doc
    for i in (1, 2, 3):
        assert two[i].n_dup_blocks >= single[i].n_dup_blocks


def test_neardup_clusters_driver_vs_distributed_paths(spark):
    """The driver union-find shortcut and the distributed label
    propagation must produce bit-identical components: chains (long
    paths), a cycle, and singletons, labeled by component min."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup as D

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    # chain 0-1-2-3, cycle 4-5-6-4, pair 7-8; 9..11 singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (6, 4), (7, 8)],
        "doc_a long, doc_b long",
    )
    fast = {r.doc_id: r.cluster_id for r in D.neardup_clusters(docs, pairs).collect()}
    slow = {
        r.doc_id: r.cluster_id
        for r in D.neardup_clusters(docs, pairs, driver_edge_threshold=0).collect()
    }
    assert fast == slow
    assert fast == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 7, 8: 7,
                    9: 9, 10: 10, 11: 11}


def test_dsir_importance_separates_target_like_docs(spark):
    """DSIR sanity: a doc whose bigrams only ever occur in the target
    slice scores a positive mean log ratio, one whose bigrams only occur
    in the source pool scores negative, and short docs (< 2 tokens) get
    NULL with n_grams 0."""
    from pyspark.sql import functions as F

    from snowflake_iceberg_cld_bcdr_demo_spark.operators import corpus as C

    rows = []
    # target slice: 5 docs of "curated prose" bigrams
    for i in range(5):
        rows.append((i, "tgt", "curated encyclopedic prose reads cleanly here"))
    # source pool: 5 docs of junk bigrams
    for i in range(5, 10):
        rows.append((i, "web", "zz1 zz2 zz3 zz4 zz5 zz6 spam spam click here"))
    rows.append((10, "web", "curated encyclopedic prose reads cleanly here"))
    rows.append((11, "web", "zz1 zz2 zz3 zz4 zz5 zz6"))
    rows.append((12, "web", "one"))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.doc_id: r
        for r in C.dsir_importance(docs, F.col("source") == "tgt").collect()
    }
    assert out[10].avg_importance > 0  # looks like the target corpus
    assert out[11].avg_importance < 0  # source-only n-grams
    assert out[10].avg_importance > out[11].avg_importance
    assert out[12].n_grams == 0 and out[12].avg_importance is None


def test_neardup_clusters_string_ids_driver_path(spark):
    """The driver union-find shortcut must honor the generic id_col
    contract (any orderable id type), like the distributed path."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup as D

    docs = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "doc_id string")
    pairs = spark.createDataFrame([("b", "c")], "doc_a string, doc_b string")
    out = {r.doc_id: r.cluster_id for r in D.neardup_clusters(docs, pairs).collect()}
    assert out == {"a": "a", "b": "b", "c": "b", "d": "d"}


def test_neardup_clusters_threshold_boundary(spark):
    """Crossing ``driver_edge_threshold`` mid-corpus must not change the
    result: a pair graph slightly ABOVE the threshold (distributed path,
    reusing the probe-persisted partitions) yields clusters identical to
    the driver union-find (threshold comfortably above the edge count)
    and to the pure-distributed path (threshold 0) — for bigint AND
    string ids (whose row budget auto-shrinks 8x)."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup as D

    n_edges = 40
    # 20 chains of 2 edges each: doc 3i - 3i+1 - 3i+2, plus singletons
    int_pairs = [(3 * i, 3 * i + 1) for i in range(20)] + [
        (3 * i + 1, 3 * i + 2) for i in range(20)
    ]
    int_docs = spark.createDataFrame([(i,) for i in range(65)], "doc_id long")
    ip = spark.createDataFrame(int_pairs, "doc_a long, doc_b long")
    expected = {
        r.doc_id: r.cluster_id
        for r in D.neardup_clusters(int_docs, ip, driver_edge_threshold=0).collect()
    }
    for thr in (n_edges - 5, n_edges, n_edges + 5, 10 * n_edges):
        got = {
            r.doc_id: r.cluster_id
            for r in D.neardup_clusters(
                int_docs, ip, driver_edge_threshold=thr
            ).collect()
        }
        assert got == expected, f"threshold={thr} diverged"

    str_docs = spark.createDataFrame(
        [(f"url-{i:04d}",) for i in range(65)], "doc_id string"
    )
    sp = spark.createDataFrame(
        [(f"url-{a:04d}", f"url-{b:04d}") for a, b in int_pairs],
        "doc_a string, doc_b string",
    )
    s_expected = {
        r.doc_id: r.cluster_id
        for r in D.neardup_clusters(str_docs, sp, driver_edge_threshold=0).collect()
    }
    # 8x shrink: thresholds straddling both n_edges and 8*n_edges
    for thr in (n_edges - 5, n_edges * 8, n_edges * 8 + 50, 10 * n_edges * 8):
        got = {
            r.doc_id: r.cluster_id
            for r in D.neardup_clusters(
                str_docs, sp, driver_edge_threshold=thr
            ).collect()
        }
        assert got == s_expected, f"string threshold={thr} diverged"


def test_winnow_window_one_selects_every_kgram(spark):
    """window=1 degenerates to 'every k-gram hash is a fingerprint' —
    the least-chain needs >= 2 args, so this exercises the direct
    array_distinct branch."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup as D

    docs = spark.createDataFrame([(1, "abcdefgh")], "doc_id long, text string")
    fp = D.winnow_fingerprints(docs, k=4, window=1).collect()
    # 8-char text, k=4 -> 5 k-grams, all distinct -> 5 fingerprints
    assert len(fp) == 5


def test_conjunctive_term_search_requires_all_terms(spark):
    """AND semantics: only docs containing EVERY query term match;
    total_hits counts all occurrences; matching is case-insensitive."""
    docs = spark.createDataFrame(
        [
            (1, "Spark window join spark"),
            (2, "spark join but no w-word"),
            (3, "window join window"),
            (4, "spark window join extra join"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in corpus.conjunctive_term_search(
        docs, ["spark", "window", "join"]).collect()}
    assert set(out) == {1, 4}
    assert out[1].n_terms_matched == 3 and out[1].total_hits == 4
    assert out[4].total_hits == 4


def test_group_split_no_source_straddles(spark, docs):
    """Leakage-free contract: every source lands in exactly one split,
    assignment is deterministic, and all docs of a source share it."""
    out = corpus.group_split(docs).cache()
    per_source = out.groupBy("source").agg(
        F.count_distinct("split").alias("k")
    )
    assert per_source.filter(F.col("k") != 1).count() == 0
    again = corpus.group_split(docs)
    assert sorted(map(tuple, out.select("doc_id", "split").collect())) == \
        sorted(map(tuple, again.select("doc_id", "split").collect()))


def test_nb_quality_classifier_separates_planted_vocabularies(spark):
    """With disjoint vocabularies, the classifier must keep a held-out
    doc written in the TARGET vocabulary and reject one in the raw
    pool's vocabulary; empty docs get NULL log-odds and keep=false."""
    target_words = "curated prose elegant refined scholarly"
    raw_words = "spammy clickbait junk noise garbage"
    rows = (
        [(i, f"{target_words} {target_words}", "good") for i in range(6)]
        + [(10 + i, f"{raw_words} {raw_words}", "web") for i in range(6)]
        + [(100, target_words, "web"),   # held-out: target vocab, raw label
           (101, raw_words, "web"),
           (102, "   ", "web")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in corpus.nb_quality_scores(
        docs, F.col("source") == "good", buckets=64).collect()}
    assert out[100].keep and out[100].nb_logodds > 0
    assert not out[101].keep and out[101].nb_logodds < 0
    assert out[102].nb_logodds is None and not out[102].keep
    assert not out[100].is_target  # scored as pool member, kept anyway


def test_scoring_folds_bounded_state_long_doc(spark):
    """A book-length document (100k tokens) scores through the
    map-lookup fold path — O(1) per-doc aggregation state, no
    explode→regroup — and the unigram fold matches a pure-Python
    position-ordered replay to double precision."""
    import math
    from collections import Counter

    from snowflake_iceberg_cld_bcdr_demo_spark.operators import textops

    long_toks = [f"w{i % 37}" for i in range(100_000)]
    rows = [
        (1, " ".join(long_toks), "web"),
        (2, "curated prose", "good"),
        (3, "junk noise", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = {r.doc_id: r for r in textops.unigram_logprob(docs).collect()}
    c = Counter(long_toks + ["curated", "prose", "junk", "noise"])
    total = 100_004
    acc = 0.0
    for t in long_toks:
        acc += math.log(c[t] / total)
    assert out[1].n_tokens == 100_000
    assert abs(out[1].avg_logprob - acc / 100_000) < 1e-8

    nb = {
        r.doc_id: r
        for r in corpus.nb_quality_scores(docs, F.col("source") == "good").collect()
    }
    assert nb[1].n_tokens == 100_000 and nb[1].nb_logodds is not None
    ds = {
        r.doc_id: r
        for r in corpus.dsir_importance(docs, F.col("source") == "good").collect()
    }
    assert ds[1].n_grams == 99_999 and ds[1].avg_importance is not None


def test_overlap_block_removal_rejects_bad_block(spark):
    """block=1 (stride-zero sequence) and odd blocks (broken window→tile
    index mapping) must fail fast instead of silently dropping wrong
    tiles."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup

    docs = spark.createDataFrame([(1, "abcdef")], "doc_id long, text string")
    for bad in (1, 3, 0, -2):
        with pytest.raises(ValueError, match="even int >= 2"):
            dedup.remove_duplicate_blocks_overlap(docs, block=bad)


def test_conjunctive_term_search_dedupes_query_terms(spark):
    """Duplicate or case-colliding query terms must not make the AND
    unsatisfiable — {Spark, spark, join} means {spark, join}."""
    docs = spark.createDataFrame(
        [(1, "spark join day"), (2, "spark only")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in corpus.conjunctive_term_search(
        docs, ["Spark", "spark", "join"]).collect()}
    assert set(out) == {1}
    assert out[1].n_terms_matched == 2


def test_curated_corpus_chains_gates_and_flags_interactions(spark):
    """The composed pipeline must chain stage outputs: boilerplate
    5-grams are fingerprinted on COLLAPSE OUTPUT, so a shared footer
    whose copies differ only by a collapsible token run is still
    detected; `curated` implies every upstream gate passed."""
    footer = "visit our great site today now"
    good = "curated scholarly prose with many refined words here"
    rows = []
    # 6 curated-target docs (src0) and a raw pool (src1..) sharing a
    # footer that only aligns after run-collapse (doc-specific run lengths)
    for i in range(1, 7):
        rows.append((i, f"{good} number {i}", "src0"))
    for i in range(11, 17):
        run = "spam " * (3 + i % 3)  # collapses to 'spam spam'
        rows.append((i, f"unique web page {i} content {run}{footer}", "src3"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i, _, _ in rows], "vec_id long, embedding array<double>"
    )
    out = corpus.curated_corpus(
        docs, emb, F.col("source") == "src0", 10_000, {"src0": 0.5, "src3": 0.5}
    )
    rows_out = {r.doc_id: r for r in out.collect()}
    assert len(rows_out) == 12
    # the shared footer is boilerplate only because collapse normalized
    # the run: every src3 doc must show dropped boilerplate tokens
    for i in range(11, 17):
        if i % 10 == 0:
            continue
        assert rows_out[i].n_boiler_dropped > 0, i
        assert rows_out[i].n_collapsed > 0, i
    # curated implies all gates passed
    for r in rows_out.values():
        if r.curated:
            assert (not r.is_eval) and r.nb_keep
            assert not r.contaminated and not r.emb_leaked
            assert r.n_mix_tokens > 0
            assert r.split in ("train", "val", "test")


def test_curated_corpus_scrub_gates(spark):
    """The r10 scrub stages of the composed pipeline: ExactSubstr cuts a
    long passage shared by two otherwise-different SURVIVORS (doc-level
    dedup having kept both), PII redactions are counted, a blocklisted
    doc is flagged and never curated, and sub-2*block docs skip the
    ExactSubstr gate entirely (a short shared footer must NOT erase
    whole documents)."""
    # 72+ normalized chars shared; the unique remainders keep the pair
    # below near-dup range (est_jaccard << 0.5) so BOTH survive dedup
    passage = "the quick brown fox jumps over the lazy dog again and over again we go"
    fill_a = " ".join(f"aa{j}" for j in range(60))
    fill_b = " ".join(f"zz{j}" for j in range(60))
    rows = [
        (1, f"{passage} {fill_a}", "s1"),
        (3, f"{passage} {fill_b}", "s3"),
        (5, "please contact user@example.com with code 1234567 and unrelated "
            "prose about curated corpora filling this document nicely", "s5"),
        (7, "spark shuffle broadcast spark shuffle broadcast plus other "
            "filler words keeping this document reasonably long", "s7"),
        (9, "alpha shared footer xyz", "s9"),
        (11, "bravo shared footer xyz", "s11"),
        (10, "held out benchmark text nothing shared with training", "s10"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(1000, 1005)],
        "vec_id long, embedding array<double>",
    )
    shares = {s: 1.0 / 6 for s in ("s1", "s3", "s5", "s7", "s9", "s11")}
    out = {r.doc_id: r for r in corpus.curated_corpus(
        docs, emb, F.col("source") == "s1", 10_000, shares,
        blocklist=["spark", "shuffle", "broadcast"],
    ).collect()}
    # both passage-sharers survived dedup, then ES cut the shared block
    assert out[1].e_keep and out[1].nd_keep and out[3].nd_keep
    assert out[1].es_dropped_chars > 0 and out[3].es_dropped_chars > 0
    assert out[1].curated and out[3].curated  # cut, not dropped
    # PII: one email + one long number counted (and the doc still ships)
    assert out[5].pii_redactions >= 2 and out[5].curated
    # blocklist: 6 whole-word hits > max_hits=2 -> flagged, never curated
    assert out[7].blocklisted and not out[7].curated
    assert not out[5].blocklisted and not out[1].blocklisted
    # sub-100-char docs skip the ExactSubstr gate: the shared footer
    # must not erase them (they still ship)
    assert out[9].es_dropped_chars == 0 and out[11].es_dropped_chars == 0
    assert out[9].curated and out[11].curated
    # eval rows report real per-doc text properties
    assert out[10].is_eval and out[10].es_dropped_chars == 0
    assert not out[10].curated


def test_curated_corpus_staged_equals_lazy(spark, tmp_path):
    """stage_dir (the production materialized-stage-tables posture the
    registry certifies) must be bit-identical to the fully lazy plan."""
    docs = table(spark, SF_SMALL, "documents")
    emb = table(spark, SF_SMALL, "embeddings")
    args = (docs, emb, F.col("source").isin("src0", "src1"),
            5_000, {"src0": 0.5, "src1": 0.3, "src2": 0.2})
    lazy = corpus.curated_corpus(*args)
    staged = corpus.curated_corpus(*args, stage_dir=str(tmp_path / "st"))
    assert sorted(map(tuple, lazy.collect())) == sorted(map(tuple, staged.collect()))


def test_curated_corpus_dedup_gates_drop_planted_dups(spark):
    """Within-corpus dedup: an exact copy keeps only the lowest id
    (e_keep), and a near-copy sharing most shingles is pruned by the
    keep-lowest near-dup rule (nd_keep); eval rows carry true."""
    # each planted pair shares its body between exactly TWO same-source
    # docs — below the boilerplate min_docs=3 threshold, so the shared
    # text survives cleaning and reaches the dedup gates intact
    body_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    body_b = "lambda mu nu xi omicron pi rho sigma tau upsilon " * 4
    rows = [
        (1, body_a + "one", "src0"),
        (2, body_a + "one", "src0"),          # exact dup of 1
        (5, body_b + "unique tail five", "src1"),
        (6, body_b + "other ending six", "src1"),  # near-dup of 5
        (4, "totally unrelated short text", "src2"),
        (10, "held out benchmark text nothing shared", "src3"),  # eval
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i, _, _ in rows], "vec_id long, embedding array<double>"
    )
    out = {r.doc_id: r for r in corpus.curated_corpus(
        docs, emb, F.col("source") == "src0", 10_000,
        {"src0": 0.4, "src1": 0.4, "src2": 0.2}).collect()}
    assert out[1].e_keep and out[1].nd_keep
    assert not out[2].e_keep            # exact copy of 1 dropped
    assert out[5].e_keep and out[5].nd_keep
    assert out[6].e_keep and not out[6].nd_keep  # near-dup of 5 pruned
    assert out[4].e_keep and out[4].nd_keep
    assert out[10].is_eval and out[10].e_keep and out[10].nd_keep
    for r in out.values():
        if r.curated:
            assert r.e_keep and r.nd_keep


def test_curated_corpus_nd_hot_bucket_cap(spark):
    """nd hot-bucket guard: a near-identical cluster larger than
    nd_max_band_bucket is NOT paired (capped-out members stay kept —
    the documented LSH-cap recall trade-off); with a roomy cap the
    keep-lowest rule prunes all but the lowest id.  Each doc sits in
    its own source so the shared body survives boilerplate removal."""
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [(i, body + f"tail {i}", f"src{i}") for i in range(1, 5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i, _, _ in rows], "vec_id long, embedding array<double>"
    )
    shares = {f"src{i}": 0.25 for i in range(1, 5)}
    args = (docs, emb, F.col("source") == "src1", 10_000, shares)
    roomy = {r.doc_id: r.nd_keep for r in corpus.curated_corpus(*args).collect()}
    assert roomy == {1: True, 2: False, 3: False, 4: False}
    capped = {r.doc_id: r.nd_keep for r in corpus.curated_corpus(
        *args, nd_max_band_bucket=2).collect()}
    assert capped == {1: True, 2: True, 3: True, 4: True}


def test_curated_corpus_and_mixture_validate_params(spark):
    """Degenerate parameters fail fast instead of silently producing an
    empty or unpruned corpus."""
    docs = spark.createDataFrame([(1, "a b c", "src0")],
                                 "doc_id long, text string, source string")
    emb = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>")
    import pytest as _pt
    for kw in ({"eval_mod": 1}, {"nb_top_frac": 0.0}, {"nb_top_frac": 1.5},
               {"nd_max_band_bucket": 1}):
        with _pt.raises(ValueError):
            corpus.curated_corpus(docs, emb, F.lit(True), 100, {"src0": 1.0}, **kw)
    with _pt.raises(ValueError, match="negative shares"):
        corpus.mixture_token_budget(docs, 100, {"src0": -0.1})
    with _pt.raises(ValueError, match="token_budget"):
        corpus.mixture_token_budget(docs, -5, {"src0": 1.0})


def test_curated_incremental_admit_gates_planted_batch(spark, tmp_path):
    """The daily re-curation path composed with real curated state: run
    curated_corpus on batch A (staged), then admit batch B against the
    surviving corpus — a planted exact cross-batch duplicate and a
    planted near-duplicate of corpus docs are rejected, a within-batch
    duplicate pair keeps only the lowest id, and a fresh doc is
    admitted under the remaining budget."""
    body = " ".join(f"w{j}" for j in range(40))
    other = " ".join(f"q{j}" for j in range(40))
    docs_a = spark.createDataFrame(
        [
            (1, f"alpha corpus document {body}", "src0"),
            (3, f"bravo corpus document {other}", "src0"),
            # a SHORT curated doc anchors the frozen operating point low
            # enough that short batch docs can clear it (NB log-odds are
            # length-scaled sums)
            (5, "short target note here", "src0"),
            (10, "held out benchmark text nothing shared", "src9"),
        ],
        "doc_id long, text string, source string",
    )
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(1000, 1003)],
        "vec_id long, embedding array<double>",
    )
    shares = {"src0": 1.0}
    state = corpus.curated_corpus(
        docs_a, emb, F.col("source") == "src0", 10_000, shares,
        nb_top_frac=1.0, stage_dir=str(tmp_path / "state"),
    )
    existing = docs_a.join(state.filter("curated").select("doc_id"), "doc_id")
    assert existing.count() == 3  # all three corpus docs curated

    batch = spark.createDataFrame(
        [
            # exact copy of corpus doc 1 (different id)
            (101, f"alpha corpus document {body}", "src0"),
            # near-copy of corpus doc 3: same body, different prefix
            (103, f"charlie corpus document {other}", "src0"),
            # within-batch duplicate pair built FROM CORPUS VOCABULARY
            # (in-model tokens score well above the frozen tau; fresh
            # adjacencies keep the shingle overlap below near-dup range)
            (105, "note here w0 q1 w2 q3 w4 q5 w6 q7 target", "src0"),
            (107, "note here w0 q1 w2 q3 w4 q5 w6 q7 target", "src0"),
            # fresh unique doc, also corpus-vocabulary
            (109, "short document w9 q11 w13 q15 w17 q19 note", "src0"),
            # carries PII + a repeated run + blocklisted terms: the
            # stateless scrub must collapse/redact it, and the blocklist
            # gate must refuse it
            (111, "mail target@example.com code 1234567 spam spam spam "
                  "taboo one taboo two taboo three taboo four", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r.doc_id: r for r in corpus.curated_incremental_admit(
        batch, existing, F.col("source") == "src0", 100_000, shares,
        nb_top_frac=1.0, blocklist=["taboo"], blocklist_max_hits=2,
    ).collect()}
    assert len(out) == 6
    assert out[111].n_collapsed > 0          # spam run collapsed
    assert out[111].pii_redactions >= 2      # email + long number
    assert out[111].blocklisted and not out[111].admitted
    assert not out[109].blocklisted
    assert not out[101].e_keep                     # exact cross-batch dup
    assert not out[103].nd_keep and out[103].e_keep  # near-dup of corpus
    assert out[105].e_keep and not out[107].e_keep   # within-batch pair
    assert not out[101].admitted and not out[103].admitted
    assert not out[107].admitted
    assert out[109].e_keep and out[109].nd_keep
    # the two survivors clear the frozen operating point and the huge
    # budget leaves room: both admitted
    assert out[105].nb_keep and out[109].nb_keep
    assert out[105].admitted and out[109].admitted
    assert out[105].n_mix_tokens > 0


def test_mixture_token_budget_consumed_offset(spark):
    """The consumed offset turns the target into the REMAINING budget:
    with budget*share = 10 and 6 already consumed, admission stops once
    4 tokens are reached; a source at/over target admits nothing."""
    docs = spark.createDataFrame(
        [(i, "tok " * 2, "s0") for i in range(1, 6)]
        + [(i, "tok " * 2, "s1") for i in range(11, 14)],
        "doc_id long, text string, source string",
    )
    consumed = spark.createDataFrame(
        [("s0", 6), ("s1", 99)], "source string, consumed long"
    )
    out = corpus.mixture_token_budget(
        docs, 10, {"s0": 1.0, "s1": 1.0}, consumed=consumed
    ).collect()
    srcs = {r.doc_id: r for r in out}
    assert all(r.source == "s0" for r in out)      # s1 is over budget
    # each doc is 2 BPE-ish pieces... admission walks until tok_before >= 4
    total = sum(r.n_tokens for r in out)
    assert 0 < len(out) <= 3 and total <= 6
    assert all(r.tok_before < 4 for r in out)


def test_curated_corpus_media_gate(spark):
    """The media gate composed into the curated pipeline: docs whose
    attached assets all decode (real synthesized image/audio/video
    containers) pass, a doc carrying a truncated video or a garbage
    image is rejected (media_ok=false, never curated), and docs with no
    assets pass untouched."""
    from snowflake_iceberg_cld_bcdr_demo_spark.multimodal import media as M

    rows = [
        (1, "first document body with plenty of words inside it", "s1"),
        (3, "second document body with different words inside it", "s3"),
        (5, "third document body carrying a broken video asset", "s5"),
        (7, "fourth document body carrying a garbage image asset", "s7"),
        (9, "fifth document body with no media at all attached", "s9"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(1000, 1002)],
        "vec_id long, embedding array<double>",
    )
    img = M.synthesize_decodable_images(spark, 1).select("content").collect()[0][0]
    wav = M.synthesize_decodable_wavs(spark, 1).select("content").collect()[0][0]
    vid = M.synthesize_decodable_videos(spark, 1).select("content").collect()[0][0]
    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(img)),
            (1, "audio", bytearray(wav)),
            (3, "video", bytearray(vid)),
            (5, "video", bytearray(vid[:14])),   # truncated payload
            (7, "image", bytearray(b"not an image at all")),
        ],
        "doc_id long, media_type string, content binary",
    )
    shares = {s: 0.2 for s in ("s1", "s3", "s5", "s7", "s9")}
    out = {r.doc_id: r for r in corpus.curated_corpus(
        docs, emb, F.col("source") == "s1", 10_000, shares,
        media_assets=assets,
    ).collect()}
    assert out[1].media_ok and out[1].curated
    assert out[3].media_ok and out[3].curated
    assert not out[5].media_ok and not out[5].curated
    assert not out[7].media_ok and not out[7].curated
    assert out[9].media_ok and out[9].curated     # no assets -> pass


def test_media_validity_bounds(spark):
    """media_validity direct: every synthesized container passes; bounds
    reject an oversized image and an over-long duration; unknown media
    types are invalid; one bad asset poisons the whole doc (AND-fold)."""
    from snowflake_iceberg_cld_bcdr_demo_spark.multimodal import media as M

    good = (
        M.synthesize_decodable_images(spark, 3)
        .select(F.lit(1).alias("doc_id"), F.lit("image").alias("media_type"), "content")
        .unionByName(
            M.synthesize_decodable_wavs(spark, 3).select(
                F.lit(2).alias("doc_id"), F.lit("audio").alias("media_type"), "content"
            )
        )
        .unionByName(
            M.synthesize_decodable_videos(spark, 3).select(
                F.lit(3).alias("doc_id"), F.lit("video").alias("media_type"), "content"
            )
        )
    )
    ok = {r.doc_id: r.media_ok for r in M.media_validity(good).collect()}
    assert ok == {1: True, 2: True, 3: True}
    # dimension bound: the same images fail when max_dim is tiny
    tight = {r.doc_id: r.media_ok
             for r in M.media_validity(good, max_dim=1).collect()}
    assert tight[1] is False and tight[3] is True  # videos unaffected
    # duration bound: videos are fractions of a second at fps>=10
    short = {r.doc_id: r.media_ok
             for r in M.media_validity(good, min_duration_s=5.0).collect()}
    assert short[3] is False and short[1] is True  # images unaffected
    # unknown media_type and AND-fold poisoning
    img = good.filter("media_type = 'image'").select("content").collect()[0][0]
    mixed = spark.createDataFrame(
        [(9, "image", bytearray(img)), (9, "hologram", bytearray(img))],
        "doc_id long, media_type string, content binary",
    )
    assert M.media_validity(mixed).collect()[0].media_ok is False


def test_curated_incremental_admit_frozen_state_gates(spark):
    """The corpus-STATEFUL scrub gates run against FROZEN state: a batch
    doc carrying the corpus's boilerplate footer has it removed (frozen
    gram table), a batch doc containing a passage that exists ONCE in
    the corpus has it cut (frozen window-hash set — one corpus
    occurrence plus the batch copy IS a duplicate), and a clean batch
    doc is untouched."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import dedup, extract

    footer = "visit our great site today now"
    passage = ("the quick brown fox jumps over the lazy dog again "
               "and over again we go")
    docs_a = spark.createDataFrame(
        [
            (1, f"first unique corpus body alpha beta {footer}", "src0"),
            (2, f"second unique corpus body gamma delta {footer}", "src0"),
            (3, f"third unique corpus body epsilon zeta {footer}", "src0"),
            (4, f"{passage} " + " ".join(f"cu{j}" for j in range(12)), "src0"),
        ],
        "doc_id long, text string, source string",
    )
    grams = extract.boilerplate_grams(docs_a)          # footer grams (3 docs)
    wset = dedup.window_hashes(docs_a)                 # every corpus window
    batch = spark.createDataFrame(
        [
            (201, f"fresh batch report omega kappa {footer}", "src0"),
            (203, f"{passage} " + " ".join(f"nb{j}" for j in range(12)), "src0"),
            (205, "entirely novel words here nothing shared at all", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r.doc_id: r for r in corpus.curated_incremental_admit(
        batch, docs_a, F.lit(True), 100_000, {"src0": 1.0},
        boiler_grams=grams, es_windows=wset,
    ).collect()}
    assert out[201].n_boiler_dropped > 0               # footer removed
    assert out[201].es_dropped_chars == 0
    assert out[203].es_dropped_chars > 0               # corpus passage cut
    assert out[205].n_boiler_dropped == 0
    assert out[205].es_dropped_chars == 0
    assert out[205].e_keep and out[205].nd_keep


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------


def test_bm25_matches_python_reference(spark):
    """bm25_search reproduces the Okapi BM25 formula exactly (same
    tokenization, same Lucene idf, fixed term order): scores, ranks,
    match counts, and doc lengths all agree with a pure-Python replay
    on a planted corpus; docs matching no query term are excluded."""
    import math
    import re

    from snowflake_iceberg_cld_bcdr_demo_spark.operators import textops

    rows = [
        (1, "apple banana cherry"),
        (2, "apple apple apple"),
        (3, "banana banana date kiwi lime"),
        (4, "cherry date egg fig grape melon pear plum"),
        (5, "apple banana apple banana"),
    ]
    terms = ["banana", "apple"]
    out = textops.bm25_search(
        spark.createDataFrame(rows, "doc_id long, text string"),
        terms,
        top_k=10,
    ).collect()

    toks = {i: re.findall(r"\S+", t.lower()) for i, t in rows}
    n = len(rows)
    dl = {i: len(v) for i, v in toks.items()}
    avgdl = sum(dl.values()) / n
    q = sorted(set(terms))

    def ref_score(i: int) -> float:
        s = 0.0
        for t in q:
            tf = toks[i].count(t)
            df = sum(1 for v in toks.values() if t in v)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            s += idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl[i] / avgdl)))
        return s

    matched = [i for i in toks if any(t in toks[i] for t in q)]
    expect = sorted(matched, key=lambda i: (-round(ref_score(i), 8), i))
    assert [r.doc_id for r in out] == expect  # doc 4 (no match) excluded
    assert [r.rank for r in out] == list(range(1, len(expect) + 1))
    for r in out:
        # Spark emits round(score, 8): the replay can differ by up to
        # half an ulp of the 8th decimal
        assert abs(r.score - ref_score(r.doc_id)) < 1e-8
        assert r.dl == dl[r.doc_id]
        assert r.n_matched == sum(1 for t in q if t in toks[r.doc_id])


def test_bm25_rewards_tf_and_penalizes_length(spark):
    """Directional sanity: more occurrences of the query term score
    higher at equal length; equal tf in a longer document scores lower
    (the b·dl/avgdl length normalization); a rarer query term
    contributes more than a ubiquitous one (idf)."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (1, "rare x x x"),
            (2, "rare rare x x"),           # same dl, higher tf -> higher
            (3, "rare x x x y y y y"),      # same tf, longer -> lower
            (4, "common x x x"),
            (5, "common y common z"),
            (6, "common z z z"),
        ],
        "doc_id long, text string",
    )
    s = {
        r.doc_id: r.score
        for r in textops.bm25_search(docs, ["rare", "common"], top_k=10).collect()
    }
    assert s[2] > s[1] > s[3]
    # 'rare' in 3 docs, 'common' in 3 docs of 6 -> same idf; make 'rare'
    # rarer by comparing single-match docs of equal shape
    one_rare = textops.bm25_search(docs, ["rare"], top_k=10).collect()
    one_common = textops.bm25_search(docs, ["common"], top_k=10).collect()
    assert {r.doc_id for r in one_rare} == {1, 2, 3}
    assert {r.doc_id for r in one_common} == {4, 5, 6}


def test_bm25_validates_parameters(spark):
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import textops

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        textops.bm25_search(docs, [])
    with pytest.raises(ValueError):
        textops.bm25_search(docs, ["a"], k1=0.0)
    with pytest.raises(ValueError):
        textops.bm25_search(docs, ["a"], b=1.5)
    # duplicate + mixed-case query terms dedupe to one term
    out = textops.bm25_search(docs, ["A", "a", "A"], top_k=5).collect()
    assert len(out) == 1 and out[0].n_matched == 1


def test_admission_state_path_is_bit_identical(spark, tmp_path):
    """curated_incremental_admit(state=admission_state(...)) — including
    the full round trip of every state table through parquet, and the
    existing_docs=None never-touch-the-corpus posture — produces the
    EXACT same decision trail as recomputing from the corpus."""
    body = " ".join(f"w{j}" for j in range(40))
    other = " ".join(f"q{j}" for j in range(40))
    existing = spark.createDataFrame(
        [
            (1, f"alpha corpus document {body}", "src0"),
            (3, f"bravo corpus document {other}", "src0"),
            (5, "short target note here", "src0"),
            (10, "held out benchmark text nothing shared", "src9"),
        ],
        "doc_id long, text string, source string",
    )
    batch = spark.createDataFrame(
        [
            (101, f"alpha corpus document {body}", "src0"),      # exact dup
            (103, f"charlie corpus document {other}", "src0"),   # near dup
            (105, "note here w0 q1 w2 q3 w4 q5 w6 q7 target", "src0"),
            (109, "short document w9 q11 w13 q15 w17 q19 note", "src0"),
            (201, "unseen source document never vouched", "srcX"),
        ],
        "doc_id long, text string, source string",
    )
    tgt = F.col("source") == "src0"
    kw = dict(nb_top_frac=1.0, blocklist=["taboo"], blocklist_max_hits=2)
    shares = {"src0": 1.0}

    direct = sorted(
        corpus.curated_incremental_admit(
            batch, existing, tgt, 100_000, shares, **kw
        ).collect()
    )

    state = corpus.admission_state(existing, tgt, nb_top_frac=1.0)
    assert set(state) == {
        "fingerprints", "signatures", "consumed", "nb_model", "nb_tau"
    }
    via_state = sorted(
        corpus.curated_incremental_admit(
            batch, existing, tgt, 100_000, shares, state=state, **kw
        ).collect()
    )
    assert via_state == direct

    # existing_docs plus a PARTIAL state: the given tables win and the
    # rest are recomputed from the corpus
    partial = sorted(
        corpus.curated_incremental_admit(
            batch, existing, tgt, 100_000, shares,
            state={k: state[k] for k in ("nb_tau", "consumed")}, **kw
        ).collect()
    )
    assert partial == direct

    # round-trip every table through parquet (map-typed model included),
    # then admit WITHOUT the corpus at all
    reloaded = {}
    for name, df in state.items():
        p = str(tmp_path / name)
        df.write.parquet(p)
        reloaded[name] = spark.read.parquet(p)
    no_corpus = sorted(
        corpus.curated_incremental_admit(
            batch, None, tgt, 100_000, shares, state=reloaded, **kw
        ).collect()
    )
    assert no_corpus == direct
    # the gates actually bound in this fixture
    by_id = {r.doc_id: r for r in no_corpus}
    assert not by_id[101].e_keep
    assert not by_id[103].nd_keep
    assert by_id[105].admitted and by_id[109].admitted
    assert not by_id[201].nb_keep  # unseen source: no frozen tau

    # include_text carries the SCRUBBED batch text for sink appends
    with_text = corpus.curated_incremental_admit(
        batch, None, tgt, 100_000, shares, state=reloaded,
        include_text=True, **kw
    )
    assert with_text.columns[-1] == "text"
    admitted_text = {
        r.doc_id: r.text for r in with_text.filter("admitted").collect()
    }
    assert set(admitted_text) == {105, 109}


def test_admission_state_validation(spark):
    batch = spark.createDataFrame(
        [(1, "a", "s")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError, match="unknown state keys"):
        corpus.curated_incremental_admit(
            batch, batch, F.lit(True), 10, {"s": 1.0}, state={"bogus": batch}
        )
    with pytest.raises(ValueError, match="requires full state"):
        corpus.curated_incremental_admit(
            batch, None, F.lit(True), 10, {"s": 1.0},
            state={"fingerprints": batch},
        )
    with pytest.raises(ValueError, match="need docs to fit"):
        corpus.nb_quality_scores(None, F.lit(True))


def test_admission_embedding_gate_blocks_semantic_duplicates(spark, tmp_path):
    """The semantic admission gate: a batch doc that is LEXICALLY novel
    but whose vector sits on top of a corpus vector is rejected via the
    frozen IVF index (emb_keep=False); a doc with no vector passes the
    gate (no evidence, no veto); the trail gains emb_keep only when the
    gate is armed; misconfiguration fails fast."""
    body = " ".join(f"w{j}" for j in range(40))
    existing = spark.createDataFrame(
        [
            (1, f"alpha corpus document {body}", "src0"),
            (5, "short target note here", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    corpus_vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (5, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    state = corpus.admission_state(
        existing, F.lit(True), nb_top_frac=1.0,
        embeddings=corpus_vecs, emb_centroids=cents,
    )
    assert "emb_index" in state
    # round-trip the index like a real deployment
    p = str(tmp_path / "emb_index")
    state["emb_index"].write.parquet(p)
    state["emb_index"] = spark.read.parquet(p)

    batch = spark.createDataFrame(
        [
            # lexically novel, vector ~ corpus doc 1 -> semantic dup
            (101, "note here w0 target w2 note w4 target w6 here", "src0"),
            # lexically novel, orthogonal vector -> admitted
            (103, "short document w9 target w13 note w17 here w19", "src0"),
            # no vector at all -> gate passes
            (105, "target note w1 here w3 note w5 target w7 doc", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    batch_vecs = spark.createDataFrame(
        [(101, [0.999, 0.01, 0.0]), (103, [0.0, 0.01, 0.999])],
        "doc_id long, embedding array<double>",
    )
    out = {r.doc_id: r for r in corpus.curated_incremental_admit(
        batch, None, None, 100_000, {"src0": 1.0},
        state=state, new_embeddings=batch_vecs, emb_centroids=cents,
        emb_nprobe=1, emb_threshold=0.9,
    ).collect()}
    assert not out[101].emb_keep and not out[101].admitted
    assert out[101].e_keep and out[101].nd_keep  # lexical gates passed
    assert out[103].emb_keep and out[103].admitted
    assert out[105].emb_keep and out[105].admitted

    # gate off -> no emb_keep column, 101 admitted (lexical gates alone)
    plain = corpus.curated_incremental_admit(
        batch, None, None, 100_000, {"src0": 1.0}, state=state,
    )
    assert "emb_keep" not in plain.columns
    assert {r.doc_id for r in plain.filter("admitted").collect()} == {
        101, 103, 105
    }

    with pytest.raises(ValueError, match="embedding gate requires"):
        corpus.curated_incremental_admit(
            batch, None, None, 100_000, {"src0": 1.0},
            state={k: v for k, v in state.items() if k != "emb_index"},
            new_embeddings=batch_vecs, emb_centroids=cents,
        )


def test_phrase_search_positions_and_counts(spark):
    """Exact-phrase adjacency: occurrences counted at every consecutive
    position (including overlapping and repeated-term phrases), 1-based
    first position, scattered-term docs excluded, validation on bad
    phrases."""
    from snowflake_iceberg_cld_bcdr_demo_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (1, "the quick fox and the quick fox again"),
            (2, "quick the fox — scattered, all terms, never adjacent"),
            (3, "prefix the quick fox"),
            (4, "the the the"),          # repeated-term phrase target
            (5, "no match at all"),
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in textops.phrase_search(docs, ["the", "quick", "fox"]).collect()
    }
    assert set(out) == {1, 3}
    assert out[1].n_occurrences == 2 and out[1].first_pos == 1
    assert out[3].n_occurrences == 1 and out[3].first_pos == 2

    rep = {r.doc_id: r for r in textops.phrase_search(docs, ["the", "the"]).collect()}
    assert rep[4].n_occurrences == 2 and rep[4].first_pos == 1  # overlapping

    one = {r.doc_id: r for r in textops.phrase_search(docs, ["fox"]).collect()}
    assert set(one) == {1, 2, 3} and one[1].n_occurrences == 2

    with pytest.raises(ValueError):
        textops.phrase_search(docs, [])
    with pytest.raises(ValueError):
        textops.phrase_search(docs, ["two words"])


def test_admission_state_nonstandard_nb_buckets(spark):
    """A frozen NB model carries its own codebook size: state built with
    buckets != 256 scores batches IDENTICALLY to the recompute path with
    the same buckets — the silent mis-hash a hard-coded score-time 256
    would cause cannot happen (r10 ADVICE)."""
    body = " ".join(f"w{j}" for j in range(40))
    existing = spark.createDataFrame(
        [
            (1, f"alpha corpus document {body}", "src0"),
            (3, "short target note here", "src0"),
            (5, "bravo corpus text entirely different words", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    batch = spark.createDataFrame(
        [
            (101, "note here w0 w2 w4 target fresh", "src0"),
            (103, "completely novel subject matter zzz", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    tgt = F.col("source") == "src0"

    model = corpus.nb_model(existing, tgt, buckets=64)
    assert "_buckets" in model.columns
    # scoring with a WRONG buckets argument: the stored _buckets wins
    frozen = {
        r.doc_id: r.nb_logodds
        for r in corpus.nb_quality_scores(
            None, None, buckets=256, score_docs=batch, model=model
        ).collect()
    }
    inline = {
        r.doc_id: r.nb_logodds
        for r in corpus.nb_quality_scores(
            existing, tgt, buckets=64, score_docs=batch
        ).collect()
    }
    assert frozen == inline

    # end-to-end: admit via buckets=64 state == recompute with nb_buckets=64
    state = corpus.admission_state(existing, tgt, nb_top_frac=1.0, buckets=64)
    via_state = sorted(
        corpus.curated_incremental_admit(
            batch, None, tgt, 100_000, {"src0": 1.0}, state=state,
            nb_top_frac=1.0,
        ).collect()
    )
    direct = sorted(
        corpus.curated_incremental_admit(
            batch, existing, tgt, 100_000, {"src0": 1.0},
            nb_top_frac=1.0, nb_buckets=64,
        ).collect()
    )
    assert via_state == direct


def test_incremental_admit_matches_oracle_at_64_buckets(spark):
    """The admission arithmetic at a non-default NB codebook, checked
    against an independent replay: ``curated_incremental_admit_q`` with
    a 64-bucket NB model and operating points equals its DuckDB oracle
    with the bucket count and the add-alpha smoothing (alpha * buckets)
    rewritten for 64 buckets, and the 256-bucket oracle tells them
    apart."""
    from snowflake_iceberg_cld_bcdr_demo_spark.plans import QUERY_SPECS, pipeline

    from .oracle_compare import compare, duck_connection

    oracle = QUERY_SPECS["curated_incremental_admit"].oracle
    assert oracle.count("% 256") == 2 and oracle.count("128.0") == 4
    docs = table(spark, SF_SMALL, "documents")
    # the query's own staged state (shared with its oracle-parity test),
    # with the two NB tables rebuilt at 64 buckets
    staged = pipeline._admit_state_staged(spark, SF_SMALL, SF_SMALL.strip("/").replace("/", "-"))
    nb64 = corpus.admission_state(
        docs.filter(F.col("doc_id") % 3 != 0), F.col("source").isin("src0", "src1"), buckets=64
    )
    state = {k: v for k, v in staged.items() if k not in ("boiler_grams", "es_windows")}
    got = corpus.curated_incremental_admit(
        docs.filter(F.col("doc_id") % 3 == 0), None, None, 25_000, pipeline._MIX_SHARES,
        blocklist=["spark", "shuffle", "broadcast"],
        boiler_grams=staged["boiler_grams"],
        es_windows=staged["es_windows"],
        state={**state, "nb_model": nb64["nb_model"], "nb_tau": nb64["nb_tau"]},
    ).localCheckpoint()
    duck = duck_connection(SF_SMALL)
    ok, msg = compare(got, duck, oracle.replace("% 256", "% 64").replace("128.0", "32.0"))
    assert ok, msg
    assert not compare(got, duck, oracle)[0]


def test_admission_state_duplicate_fingerprints_no_row_multiplication(spark):
    """A non-distinct (user-maintained) fingerprints table must not
    multiply batch rows through the exact-gate left join: one trail row
    per batch doc, decisions unchanged (r10 ADVICE)."""
    body = " ".join(f"w{j}" for j in range(40))
    existing = spark.createDataFrame(
        [
            (1, f"alpha corpus document {body}", "src0"),
            (3, "short target note here", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    batch = spark.createDataFrame(
        [
            (101, f"alpha corpus document {body}", "src0"),   # exact dup
            (105, "note here w0 w2 w4 target fresh", "src0"),  # fresh
        ],
        "doc_id long, text string, source string",
    )
    tgt = F.col("source") == "src0"
    state = corpus.admission_state(existing, tgt, nb_top_frac=1.0)
    clean = sorted(
        corpus.curated_incremental_admit(
            batch, None, tgt, 100_000, {"src0": 1.0}, state=state,
            nb_top_frac=1.0,
        ).collect()
    )
    dirty = dict(state)
    dirty["fingerprints"] = state["fingerprints"].union(state["fingerprints"])
    out = sorted(
        corpus.curated_incremental_admit(
            batch, None, tgt, 100_000, {"src0": 1.0}, state=dirty,
            nb_top_frac=1.0,
        ).collect()
    )
    assert len(out) == batch.count()
    assert out == clean
