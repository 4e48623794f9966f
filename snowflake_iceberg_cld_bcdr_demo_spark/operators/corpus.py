"""Corpus-preparation operators for training-data pipelines:
eval-set decontamination, fixed-window token chunking, PII redaction,
and sequence packing.

Everything except greedy packing is built-in-function-only (one narrow
codegen stage per step, shuffles only on aggregation keys), so the same
arithmetic can be replayed by the DuckDB oracle.  Greedy packing is an
inherently sequential scan, so it runs as an Arrow-batched
``applyInPandas`` per shard — bounded state, no driver loop.

Reference parity note: the reference pipeline stops at the ad-analytics
view layer (`/root/reference/scripts/10_external_tables.sql:111-152`,
`/root/reference/scripts/15_create_prod_database.sql:93-242`); these
operators are the north-star extensions a pre-training data pipeline
needs on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_ngrams(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word ``n``-grams per document (lowercased, whitespace
    tokens).  1-based ``element_at`` indexing so the SQL oracle's 1-based
    list indexing is the same expression.

    Scale: per-document dedup happens ROW-LOCALLY (``array_distinct``
    before the explode), so producing (doc_id, gram) pairs is a pure
    narrow stage — no ``distinct`` shuffle.  A downstream aggregation by
    doc_id is then the corpus's only wide stage.  At 100 TB gram strings
    could additionally be hashed (xxhash64) before any join to shrink the
    payload — kept as strings here so overlaps are auditable.
    """
    toks = F.col("_toks")
    grams_arr = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    ))
    return (
        docs.select(
            id_col,
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0).alias("_toks"),
        )
        .filter(F.size("_toks") >= n)
        .select(id_col, F.explode(grams_arr).alias("gram"))
    )


def decontaminate(
    docs: DataFrame,
    n: int = 3,
    eval_mod: int = 10,
    threshold: float = 0.2,
) -> DataFrame:
    """N-gram-overlap decontamination of a training corpus against a
    held-out eval split (here: ``doc_id % eval_mod == 0`` — the standard
    benchmark-contamination check, e.g. GPT-3 appendix C).

    Per training document: distinct n-grams, how many also occur anywhere
    in the eval split, the overlap ratio, and a ``contaminated`` flag.

    Scale: the eval n-gram vocabulary is tiny relative to the corpus
    (eval sets are fixed-size), so it broadcasts — the training side is
    never shuffled by gram, only aggregated by doc_id.  Documents with
    fewer than ``n`` tokens have no n-grams and are excluded (their
    contamination is undefined).
    """
    grams = word_ngrams(docs, n=n)
    eval_vocab = grams.filter(F.col("doc_id") % eval_mod == 0).select("gram").distinct()
    train = grams.filter(F.col("doc_id") % eval_mod != 0)
    joined = train.join(
        F.broadcast(eval_vocab.withColumn("_hit", F.lit(1))), "gram", "left"
    )
    ratio = F.col("n_overlap").cast("double") / F.col("n_grams")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_overlap",
            ratio.alias("overlap_ratio"),
            (ratio >= threshold).alias("contaminated"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 40,
    stride: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-window token chunking with overlap (``chunk_tokens`` window,
    ``stride`` step) — the context-window slicing step of a fine-tuning /
    RAG ingestion pipeline.

    Pure generate + narrow map: tokens array → one ``explode`` of the
    chunk-start sequence → ``slice``/``array_join``.  No shuffle at all;
    the output partitioning is the input's, so a downstream write
    parallelizes exactly like the scan.
    """
    toks = F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)
    n = F.size("_toks")
    # floor((n-1)/stride) — double division is exact for these magnitudes.
    last_chunk = F.floor((n - 1) / F.lit(float(stride))).cast("int")
    start = (F.col("chunk_id") * stride + 1).cast("int")
    piece = F.slice(F.col("_toks"), start, chunk_tokens)
    return (
        docs.select(id_col, toks.alias("_toks"))
        .filter(n > 0)
        .select(id_col, "_toks", F.explode(F.sequence(F.lit(0), last_chunk)).alias("chunk_id"))
        .select(
            id_col,
            "chunk_id",
            F.size(piece).alias("n_chunk_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )


#: Ordered redaction rules (applied in sequence; order matters because the
#: long-number rule would otherwise eat digits inside an email local part).
#: Regex constructs restricted to the Java/RE2 common subset.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("long_number", r"[0-9]{6,}", "<NUM>"),
]


def pii_scrub(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Regex PII redaction (emails, long digit runs) with per-rule match
    counts for auditability.  One narrow codegen stage; counts are taken
    against the pre-redaction text, rules applied in declaration order.
    ``keep_cols`` pass document metadata (lang, source, …) through
    unchanged."""
    cols = [F.col(id_col), *[F.col(c) for c in keep_cols]]
    redacted = F.col(text_col)
    for rule, pat, repl in PII_RULES:
        cols.append(F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)).alias(f"n_{rule}"))
        redacted = F.regexp_replace(redacted, pat, repl)
    cols.append(F.length(redacted).alias("clean_len"))
    cols.append(redacted.alias("clean_text"))
    return docs.select(*cols)


def pack_contiguous(
    docs: DataFrame,
    budget_tokens: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    pin: bool = True,
) -> DataFrame:
    """Contiguous-stream sequence packing: documents are laid out in
    ``id`` order as one token stream and assigned to the training sequence
    (bin) where their first token lands — the GPT-style pack-then-slice
    layout.  Documents may straddle a boundary; ``offset_in_bin`` +
    ``n_tokens`` tells the consumer where.

    A global running sum is NOT computed with a global window (a
    ``Window.orderBy`` with no partition key collapses to a
    SinglePartition exchange — the one shape that cannot scale).  Instead
    it is the classic distributed prefix sum:

    1. range-partition + sort by id (parallel sample + range exchange),
    2. partition-local cumulative sums via Arrow ``mapInPandas`` — no
       shuffle, vectorized, carries only (id, n_tokens),
    3. per-partition totals (map-side-combined, ~one row per partition)
       get their own prefix offsets on a driver-sized frame and broadcast
       back — the fact side is never shuffled again.

    The local frame is eagerly local-checkpointed so both plan branches
    (totals + final join) see the SAME partition assignment — re-sampling
    the range exchange per branch (or a recompute after cache eviction)
    could otherwise skew offsets.  Checkpoint blocks are released by the
    context cleaner once the caller drops the returned DataFrame.
    """
    import pandas as pd
    from pyspark.sql import Window

    n_tokens = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0))
    base = (
        docs.select(F.col(id_col), n_tokens.alias("n_tokens"))
        .repartitionByRange(id_col)
        .sortWithinPartitions(id_col)
    )

    def local_cumsum(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen = 0
        for pdf in batches:
            before = pdf["n_tokens"].cumsum().shift(fill_value=0) + seen
            seen = int(before.iloc[-1] + pdf["n_tokens"].iloc[-1]) if len(pdf) else seen
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_tokens": pdf["n_tokens"],
                    "pid": pid,
                    "local_before": before.astype("int64"),
                }
            )

    local = base.mapInPandas(
        local_cumsum, f"{id_col} long, n_tokens int, pid int, local_before long"
    )
    if pin:
        # Pin partition assignment: both plan branches (totals + final
        # join) MUST see the same sampled range boundaries; a re-sample
        # would skew offsets.  ``pin=False`` exists only for plan
        # inspection (checkpointing replaces the lineage with an RDD
        # scan, hiding the range-exchange shape from plan tests).
        local = local.localCheckpoint(eager=True)

    totals = local.groupBy("pid").agg(F.sum("n_tokens").alias("ptotal"))
    pw = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    prefix = totals.select(
        "pid", F.coalesce(F.sum("ptotal").over(pw), F.lit(0)).alias("poffset")
    )
    cum_before = F.col("poffset") + F.col("local_before")
    return (
        local.join(F.broadcast(prefix), "pid")
        .select(
            id_col,
            "n_tokens",
            F.floor(cum_before / F.lit(float(budget_tokens))).cast("bigint").alias("bin_id"),
            (cum_before % budget_tokens).cast("bigint").alias("offset_in_bin"),
        )
    )


def pack_greedy(
    docs: DataFrame,
    budget_tokens: int = 512,
    num_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy first-fit sequence packing WITHOUT splitting documents:
    within each shard, documents are scanned in id order and appended to
    the current bin unless they would overflow ``budget_tokens``, in which
    case a new bin starts.  Documents longer than the budget get a bin of
    their own.

    The scan is inherently sequential, so it runs as Arrow-batched
    ``applyInPandas`` per shard (``doc_id % num_shards``): shards pack
    independently and in parallel, state per task is one running counter —
    the standard scale-out for packing (bins never span shards).  Bin ids
    are ``(shard, bin_in_shard)`` encoded as ``shard * 2^32 + seq``.
    """
    import pandas as pd

    shard = (F.col(id_col) % num_shards).cast("int")
    n_tokens = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0))
    base = docs.select(F.col(id_col), shard.alias("shard"), n_tokens.alias("n_tokens"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins, fill = [], 0
        cur = 0
        for nt in pdf["n_tokens"]:
            if fill > 0 and fill + nt > budget_tokens:
                cur += 1
                fill = 0
            bins.append(cur)
            fill += nt
        pdf["bin_seq"] = bins
        pdf["bin_id"] = pdf["shard"].astype("int64") * (1 << 32) + pdf["bin_seq"]
        return pdf[[id_col, "n_tokens", "bin_id"]]

    return base.groupBy("shard").applyInPandas(
        pack, f"{id_col} long, n_tokens int, bin_id long"
    )


def corpus_flags(docs: DataFrame, near_dup_pairs: DataFrame) -> DataFrame:
    """Per-document keep/drop flags for the three independent dedup/quality
    gates of a pre-training corpus pipeline:

    - ``q_keep`` — passes the rule-based quality filter,
    - ``e_keep`` — canonical (min doc_id) for its exact-text fingerprint,
    - ``c_keep`` — canonical (min doc_id) of its near-dup cluster.

    Gates are computed independently over the full corpus and intersected,
    so the decision for any document is order-free and reproducible —
    shard-parallel with no cross-stage sequencing.

    Scale: the text is scanned ONCE — the dedup fingerprint rides the
    quality filter's projection (``quality_filter(passthrough=...)``),
    which also already emits the token count, so the per-doc scalar
    table (q_keep, fingerprint, n_tokens) is a single narrow codegen
    stage; e_keep is then a window over the fingerprint-sized rows and
    the only join left is the cluster flag (previously three separate
    corpus scans joined on doc_id)."""
    from pyspark.sql import Window

    from ..functions.text import fingerprint
    from . import dedup, textops

    per_doc = textops.quality_filter(
        docs.select("doc_id", "text", fingerprint(F.col("text")).alias("_fp")),
        passthrough=("_fp",),
    ).select("doc_id", "_fp", F.col("keep").alias("q_keep"), "n_tokens")
    flags = per_doc.withColumn(
        "e_keep",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("_fp")),
    ).drop("_fp")
    clusters = dedup.neardup_clusters(docs, near_dup_pairs)
    c = clusters.select(
        "doc_id", (F.col("doc_id") == F.col("cluster_id")).alias("c_keep")
    )
    return flags.join(c, "doc_id").select(
        "doc_id", "q_keep", "e_keep", "c_keep", "n_tokens"
    )


def prepare_corpus(
    docs: DataFrame,
    near_dup_pairs: DataFrame,
    lm_floor: float | None = None,
    per_source_quota: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """INDEPENDENT-GATES corpus preparation: quality gate ∩ exact dedup ∩
    near-dup dedup — optionally ∩ a unigram-LM score floor
    (``lm_floor``: drop docs whose mean ln p(token) under the corpus LM
    is below it; CCNet-style perplexity gating) and ∩ a per-source
    quota (``per_source_quota``: deterministic seeded cap via
    :func:`source_quota`, requires a ``source`` column) — then PII
    scrubbing of the survivors.  Returns ``(clean_docs, flags)`` —
    clean_docs carries ``clean_text`` plus the redaction audit counts;
    flags is the full per-document decision table (gains ``lm_keep`` /
    ``s_keep`` columns only when the matching gate is enabled, so the
    default output shape is unchanged).

    THE canonical shipped-corpus definition is :func:`curated_corpus`
    (the chained pipeline: collapse → boilerplate → dedup → ExactSubstr
    → PII → blocklist → NB → dual decontamination → mixture → split);
    this function is retained as the lightweight building block for the
    simpler, strictly intersect-of-independent-gates posture — every
    gate here is a full-corpus computation over the RAW text,
    intersected at the end — and as the oracle-certified cross-check of
    that composition style.  A new corpus build should start from
    :func:`curated_corpus`.

    Every gate remains an independent full-corpus computation
    intersected at the end — order-free, reproducible, shard-parallel.
    Scrubbing runs LAST so the regex projection only touches survivors
    (dedup fingerprints hash the original text on both engines)."""
    from . import textops

    flags = corpus_flags(docs, near_dup_pairs)
    keep = F.col("q_keep") & F.col("e_keep") & F.col("c_keep")
    if lm_floor is not None:
        lm = textops.unigram_logprob(docs).select(
            "doc_id",
            F.coalesce(F.col("avg_logprob") >= lm_floor, F.lit(False)).alias(
                "lm_keep"
            ),
        )
        flags = flags.join(lm, "doc_id")
        keep = keep & F.col("lm_keep")
    if per_source_quota is not None:
        sq = source_quota(docs, per_source=per_source_quota).select(
            "doc_id", F.col("kept").alias("s_keep")
        )
        flags = flags.join(sq, "doc_id")
        keep = keep & F.col("s_keep")
    kept = flags.filter(keep)
    survivors = docs.join(kept.select("doc_id"), "doc_id")
    meta = tuple(c for c in docs.columns if c not in ("doc_id", "text"))
    return pii_scrub(survivors, keep_cols=meta), flags


def mixture_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    group_col: str = "source",
    id_col: str = "doc_id",
    key_buckets: int = 64,
) -> DataFrame:
    """Deterministic data-mixture sampling: keep a target fraction of each
    source (the mixture-weighting step of corpus assembly — e.g. upweight
    curated sources, downsample web crawl).

    Documents are ranked within their group by ``md5(id)`` — a stable
    pseudo-random order reproducible in any engine — and the top
    ``ceil(fraction × group_size)`` survive.  Exact per-group quotas
    (unlike Bernoulli ``sample()``, which only hits the fraction in
    expectation) and fully deterministic re-runs.

    Scale (skew-proof by construction): a naive
    ``row_number over (partitionBy source)`` forces an entire group —
    worst case ONE giant web-crawl source, i.e. the whole corpus —
    through a single reducer's sort.  Instead this runs the textbook
    distributed selection: the rank key space is RANGE-bucketed by its
    own leading bytes (md5 prefix → ``key_buckets`` monotone buckets), a
    tiny (groups × buckets) count table localizes the quota boundary, and
    the wide ``row_number`` sorts only within (group, key-bucket) —
    ``key_buckets``× finer than the group, so even a single-source corpus
    spreads across the cluster.  Because buckets partition the key space
    in order, ``cum_before + local_rank`` IS the global md5 rank: the
    output is bit-identical to the single-window formulation (the DuckDB
    oracle replays that exact semantic).
    """
    from pyspark.sql import Window

    frac = F.coalesce(
        *[
            F.when(F.col(group_col) == k, F.lit(float(v)))
            for k, v in sorted(fractions.items())
        ],
        F.lit(float(default_fraction)),
    )
    key = F.md5(F.col(id_col).cast("string"))
    # Monotone key-range bucket: md5 hex sorts lexicographically == numerically
    # (fixed 32 lowercase hex chars), and the 16-bit prefix is monotone in it.
    kb = (
        F.conv(F.substring(key, 1, 4), 16, 10).cast("long") * key_buckets / 65536
    ).cast("int")
    tagged = docs.select(F.col(id_col), F.col(group_col), key.alias("_k"), kb.alias("_kb"))

    # Tiny side: per-(group, bucket) counts → cumulative position of each
    # bucket inside its group's global md5 order.  O(groups × key_buckets)
    # rows — broadcastable at any corpus size.
    counts = tagged.groupBy(group_col, "_kb").agg(F.count(F.lit(1)).alias("_nb"))
    wg = Window.partitionBy(group_col)
    wcum = wg.orderBy("_kb").rowsBetween(Window.unboundedPreceding, -1)
    bounds = counts.select(
        group_col,
        "_kb",
        F.coalesce(F.sum("_nb").over(wcum), F.lit(0)).alias("_cum_before"),
        F.sum("_nb").over(wg).alias("n_group"),
    )
    quota = F.ceil(F.col("n_group") * frac).cast("bigint")

    # Wide side: rank only within (group, key-bucket); keep rows whose
    # local rank fits the remaining quota for that bucket.
    wlocal = Window.partitionBy(group_col, "_kb").orderBy("_k", id_col)
    ranked = (
        tagged.join(F.broadcast(bounds), [group_col, "_kb"])
        .withColumn("_lrk", F.row_number().over(wlocal))
        .filter(F.col("_lrk") <= quota - F.col("_cum_before"))
    )
    return ranked.select(
        id_col,
        group_col,
        (F.col("_cum_before") + F.col("_lrk")).cast("int").alias("rk"),
        "n_group",
    )


def mixture_token_budget(
    docs: DataFrame,
    token_budget: int,
    shares: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    key_buckets: int = 64,
    consumed: DataFrame | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Token-budgeted data mixture — :func:`mixture_sample`'s doc-count
    quotas re-expressed in the currency that actually matters for LLM
    training: each source gets ``floor(token_budget × share)`` TOKENS
    (BPE-ish pieces, the same pre-tokenizer the
    ``tokenizer_fertility_by_source`` audit measures), and documents are
    admitted in stable ``md5(id)`` order until the source's token target
    is exhausted (a doc is kept iff the tokens consumed BEFORE it are
    still under target, so the boundary doc may overshoot by less than
    its own size — never undershoot).  This is the fertility coupling the
    doc-count mixture lacks: a piece-dense source (code, numbers,
    non-Latin scripts) fills its share with proportionally FEWER
    documents, automatically.  Sources absent from ``shares`` get target
    0 and are dropped.

    Output per admitted doc: ``(id, group, n_tokens, tok_before)`` where
    ``tok_before`` is the group's exact token consumption before this
    doc in admission order — the full audit trail of the budget walk.

    ``consumed`` is the incremental-admission offset: a
    ``(group_col, consumed)`` frame of tokens ALREADY admitted into the
    corpus per source (one row per source — broadcast-sized metadata).
    Each source's effective target becomes
    ``floor(token_budget × share) − consumed`` — the REMAINING budget —
    so a daily batch fills only what its source has left, and a source
    already at/over target admits nothing.

    Scale (same skew-proof construction as :func:`mixture_sample`): the
    per-source cumulative token sum never funnels a whole source through
    one reducer — the md5 key space is range-bucketed by its leading
    16 bits, a tiny (groups × ``key_buckets``) token-total table
    localizes each bucket's starting offset, and the wide cumulative sum
    runs only within (group, bucket).  ``bucket_offset + local_cumsum``
    IS the global cumulative count, bit-identical to the single-window
    formulation the DuckDB oracle replays."""
    from pyspark.sql import Window

    from ..functions.text import bpe_piece_count

    if token_budget < 0:
        raise ValueError(f"mixture_token_budget: token_budget must be >= 0, got {token_budget}")
    bad = {k: v for k, v in shares.items() if v < 0}
    if bad:
        # a negative share floors to a negative target and silently
        # admits nothing from that source
        raise ValueError(f"mixture_token_budget: negative shares {bad}")

    share = F.coalesce(
        *[
            F.when(F.col(group_col) == k, F.lit(float(v)))
            for k, v in sorted(shares.items())
        ],
        F.lit(0.0),
    )
    target = F.floor(F.lit(float(token_budget)) * share).cast("long")
    key = F.md5(F.col(id_col).cast("string"))
    kb = (
        F.conv(F.substring(key, 1, 4), 16, 10).cast("long") * key_buckets / 65536
    ).cast("int")
    # ``tokens_col`` names a PRECOMPUTED per-doc piece count (must be
    # bpe_piece_count over the same text, computed upstream, and
    # NON-NULL for every row — see the raise_error guard below) so a
    # caller whose trail already carries the count — e.g.
    # curated_corpus, whose flag table would otherwise persist
    # corpus-sized TEXT just to meter tokens here — can keep text out
    # of its artifact entirely.  A NULL count would silently ride the
    # budget walk for free (F.sum skips NULLs in both the bucket totals
    # and the cumulative sum), admitting the doc without consuming
    # budget, so it fails loudly instead.
    tagged = docs.select(
        F.col(id_col),
        F.col(group_col),
        key.alias("_k"),
        kb.alias("_kb"),
        (
            F.coalesce(
                F.col(tokens_col).cast("long"),
                F.raise_error(
                    F.lit(
                        f"mixture_token_budget: NULL in tokens_col "
                        f"{tokens_col!r} — precomputed token counts must "
                        "be non-null for every metered row"
                    )
                ),
            )
            if tokens_col is not None
            else bpe_piece_count(F.col(text_col)).cast("long")
        ).alias("n_tokens"),
    )
    counts = tagged.groupBy(group_col, "_kb").agg(F.sum("n_tokens").alias("_tb"))
    wg = Window.partitionBy(group_col)
    wcum = wg.orderBy("_kb").rowsBetween(Window.unboundedPreceding, -1)
    bounds = counts.select(
        group_col,
        "_kb",
        F.coalesce(F.sum("_tb").over(wcum), F.lit(0)).cast("long").alias("_cumt"),
    )
    wlocal = (
        Window.partitionBy(group_col, "_kb")
        .orderBy("_k", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = tagged.join(F.broadcast(bounds), [group_col, "_kb"])
    if consumed is not None:
        cons = consumed.select(
            F.col(group_col),
            F.col("consumed").cast("long").alias("_consumed"),
        )
        out = out.join(F.broadcast(cons), group_col, "left")
        target = target - F.coalesce(F.col("_consumed"), F.lit(0))
    return (
        out.withColumn(
            "tok_before",
            (
                F.col("_cumt")
                + F.coalesce(F.sum("n_tokens").over(wlocal), F.lit(0))
            ).cast("long"),
        )
        .filter(F.col("tok_before") < target)
        .select(id_col, group_col, "n_tokens", "tok_before")
    )


def incremental_dedup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingestion dedup: drop arriving documents whose
    canonical text already exists in the corpus (exact-fingerprint
    anti-join), then dedup WITHIN the batch (keep min id per
    fingerprint).  The standard admit gate for append-only corpus
    ingestion — new snapshots are checked against the accumulated corpus
    without ever rewriting it.

    Scale: the corpus side reduces to distinct fingerprints (128-bit md5
    — uniformly distributed join keys, no skew); the anti-join shuffles
    fingerprints, not text.  At 100 TB keep the corpus fingerprint table
    as its own compacted lakehouse table (one narrow column) instead of
    refingerprinting the corpus per batch — the operator takes any
    fingerprint-bearing frame via ``existing_docs``.
    """
    from pyspark.sql import Window

    from ..functions.text import fingerprint

    existing_fp = existing_docs.select(
        fingerprint(F.col(text_col)).alias("_fp")
    ).distinct()
    tagged = new_docs.withColumn("_fp", fingerprint(F.col(text_col)))
    fresh = tagged.join(existing_fp, "_fp", "left_anti")
    w = Window.partitionBy("_fp")
    return (
        fresh.withColumn("_keep", F.col(id_col) == F.min(id_col).over(w))
        .filter("_keep")
        .drop("_fp", "_keep")
    )


# --------------------------------------------------------------------------
# Dataset splitting / ordering (train-val-test, global shuffle, curriculum)
# --------------------------------------------------------------------------

#: 2^32 — the md5-prefix hash domain used for portable bucketing
_HASH_DOMAIN = 1 << 32


def _portable_u32(col, seed: int):
    """Deterministic uniform 32-bit integer from (seed, value) — the
    md5-prefix construction every split/sample operator here shares, and
    the DuckDB oracle reproduces verbatim:
    ``conv(substring(md5(concat(seed, ':', v)), 1, 8), 16, 10)``."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    fractions: tuple[tuple[str, float], ...] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's split is a pure
    function of (seed, id) — stable across reruns, re-partitioning, and
    engine versions, so a document never migrates between splits when the
    corpus grows (the property random() splits lack).

    Thresholds are exact integers on the 2^32 hash domain (no float
    comparison at the boundary).  Adds a ``split`` column.

    Scale: zero shuffle — one codegen projection; split sizes converge to
    the requested fractions by hash uniformity (binomial concentration:
    ±0.01% at 1e8 docs)."""
    if abs(sum(f for _, f in fractions) - 1.0) > 1e-9:
        raise ValueError("hash_split: fractions must sum to 1")
    u = _portable_u32(F.col(id_col), seed)
    expr = None
    cum = 0.0
    for name, frac in fractions[:-1]:
        cum += frac
        thresh = int(cum * _HASH_DOMAIN)
        case = F.when(u < thresh, F.lit(name))
        expr = case if expr is None else expr.when(u < thresh, F.lit(name))
    expr = (
        F.lit(fractions[-1][0]) if expr is None else expr.otherwise(F.lit(fractions[-1][0]))
    )
    return df.withColumn("split", expr)


def global_shuffle(df: DataFrame, id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Deterministic global permutation for training-order randomization:
    sort by a seeded hash of the id.  Different seeds give independent
    permutations; the same seed replays the exact order (resumable epochs).

    Scale: a hash sort is a range exchange on uniformly distributed keys —
    perfectly balanced partitions, no skew by construction, and writers
    downstream get the randomized order shard-by-shard without any
    single-point pass.  Adds the ``shuffle_key`` column (kept so samplers
    can range-seek into the permutation)."""
    return df.withColumn(
        "shuffle_key", F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    ).orderBy("shuffle_key", id_col)


def group_split(
    df: DataFrame,
    group_col: str = "source",
    seed: int = 42,
    fractions: tuple[tuple[str, float], ...] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
) -> DataFrame:
    """GROUP-aware (leakage-free) split: the split is a pure hash of
    (seed, GROUP), so every document of a group — a source, a domain,
    a crawl host — lands in the SAME split.  This is the assignment
    that prevents near-duplicate leakage across train/val: doc-level
    hashing (:func:`hash_split`) puts a page and its same-site near
    duplicate in different splits with probability 2·p·(1−p); grouping
    by origin makes that impossible by construction (the
    GroupShuffleSplit discipline).

    Trade-off (documented, inherent): split sizes converge to the
    requested fractions only at the GROUP level — a heavy group drags
    its whole mass into one split, so doc-level fractions have
    group-size variance.  Audit with a per-split rollup before use.

    Scale: zero shuffle — one codegen projection, same portable
    md5-prefix hash as every split/sample operator here."""
    if abs(sum(f for _, f in fractions) - 1.0) > 1e-9:
        raise ValueError("group_split: fractions must sum to 1")
    u = _portable_u32(F.col(group_col), seed)
    expr = None
    cum = 0.0
    for name, frac in fractions[:-1]:
        cum += frac
        thresh = int(cum * _HASH_DOMAIN)
        case = F.when(u < thresh, F.lit(name))
        expr = case if expr is None else expr.when(u < thresh, F.lit(name))
    expr = (
        F.lit(fractions[-1][0]) if expr is None else expr.otherwise(F.lit(fractions[-1][0]))
    )
    return df.withColumn("split", expr)


def stratified_split_flags(
    df: DataFrame,
    strata_col: str = "source",
    frac: float = 0.25,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """EXACT per-stratum selection: within each stratum, rank rows by the
    seeded hash and keep the first ``floor(frac * stratum_size)`` — unlike
    :func:`hash_split`, every stratum hits its quota exactly (the
    guarantee evaluation sets need), at the cost of one shuffle on the
    stratum key.  Adds a boolean ``selected``.

    Scale: one window shuffle on the stratum key; a single giant stratum
    concentrates its rank in one partition — for that shape use
    ``mixture_sample`` (key-range distributed selection) instead."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        _portable_u32(F.col(id_col), seed), F.col(id_col)
    )
    wc = Window.partitionBy(strata_col)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wc))
        .withColumn("selected", F.col("_rk") <= F.floor(F.lit(frac) * F.col("_n")))
        .drop("_rk", "_n")
    )


def curriculum_bins(
    df: DataFrame,
    measure_col: str = "n_chars",
    bin_width: int = 200,
    n_bins: int = 10,
) -> DataFrame:
    """Curriculum-learning difficulty bins: bucket documents by a
    difficulty proxy (length, perplexity score, …) into fixed-width bins
    with the tail capped into the last bin.  Training then samples bins
    easy→hard on a schedule.  Adds an integer ``bin_id``.

    Fixed boundaries (not quantiles) keep the assignment pure per-row —
    zero shuffle, stable as the corpus grows; pair with
    ``event_value_deciles`` when data-driven boundaries are wanted."""
    b = F.floor(F.col(measure_col) / F.lit(bin_width)).cast("int")
    return df.withColumn("bin_id", F.least(b, F.lit(n_bins - 1)))


def source_quota(
    df: DataFrame,
    per_source: int = 50,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-source quota cap (source balancing — the "don't
    let one crawl dominate the mixture" gate): within each source, rank
    documents by a seeded hash of the id and keep the first
    ``per_source``.  Pure function of (seed, id) → stable under reruns
    and corpus growth; the kept set only shrinks/grows at the quota
    boundary.  Adds ``quota_rank`` and ``kept``.

    Scale: one shuffle on the strata column; Spark's WindowGroupLimit
    pushes the ``rank <= N`` cut below the sort, so each partition keeps
    a bounded top-N heap instead of fully sorting — a skewed mega-source
    costs O(n log N), not O(n log n)."""
    from pyspark.sql import Window

    u = _portable_u32(F.col(id_col), seed)
    w = Window.partitionBy(strata_col).orderBy(u, F.col(id_col))
    rank = F.row_number().over(w)
    return df.select(
        id_col,
        strata_col,
        rank.alias("quota_rank"),
        (rank <= per_source).alias("kept"),
    )


def conjunctive_term_search(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Conjunctive (AND) term search — the query side of the
    :func:`term_postings` index skeleton: documents containing EVERY
    term in ``terms`` (case-insensitive whitespace tokens), with each
    term's in-document frequency.  "Which training docs contain all the
    words of this eval phrase" as a selective scan, not a corpus join.

    Output: ``(id, n_terms_matched, total_hits)`` — only full matches
    (``n_terms_matched = len(terms)``); ``total_hits`` sums the
    per-term occurrence counts.

    Scale: the ``term IN (...)`` filter applies IN THE SCAN PROJECTION
    right after the explode (tokens that aren't query terms never
    reach an exchange), so the one doc_id shuffle carries at most
    |terms| rows per document.  Query terms are a literal list —
    nothing to broadcast, nothing quadratic."""
    toks = F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
    ).alias("term")
    # dedupe after lower(): the groupBy collapses per-term matches, so
    # duplicate (or case-colliding) query terms would make
    # n_terms_matched == len(terms) unsatisfiable and silently return
    # zero rows.
    wanted = sorted({t.lower() for t in terms})
    hits = (
        docs.select(F.col(id_col).alias("doc_id"), toks)
        .filter(F.col("term").isin(wanted))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("tf").alias("total_hits"),
        )
        .filter(F.col("n_terms_matched") == len(wanted))
        .select(
            F.col("doc_id").alias(id_col),
            "n_terms_matched",
            F.col("total_hits").cast("long").alias("total_hits"),
        )
    )


def term_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 3,
    max_postings: int = 20,
) -> DataFrame:
    """Inverted-index build: term → (document frequency, first
    ``max_postings`` doc ids ascending).  The skeleton of scalable
    decontamination/search — "which training docs contain this eval
    phrase" becomes a postings lookup instead of a corpus scan.

    Scale: tokens reduce to DISTINCT (term, doc) pairs map-side before
    the ONE term shuffle; posting ids are rank-cut BEFORE aggregation
    (``row_number() <= max_postings`` per term — collect_list skips the
    NULLed tail), so a stopword term in 10⁹ docs contributes at most
    ``max_postings`` elements to any reducer array — the window's sort
    spills, an array cannot.  The window and the groupBy share the same
    term partitioning, so the cap costs no extra exchange; df/total_tf
    keep the true uncapped counts.  ``min_df`` drops the hapax tail
    (typically ~half the vocabulary) from the index."""
    from pyspark.sql import Window

    pairs = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.expr(rf"regexp_extract_all(lower({text_col}), '\\S+', 0)")
            ).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    rk = F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    return (
        pairs.withColumn("_rk", rk)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rk") <= max_postings, F.col("doc_id"))
                )
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def approx_distinct_audit(
    docs: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
    rsd: float = 0.05,
) -> DataFrame:
    """Sketch-vs-exact distinct audit per stratum: HyperLogLog++
    (``approx_count_distinct``, mergeable O(1)-memory sketch — the only
    way to count distincts on 100 TB without a full shuffle of the
    distinct values) next to the exact count, with the relative error —
    the trust-but-verify harness a pipeline runs at small scale before
    relying on sketches at large scale.

    Rows-only by design: Spark's HLL sketch is not reproducible in
    DuckDB; the error bound (~1.04/sqrt(2^p), here rsd) is asserted in
    pytest against the exact twin."""
    digest = F.md5(F.col(text_col))
    return docs.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(digest).alias("exact_distinct"),
        F.approx_count_distinct(digest, rsd).alias("approx_distinct"),
    ).select(
        strata_col,
        "n_docs",
        "exact_distinct",
        "approx_distinct",
        F.round(
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_error"),
    )


def approx_percentile_audit(
    df: DataFrame,
    value_col: str,
    strata_col: str = "source",
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-vs-exact percentile audit per stratum: t-digest-style
    ``approx_percentile`` (mergeable, fixed-memory — the only way to
    get tail quantiles on 100 TB without sorting a stratum) next to the
    exact ``percentile_disc`` values, with the relative error per
    probed quantile — the same trust-but-verify harness as
    :func:`approx_distinct_audit`, for quantiles.

    Rows-only by design (Spark's digest is not DuckDB-reproducible);
    the error bound is pytest-asserted against the exact twin."""
    ps = list(percentiles)
    exact = [
        F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY {value_col})"
        ).alias(f"exact_p{int(p * 100)}")
        for p in ps
    ]
    approx = [
        F.percentile_approx(value_col, p, accuracy).alias(
            f"approx_p{int(p * 100)}"
        )
        for p in ps
    ]
    out = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_rows"), *exact, *approx
    )
    errs = [
        F.round(
            F.abs(
                F.col(f"approx_p{int(p * 100)}") - F.col(f"exact_p{int(p * 100)}")
            )
            / F.abs(F.col(f"exact_p{int(p * 100)}")),
            6,
        ).alias(f"rel_err_p{int(p * 100)}")
        for p in ps
    ]
    return out.select(strata_col, "n_rows", *[
        c for p in ps for c in (
            F.col(f"exact_p{int(p * 100)}"), F.col(f"approx_p{int(p * 100)}")
        )
    ], *errs)


def approx_percentile_bound_audit(
    df: DataFrame,
    value_col: str,
    strata_col: str = "source",
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 10_000,
    rank_margin: float = 2.0,
) -> DataFrame:
    """Deterministic (oracle-checkable) form of
    :func:`approx_percentile_audit`: the sketch internals are not
    reproducible across engines, but the EXACT percentiles and the
    bound-check VERDICT are.  ``percentile_approx(v, p, accuracy)``
    guarantees rank error ≤ n/accuracy, so the returned element must lie
    between the exact ``percentile_disc`` values at ``p ± margin`` where
    ``margin = rank_margin/accuracy`` (rank_margin=2 doubles the
    contractual slack).  Emits the exact sides plus one boolean
    ``within_bound`` — a sketch whose error ever exceeded the contract
    flips the boolean and fails the hash oracle."""
    ps = list(percentiles)
    tags = [int(p * 100) for p in ps]
    delta = rank_margin / accuracy
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for p, tag in zip(ps, tags):
        lo, hi = max(0.0, p - delta), min(1.0, p + delta)
        aggs += [
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY {value_col})"
            ).alias(f"exact_p{tag}"),
            F.expr(
                f"percentile_disc({lo}) WITHIN GROUP (ORDER BY {value_col})"
            ).alias(f"_lo{tag}"),
            F.expr(
                f"percentile_disc({hi}) WITHIN GROUP (ORDER BY {value_col})"
            ).alias(f"_hi{tag}"),
            F.percentile_approx(value_col, p, accuracy).alias(f"_ap{tag}"),
        ]
    out = df.groupBy(strata_col).agg(*aggs)
    ok = F.lit(True)
    for tag in tags:
        ok = ok & (F.col(f"_ap{tag}") >= F.col(f"_lo{tag}")) & (
            F.col(f"_ap{tag}") <= F.col(f"_hi{tag}")
        )
    # percentile_disc returns DOUBLE in Spark but the INPUT's type in
    # DuckDB; since it selects an actual element of the input, casting
    # back to the input column's type is lossless and keeps the oracle
    # hash (driver repr() semantics: 196 != 196.0) type-aligned.
    vtype = df.schema[value_col].dataType
    return out.select(
        strata_col,
        "n_rows",
        *[F.col(f"exact_p{tag}").cast(vtype).alias(f"exact_p{tag}") for tag in tags],
        ok.alias("within_bound"),
    )


def dsir_importance(
    docs: DataFrame,
    target_filter,
    buckets: int = 64,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al.
    2023): score every document by how much more likely its hashed
    word-bigram features are under a TARGET distribution (a trusted
    high-quality slice, ``target_filter``) than under the raw SOURCE
    pool (everything else) — the standard importance weight
    ``Σ_grams log p_target(bucket) / p_source(bucket)`` used to
    up-sample web data that "looks like" the curated corpus.

    Features are md5-hashed bigram buckets (portable, fixed ``buckets``
    dimensionality as in the paper's hashed n-gram model), both
    distributions add-α smoothed.  One row per doc:
    ``(id, n_grams, avg_importance)`` — the mean per-gram log ratio,
    NULL for docs with fewer than two tokens.

    Float determinism: the bucket log-ratio is a single fixed
    arithmetic shape (one multiply each side, one division, one ln),
    the per-doc sum folds in EXPLICIT position order, and the mean
    divides once — bit-identical cross-engine (the unigram-LM
    precedent).

    Scale: bucket histograms are ONE map-side-combined shuffle each of
    O(buckets) output; the trained log-ratio table folds into a
    ONE-ROW broadcast ``map_from_entries`` map and scoring is a single
    NARROW projection — ``F.aggregate`` over each doc's own bigram
    array with map lookups, O(1) aggregation state per doc regardless
    of document length and ZERO scoring shuffles (no explode → join →
    regroup round trip).  The fold runs left-to-right over the gram
    array, the exact position order of the former sorted-struct fold —
    same bits, same oracle."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
    grams_arr = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("_toks", i), F.element_at("_toks", i + 1)
        ),
    )

    def bucket(c):
        return F.pmod(
            F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long"),
            F.lit(buckets),
        )

    tagged = docs.select(
        F.col(id_col).alias("doc_id"),
        # NULL predicate (e.g. NULL source) counts as SOURCE, matching
        # the oracle's CASE WHEN ... ELSE — a doc not provably in the
        # target slice belongs to the raw pool
        F.coalesce(target_filter, F.lit(False)).alias("_is_target"),
        toks.alias("_toks"),
    )
    base = (
        tagged.filter(F.size("_toks") >= 2)
        .select("_is_target", F.explode(grams_arr).alias("gram"))
        .select("_is_target", bucket(F.col("gram")).alias("b"))
    )
    hist = base.groupBy("b").agg(
        F.sum(F.col("_is_target").cast("long")).alias("ct"),
        F.sum((~F.col("_is_target")).cast("long")).alias("cs"),
    )
    tot = hist.agg(
        F.sum("ct").alias("tt"), F.sum("cs").alias("ts")
    )
    ab = float(alpha * buckets)
    ratio = (
        (F.col("ct").cast("double") + F.lit(float(alpha)))
        * (F.col("ts").cast("double") + F.lit(ab))
    ) / (
        (F.col("cs").cast("double") + F.lit(float(alpha)))
        * (F.col("tt").cast("double") + F.lit(ab))
    )
    model_map = (
        hist.crossJoin(F.broadcast(tot))
        .select("b", F.log(ratio).alias("lr"))
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("b", "lr")))
            ).alias("_mm")
        )
    )
    fold = F.aggregate(
        F.transform(grams_arr, lambda g: F.element_at("_mm", bucket(g))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n_grams = F.when(F.size("_toks") >= 2, F.size("_toks") - 1).otherwise(0)
    return tagged.crossJoin(F.broadcast(model_map)).select(
        "doc_id",
        n_grams.cast("long").alias("n_grams"),
        F.round(
            F.when(F.size("_toks") >= 2, fold) / n_grams, 8
        ).alias("avg_importance"),
    )


def _nb_model_parts(
    docs: DataFrame,
    target_filter,
    buckets: int,
    alpha: float,
    text_col: str,
    id_col: str,
    passthrough: tuple[str, ...] = (),
):
    """The two one-row NB model frames: ``(_mm, _oov)`` (the bucketed
    log-odds map plus the out-of-vocabulary smoothed weight) and
    ``(log_prior,)``.  Shared by :func:`nb_quality_scores` (inline fit)
    and :func:`nb_model` (the persistable frozen-model artifact)."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)

    def bucket(c):
        return F.pmod(
            F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long"),
            F.lit(buckets),
        )

    tagged = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(target_filter, F.lit(False)).alias("_is_target"),
        *[F.col(c) for c in passthrough],
        toks.alias("_toks"),
    )
    base = (
        tagged.filter(F.size("_toks") >= 1)
        .select("_is_target", F.explode("_toks").alias("tok"))
        .select("_is_target", bucket(F.col("tok")).alias("b"))
    )
    hist = base.groupBy("b").agg(
        F.sum(F.col("_is_target").cast("long")).alias("ct"),
        F.sum((~F.col("_is_target")).cast("long")).alias("cs"),
    )
    tot = hist.agg(F.sum("ct").alias("tt"), F.sum("cs").alias("ts"))
    ab = float(alpha * buckets)
    lo = F.log(
        (
            (F.col("ct").cast("double") + F.lit(float(alpha)))
            * (F.col("ts").cast("double") + F.lit(ab))
        )
        / (
            (F.col("cs").cast("double") + F.lit(float(alpha)))
            * (F.col("tt").cast("double") + F.lit(ab))
        )
    )
    # the OOV log-odds: a bucket with zero observed tokens still has a
    # well-defined smoothed weight ln((ts+αB)/(tt+αB)) — scoring an
    # external frame (score_docs) can hit buckets the training corpus
    # never populated; self-scoring always hits the map
    lo0 = F.log(
        (F.col("ts").cast("double") + F.lit(ab))
        / (F.col("tt").cast("double") + F.lit(ab))
    )
    model_map = (
        hist.crossJoin(F.broadcast(tot))
        .select("b", lo.alias("lo"), lo0.alias("lo0"))
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("b", "lo")))
            ).alias("_mm"),
            F.first("lo0").alias("_oov"),
        )
        # the codebook size rides IN the artifact: a persisted model
        # scores later batches with ITS OWN bucket count, so a
        # mismatched `buckets` argument can't silently mis-hash tokens
        .withColumn("_buckets", F.lit(int(buckets)).cast("long"))
    )
    prior = tagged.agg(
        F.log(
            (F.sum(F.col("_is_target").cast("long")).cast("double") + F.lit(float(alpha)))
            / (
                F.sum((~F.col("_is_target")).cast("long")).cast("double")
                + F.lit(float(alpha))
            )
        ).alias("log_prior")
    )
    return tagged, model_map, prior


def nb_model(
    docs: DataFrame,
    target_filter,
    buckets: int = 256,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """THE Naive Bayes quality model as one persistable row:
    ``(_mm map<long,double>, _oov double, log_prior double)`` — the
    exact frames :func:`nb_quality_scores` fits inline, cross-joined.
    Write it to parquet / a lakehouse table at corpus-ship time and pass
    it back via ``nb_quality_scores(..., model=)`` (or
    ``curated_incremental_admit(state=...)``) to score any later batch
    WITHOUT rescanning the training corpus — the frozen-model posture
    of a daily admission pipeline.  The codebook size is stored IN the
    row (``_buckets``) and scoring re-derives the token hash from it,
    so a model built with any ``buckets`` scores correctly regardless
    of the ``buckets`` argument passed at score time."""
    _, model_map, prior = _nb_model_parts(
        docs, target_filter, buckets, alpha, text_col, id_col
    )
    return model_map.crossJoin(prior)


def nb_quality_scores(
    docs: DataFrame | None,
    target_filter,
    buckets: int = 256,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_docs: DataFrame | None = None,
    model: DataFrame | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Model-based quality FILTERING (the GPT-3 appendix-A classifier
    stage, closed-form): train a Naive Bayes classifier distinguishing
    a trusted TARGET slice (``target_filter`` — the curated corpus)
    from the raw pool on hashed unigram features, then score every
    document with its class log-odds and emit a ``keep`` decision
    (log-odds > 0, i.e. the doc looks more curated than raw).

    This differs from :func:`dsir_importance` exactly the way a
    classifier differs from importance weighting: a CLASS PRIOR enters
    the score (log of the smoothed doc-count ratio), the decision is a
    hard keep flag rather than a resampling weight, and features are
    unigrams (the fastText-classifier convention) rather than bigrams.
    Training is closed-form counting — no iterations, no optimizer —
    so the ENTIRE train→score path is one deterministic plan the
    DuckDB oracle replays (md5 buckets, add-α smoothing,
    position-ordered log folds).

    Output per doc: ``(id, is_target, n_tokens, nb_logodds, keep)``;
    docs with no tokens get NULL log-odds and keep=false.

    ``score_docs`` freezes the model: train on ``docs`` (full fit, same
    bits) but score ``score_docs`` instead — the incremental-admission
    posture where a daily batch is scored against the classifier the
    shipped corpus was built with, without refitting.  In that mode the
    output drops ``is_target`` (the scored frame has no training
    label): ``(id, n_tokens, nb_logodds, keep)``.

    Scale: training is one map-side-combined O(buckets) histogram
    shuffle; the trained model folds into a ONE-ROW broadcast
    ``map_from_entries`` map (THE model: the classifier is a
    broadcastable 256-entry table), and scoring is a single NARROW
    projection — ``F.aggregate`` over each doc's own token array with
    map lookups, O(1) aggregation state per doc regardless of document
    length (a book-length 1M-token doc costs nothing extra) and ZERO
    scoring shuffles (no explode → join → regroup round trip).  The
    prior is an O(1) aggregate cross-joined as a broadcast literal —
    nothing collects.  The fold runs left-to-right over the token
    array, the exact position order of the former sorted-struct fold —
    same bits, same oracle.

    ``model`` (a :func:`nb_model` row, typically reloaded from parquet)
    skips the fit entirely: the training corpus is NEVER scanned — the
    frozen-artifact posture of incremental admission.  Must have been
    built with the same ``buckets``; ``docs``/``target_filter`` may be
    None when both ``model`` and ``score_docs`` are given.

    ``passthrough`` carries the named columns of the scored frame
    (``score_docs`` when given, else ``docs``) through to the output
    unchanged, so a caller can CHAIN the scoring as additional columns
    instead of joining the scores back by id — the scoring itself is a
    broadcast-model projection, so the chained form adds zero
    shuffles."""
    if model is None and docs is None:
        raise ValueError("nb_quality_scores: need docs to fit when model is None")
    if model is not None and score_docs is None and docs is None:
        raise ValueError("nb_quality_scores: nothing to score")
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
    # A frozen model built by :func:`nb_model` carries its own codebook
    # size (`_buckets`); score with THAT, not the `buckets` argument —
    # a mismatched argument would silently re-hash tokens into the
    # wrong buckets and degrade every score.  Models persisted before
    # the column existed fall back to the argument (legacy contract).
    model_buckets = (
        F.col("_buckets")
        if model is not None and "_buckets" in model.columns
        else F.lit(buckets)
    )

    def bucket(c):
        return F.pmod(
            F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long"),
            model_buckets,
        )

    if model is None:
        # passthrough names columns of the SCORED frame: they ride the
        # fit frame only when the fit frame is what gets scored
        tagged, model_map, prior = _nb_model_parts(
            docs, target_filter, buckets, alpha, text_col, id_col,
            passthrough if score_docs is None else (),
        )
    else:
        tagged = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.coalesce(target_filter, F.lit(False)).alias("_is_target"),
                *[F.col(c) for c in passthrough],
                toks.alias("_toks"),
            )
            if score_docs is None
            else None
        )
    fold = F.aggregate(
        F.transform(
            F.col("_toks"),
            lambda t: F.coalesce(F.element_at("_mm", bucket(t)), F.col("_oov")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    logodds = F.when(F.size("_toks") >= 1, F.col("log_prior") + fold)
    scored = (
        tagged
        if score_docs is None
        else score_docs.select(
            F.col(id_col).alias("doc_id"),
            *[F.col(c) for c in passthrough],
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(r"\S+"), 0
            ).alias("_toks"),
        )
    )
    label = [F.col("_is_target").alias("is_target")] if score_docs is None else []
    with_model = (
        scored.crossJoin(F.broadcast(model_map)).crossJoin(F.broadcast(prior))
        if model is None
        else scored.crossJoin(F.broadcast(model))
    )
    return (
        with_model
        .select(
            "doc_id",
            *label,
            *passthrough,
            # regexp_extract_all of a NULL text yields NULL, not []:
            # coalesce keeps the documented "docs with no tokens get 0"
            # contract (and the oracle's coalesce(n_tokens, 0)) intact
            F.coalesce(F.size("_toks"), F.lit(0)).cast("long").alias("n_tokens"),
            F.round(logodds, 8).alias("nb_logodds"),
            F.coalesce(logodds > 0, F.lit(False)).alias("keep"),
        )
    )


def curated_corpus(
    docs: DataFrame,
    embeddings: DataFrame,
    nb_target,
    token_budget: int,
    shares: dict[str, float],
    eval_mod: int = 10,
    nb_top_frac: float = 0.6,
    nd_max_band_bucket: int = 200,
    emb_threshold: float = 0.9,
    es_block: int = 50,
    blocklist: list[str] | None = None,
    blocklist_max_hits: int = 2,
    media_assets: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    stage_dir: str | None = None,
) -> DataFrame:
    """THE composed curation pipeline — the end-to-end artifact a corpus
    build actually ships, chaining the gates in dependency order so
    gate interactions are part of the certified contract (each stage
    sees the TEXT THE PREVIOUS STAGE PRODUCED, not the raw corpus):

    1. intra-doc repetition collapse (:func:`.textops.collapse_repetitions`),
    2. per-source boilerplate n-gram removal on the collapsed text
       (:func:`.extract.remove_boilerplate_ngrams`),
    3. WITHIN-CORPUS dedup of the cleaned train split: exact-duplicate
       collapse (keep the min id per cleaned-text fingerprint) followed
       by near-dup pruning among the exact-survivors — a MinHash/LSH
       band self-join where a doc is dropped iff a LOWER-id
       exact-survivor shares a band at est_jaccard ≥ 0.5 (keep-lowest
       pairwise pruning).  Band skew is double-guarded:
       exact-collapse-first (:func:`.dedup.neardup_skewsafe`'s
       discipline) removes identical clusters, and band buckets larger
       than ``nd_max_band_bucket`` are dropped before the self-join
       (:func:`.dedup.lsh_candidate_pairs`' hot-bucket cap — a
       near-identical TEMPLATED cluster exact dedup can't collapse
       would otherwise go quadratic; capped-out members stay kept,
       the documented LSH-cap recall trade-off),
    4. two-phase ExactSubstr block removal over the SHIPPED universe —
       the dedup survivors plus the eval docs, cleaned text
       (:func:`.dedup.remove_duplicate_blocks_overlap`, ``es_block``-char
       tiles, duplicate windows at stride block/2): residual
       cross-document duplicated passages are CUT OUT of the text
       rather than dropping whole documents — the Lee-et-al. complement
       to document-level dedup, run AFTER it (the RefinedWeb ordering:
       doc dedup keeps one canonical copy first; ES-first would excise
       duplicated text from EVERY copy, destroying all of them and
       blinding the near-dup gate).  Eval docs sit in the detector
       corpus, so a train passage copied verbatim from an eval doc is
       also removed here.  Only docs with >= ``2*es_block`` normalized
       chars enter the gate (for a sub-block doc the covering tile IS
       the whole document, so a short shared footer would erase it
       entirely; short-doc duplication is doc-level dedup's job).  The
       output text is the NORMALIZED form (lowercased, whitespace-
       collapsed) for ALL docs — every downstream gate normalizes
       anyway,
    5. PII redaction on the deduplicated text (:func:`pii_scrub` —
       emails / IPv4 / long digit runs → typed placeholder tokens),
       counted per doc as ``pii_redactions``,
    6. term-blocklist screening of the shipped text
       (:func:`.textops.blocklist_hits`, whole-word case-insensitive;
       ``blocklist=None`` disables the gate but keeps the
       ``blocklisted`` column, all-false) — screening runs AFTER
       redaction so placeholder tokens can't mask listed terms
       (the listed terms are words, not PII patterns),
    7. model-based quality SELECTION on the scrubbed text: the NB
       classifier (:func:`nb_quality_scores`, target = ``nb_target``)
       scores every doc, and each source keeps its top ``nb_top_frac``
       fraction by score (rank on the 8-dp-rounded log-odds, ties to
       the lower id, NULL-scored docs never kept) — the GPT-3-style
       score-ranking filter; a hard posterior cut would be dominated
       by the class prior on weak-signal corpora, while per-source
       ranking adapts to the actual score distribution AND preserves
       source diversity.  The classifier trains on the full scrubbed
       corpus (survivors + eval) — gates stay independent computations
       intersected at the end, the :func:`prepare_corpus` discipline,
    8. near-dup decontamination of the scrubbed train split against the
       RAW eval split (``id % eval_mod == 0``; benchmarks are external
       artifacts, never cleaned) — :func:`.dedup.neardup_decontaminate`,
    9. embedding-space decontamination of the same train/eval split
       (:func:`.similarity.embedding_decontaminate_ivf` — the IVF-probed
       variant (8 seed cells, nprobe 2): the exact broadcast-NLJ's
       |train|×|eval| term is QUADRATIC in scale-up and measured
       2.28×-over-linear at the sf1 spot; with < 2 centroids available
       the exact operator is used instead.  ``embeddings`` keyed by
       ``vec_id == doc_id``; docs without a vector pass),
    9b. media validity (``media_assets``: an optional
       ``(doc_id, media_type, content)`` asset frame — docs whose
       attached image/audio/video assets fail their container checks or
       dimension/duration bounds are rejected via
       :func:`..multimodal.media.media_validity`; docs with no assets
       pass, and ``media_assets=None`` keeps the ``media_ok`` column
       all-true so the trail schema is parameter-independent),
    10. token-budgeted mixture over the surviving docs' SCRUBBED text
       (:func:`mixture_token_budget`), and
    11. group-aware leakage-free split assignment (:func:`group_split`).

    Output: ONE ROW PER INPUT DOC — the full per-document decision
    trail ``(id, group, is_eval, n_raw_tokens, n_collapsed,
    n_boiler_dropped, es_dropped_chars, pii_redactions, e_keep,
    nd_keep, nb_keep, contaminated, emb_leaked, blocklisted, media_ok,
    curated, n_mix_tokens, split)``; ``curated`` means admitted by the mixture
    (which implies every upstream gate passed), ``n_mix_tokens`` the
    BPE-ish pieces the admission metered, ``es_dropped_chars`` the
    normalized-text characters ExactSubstr cut, ``pii_redactions`` the
    summed redaction count across the PII rules.  Eval docs carry
    ``e_keep``/``nd_keep`` = true (dedup does not apply to the held-out
    split; ``is_eval`` already excludes it) but REAL
    ``es_dropped_chars``/``pii_redactions``/``blocklisted`` values.
    Docs the dedup gates dropped never reach the ES/PII/blocklist
    stages: their counters are 0 and ``blocklisted`` false — the
    decision trail records what each gate actually saw, and a doc
    leaves the chain at its first hard drop.

    Scale: every stage keeps its own documented 100 TB shape (eval
    sides broadcast, models are one-row broadcast maps, the mixture
    cumsum is key-range bucketed, ExactSubstr's wide stages are
    uniform 32-byte window hashes); composition adds NO new shuffle
    class.  ``stage_dir`` is the production posture (and the shape the
    registry certifies): the stage-2 cleaned text, the per-train-doc
    dedup verdicts, the stage-5 scrubbed text, and the per-gate flag
    table are each MATERIALIZED as parquet stage tables — the tables a
    real corpus build ships and audits anyway — and downstream gates
    read them back, so no gate ever replays another gate's lineage
    (lazy composition multiplies the cleaning subtree into every
    consumer's plan).  The "cleaned" stage table additionally
    guarantees ExactSubstr's determinism contract (its detector and
    reassembly branches re-derive the input plan independently).
    ``stage_dir=None`` replaces the parquet writes with LAZY local
    checkpoints at the same stage points (in-memory lineage cuts; the
    fully-inlined plan would embed each gate's subtree once per
    consumer) — same bits either way (asserted in tests).
    """
    from pyspark.sql import Window

    from ..functions.text import bpe_piece_count, fingerprint, normalized_text
    from . import extract, textops
    from .dedup import (
        _banded_signatures,
        banded_self_join,
        neardup_decontaminate,
        remove_duplicate_blocks_overlap,
    )
    from .similarity import (
        embedding_decontaminate,
        embedding_decontaminate_ivf,
        sample_centroids,
    )

    if eval_mod < 2:
        # eval_mod=1 makes EVERY doc eval (empty corpus); 0 divides by zero
        raise ValueError(f"curated_corpus: eval_mod must be >= 2, got {eval_mod}")
    if not 0.0 < nb_top_frac <= 1.0:
        raise ValueError(
            f"curated_corpus: nb_top_frac must be in (0, 1], got {nb_top_frac}"
        )
    if nd_max_band_bucket < 2:
        # a bucket needs >= 2 members to pair at all — a smaller cap
        # silently disables near-dup pruning
        raise ValueError(
            f"curated_corpus: nd_max_band_bucket must be >= 2, got {nd_max_band_bucket}"
        )

    spark = docs.sparkSession

    def stage(df: DataFrame, name: str) -> DataFrame:
        if stage_dir is None:
            # in-memory form: truncate lineage with a LAZY local
            # checkpoint at the same stage points — the composed
            # 11-gate plan would otherwise embed each gate's subtree
            # once per consumer (the ExactSubstr detector alone
            # consumes its input three times), which is un-plannable
            # at depth and a determinism hazard for the branching
            # gates.  Materializes once on first action; blocks are
            # released by the context cleaner with the DataFrame.
            return df.localCheckpoint(eager=False)
        path = f"{stage_dir}/{name}"
        sc = spark.sparkContext
        sc.setJobDescription(f"curated_corpus: stage {name}")
        df.write.mode("overwrite").parquet(path)
        sc.setJobDescription(None)
        return spark.read.parquet(path)

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("source"),
        F.col(text_col).alias("text"),
    )
    is_eval = F.col("doc_id") % eval_mod == 0

    # 1. repetition collapse
    rep = textops.collapse_repetitions(base)
    d1 = base.select("doc_id", "source").join(
        rep.select(
            "doc_id",
            F.col("n_tokens").alias("n_raw_tokens"),
            "n_collapsed",
            F.col("clean_text").alias("text"),
        ),
        "doc_id",
    )

    # 2. boilerplate removal on the collapsed text.  d2 is the first
    # materialization point: it feeds ExactSubstr's two plan branches,
    # which require a DETERMINISTIC input (the stage table guarantees it).
    bp = extract.remove_boilerplate_ngrams(d1, n=5, min_docs=3)
    d2 = stage(
        d1.select("doc_id", "source", "n_raw_tokens", "n_collapsed").join(
            bp.select(
                "doc_id",
                F.col("n_dropped_tokens").alias("n_boiler_dropped"),
                F.col("clean_text").alias("text"),
            ),
            "doc_id",
        ),
        "cleaned",
    )

    # 3. within-corpus dedup of the cleaned train split: exact collapse
    # first (one fingerprint window), then near-dup pruning among the
    # exact survivors (band self-join; keep-lowest pairwise rule).
    # Dedup runs BEFORE ExactSubstr (the RefinedWeb ordering): document-
    # level dedup keeps one canonical copy of duplicated content, and
    # only THEN are residual cross-document passages cut out — the
    # reverse order would excise duplicated text from every copy,
    # destroying all of them and blinding the near-dup gate.
    # e_keep as a window column straight on the train split: the former
    # shape joined the keeper ids back to the text by doc_id — the same
    # rows, one exchange fewer (the text crosses the fingerprint window
    # once instead of a window plus a join)
    trn = d2.filter(~is_eval).withColumn(
        "_fp", fingerprint(F.col("text"))
    ).withColumn(
        "e_keep",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("_fp")),
    )
    ek = trn.select("doc_id", "e_keep")
    ekept = trn.filter("e_keep").select("doc_id", "text")
    tb = _banded_signatures(ekept, "text", "doc_id", k=8, num_hashes=16, bands=4)
    agree = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(16)
    )
    # the shared capped band self-join (one guarded implementation —
    # :func:`.dedup.banded_self_join`); with its a.doc_id < b.doc_id
    # convention the keep-lowest drop target is the b side
    nd_drop = (
        banded_self_join(tb, max_band_bucket=nd_max_band_bucket)
        .select(
            F.col("b.doc_id").alias("doc_id"),
            F.round(agree / F.lit(16.0), 4).alias("_ej"),
        )
        .filter(F.col("_ej") >= 0.5)
        .select("doc_id")
        .distinct()
        .withColumn("_nd_drop", F.lit(True))
    )

    # the per-train-doc dedup verdicts — staged so the expensive minhash
    # band join is evaluated ONCE (the survivor selection below and the
    # final flag assembly both consume it)
    dflags = stage(
        ek.join(nd_drop, "doc_id", "left").select(
            "doc_id",
            "e_keep",
            (~F.coalesce("_nd_drop", F.lit(False))).alias("nd_keep"),
        ),
        "dedup_flags",
    )
    surv = dflags.filter(F.col("e_keep") & F.col("nd_keep")).select("doc_id")

    # 4. two-phase ExactSubstr block removal over the SHIPPED universe
    # (dedup survivors + eval docs, cleaned text): residual cross-
    # document duplicated es_block-char windows (stride block/2) drop
    # their covering tiles — duplicated passages are CUT OUT rather than
    # whole documents dropped.  Eval docs are in the detector corpus, so
    # a train passage copied verbatim from an eval doc is also removed.
    # ONLY docs with >= 2*es_block normalized chars enter the gate: for
    # a sub-block document the covering tile IS the whole document, so a
    # short shared suffix (a sign-off, a footer) would erase the entire
    # doc — short-doc duplication is document-level dedup's job (already
    # applied above); shorter docs pass through with their text
    # normalized the same way, so stage output stays uniform.
    ship = d2.join(surv, "doc_id").unionByName(d2.filter(is_eval))
    shipn = ship.select(
        "doc_id",
        "source",
        "n_raw_tokens",
        "n_collapsed",
        "n_boiler_dropped",
        normalized_text(F.col("text")).alias("nt"),
    )
    es = remove_duplicate_blocks_overlap(
        shipn.filter(F.length("nt") >= 2 * es_block).select(
            "doc_id", F.col("nt").alias("text")
        ),
        block=es_block,
    )
    d3 = (
        shipn.join(
            es.select("doc_id", "clean_len", F.col("clean_text").alias("_es_text")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "source",
            "n_raw_tokens",
            "n_collapsed",
            "n_boiler_dropped",
            F.coalesce(F.length("nt") - F.col("clean_len"), F.lit(0))
            .cast("long")
            .alias("es_dropped_chars"),
            F.coalesce("_es_text", "nt").alias("text"),
        )
    )

    # 5. PII redaction on the deduplicated text.  d4 IS the shipped
    # corpus — the stage table a production build audits — and feeds
    # four independent gates, so it is the second text materialization.
    pii = pii_scrub(d3)
    d4 = stage(
        d3.select(
            "doc_id",
            "source",
            "n_raw_tokens",
            "n_collapsed",
            "n_boiler_dropped",
            "es_dropped_chars",
        ).join(
            pii.select(
                "doc_id",
                (F.col("n_email") + F.col("n_ipv4") + F.col("n_long_number"))
                .cast("long")
                .alias("pii_redactions"),
                F.col("clean_text").alias("text"),
            ),
            "doc_id",
        ),
        "scrubbed",
    )

    # 6. blocklist screening of the shipped text (post-redaction; the
    # column is emitted all-false when no list is configured so the
    # decision-trail schema is parameter-independent)
    if blocklist is not None:
        bl = textops.blocklist_hits(
            d4, list(blocklist), max_hits=blocklist_max_hits
        ).select("doc_id", (~F.col("keep")).alias("blocklisted"))
    else:
        bl = d4.select("doc_id", F.lit(False).alias("blocklisted"))

    # 7. model-based quality selection: NB score -> per-source
    # top-fraction rank gate (scale: the rank window partitions by
    # source — the source_quota shape, never a global single-reducer
    # sort; WindowGroupLimit bounds the per-source cost)
    # source rides through the scoring projection (passthrough) instead
    # of a post-hoc join back to d4 by doc_id — same rows, one join less
    trn_scores = nb_quality_scores(
        d4, nb_target, buckets=256, passthrough=("source",)
    ).select("doc_id", "source", "nb_logodds").filter(~is_eval)
    wsrc = Window.partitionBy("source").orderBy(
        F.col("nb_logodds").desc_nulls_last(), F.col("doc_id")
    )
    wcnt = Window.partitionBy("source")
    nb = trn_scores.select(
        "doc_id",
        (
            (
                F.row_number().over(wsrc)
                <= F.ceil(F.lit(float(nb_top_frac)) * F.count(F.lit(1)).over(wcnt))
            )
            & F.col("nb_logodds").isNotNull()
        ).alias("nb_keep"),
    )

    # 8. lexical decontamination: scrubbed train vs RAW eval
    dec = neardup_decontaminate(
        d4.filter(~is_eval), base.filter(is_eval), k=8, num_hashes=16, bands=4
    ).select(F.col("train_doc_id").alias("doc_id"), "contaminated")

    # 9. embedding-space decontamination (vec_id == doc_id) — the
    # IVF-probed variant: the exact broadcast-NLJ is |train|x|eval| dot
    # products, a QUADRATIC term that grows 100x when both sides grow
    # 10x (measured: 2.28x-over-linear sf1 spot before the switch);
    # probing nprobe of K cells keeps the certified approximate
    # algorithm with the eval side still broadcast.  Seed centroids are
    # the documented deterministic stand-in; with fewer eval vectors
    # than probes the exact operator is the cheaper path anyway.
    ev = F.col("vec_id") % eval_mod == 0
    cents = sample_centroids(embeddings, k=8)
    if len(cents) >= 2:
        sem = embedding_decontaminate_ivf(
            embeddings.filter(~ev),
            embeddings.filter(ev),
            cents,
            nprobe=min(2, len(cents)),
            threshold=emb_threshold,
        ).select(F.col("vec_id").alias("doc_id"), "leaked")
    else:
        sem = embedding_decontaminate(
            embeddings.filter(~ev), embeddings.filter(ev), threshold=emb_threshold
        ).select(F.col("vec_id").alias("doc_id"), "leaked")

    # 9b. media validity: docs whose attached assets fail their
    # container/bounds checks are rejected; docs without assets pass
    if media_assets is not None:
        from ..multimodal.media import media_validity

        mv = media_validity(media_assets)
    else:
        mv = None

    # the per-gate decision table — the audit artifact — is the last
    # materialization point (mixture + final assembly both consume it).
    # Rooted at d2 so it keeps ONE ROW PER INPUT DOC: docs the dedup
    # gates dropped never reached the ES/PII/blocklist stages, so their
    # chars/redaction counters coalesce to 0.  TEXT never enters this
    # assembly (guide: decide with small rows): the only downstream
    # text consumer was the mixture walk's BPE meter over SURVIVORS,
    # and every possible survivor reached the scrub stage (the d4
    # universe is exactly the dedup survivors + eval docs; eval rows
    # are excluded from the mixture), so the scrubbed side's piece
    # count — computed ROW-LOCALLY before its join exchange — is the
    # only token column the walk can ever read.  The flag table now
    # persists a long where it used to persist the corpus text a
    # second time (the shipped text lives in the `scrubbed` stage);
    # docs that never reached scrub carry NULL, which no consumer
    # reads.
    d4info = d4.select(
        "doc_id",
        "es_dropped_chars",
        "pii_redactions",
        bpe_piece_count(F.col("text")).cast("long").alias("_stok"),
    )
    # FUSED assembly (guide §2.4): every gate emits AT MOST ONE row per
    # doc_id, so the former chain of seven sequential doc_id left joins
    # (each paying its own exchange + sort into a SortMergeJoin) is
    # equivalent to ONE union of the per-gate verdict frames, ONE hash
    # aggregation on doc_id — `first(ignorenulls=True)` picks the
    # gate's single non-null value exactly as the left join did — and
    # ONE left join back to the d2 base columns.  Every fused column is
    # a boolean or a long, so the aggregation buffer stays primitive
    # and the agg is a true HashAggregate (a `first(source)` STRING
    # buffer would demote the whole union to sort-based aggregation —
    # measured: two corpus-wide Sorts — which is why the base columns
    # ride the final join instead of the union).  The union sides stay
    # independent computations — the gates-computed-independently
    # contract is untouched; the re-attachment pays two exchanges (the
    # union agg + the d2 side of the join; the agg output is already
    # hash-partitioned on doc_id for the join) instead of seven.
    from functools import reduce as _reduce

    gate_sides = [dflags, d4info, nb, dec, sem, bl]
    if mv is not None:
        gate_sides.append(mv)
    unioned = _reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), gate_sides
    )
    _gv = lambda c: F.first(c, ignorenulls=True)
    gates = unioned.groupBy("doc_id").agg(
        _gv("e_keep").alias("e_keep"),
        _gv("nd_keep").alias("nd_keep"),
        _gv("es_dropped_chars").alias("es_dropped_chars"),
        _gv("pii_redactions").alias("pii_redactions"),
        _gv("_stok").alias("_stok"),
        _gv("nb_keep").alias("nb_keep"),
        _gv("contaminated").alias("contaminated"),
        _gv("leaked").alias("leaked"),
        _gv("blocklisted").alias("blocklisted"),
        *([_gv("media_ok").alias("media_ok")] if mv is not None else []),
    )
    flags = d2.select(
        "doc_id",
        "source",
        "n_raw_tokens",
        "n_collapsed",
        "n_boiler_dropped",
    ).join(gates, "doc_id", "left")
    flags = (
        flags.withColumn(
            "media_ok",
            F.coalesce(F.col("media_ok"), F.lit(True))
            if mv is not None
            else F.lit(True),
        )
        .select(
            "doc_id",
            "source",
            is_eval.alias("is_eval"),
            "n_raw_tokens",
            "n_collapsed",
            "n_boiler_dropped",
            F.coalesce("es_dropped_chars", F.lit(0).cast("long")).alias(
                "es_dropped_chars"
            ),
            F.coalesce("pii_redactions", F.lit(0).cast("long")).alias(
                "pii_redactions"
            ),
            # the shipped-text piece count — the lone quantity the
            # mixture walk needs from the text, computed row-locally
            # before the join so the text itself never crosses one
            # (NULL for docs the dedup gates dropped: never survivors)
            F.col("_stok").alias("n_bpe_tokens"),
            # eval rows have no dedup verdict: gates do not apply there
            F.coalesce("e_keep", F.lit(True)).alias("e_keep"),
            F.coalesce("nd_keep", F.lit(True)).alias("nd_keep"),
            F.coalesce("nb_keep", F.lit(True)).alias("nb_keep"),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
            F.coalesce("leaked", F.lit(False)).alias("emb_leaked"),
            F.coalesce("blocklisted", F.lit(False)).alias("blocklisted"),
            "media_ok",
        )
    )
    flags = stage(flags, "flags")
    survivor = (
        ~F.col("is_eval")
        & F.col("e_keep")
        & F.col("nd_keep")
        & F.col("nb_keep")
        & ~F.col("contaminated")
        & ~F.col("emb_leaked")
        & ~F.col("blocklisted")
        & F.col("media_ok")
    )

    # 10. token-budgeted mixture over the survivors' scrubbed text —
    # metered by the precomputed per-doc piece count (same expression
    # over the same text, computed before the flag assembly)
    mix = mixture_token_budget(
        flags.filter(survivor), token_budget, shares, tokens_col="n_bpe_tokens"
    ).select("doc_id", F.lit(True).alias("_adm"), F.col("n_tokens").alias("_mt"))

    # 11. split assignment + final decision trail
    return group_split(flags.join(mix, "doc_id", "left")).select(
        "doc_id",
        "source",
        "is_eval",
        "n_raw_tokens",
        "n_collapsed",
        "n_boiler_dropped",
        "es_dropped_chars",
        "pii_redactions",
        "e_keep",
        "nd_keep",
        "nb_keep",
        "contaminated",
        "emb_leaked",
        "blocklisted",
        "media_ok",
        F.coalesce("_adm", F.lit(False)).alias("curated"),
        F.coalesce("_mt", F.lit(0).cast("long")).alias("n_mix_tokens"),
        "split",
    )


def admission_state(
    existing_docs: DataFrame,
    nb_target,
    nb_top_frac: float = 0.6,
    buckets: int = 256,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    embeddings: DataFrame | None = None,
    emb_centroids: list[list[float]] | None = None,
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
) -> dict[str, DataFrame]:
    """The persisted ADMISSION INDEX of a curated corpus: every piece of
    corpus state :func:`curated_incremental_admit` needs, as five small
    persistable tables — so daily batches are gated against a 100 TB
    corpus WITHOUT ever rescanning it.  Build once at corpus-ship time
    (one pass over the corpus, amortized), write each table to parquet /
    a lakehouse table, and pass the reloaded dict back via
    ``curated_incremental_admit(state=...)``:

    - ``fingerprints``: distinct exact-dedup fingerprints
      (``fingerprint``) — the membership side of the exact gate,
    - ``signatures``: the corpus's banded MinHash signatures
      (``_banded_signatures`` layout) — the probe side of the bipartite
      near-dup gate; APPEND admitted docs' signatures after each batch
      so batch N+1 sees batch N (the incremental index maintenance a
      production near-dup service runs),
    - ``consumed``: per-source BPE token totals — the mixture budget
      already spent,
    - ``nb_model``: the frozen quality classifier (:func:`nb_model`),
    - ``nb_tau``: per-source frozen operating points (``source,
      nb_tau``) — the corpus's own ``nb_top_frac`` rank-cut scores.

    :func:`curated_incremental_admit` given ``existing_docs`` builds
    exactly these tables and gates against them, so the persisted path
    changes COST, not decisions (pytest-pinned through a parquet round
    trip)."""
    from pyspark.sql import Window

    from ..functions.text import bpe_piece_count, fingerprint
    from .dedup import _banded_signatures

    base_ex = existing_docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("source"),
        F.col(text_col).alias("text"),
    )
    fingerprints = base_ex.select(
        fingerprint(F.col("text")).alias("fingerprint")
    ).distinct()
    signatures = _banded_signatures(base_ex, "text", "doc_id")
    consumed = base_ex.groupBy("source").agg(
        F.sum(bpe_piece_count(F.col("text")).cast("long")).alias("consumed")
    )
    model = nb_model(base_ex, nb_target, buckets=buckets, alpha=alpha)
    ex_scores = nb_quality_scores(
        base_ex, nb_target, buckets=buckets, alpha=alpha
    ).select("doc_id", "nb_logodds")
    wsrc = Window.partitionBy("source").orderBy(
        F.col("nb_logodds").desc_nulls_last(), F.col("doc_id")
    )
    wcnt = Window.partitionBy("source")
    nb_tau = (
        base_ex.select("doc_id", "source")
        .join(ex_scores, "doc_id")
        .withColumn("_rk", F.row_number().over(wsrc))
        .withColumn(
            "_cut",
            F.ceil(F.lit(float(nb_top_frac)) * F.count(F.lit(1)).over(wcnt)),
        )
        .filter(F.col("_rk") == F.col("_cut"))
        .select("source", F.col("nb_logodds").alias("nb_tau"))
    )
    out = {
        "fingerprints": fingerprints,
        "signatures": signatures,
        "consumed": consumed,
        "nb_model": model,
        "nb_tau": nb_tau,
    }
    # optional sixth table: the corpus's frozen IVF embedding index (the
    # semantic-dedup admission gate probes it; same codebook required at
    # admit time)
    if embeddings is not None:
        if emb_centroids is None:
            raise ValueError(
                "admission_state: embeddings given without emb_centroids"
            )
        from .similarity import ivf_index

        out["emb_index"] = ivf_index(
            embeddings, emb_centroids, id_col=emb_id_col, vec_col=emb_vec_col
        )
    return out


_ADMISSION_STATE_KEYS = frozenset(
    {"fingerprints", "signatures", "consumed", "nb_model", "nb_tau"}
)
# optional state: present only when the corpus ships with an embedding
# index (the semantic-dedup admission gate)
_ADMISSION_STATE_OPTIONAL = frozenset({"emb_index"})


def curated_incremental_admit(
    new_docs: DataFrame,
    existing_docs: DataFrame | None,
    nb_target,
    token_budget: int,
    shares: dict[str, float],
    nd_threshold: float = 0.5,
    nb_top_frac: float = 0.6,
    nb_buckets: int = 256,
    blocklist: list[str] | None = None,
    blocklist_max_hits: int = 2,
    boiler_grams: DataFrame | None = None,
    es_windows: DataFrame | None = None,
    es_block: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    state: dict[str, DataFrame] | None = None,
    include_text: bool = False,
    new_embeddings: DataFrame | None = None,
    emb_centroids: list[list[float]] | None = None,
    emb_nprobe: int = 2,
    emb_threshold: float = 0.9,
) -> DataFrame:
    """Incremental admission of a NEW document batch against an EXISTING
    curated corpus — the production re-curation path every real pipeline
    runs daily: the corpus is append-only state (the reference's own
    lifecycle is incremental: append → sync → validate,
    `/root/reference/scripts/05_append_campaigns.py:112-123` →
    `16_sync_task_primary.sql`), so a batch is gated WITHOUT recomputing
    the corpus.

    The batch text first runs the scrub stages of
    :func:`curated_corpus`: the STATELESS ones — repetition collapse,
    PII redaction, blocklist screening — freeze trivially (no corpus
    state), and the corpus-STATEFUL ones run against FROZEN corpus
    state persisted at build time and passed in: ``boiler_grams`` (the
    ``(source, gram)`` table from :func:`.extract.boilerplate_grams`)
    cleans the batch against the shipped build's boilerplate set, and
    ``es_windows`` (the window-hash table from
    :func:`.dedup.window_hashes`) cuts any batch passage that already
    exists ANYWHERE in the corpus — a single corpus occurrence plus the
    batch copy IS a duplicate, so the admission ES detector is
    membership against corpus windows, not within-batch mining.  Both
    stateful gates default to None (skipped, counters 0); the admitted
    text then obeys the same shipped-text contract as the corpus and
    every gate below compares scrubbed-vs-corpus, not raw-vs-corpus.
    Gates:

    1. ``e_keep`` — the :func:`incremental_dedup` discipline: the doc's
       exact fingerprint is not already in the corpus AND it is the
       lowest id for its fingerprint within the batch,
    2. ``nd_keep`` — no near-duplicate among the EXISTING corpus docs:
       a bipartite MinHash/LSH band join at est_jaccard >=
       ``nd_threshold``.  The asymmetry REVERSES the decontamination
       shape: here the corpus side is 100 TB and the BATCH is small, so
       the batch's banded signatures broadcast and the corpus side is a
       map-side hash probe over its scan — never shuffled by band,
    3. ``nb_keep`` — the FROZEN quality model AND its frozen operating
       point: the NB classifier is fitted on the existing corpus
       (``nb_target`` labels the curated slice there) and only SCORES
       the batch (:func:`nb_quality_scores` ``score_docs``); the cut is
       the per-source score threshold at the corpus's own
       ``nb_top_frac`` rank cut (the score of the rank-⌈frac·n⌉ corpus
       doc — the operating point :func:`curated_corpus`'s rank gate
       realised on the corpus), so batch scores stay comparable across
       daily batches and the raw-prior-dominated ``log-odds > 0`` cut
       is never used.  A batch source with no corpus operating point
       (unseen source, or a NULL-scored doc at the cut rank) is NOT
       admitted through this gate — quality of an unknown source can't
       be vouched for by a model that never saw it,
    4. ``admitted`` — the REMAINING mixture budget: each source's
       target is ``floor(token_budget × share)`` minus the tokens the
       existing corpus already consumed (:func:`mixture_token_budget`
       ``consumed``), walked in the same stable md5 admission order.

    Output: ONE ROW PER BATCH DOC — ``(id, group, n_collapsed,
    n_boiler_dropped, es_dropped_chars, pii_redactions, e_keep,
    nd_keep, nb_logodds, nb_keep, blocklisted, admitted,
    n_mix_tokens)``; ``admitted`` implies every gate passed and the
    source still had budget.

    Scale: the batch-side scrub is three narrow projections; the corpus
    side is consumed a fixed number of single passes (distinct
    fingerprints — at 100 TB keep that table compacted as its own
    lakehouse artifact and pass it in; banded signatures probed by the
    broadcast batch; one map-side-combined histogram for the frozen
    model + per-source token totals); nothing batch-sized ever shuffles
    the corpus.

    Every gate reads the admission index (:func:`admission_state`'s
    five tables).  ``state`` passes it in persisted — with ALL five
    present, ``existing_docs`` may be None and the corpus is NEVER
    TOUCHED: the admit's cost becomes O(batch + state tables), the true
    daily-ingest posture.  Given ``existing_docs``, the admit recomputes
    the index with :func:`admission_state` and then takes the same state
    path; tables passed in ``state`` replace their recomputed
    counterparts.  The independent reference is the DuckDB oracle of
    ``curated_incremental_admit_q``, which replays the recompute
    arithmetic from the corpus.  ``include_text`` appends the batch's
    SCRUBBED text as a final ``text`` column (off by default — the
    certified trail schema), so a sink can append admitted rows to the
    corpus under the shipped-text contract.

    ``new_embeddings`` (``doc_id, embedding``) arms the SEMANTIC
    admission gate: each batch doc's vector probes the corpus's frozen
    IVF index (``state["emb_index"]`` — built by :func:`admission_state`
    from the corpus embeddings; ``emb_centroids`` must be the same
    codebook) and a nearest-corpus cosine ≥ ``emb_threshold`` rejects
    the doc as a semantic duplicate the lexical gates can miss
    (paraphrase, re-tokenization).  Adds an ``emb_keep`` column to the
    trail (docs with no vector pass — no evidence, no veto); admitted
    additionally requires it.  Off by default — the certified trail
    schema is unchanged."""
    from ..functions.text import fingerprint
    from . import textops
    from .dedup import _banded_signatures

    st = dict(state or {})
    bad = set(st) - _ADMISSION_STATE_KEYS - _ADMISSION_STATE_OPTIONAL
    if bad:
        raise ValueError(f"curated_incremental_admit: unknown state keys {sorted(bad)}")
    if existing_docs is not None:
        # recompute = build the admission index, then take the state
        # path; tables passed in `state` win over the recomputed ones
        st = {
            **admission_state(
                existing_docs,
                nb_target,
                nb_top_frac=nb_top_frac,
                buckets=nb_buckets,
                text_col=text_col,
                id_col=id_col,
                group_col=group_col,
            ),
            **st,
        }
    elif missing := _ADMISSION_STATE_KEYS - set(st):
        raise ValueError(
            "curated_incremental_admit: existing_docs=None requires full "
            f"state; missing {sorted(missing)}"
        )
    if new_embeddings is not None and (
        "emb_index" not in st or emb_centroids is None
    ):
        raise ValueError(
            "curated_incremental_admit: the embedding gate requires "
            "state['emb_index'] and emb_centroids (the same codebook)"
        )

    raw_new = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("source"),
        F.col(text_col).alias("text"),
    )

    # 0. scrub of the batch text (the shipped-text contract): repetition
    # collapse, then the FROZEN-STATE gates (boilerplate grams /
    # ExactSubstr window membership), then PII redaction; blocklist
    # screening on the redacted text below
    rep = textops.collapse_repetitions(raw_new)
    b1 = raw_new.select("doc_id", "source").join(
        rep.select("doc_id", "n_collapsed", F.col("clean_text").alias("text")),
        "doc_id",
    )
    if boiler_grams is not None:
        from . import extract

        bp = extract.remove_boilerplate_ngrams(b1, n=5, grams=boiler_grams)
        b1 = b1.select("doc_id", "source", "n_collapsed").join(
            bp.select(
                "doc_id",
                F.col("n_dropped_tokens").alias("n_boiler_dropped"),
                F.col("clean_text").alias("text"),
            ),
            "doc_id",
        )
    else:
        b1 = b1.withColumn("n_boiler_dropped", F.lit(0).cast("long"))
    if es_windows is not None:
        from ..functions.text import normalized_text
        from .dedup import remove_duplicate_blocks_overlap

        # the curated pipeline's min-length policy: sub-2*block docs
        # skip the gate (the covering tile would be the whole doc);
        # every doc's text is normalized either way so the stage
        # output stays uniform
        b1n = b1.select(
            "doc_id",
            "source",
            "n_collapsed",
            "n_boiler_dropped",
            normalized_text(F.col("text")).alias("nt"),
        )
        es = remove_duplicate_blocks_overlap(
            b1n.filter(F.length("nt") >= 2 * es_block).select(
                "doc_id", F.col("nt").alias("text")
            ),
            block=es_block,
            known_hashes=es_windows,
        )
        b1 = (
            b1n.join(
                es.select(
                    "doc_id", "clean_len", F.col("clean_text").alias("_es_text")
                ),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                "source",
                "n_collapsed",
                "n_boiler_dropped",
                F.coalesce(F.length("nt") - F.col("clean_len"), F.lit(0))
                .cast("long")
                .alias("es_dropped_chars"),
                F.coalesce("_es_text", "nt").alias("text"),
            )
        )
    else:
        b1 = b1.withColumn("es_dropped_chars", F.lit(0).cast("long"))
    pii = pii_scrub(
        b1, keep_cols=("source", "n_collapsed", "n_boiler_dropped",
                       "es_dropped_chars")
    )
    base_new = pii.select(
        "doc_id",
        "source",
        "n_collapsed",
        "n_boiler_dropped",
        "es_dropped_chars",
        (F.col("n_email") + F.col("n_ipv4") + F.col("n_long_number"))
        .cast("long")
        .alias("pii_redactions"),
        F.col("clean_text").alias("text"),
        # lineage cut: the scrubbed text fans out into EVERY gate below
        # (fingerprint, 16 minhash signatures, the NB token fold, the
        # BPE budget count) — without the cut each consumer re-evaluates
        # the whole collapse→boiler→ES→PII chain (measured ~3x the
        # admit's cost at sf0.1); with it the scrub runs once
    ).localCheckpoint(eager=False)
    # 1. exact gate (+ the other row-local screens), computed INLINE on
    # the batch frame: the fingerprint, the within-batch keep-lowest
    # window, and the blocklist regex are all columns over base_new —
    # chaining them replaces the former four per-gate doc_id self-joins
    # (same values row for row; the batch text crosses ONE exchange, the
    # fingerprint window, instead of one per gate join)
    from pyspark.sql import Window

    # distinct again: admission_state builds fingerprints distinct, but
    # a user-supplied or externally-maintained table may not be —
    # duplicate keys would multiply batch rows through the left join
    # below (duplicate trail rows, double-counted admitted tokens).
    # Fingerprints are 32-byte keys; the dedup is cheap.
    ex_fp = st["fingerprints"].select(F.col("fingerprint").alias("_fp")).distinct()
    nfp = base_new.withColumn("_fp", fingerprint(F.col("text")))
    # corpus anti-membership as a PROBE: the corpus fingerprint table is
    # semi-joined against the (small, broadcast) batch fingerprints, and
    # only the surviving hit set — at most batch-sized — joins back.
    # The corpus side is read map-side, never shuffled and never
    # broadcast: the asymmetry a 100 TB fingerprint table requires (the
    # former left join shuffled or broadcast the CORPUS side per batch).
    fp_hits = ex_fp.join(
        F.broadcast(nfp.select("_fp").distinct()), "_fp", "leftsemi"
    ).withColumn("_hit", F.lit(True))
    gated = (
        nfp.withColumn(
            "_bmin",
            F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("_fp")),
        )
        .join(F.broadcast(fp_hits), "_fp", "left")
        .withColumn("e_keep", F.col("_bmin") & F.col("_hit").isNull())
        .withColumn(
            "blocklisted",
            (
                textops.blocklist_hits_expr(list(blocklist))
                > blocklist_max_hits
            )
            if blocklist is not None
            else F.lit(False),
        )
        .drop("_fp", "_bmin", "_hit")
    )

    # 2. near-dup vs the existing corpus (batch side broadcasts)
    nbnd = _banded_signatures(base_new, "text", "doc_id")
    n_, e_ = nbnd.alias("n"), st["signatures"].alias("e")
    agree = sum(
        F.when(F.col(f"n.h{i}") == F.col(f"e.h{i}"), 1).otherwise(0)
        for i in range(16)
    )
    nd_drop = (
        F.broadcast(n_)
        .join(
            e_,
            (F.col("n.band") == F.col("e.band"))
            & (F.col("n.band_key") == F.col("e.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("doc_id"),
            F.round(agree / F.lit(16.0), 4).alias("_ej"),
        )
        .filter(F.col("_ej") >= nd_threshold)
        .select("doc_id")
        .distinct()
        .withColumn("_nd_drop", F.lit(True))
    )

    # 3. frozen NB model + frozen operating point (the corpus's
    # per-source nb_top_frac rank-cut score).  A model built by nb_model
    # carries its own `_buckets` column and scores with THAT (see
    # nb_quality_scores; nb_buckets governs the recompute fit and legacy
    # models only), so a codebook mismatch cannot silently mis-score the
    # batch.  Scoring CHAINS on the gated batch frame (``passthrough``)
    # — the model is a broadcast one-row map, so the inline form adds
    # zero shuffles and drops the former score join back by doc_id.
    tau = st["nb_tau"].select("source", F.col("nb_tau").alias("_tau"))
    scored = (
        nb_quality_scores(
            None,
            None,
            buckets=nb_buckets,
            score_docs=gated,
            model=st["nb_model"],
            passthrough=(
                "source",
                "text",
                "n_collapsed",
                "n_boiler_dropped",
                "es_dropped_chars",
                "pii_redactions",
                "e_keep",
                "blocklisted",
            ),
        )
        .drop("n_tokens", "keep")
        .join(F.broadcast(tau), "source", "left")
        .withColumn(
            "nb_keep",
            F.col("nb_logodds").isNotNull()
            & F.col("_tau").isNotNull()
            & (F.col("nb_logodds") >= F.col("_tau")),
        )
        .drop("_tau")
    )

    # optional semantic gate: batch vectors probe the corpus's FROZEN
    # IVF index (batch = the small probing side, exactly the admission
    # asymmetry of the lexical nd gate)
    if new_embeddings is not None:
        from .similarity import embedding_decontaminate_ivf

        eg = embedding_decontaminate_ivf(
            new_embeddings,
            None,
            emb_centroids,
            nprobe=emb_nprobe,
            threshold=emb_threshold,
            id_col="doc_id",
            index=st["emb_index"],
        ).select("doc_id", (~F.col("leaked")).alias("_emb_keep"))

    # the only per-gate joins left are the genuinely relational ones:
    # the near-dup hit set (bounded by the batch, broadcast) and the
    # optional embedding verdict
    joined = scored.join(F.broadcast(nd_drop), "doc_id", "left")
    if new_embeddings is not None:
        joined = joined.join(eg, "doc_id", "left")
    emb_cols = (
        [F.coalesce("_emb_keep", F.lit(True)).alias("emb_keep")]
        if new_embeddings is not None
        else []
    )
    flags = (
        joined.select(
            "doc_id",
            "source",
            "text",
            "n_collapsed",
            "n_boiler_dropped",
            "es_dropped_chars",
            "pii_redactions",
            "e_keep",
            (~F.coalesce("_nd_drop", F.lit(False))).alias("nd_keep"),
            "nb_logodds",
            "nb_keep",
            "blocklisted",
            *emb_cols,
        )
        # the mixture walk and the final assembly both consume the flag
        # table: cut lineage here (the curated_corpus stage discipline)
        # so the corpus-side gate subtrees evaluate once, not per branch
        .localCheckpoint(eager=False)
    )
    emb_pass = (
        F.col("emb_keep") if new_embeddings is not None else F.lit(True)
    )
    mix = mixture_token_budget(
        flags.filter(
            F.col("e_keep")
            & F.col("nd_keep")
            & F.col("nb_keep")
            & ~F.col("blocklisted")
            & emb_pass
        ),
        token_budget,
        shares,
        # 4. remaining mixture budget: per-source tokens already consumed
        consumed=st["consumed"],
    ).select("doc_id", F.lit(True).alias("_adm"), F.col("n_tokens").alias("_mt"))
    # the admission verdict is bounded by the batch (the operator's
    # standing posture: the batch side broadcasts — fp probe, banded
    # signatures, nd_drop all do); without the hint the final trail
    # assembly was a SortMergeJoin that exchanged BOTH batch-sized
    # sides (2 Exchange + 2 Sort in the certified plan)
    return flags.join(F.broadcast(mix), "doc_id", "left").select(
        "doc_id",
        "source",
        "n_collapsed",
        "n_boiler_dropped",
        "es_dropped_chars",
        "pii_redactions",
        "e_keep",
        "nd_keep",
        "nb_logodds",
        "nb_keep",
        "blocklisted",
        *(["emb_keep"] if new_embeddings is not None else []),
        F.coalesce("_adm", F.lit(False)).alias("admitted"),
        F.coalesce("_mt", F.lit(0).cast("long")).alias("n_mix_tokens"),
        *([F.col("text")] if include_text else []),
    )
