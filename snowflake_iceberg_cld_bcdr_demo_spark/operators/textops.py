"""Document-level text-analysis operators (token counting, quality
scoring, language ID, fingerprinting) — built-in functions only, so the
whole pipeline is one narrow codegen stage over the corpus scan."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    DIGIT_CLASS,
    PUNCT_CLASS,
    char_class_count,
    fingerprint,
    predicted_lang,
    token_count,
)


def token_counts(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality score from length / punctuation / digit ratios
    (clamped linear model; deterministic, portable to the SQL oracle)."""
    n_tokens = token_count(F.col("text"))
    n_chars = F.length("text")
    # No double rounding anywhere: ratios are int/int → one IEEE division,
    # and the score is the same left-associated double expression the SQL
    # oracle evaluates, so results are bit-identical across engines
    # (functions.numeric module docstring).
    punct_ratio = char_class_count(F.col("text"), PUNCT_CLASS) / F.expr("nullif(length(text), 0)")
    digit_ratio = char_class_count(F.col("text"), DIGIT_CLASS) / F.expr("nullif(length(text), 0)")
    score = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            F.lit(0.5)
            + F.least(n_tokens, F.lit(100)) * 0.005
            - punct_ratio * 2
            - digit_ratio * 2,
        ),
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_calc"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        score.alias("quality_score"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Lexicon-based language ID + agreement flag vs the labeled column."""
    pred = predicted_lang(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        F.when(pred == F.col("lang"), 1).otherwise(0).cast("int").alias("agrees"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


def tfidf_top_terms(docs: DataFrame, top_k: int = 3) -> DataFrame:
    """Top-k most-distinctive terms per document by a tf-idf-style score.

    The idf factor is linearized (``n_docs / df`` instead of
    ``ln(n_docs / df)``): the ranking is identical for a fixed corpus
    (``x ↦ ln x`` is monotone) and the score stays an exact-integer
    numerator over an exact-integer denominator combined by ONE double
    division — bit-identical across engines per the numeric determinism
    contract (``functions.numeric``), which ``ln`` would break (last-ulp
    divergence between libm implementations).

    Scale: tokens explode then immediately combine map-side into
    (doc, term) counts — the shuffle carries distinct pairs, not token
    occurrences. The document-frequency table aggregates off the already
    reduced tf frame, and the 1-row corpus count broadcasts. The final
    per-doc top-k is a window over the (doc, term) frame partitioned by
    doc_id — bounded state per partition, no global sort."""
    from pyspark.sql import Window

    tok = docs.select(
        "doc_id",
        F.explode(F.expr(r"regexp_extract_all(lower(text), '\\S+', 0)")).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term"))
    return (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def quality_filter(
    docs: DataFrame,
    min_tokens: int = 5,
    max_tokens: int = 10_000,
    min_mean_token_len: float = 2.0,
    max_mean_token_len: float = 12.0,
    max_punct_ratio: float = 0.2,
    max_digit_ratio: float = 0.2,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Rule-based document filter (the Gopher-style pre-training gate):
    per-rule booleans + an overall ``keep`` flag, so pipelines can both
    filter and audit *why* documents were dropped.

    All rules are built-in expressions (counts, ratios) — one narrow
    codegen stage over the corpus scan, no UDFs.  Mean token length is
    non-whitespace chars / tokens (identical arithmetic in the SQL
    oracle).  ``passthrough`` names extra input columns to carry into
    the output unchanged — lets callers (``corpus_flags``) compute
    sibling per-doc scalars (e.g. the dedup fingerprint) in the SAME
    single projection instead of a second corpus scan."""
    n_tokens = token_count(F.col("text"))
    chars_no_ws = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    mean_tok_len = chars_no_ws / F.when(n_tokens == 0, None).otherwise(n_tokens)
    punct_ratio = char_class_count(F.col("text"), PUNCT_CLASS) / F.expr("nullif(length(text), 0)")
    digit_ratio = char_class_count(F.col("text"), DIGIT_CLASS) / F.expr("nullif(length(text), 0)")
    ok_len = (n_tokens >= min_tokens) & (n_tokens <= max_tokens)
    ok_tok = (mean_tok_len >= min_mean_token_len) & (mean_tok_len <= max_mean_token_len)
    ok_punct = F.coalesce(punct_ratio <= max_punct_ratio, F.lit(False))
    ok_digit = F.coalesce(digit_ratio <= max_digit_ratio, F.lit(False))
    return docs.select(
        "doc_id",
        *passthrough,
        n_tokens.alias("n_tokens"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        ok_len.alias("ok_token_count"),
        F.coalesce(ok_tok, F.lit(False)).alias("ok_token_len"),
        ok_punct.alias("ok_punct"),
        ok_digit.alias("ok_digit"),
        (ok_len & F.coalesce(ok_tok, F.lit(False)) & ok_punct & ok_digit).alias("keep"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition filters):

    - ``distinct_token_frac`` — distinct tokens / tokens (row-local),
    - ``top_token_frac`` — share of the single most frequent token,
    - ``top_bigram_frac`` — share of the most frequent in-doc bigram.

    Highly repetitive machine-generated text scores low distinct fraction
    / high top-gram share and gets filtered before training.

    Scale: the distinct fraction is computed row-locally (array ops, no
    shuffle).  The top-gram shares explode to (doc, gram) pairs that
    combine map-side into counts — the shuffle carries distinct grams per
    doc, and the per-doc MAX rides the same aggregation key, so each
    signal costs one bounded shuffle on doc_id."""
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), 0)
    base = docs.select("doc_id", toks.alias("_toks")).filter(F.size("_toks") > 0)
    row_local = base.select(
        "doc_id",
        F.size("_toks").alias("n_tokens"),
        (F.size(F.array_distinct("_toks")).cast("double") / F.size("_toks")).alias(
            "distinct_token_frac"
        ),
    )

    def top_gram_frac(gram_col, out_name: str) -> DataFrame:
        counts = (
            base.select("doc_id", F.explode(gram_col).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return counts.groupBy("doc_id").agg(
            (F.max("c").cast("double") / F.sum("c")).alias(out_name)
        )

    bigrams = F.when(
        F.size("_toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("_toks", i), F.element_at("_toks", i + 1)
            ),
        ),
    ).otherwise(F.array())
    top_tok = top_gram_frac(F.col("_toks"), "top_token_frac")
    top_bi = top_gram_frac(bigrams, "top_bigram_frac")
    return (
        row_local.join(top_tok, "doc_id")
        .join(top_bi, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "distinct_token_frac",
            "top_token_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


def collapse_repetitions(
    docs: DataFrame,
    max_run: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ACTING within-document repetition removal (the cleanup step the
    Gopher-style :func:`repetition_stats` profile only measures; decoder
    loops and templated spam emit exactly these patterns): cap every
    consecutive IDENTICAL-token run at ``max_run`` occurrences, and cap
    repeated BIGRAM loops ("a b a b a b…") at two periods — a token is
    dropped when its trailing context shows the run/loop already at the
    cap.  Both rules read only the ORIGINAL token sequence, so the
    decision is per-position and the whole operator is ROW-LOCAL: one
    ``filter`` lambda over the token array, zero shuffles.

    Output per doc: ``(id, n_tokens, n_collapsed, clean_text,
    clean_hash)`` — ``clean_text`` in normalized token form (lowercase,
    single-spaced), empty docs keep a zero row.

    Portability: lookbacks use ``try_element_at`` (NULL out of bounds)
    under null-safe equality, which the DuckDB oracle mirrors with
    ``lag(...) IS NOT DISTINCT FROM`` window comparisons — identical
    keep decisions position by position.

    The per-position lookback arithmetic is CPU-heavy, so the scan
    rides the parallelism guard (:func:`.dedup._parallelize_scan`) —
    on a single small local file the row-local filter otherwise runs
    on ONE core (measured 5.9 s → 0.9 s at sf0.1 on 32 cores)."""
    from .dedup import _parallelize_scan

    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
    base = _parallelize_scan(docs).select(
        F.col(id_col).alias("doc_id"), toks.alias("t")
    )

    def keep(x, i):
        # 1-based current position is i+1; lookback j tokens -> i+1-j.
        # Guarded: index 0 throws and negatives count from the END in
        # element_at semantics, so any lookback before the start is an
        # explicit NULL (matching the oracle's lag()).
        def prev(j):
            return F.when(
                i >= j, F.try_element_at(F.col("t"), i + 1 - j)
            ).otherwise(F.lit(None))

        drop_run = None
        for j in range(1, max_run + 1):
            c = prev(j).eqNullSafe(x)
            drop_run = c if drop_run is None else (drop_run & c)
        drop_loop = (
            prev(2).eqNullSafe(x)
            & prev(4).eqNullSafe(x)
            & prev(1).eqNullSafe(prev(3))
        )
        return ~(drop_run | drop_loop)

    # row-local rebuild straight off the scan: one output row per input
    # row, no coverage join (the r12 shape re-joined the rebuilt text to
    # a distinct-id frame — a full-corpus exchange that bought nothing:
    # empty and all-whitespace docs already yield a zero row here)
    kept = F.filter(F.col("t"), keep)
    return base.select(
        "doc_id",
        F.coalesce(F.size("t"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.size("t") - F.size(kept), F.lit(0))
        .cast("long")
        .alias("n_collapsed"),
        F.coalesce(F.concat_ws(" ", kept), F.lit("")).alias("clean_text"),
        F.md5(F.coalesce(F.concat_ws(" ", kept), F.lit(""))).alias("clean_hash"),
    )


def build_vocab(docs: DataFrame, max_size: int = 1000, min_count: int = 1) -> DataFrame:
    """Frequency-ranked token vocabulary: ``(token, token_id, n_occurrences)``
    with ids assigned by (count DESC, token ASC) — the deterministic
    word-level tokenizer-training step (BPE merges layer on top of
    exactly this table).

    Scale: ONE map-side-combined token count shuffle reduces the corpus
    to O(distinct tokens); the ranking window runs over that reduced
    table.  ``max_size``/``min_count`` bound the vocabulary like any
    tokenizer trainer."""
    from pyspark.sql import Window

    counts = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), 0)
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    return (
        counts.withColumn("token_id", F.row_number().over(w) - 1)
        .filter(F.col("token_id") < max_size)
        .select("token", "token_id", "n_occurrences")
    )


def encode_tokens(docs: DataFrame, vocab: DataFrame, unk_id: int = -1) -> DataFrame:
    """Encode each document's token stream as an ``array<int>`` of vocab
    ids (out-of-vocabulary tokens → ``unk_id``) — the corpus-side half of
    tokenization, order-preserving.

    Scale: tokens explode WITH position, the vocab join is a broadcast
    (vocabularies are bounded by construction), and each document
    reassembles row-locally via ``sort_array`` of (pos, id) structs —
    one doc_id shuffle, no global sort.  The ranking window inside
    :func:`build_vocab` never touches the corpus."""
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), 0)
        ).alias("pos", "token"),
    )
    joined = toks.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
    tid = F.coalesce(F.col("token_id"), F.lit(unk_id)).cast("int")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("pos"), tid.alias("tid")))
                ),
                lambda s: s["tid"],
            ).alias("token_ids")
        )
        .select(
            "doc_id",
            "token_ids",
            F.size("token_ids").alias("n_tokens"),
            F.size(F.filter(F.col("token_ids"), lambda t: t == unk_id)).alias(
                "n_unk"
            ),
        )
    )


def _merge_pair_in_array(syms, a: str, b: str):
    """Replace every adjacent (a, b) occurrence in a symbol array with
    the merged symbol ``a+b`` — one left-to-right ``aggregate`` fold
    (non-overlapping, leftmost-first: 'aaa' with (a,a) → ['aa','a'],
    matching standard BPE)."""
    merged = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b))
            # guard: the last element must not itself be a fresh merge
            # result that CONSUMED the 'a' we think we're pairing with —
            # slicing off and re-appending the merged symbol handles it
            ,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """Corpus → (word, count): the ONE corpus-sized reduction every BPE
    trainer starts from (map-side combined token-count shuffle)."""
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _merge_word_py(syms: list[str], a: str, b: str, merged: str) -> list[str]:
    """Leftmost-first non-overlapping (a, b) → merged fold — the exact
    Python mirror of :func:`_merge_pair_in_array`."""
    out: list[str] = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = merged
        else:
            out.append(x)
    return out


def _train_merges_counts(
    words: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[str, str]]:
    """Sequential BPE over a (symbol-array, count) table with incremental
    pair-count maintenance (the HuggingFace-trainer data structure):
    a lazy max-heap over weighted pair counts plus a pair → word-index
    posting list, so each merge costs O(occurrences of the merged pair),
    not O(vocab).  Tie-break (count DESC, a ASC, b ASC) matches the
    per-merge-job distributed trainer bit for bit."""
    import heapq
    from collections import Counter, defaultdict

    def pairs_of(syms: list[str]) -> list[tuple[str, str]]:
        return [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]

    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for idx, (syms, n) in enumerate(words):
        for p in pairs_of(syms):
            pair_counts[p] += n
            pair_words[p].add(idx)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, best = heapq.heappop(heap)
        cur = pair_counts.get(best, 0)
        if cur <= 0 or -negc != cur:
            continue  # stale heap entry (lazy deletion)
        a, b = best
        merged = a + b
        merges.append(best)
        for idx in sorted(pair_words.get(best, ())):
            syms, n = words[idx]
            new_syms = _merge_word_py(syms, a, b, merged)
            if new_syms == syms:
                continue  # stale posting — pair no longer adjacent here
            oc, nc = Counter(pairs_of(syms)), Counter(pairs_of(new_syms))
            for p in set(oc) | set(nc):
                delta = (nc[p] - oc[p]) * n
                if delta:
                    pair_counts[p] += delta
                    if pair_counts[p] > 0:
                        heapq.heappush(heap, (-pair_counts[p], p))
                    else:
                        pair_counts.pop(p, None)
                if nc[p]:
                    pair_words[p].add(idx)
                else:
                    pair_words.get(p, set()).discard(idx)
            words[idx] = (new_syms, n)
        pair_counts.pop(best, None)
        pair_words.pop(best, None)
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    max_words: int | None = 1 << 20,
) -> list[tuple[str, str]]:
    """Byte-pair-encoding merge rules, trained the way production
    tokenizer trainers actually scale: the corpus reduces to its WORD
    VOCABULARY with counts in ONE distributed shuffle (the only
    corpus-sized stage — a 100 TB corpus becomes a vocab-sized table),
    then the merges train in driver memory over that reduced table with
    incremental pair-count maintenance — O(occurrences) per merge, so a
    32k-merge production vocabulary is minutes, not 32k Spark jobs.
    Ties break (count DESC, pair ASC); results are bit-identical to the
    per-merge-job trainer :func:`bpe_train_distributed` (asserted in
    ``tests/test_extract.py``).

    ``max_words`` caps driver memory by keeping only the most frequent
    words (count DESC, word ASC) — the standard trainer cap (HuggingFace
    ``limit_alphabet``-style).  The DEFAULT is a finite 2²⁰: on web-scale
    text the distinct-word table (typos, URLs, hashes) is billions of
    rows, and an uncapped collect is a driver OOM — the cap bounds the
    collect at ~1M rows while the count-ranked cut keeps every word that
    matters to merge statistics (below-cutoff words are the long tail of
    hapaxes).  Pass ``None`` to explicitly train on the full vocabulary
    (small corpora / parity tests), or use :func:`bpe_train_distributed`
    when even the capped table must stay distributed.

    Total Spark jobs: ONE collect (plus one top-k sort when
    ``max_words`` is set), independent of ``n_merges``."""
    if max_words is not None and max_words < 1:
        raise ValueError(f"bpe_train: max_words must be >= 1, got {max_words}")
    wc = _word_counts(docs, text_col)
    if max_words is not None:
        # collect one sentinel row past the cap: merge rules trained on a
        # truncated vocabulary can differ from the full-vocabulary rules,
        # so an ACTUAL truncation is warned, never silent (the default cap
        # changed from None to 2^20 — callers on >1M-word corpora should
        # hear about it)
        wc = wc.orderBy(F.col("n").desc(), F.col("w")).limit(max_words + 1)
    words = [(list(r.w), r.n) for r in wc.collect()]
    if max_words is not None and len(words) > max_words:
        import warnings

        warnings.warn(
            f"bpe_train: vocabulary exceeds max_words={max_words}; training "
            "on the most frequent words only — merge rules may differ from "
            "an uncapped run (pass max_words=None for the full vocabulary)",
            RuntimeWarning,
            stacklevel=2,
        )
        words = words[:max_words]
    return _train_merges_counts(words, n_merges)


def bpe_train_distributed(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Reference per-merge-job BPE trainer: each iteration counts
    weighted adjacent symbol pairs over the vocab-sized table with one
    Spark job and folds the winning pair into the symbol arrays.
    O(n_merges) sequential jobs — kept as the cross-check twin for
    :func:`bpe_train` (same reduction, same tie-break, same leftmost-
    first fold) and for vocabularies too large to collect even after
    the word-count reduction."""
    words = _word_counts(docs, text_col).select(
        F.split(F.col("w"), "").alias("syms"), F.col("n")
    )
    words = words.persist()
    words.count()
    merges: list[tuple[str, str]] = []
    cur = words
    for _ in range(n_merges):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) as a, "
                        "element_at(syms, i + 1) as b))"
                    )
                ).alias("p"),
                F.col("n"),
            )
            .groupBy("p")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        best = pairs[0]
        a, b = best.p.a, best.p.b
        merges.append((a, b))
        # localCheckpoint (not persist): truncates the logical plan, or
        # the nested fold expressions accumulate across iterations and
        # blow up Catalyst analysis time / driver heap by ~iteration 20
        nxt = cur.select(
            _merge_pair_in_array(F.col("syms"), a, b).alias("syms"), F.col("n")
        ).localCheckpoint(eager=True)
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    catalyst_max_rules: int = 24,
) -> DataFrame:
    """Apply learned BPE merge rules to each document: words split to
    characters, every rule folds left-to-right in training order, output
    is the per-doc subword sequence plus its length.

    Two physical routes with IDENTICAL semantics (asserted in tests):

    - ``len(merges) <= catalyst_max_rules`` — pure Catalyst: the rules
      become chained array folds inside one projection (zero Python,
      whole-stage codegen).  Chaining is capped because each rule nests
      another ``aggregate`` expression and Catalyst analysis blows past
      its iteration/heap limits around ~100 rules.
    - larger rule sets (the production 32k-merge case) — Arrow-batched
      ``mapInPandas``: the broadcast rule list applies per DISTINCT word
      with an in-batch memo cache, and a substring prefilter (a rule
      (a, b) can only fire if ``a+b`` is a substring of the word, since
      symbols are contiguous word substrings) skips the vast majority of
      rules per word.  Embarrassingly parallel, zero shuffle."""
    if len(merges) <= catalyst_max_rules:
        toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
        word_syms = F.transform(toks, lambda w: F.split(w, ""))

        def apply_rule(a: str, b: str):
            # closure factory: pyspark reads the lambda's arity, so
            # default-arg capture would look like a 3-arg HOF
            return lambda s: _merge_pair_in_array(s, a, b)

        for a, b in merges:
            word_syms = F.transform(word_syms, apply_rule(a, b))
        subwords = F.flatten(word_syms)
        return docs.select(
            id_col,
            subwords.alias("subwords"),
            F.size(subwords).alias("n_subwords"),
        )

    import re as _re

    rules = list(merges)
    narrow = docs.select(id_col, text_col)
    out_schema = f"{id_col} {dict(docs.dtypes)[id_col]}, subwords array<string>, n_subwords int"

    def encode_batches(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def encode_word(w: str) -> list[str]:
            hit = cache.get(w)
            if hit is not None:
                return hit
            syms = list(w)
            for a, b in rules:
                if len(syms) < 2:
                    break
                if a + b not in w:
                    continue  # symbols are contiguous substrings of w
                syms = _merge_word_py(syms, a, b, a + b)
            cache[w] = syms
            return syms

        tok_re = _re.compile(r"\S+")
        for pdf in batches:
            ids, subs, lens = [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = tok_re.findall((text or "").lower())
                flat: list[str] = []
                for w in words:
                    flat.extend(encode_word(w))
                ids.append(i)
                subs.append(flat)
                lens.append(len(flat))
            yield pd.DataFrame(
                {id_col: ids, "subwords": subs, "n_subwords": lens}
            )

    return narrow.mapInPandas(encode_batches, schema=out_schema)


def bpe_vocab(merges: list[tuple[str, str]], alphabet: list[str]) -> list[tuple[str, int]]:
    """Subword → id table from trained merges (GPT-2 layout): the byte/
    char alphabet first (sorted), then one id per merge rule in training
    order — so encoders and decoders on any engine agree on ids without
    shipping a counts table."""
    vocab: list[tuple[str, int]] = []
    seen: set[str] = set()
    for sym in sorted(alphabet):
        if sym not in seen:
            vocab.append((sym, len(vocab)))
            seen.add(sym)
    for a, b in merges:
        merged = a + b
        if merged not in seen:
            vocab.append((merged, len(vocab)))
            seen.add(merged)
    return vocab


def bpe_encode_ids(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    alphabet: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = -1,
) -> DataFrame:
    """End-to-end BPE tokenization to INTEGER ids: apply the merge rules
    (:func:`bpe_encode`), then map each subword through the
    :func:`bpe_vocab` table (broadcast join — the vocab is bounded by
    alphabet + n_merges).  Out-of-vocabulary subwords (only possible
    for characters outside ``alphabet``) map to ``unk_id``.

    Scale: the encode stage is embarrassingly parallel; the id mapping
    explodes to (doc, pos, subword), broadcast-joins the vocab, and
    reassembles row-locally via one doc_id shuffle — the
    :func:`encode_tokens` shape.  One row per input doc_id: documents
    whose text yields zero subwords (empty/whitespace-only — posexplode
    of an empty array drops the row pre-groupBy) are re-joined from the
    distinct id set with an empty ``token_ids`` and ``n_tokens`` 0, the
    same coverage contract as :func:`unigram_logprob` /
    ``winnow_span_profile``."""
    spark = docs.sparkSession
    vocab_df = spark.createDataFrame(
        bpe_vocab(merges, alphabet), "subword string, sub_id int"
    )
    enc = bpe_encode(docs, merges, text_col, id_col)
    pos = enc.select(
        id_col, F.posexplode("subwords").alias("pos", "subword")
    )
    joined = pos.join(F.broadcast(vocab_df), "subword", "left")
    sid = F.coalesce(F.col("sub_id"), F.lit(unk_id)).cast("int")
    encoded = joined.groupBy(id_col).agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("pos"), sid.alias("sid")))
            ),
            lambda s: s["sid"],
        ).alias("token_ids")
    )
    return (
        docs.select(id_col)
        .distinct()
        .join(encoded, id_col, "left")
        .select(
            id_col,
            F.coalesce("token_ids", F.array().cast("array<int>")).alias("token_ids"),
        )
        .withColumn("n_tokens", F.size("token_ids"))
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unigram language-model quality score (the CCNet-style signal:
    rank documents by how probable their tokens are under a corpus LM —
    gibberish and boilerplate-with-rare-tokens score low): per document,
    the mean over token positions of ``ln(count(token) / total_tokens)``
    trained on the same corpus.  Every corpus token has count >= 1, so
    no OOV smoothing is needed for self-scoring; to score against an
    external LM, substitute the counts table.

    Float determinism: the log-sum folds in EXPLICIT position order on
    both engines (Spark ``aggregate`` over the position-sorted array,
    DuckDB ordered aggregate), the probability is one exact-int double
    division, and the mean divides once — bit-identical cross-engine
    (the PSI precedent).

    Scale: ONE map-side-combined token-count shuffle (vocab-sized
    output); the counts table then folds into a ONE-ROW broadcast
    ``map_from_entries`` LM and scoring is a single NARROW projection —
    ``F.aggregate`` over each doc's own token array with map lookups,
    O(1) aggregation state per doc regardless of document length and
    ZERO scoring shuffles (no explode → join → regroup round trip; the
    fold runs left-to-right over the array, the exact position order
    of the former sorted-struct fold — same bits, same oracle).
    Boundary (documented, inherent to SELF-scoring): the broadcast map
    is vocabulary-sized — fine through ~10^6 word types (a few tens of
    MB); for open-vocabulary web scale, swap the counts table for the
    hashed-bucket LM (:func:`..operators.corpus.nb_quality_scores`
    infrastructure), which bounds the model at ``buckets`` entries.
    The scan-parallelism guard (:func:`.dedup._parallelize_scan`)
    keeps the tokenizing CPU work on every core when the input is a
    single small file."""
    from .dedup import _parallelize_scan

    base = _parallelize_scan(docs).select(
        F.col(id_col).alias("doc_id"),
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0).alias(
            "_toks"
        ),
    )
    counts = base.select(F.explode("_toks").alias("token")).groupBy("token").agg(
        F.count(F.lit(1)).alias("c")
    )
    total = counts.agg(F.sum("c").alias("total"))
    lm_map = counts.crossJoin(F.broadcast(total)).agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("token"),
                        (
                            F.col("c").cast("double")
                            / F.col("total").cast("double")
                        ).alias("p"),
                    )
                )
            )
        ).alias("_lm")
    )
    logsum = F.aggregate(
        F.transform(F.col("_toks"), lambda t: F.element_at("_lm", t)),
        F.lit(0.0),
        lambda acc, p: acc + F.log(p),
    )
    return base.crossJoin(F.broadcast(lm_map)).select(
        "doc_id",
        # NULL-text rows tokenize to NULL, not []: keep the "no tokens
        # scores as 0 tokens" contract the oracle's coalesce encodes
        F.coalesce(F.size("_toks"), F.lit(0)).cast("long").alias("n_tokens"),
        F.round(
            F.when(F.size("_toks") >= 1, logsum) / F.size("_toks"), 8
        ).alias("avg_logprob"),
    )


def blocklist_hits(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hits: int = 0,
) -> DataFrame:
    """Term-blocklist screening (the NSFW/spam gate every corpus runs):
    per document, total case-insensitive WHOLE-WORD occurrences across
    the blocklist and a keep/drop flag (``n_hits <= max_hits`` keeps).

    Scale: the blocklist compiles into ONE alternation regex evaluated
    by ``regexp_count`` — a single codegen'd scan pass, zero shuffles,
    regardless of list size (regex engines handle thousand-term unions;
    beyond that, tokenize + broadcast-join a term table instead)."""
    hits = blocklist_hits_expr(terms, text_col)
    return docs.select(
        id_col,
        hits.alias("n_hits"),
        (hits <= max_hits).alias("keep"),
    )


def blocklist_hits_expr(terms: list[str], text_col: str = "text"):
    """The :func:`blocklist_hits` counting expression as a bare Column —
    ONE alternation regex over the text — so a pipeline can evaluate the
    screen inline on an existing frame (zero joins) instead of joining
    the per-doc hit table back by id."""
    import re as _re

    if not terms:
        raise ValueError("blocklist is empty")
    pat = r"(?i)\b(" + "|".join(_re.escape(t) for t in terms) + r")\b"
    return F.regexp_count(F.col(text_col), F.lit(pat))


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval: score every document against a bag of
    query terms with the Okapi BM25 function (Robertson/Sparck Jones
    idf in the Lucene ``ln(1 + (N - df + 0.5)/(df + 0.5))`` form, so
    scores stay non-negative) and return the top-k documents.  This is
    the ranking half of the retrieval stack — `term_postings_index` /
    `conjunctive_term_search` answer WHICH documents match, BM25 orders
    them; `tfidf_top_terms` is the per-document dual (which terms
    characterize a doc, not which docs answer a query).

    Determinism contract: per-term tf and the per-document length come
    from one tokenization (`regexp_extract_all(lower(text), '\\S+')` —
    the corpus-wide convention); the score is a FIXED left-to-right sum
    over the query terms (Python builds the expression term by term, no
    data-order-dependent aggregation of doubles), rounded to 8 places,
    and ranking orders by (rounded score DESC, id) so the rank column
    is reproducible bit-for-bit in the SQL oracle — ``ln`` last-ulp
    divergence between libm implementations is absorbed by the rounding
    (the `unigram_logprob` precedent).

    Scale: NO explode and NO per-term join — each query term compiles
    to one ``size(filter(tokens, = term))`` projection column, so the
    corpus is read in a single narrow codegen'd scan; the corpus stats
    (N, total tokens, per-term df) reduce to ONE broadcast row; and the
    final top-k is `TakeOrderedAndProject` (per-partition heaps, no
    global sort shuffle).  Query cost is O(corpus scan) regardless of
    k, with zero wide shuffles — at 100 TB this is the scan-bound
    brute-force baseline; a standing query workload would precompute
    `term_postings_index` and intersect instead."""
    terms = sorted(dict.fromkeys(t.lower() for t in query_terms))
    if not terms:
        raise ValueError("bm25_search: query_terms is empty")

    def _term_eq(t: str):
        # one-arg lambda per term: a two-parameter lambda would make
        # F.filter bind the second parameter to the ARRAY INDEX
        return lambda x: x == F.lit(t)

    if not (k1 > 0 and 0 <= b <= 1):
        raise ValueError(f"bm25_search: bad k1={k1} or b={b}")
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
    per = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.size(toks), F.lit(0)).cast("long").alias("dl"),
        *[
            F.coalesce(F.size(F.filter(toks, _term_eq(t))), F.lit(0))
            .cast("long")
            .alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    ).withColumn(
        "avgdl", F.col("total_tokens").cast("double") / F.col("n_docs")
    )
    return _bm25_rank(per.join(F.broadcast(stats)), len(terms), k1, b, top_k)


def _bm25_weight(tf: str, df: str, k1: float, b: float):
    """One query term's Okapi BM25 contribution from the ``tf`` and
    ``df`` columns and the ``n_docs``/``dl``/``avgdl`` corpus-stats
    columns (Lucene idf) — the one weight every BM25 scorer uses
    (:func:`bm25_search` and the index-served
    :func:`.retrieval.bm25_search_indexed` /
    :func:`.retrieval.bm25_search_many`)."""
    tfd = F.col(tf).cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col(df) + F.lit(0.5))
        / (F.col(df).cast("double") + F.lit(0.5))
    )
    norm = tfd + F.lit(float(k1)) * (
        F.lit(float(1.0 - b))
        + F.lit(float(b)) * F.col("dl").cast("double") / F.col("avgdl")
    )
    return idf * (tfd * F.lit(float(k1 + 1.0)) / norm)


def _bm25_rank(
    joined: DataFrame, n_terms: int, k1: float, b: float, top_k: int
) -> DataFrame:
    """The single-query BM25 tail over per-doc ``_tf{i}``/``_df{i}``
    columns: fold the term weights left to right in term order, round to
    8 places, keep matched docs, and rank the top-k by (score DESC,
    id)."""
    from pyspark.sql import Window

    score = _bm25_weight("_tf0", "_df0", k1, b)
    for i in range(1, n_terms):
        score = score + _bm25_weight(f"_tf{i}", f"_df{i}", k1, b)
    n_matched = sum(
        ((F.col(f"_tf{i}") > 0).cast("int") for i in range(n_terms)),
        start=F.lit(0),
    )
    ranked = (
        joined.select(
            "doc_id",
            n_matched.alias("n_matched"),
            "dl",
            F.round(score, 8).alias("score"),
        )
        .filter(F.col("n_matched") >= 1)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(top_k)
    )
    return ranked.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id"))
        ),
    ).select("doc_id", "n_matched", "dl", "score", "rank")


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-phrase search via positional postings: documents containing
    the tokens of ``phrase`` CONSECUTIVELY, with the occurrence count
    and the (1-based) position of the first occurrence.  Completes the
    retrieval trio — `conjunctive_term_search` is boolean AND-anywhere,
    `bm25_search` is ranked, THIS is adjacency.

    Mechanics (pure Catalyst, one narrow scan, zero shuffles): for the
    k-th phrase term, collect its 1-based token positions and shift
    them back by k; an exact phrase occurrence is a position present in
    EVERY shifted list, so the occurrence set is a left-to-right
    ``array_intersect`` chain anchored on term 0.  Positions are
    distinct by construction, so the intersect's set semantics lose
    nothing; the count and min are order-independent.  At 100 TB this
    is the scan-bound path; a standing phrase workload would persist
    positional postings (`term_postings_index` + a position column) and
    join instead."""
    terms = [t.lower() for t in phrase]
    if not terms or any((not t) or any(c.isspace() for c in t) for t in terms):
        raise ValueError(f"phrase_search: bad phrase {phrase!r}")
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)

    def _indexed_match(t: str):
        # (element, index) lambda: 1-based position where the token
        # matches, -1 otherwise (positions are >= 1, so -1 never
        # collides).  Factory-bound — extra lambda params would be
        # misread as the index argument.
        return lambda x, i: F.when(x == F.lit(t), i + F.lit(1)).otherwise(
            F.lit(-1)
        )

    def _shift(k: int):
        return lambda p: p - F.lit(k)

    def _positive(p):
        return p >= F.lit(1)

    anchor = None
    for k, t in enumerate(terms):
        raw = F.filter(F.transform(toks, _indexed_match(t)), _positive)
        shifted = F.transform(raw, _shift(k)) if k else raw
        anchor = shifted if anchor is None else F.array_intersect(anchor, shifted)
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(anchor).cast("long").alias("n_occurrences"),
            F.array_min(anchor).cast("long").alias("first_pos"),
        )
        .filter(F.col("n_occurrences") >= 1)
    )
