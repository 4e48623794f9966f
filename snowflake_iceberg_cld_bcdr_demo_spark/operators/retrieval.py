"""Persisted inverted index + index-consuming retrieval — the
precompute-once-serve-many posture for the retrieval trio.

:func:`operators.textops.bm25_search`,
:func:`operators.textops.phrase_search` and
:func:`operators.corpus.conjunctive_term_search` are the certified
SCAN-BOUND baselines: each query re-reads and re-tokenizes the whole
corpus.  That is the right shape for one-off queries, but a standing
query workload over a 100 TB corpus pays the scan once per query —
exactly the workload the reference serves with materialized views
(`/root/reference/scripts/12_materialized_views.sql:41-64`: precompute the
expensive aggregation once, let every later query read the small
artifact).  This module applies that pattern to retrieval, the same way
:func:`operators.corpus.admission_state` applied it to admission:

- :func:`retrieval_index` builds the index ONCE — full positional
  postings ``(term, doc_id, tf, positions)`` plus per-document lengths
  ``(doc_id, dl)`` — one token shuffle over the corpus, amortized
  across every query that follows,
- :func:`bm25_search_indexed` / :func:`phrase_search_indexed` /
  :func:`conjunctive_term_search_indexed` answer the SAME queries from
  the index, bit-identical to the rescan operators (pytest-pinned),
  reading only the postings rows of the query's own terms — the
  ``term IN (...)`` filter pushes into the postings parquet scan, so a
  3-term query over a 10⁹-doc corpus reads 3 terms' rows, not 10⁹
  documents,
- :func:`save_retrieval_index` / :func:`load_retrieval_index` persist
  the pair as lakehouse tables (snapshotted, time-travelable — index
  rebuilds are BCDR-managed state like the admission index).

Scale notes: the postings build shuffles once on ``(term, doc_id)`` —
the composite key keeps hot terms (stopwords) spread across documents,
so no reducer sees a stopword's full posting list; per-row position
arrays are bounded by single-document term frequency.  ``doclens`` is a
narrow projection.  On the query side nothing corpus-sized shuffles:
BM25 pivots the matched postings (|terms| × df rows) and joins doclens
on doc_id; phrase/conjunctive never touch doclens at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textops import _bm25_rank, _bm25_weight

INDEX_TABLES = ("postings", "doclens")


def retrieval_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> dict[str, DataFrame]:
    """Build the positional inverted index of a corpus as two frames:

    - ``postings``: one row per (term, document) — ``(term, doc_id,
      tf, positions)`` with 1-based ascending token positions.  FULL
      (no df floor, no posting cap): unlike
      :func:`operators.corpus.term_postings`' capped ARRAY layout, the
      row layout has no per-term array to blow up, so completeness
      costs nothing and BM25/phrase answers stay exact,
    - ``doclens``: ``(doc_id, dl)`` for EVERY document (empty and
      null-text docs get dl=0) — BM25's length norm and corpus stats.

    Tokenization is the corpus-wide convention
    (``regexp_extract_all(lower(text), '\\S+')``), so index answers are
    bit-identical to the rescan operators'."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    doclens = base.select(
        "doc_id",
        F.coalesce(F.size("_toks"), F.lit(0)).cast("long").alias("dl"),
    )
    postings = (
        base.select("doc_id", F.posexplode("_toks").alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos") + F.lit(1))).alias(
                "positions"
            ),
        )
    )
    return {"postings": postings, "doclens": doclens}


def save_retrieval_index(
    catalog, namespace: str, prefix: str, index: dict[str, DataFrame]
) -> None:
    """Persist a :func:`retrieval_index` dict as two lakehouse tables
    under ``prefix`` — the build-once artifact every later query
    consumes."""
    missing = set(INDEX_TABLES) - set(index)
    if missing:
        raise ValueError(f"save_retrieval_index: missing {sorted(missing)}")
    for name in INDEX_TABLES:
        catalog.create_table(namespace, f"{prefix}_{name}", index[name])


def load_retrieval_index(catalog, namespace: str, prefix: str) -> dict[str, DataFrame]:
    """Reload a persisted retrieval index."""
    return {
        name: catalog.load(namespace, f"{prefix}_{name}")
        for name in INDEX_TABLES
    }


def append_retrieval_index(
    catalog,
    namespace: str,
    prefix: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incremental index maintenance — the `admission_state` pattern:
    when new documents are admitted, append THEIR postings and doc
    lengths instead of rebuilding over the corpus.  Correct by layout:
    postings rows are per (term, document), so disjoint new doc_ids
    contribute exactly the rows a full rebuild would add
    (append-vs-rebuild equality is pytest-pinned).  Cost is O(batch),
    the corpus is never rescanned.  Run the lakehouse small-file
    compaction on the two tables on the usual maintenance cadence."""
    idx = retrieval_index(new_docs, text_col, id_col)
    for name in INDEX_TABLES:
        catalog.append(namespace, f"{prefix}_{name}", idx[name])


def compact_retrieval_index(
    catalog,
    namespace: str,
    prefix: str,
    keep_last_snapshots: int = 2,
) -> dict[str, int]:
    """Lifecycle maintenance for the persisted index — the
    :func:`..streaming.curation.compact_admission_state` pattern applied
    to retrieval: every :func:`append_retrieval_index` batch lands its
    own data dir and snapshot, so after N daily batches the postings
    table is N small dirs and N manifest entries even though its CONTENT
    grows only with the corpus.  Small-file compaction rewrites each
    table into one dir (also materializing any outstanding MoR delete
    dirs a :func:`..operators.takedown.takedown_docs` left behind), and
    snapshot expiry drops the per-batch history — size O(corpus tokens),
    never O(batches).

    Run it BETWEEN index writers on the usual maintenance cadence (a
    compaction is a replace snapshot; an appender planning against a
    pre-compaction snapshot will CAS-retry).  Returns per-table row
    counts after maintenance — the state-size budget a scheduler can
    alert on."""
    sizes: dict[str, int] = {}
    for name in INDEX_TABLES:
        t = f"{prefix}_{name}"
        catalog.compact(namespace, t)
        catalog.expire_snapshots(namespace, t, keep_last=keep_last_snapshots)
        sizes[name] = catalog.load(namespace, t).count()
    return sizes


def _require(index: dict[str, DataFrame], fn: str) -> tuple[DataFrame, DataFrame]:
    missing = set(INDEX_TABLES) - set(index)
    if missing:
        raise ValueError(f"{fn}: index missing {sorted(missing)}")
    return index["postings"], index["doclens"]


def bm25_search_indexed(
    index: dict[str, DataFrame],
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Okapi BM25 top-k from the persisted index — bit-identical to
    :func:`operators.textops.bm25_search` (same Lucene idf, same fixed
    left-to-right term fold, same rounding and (score, id) tiebreak;
    a term with tf=0 contributes exactly +0.0 to the IEEE sum, so
    folding only MATCHED terms in the same term order reproduces the
    full fold bit for bit).

    Cost: the ``term IN (...)`` filter reaches the postings scan
    (PushedFilters — pytest-pinned), so the read is O(Σ df of the query
    terms) postings rows + one narrow doclens pass for the corpus stats
    and length norm, instead of tokenizing every document.  The only
    shuffles are the |matched-docs| pivot and the doc_id join; the
    final top-k is TakeOrdered, no global sort."""
    terms = sorted(dict.fromkeys(t.lower() for t in query_terms))
    if not terms:
        raise ValueError("bm25_search_indexed: query_terms is empty")
    if not (k1 > 0 and 0 <= b <= 1):
        raise ValueError(f"bm25_search_indexed: bad k1={k1} or b={b}")
    postings, doclens = _require(index, "bm25_search_indexed")
    stats = (
        doclens.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_tokens"),
        )
        .withColumn(
            "avgdl", F.col("total_tokens").cast("double") / F.col("n_docs")
        )
    )
    matched = postings.filter(F.col("term").isin(terms)).select(
        "term", "doc_id", "tf"
    )
    # true per-term document frequencies, one broadcastable row (sum
    # over an empty match set is NULL — coalesce keeps df=0 exact)
    dfs = matched.agg(
        *[
            F.coalesce(
                F.sum((F.col("term") == F.lit(t)).cast("long")), F.lit(0)
            ).alias(f"_df{i}")
            for i, t in enumerate(terms)
        ]
    )
    per = matched.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("term") == F.lit(t), F.col("tf"))),
                F.lit(0),
            )
            .cast("long")
            .alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ]
    )
    joined = (
        per.join(doclens, "doc_id")
        .join(F.broadcast(stats))
        .join(F.broadcast(dfs))
    )
    return _bm25_rank(joined, len(terms), k1, b, top_k)


def phrase_search_indexed(
    index: dict[str, DataFrame], phrase: list[str]
) -> DataFrame:
    """Exact-phrase search from the persisted positional postings —
    bit-identical to :func:`operators.textops.phrase_search` (the
    stored 1-based positions are exactly the arrays the rescan builds;
    shift-and-intersect is the same set algebra, and occurrence count /
    first position are order-independent).

    Cost: reads only the phrase terms' postings rows (filter pushed to
    the scan) and pivots them per document — one |matched-docs| shuffle,
    no corpus scan, doclens untouched."""
    terms = [t.lower() for t in phrase]
    if not terms or any((not t) or any(c.isspace() for c in t) for t in terms):
        raise ValueError(f"phrase_search_indexed: bad phrase {phrase!r}")
    postings, _ = _require(index, "phrase_search_indexed")
    wanted = sorted(set(terms))
    col_of = {t: f"_p{i}" for i, t in enumerate(wanted)}
    piv = (
        postings.filter(F.col("term").isin(wanted))
        .select("doc_id", "term", "positions")
        .groupBy("doc_id")
        .agg(
            *[
                F.first(
                    F.when(F.col("term") == F.lit(t), F.col("positions")),
                    ignorenulls=True,
                ).alias(col_of[t])
                for t in wanted
            ]
        )
    )

    def _shift(k: int):
        return lambda p: p - F.lit(k)

    anchor = None
    for k, t in enumerate(terms):
        raw = F.col(col_of[t])
        shifted = F.transform(raw, _shift(k)) if k else raw
        anchor = shifted if anchor is None else F.array_intersect(anchor, shifted)
    return (
        piv.select(
            "doc_id",
            F.size(anchor).cast("long").alias("n_occurrences"),
            F.array_min(anchor).cast("long").alias("first_pos"),
        )
        # a doc missing ANY phrase term has a NULL pivot column -> NULL
        # intersect -> NULL size: dropped here, same as the rescan's
        # empty-intersection filter
        .filter(F.col("n_occurrences") >= 1)
    )


def conjunctive_term_search_indexed(
    index: dict[str, DataFrame],
    terms: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Conjunctive (AND) term search from the persisted index —
    bit-identical to :func:`operators.corpus.conjunctive_term_search`
    (the stored per-(term, doc) tf rows ARE the frame that operator
    builds by exploding the corpus; everything downstream is the same
    aggregation).

    Cost: reads the query terms' postings rows only; one doc_id
    shuffle carrying at most |terms| rows per matched document."""
    if not terms:
        raise ValueError("conjunctive_term_search_indexed: terms is empty")
    postings, _ = _require(index, "conjunctive_term_search_indexed")
    wanted = sorted({t.lower() for t in terms})
    return (
        postings.filter(F.col("term").isin(wanted))
        .groupBy("doc_id")
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


def bm25_search_many(
    index: dict[str, DataFrame],
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """BATCHED BM25: serve a whole TABLE of queries from the persisted
    index in one pass — the workload shape a training-data pipeline
    actually runs (thousands of retrieval probes per build: eval-set
    leak checks, hard-negative mining, dedup-by-retrieval), where
    per-query operators would launch thousands of jobs.

    ``queries`` is ``(query_id, term)`` — one row per query term
    (duplicate terms within a query are deduped after lowercasing, the
    single-query operator's convention).  Output: ``(query_id, doc_id,
    n_matched, dl, score, rank)``, the top ``top_k`` docs per query
    ranked like :func:`operators.textops.bm25_search` — and for any
    single query the (doc_id, score) set is BIT-IDENTICAL to that
    operator (pytest-pinned): the per-doc score folds term
    contributions in ascending-term order via a sorted-struct
    ``F.aggregate`` (never a float groupBy-sum, whose addition order is
    partition-dependent), and an unmatched term's contribution is
    exactly +0.0 in the single-query fold, so dropping it changes no
    bits.

    Scale: query terms join the postings on ``term`` — |queries|·|terms|
    is the SMALL side (broadcast); the postings side streams map-side
    with no shuffle of the index.  Per-term dfs reduce to one
    O(distinct query terms) broadcast table; corpus stats to one row.
    The only wide exchanges are the (query_id, doc_id) score fold and
    the per-query top-k window — both sized by matched postings, not
    by the corpus."""
    if not (k1 > 0 and 0 <= b <= 1):
        raise ValueError(f"bm25_search_many: bad k1={k1} or b={b}")
    postings, doclens = _require(index, "bm25_search_many")
    qt = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.lower(F.col(term_col)).alias("term"),
        )
        .distinct()
    )
    stats = (
        doclens.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_tokens"),
        )
        .withColumn(
            "avgdl", F.col("total_tokens").cast("double") / F.col("n_docs")
        )
    )
    # true per-term document frequency, computed once per DISTINCT term
    # across all queries (a term shared by 1000 queries costs one row)
    dfs = (
        postings.join(
            F.broadcast(qt.select("term").distinct()), "term", "left_semi"
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    matched = (
        postings.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfs), "term")
        .join(doclens, "doc_id")
        .join(F.broadcast(stats))
    )
    folded = (
        matched.select(
            "query_id",
            "doc_id",
            "dl",
            F.struct(
                F.col("term"), _bm25_weight("tf", "df", k1, b).alias("c")
            ).alias("tc"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_matched"),
            F.first("dl").alias("dl"),
            # ascending-term fold: the SAME addition order as the
            # single-query operator (and the oracle's sum ORDER BY term)
            F.aggregate(
                F.sort_array(F.collect_list("tc")),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("_s"),
        )
        .select(
            "query_id",
            "doc_id",
            "n_matched",
            "dl",
            F.round(F.col("_s"), 8).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        folded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "n_matched", "dl", "score", "rank")
    )
