"""Lexical search: BM25 top-k document retrieval.

The retrieval dual of llm/similarity.py's embedding ANN: score documents
against a keyword query with Okapi BM25 (Robertson/Spärck Jones) and
return the top k. In a curation pipeline this is targeted corpus
inspection ("show me the docs about X"), decontamination triage, and
the lexical half of hybrid (BM25 + dense) retrieval.

100 TB shape: the query's terms are a tiny literal set, so the corpus
word stream is FILTERED to query-term postings before anything
aggregates — the classic inverted-index probe expressed declaratively
(Catalyst pushes the isin() into the scan stage; non-matching words
never reach a shuffle). Document frequencies and corpus stats are
<= |terms| + 1 rows, broadcast back onto the postings; the final top-k
is an orderBy(limit k) → TakeOrderedAndProject (per-partition heaps,
never a global sort).

Determinism (the repo-wide oracle discipline): idf lns rounded to 6dp
FIRST; each per-(doc, term) score rounded to 6dp; per-doc totals
summed as exact DECIMAL(38, 6) so float addition order cannot matter;
one final double cast. avgdl is a single division in a one-row frame.

Reference parity: the reference has no search surface
(/root/reference/Configurable_ETL_Python.py); this is part of the
LLM-curation extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _store as ST
from .dedup import _words


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for `query` by Okapi BM25.

    score(d) = sum over distinct query terms t of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * |d| / avgdl))
    with idf(t) = ln(1 + (N - df_t + 0.5) / (df_t + 0.5)) (the
    Lucene-style always-positive form), tf the term count in d, |d| the
    doc's word count, avgdl the corpus mean. Ties break on smaller id.

    Matching is on the lowercased whitespace words every analysis op
    here uses; duplicate query terms count once (BM25 is defined over
    the term set). Output: (id_col, score, rank), rank 1..k.
    """
    if not (1 <= k):
        raise ValueError(f"k must be >= 1, got {k}")
    terms = sorted(set(query.lower().split()))
    if not terms:
        raise ValueError("query must contain at least one term")
    lt = F.lower(F.trim(F.col(text_col)))
    lens = df.select(
        F.col(id_col).alias("id"),
        F.regexp_count(lt, F.lit(r"\S+")).cast("long").alias("dl"),
    )
    stats = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    ).select(
        "n_docs",
        (F.col("total_dl").cast("double") / F.col("n_docs")).alias(
            "avgdl"
        ),
    )
    # dl rides the posting rows from the SAME projection that explodes
    # the words (size of the word array), so the scored path needs NO
    # join back against a corpus-sized doc-length relation — the
    # matched-doc tf aggregate picks dl up as max() for free. Before
    # this, `.join(lens, "id")` shuffled the whole corpus's lengths to
    # serve a handful of matched docs.
    tf = _query_tf(df, terms, id_col, text_col)
    dfreq = tf.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("df_t")
    )
    scored = _bm25_score(
        tf, F.broadcast(dfreq), F.broadcast(stats), k, k1, b
    )
    return _rank_tail(scored, id_col, "score")


def _rank_tail(scored, id_col: str, score_col: str):
    """Shared ranking tail: (id, <score>) -> (id_col, <score>, rank)
    with the repo-wide tie discipline (score desc, smaller id first).
    One definition for bm25_topk, bm25_search_index, and rrf_fuse so
    the rank/tie-break rules cannot diverge."""
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.orderBy(F.col(score_col).desc(), F.col("id").asc())
    )
    return scored.select(
        F.col("id").alias(id_col),
        score_col,
        rank.cast("long").alias("rank"),
    )


def _query_tf(
    df: DataFrame, terms: "list[str]", id_col: str, text_col: str
) -> DataFrame:
    """(id, w, tf, dl) for query-term postings only: ONE projection
    builds the word array, measures dl, explodes, and filters to the
    term literals — the isin() sits below the first exchange, so
    non-matching words never shuffle (plan-guarded in tests)."""
    arr = df.select(
        F.col(id_col).alias("id"),
        _words(F.col(text_col)).alias("__ws"),
    )
    postings = arr.select(
        "id",
        F.size("__ws").cast("long").alias("dl"),
        F.explode("__ws").alias("w"),
    ).where(F.col("w").isin(terms))
    return postings.groupBy("id", "w").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.max("dl").alias("dl"),
    )


def _bm25_score(
    tf: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared scoring tail: tf(id, w, tf, dl) x dfreq(w, df_t) x
    stats(n_docs, avgdl) -> top-k (id, score). idf lns 6dp-rounded
    first, per-term scores 6dp-rounded, per-doc DECIMAL(38,6) sums,
    one final double cast; orderBy+limit compiles to
    TakeOrderedAndProject. Shared by the one-shot bm25_topk and the
    persisted-index search, which keeps the two bit-identical."""
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - F.col("df_t") + 0.5)
            / (F.col("df_t") + 0.5)
        ),
        6,
    )
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
    )
    term_score = F.round(
        idf * F.col("tf").cast("double") * F.lit(k1 + 1.0) / denom, 6
    )
    return (
        tf.join(dfreq, "w")
        .join(stats)
        .select("id", term_score.cast("decimal(38,6)").alias("s6"))
        .groupBy("id")
        .agg(F.sum("s6").alias("s_sum"))
        .select("id", F.col("s_sum").cast("double").alias("score"))
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Persisted BM25 index (repeated-query workloads)
# ---------------------------------------------------------------------------


def _tb_col(w, buckets: int):
    """md5-derived term bucket — the physical partition key of the
    postings/df stores, deterministic so build and every probe agree."""
    from .sampling import md5_mod

    return md5_mod(w, buckets)


#: BM25 store layout version: SEGMENT design — postings/df rows land
#: one seg=<id> directory per batch and the per-segment _stats rows
#: (n_docs, total_dl) SUM at read time, so the index rolls forward
#: with pure appends (no read-modify-write anywhere). v2 = segment
#: visibility is governed by _segments manifests (_store.py):
#: build/extend/compact commit ATOMICALLY across the relations.
#: v3 = a per-segment `doclens` relation (id, dl — one row per doc,
#: INCLUDING zero-word docs) rides along so a compaction that purges
#: tombstoned docs can recompute _stats EXACTLY (a zero-word doc has
#: no posting rows, so postings alone cannot reproduce its n_docs
#: contribution). A tree without this stamp is refused — rebuild it.
_BM25_LAYOUT = "bm25-seg-v3"


def _doclens(corpus: DataFrame, id_col: str, text_col: str,
             term_buckets: int) -> DataFrame:
    """Per-doc (id, dl) rows — the _stats PRIMARY (stats are its
    count/sum), physically bucketed like the other relations. Only
    compaction scans it; searches keep reading the summed _stats."""
    from .sampling import md5_mod

    return corpus.select(
        F.col(id_col).alias("id"),
        F.regexp_count(
            F.lower(F.trim(F.col(text_col))), F.lit(r"\S+")
        ).cast("long").alias("dl"),
    ).withColumn("db", md5_mod(F.col("id").cast("string"), term_buckets))


def _bm25_segment(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    term_buckets: int,
):
    """(postings, doclens, stats) relations for one corpus segment
    under the shared tokenization — build writes the first segment,
    extend appends later ones; identical construction on purpose. Both
    callers derive the segment's df rows from the postings they
    actually materialized (build: the stored parquet; extend: the
    persisted relation), never from a re-evaluated DAG."""
    arr = corpus.select(
        F.col(id_col).alias("id"),
        _words(F.col(text_col)).alias("__ws"),
    )
    postings = (
        arr.select(
            "id",
            F.size("__ws").cast("long").alias("dl"),
            F.explode("__ws").alias("w"),
        )
        .groupBy("id", "w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.max("dl").alias("dl"),
        )
        .withColumn("tb", _tb_col(F.col("w"), term_buckets))
    )
    # stats derive from doclens, which counts EVERY doc (a doc whose
    # words never match a query still contributes to N and avgdl)
    doclens = _doclens(corpus, id_col, text_col, term_buckets)
    stats = doclens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_dl"),
    )
    return postings, doclens, stats


def bm25_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    term_buckets: int = 64,
) -> None:
    """WRITE-SIDE BM25 index: one pass over the corpus persists under
    ``path`` everything a query needs, so repeated retrieval stops
    rescanning 100 TB of text per question (bm25_topk is the one-off
    triage tool; this is the query-workload shape, mirroring
    ivf_build_index / minhash_build_index):

    - ``postings/`` — (id, w, tf, dl) term frequencies WITH the doc
      length denormalized on, physically partitioned by
      tb = md5(w) % term_buckets: a query's term set prunes the scan to
      its own buckets at the file listing.
    - ``df/`` — (w, df_t) PER-SEGMENT document frequencies, same
      partitioning; a term's global df is the SUM over segments (df is
      additive, so extends are pure appends).
    - ``_stats/`` — one (n_docs, total_dl) row PER SEGMENT; the search
      sums them and derives avgdl (a ratio doesn't merge; the sums do).
    - ``_meta/`` — (term_buckets, layout), read back by search/extend
      so the layout and hash family cannot desynchronize.

    The postings store is vocabulary-wide (every word, not a query's),
    which is what makes it reusable; its size is the corpus's distinct
    (doc, word) pairs — the classic inverted index. Roll it forward
    with bm25_extend_index; the caller owns doc-id uniqueness across
    segments (re-adding a doc id double-counts it, as in any inverted
    index without a delete log). The build commits all three relations
    ATOMICALLY (segment-manifest protocol, _store.py)."""
    if term_buckets < 1:
        raise ValueError(
            f"term_buckets must be >= 1, got {term_buckets}"
        )
    spark = corpus.sparkSession
    postings, doclens, stats = _bm25_segment(
        corpus, id_col, text_col, term_buckets
    )
    # one-row validation: an empty corpus would persist an index whose
    # summed n_docs is 0 (every later search scores NULL) AND whose
    # empty postings tree can't even be re-read for df — refuse now
    stats_row = stats.collect()[0]
    if not stats_row.n_docs:
        raise ValueError(
            "bm25_build_index: corpus is empty — refusing to persist "
            "an index with n_docs = 0 (searches would score NULL)"
        )
    seg, meta_id = ST.new_segment_id(), ST.new_meta_id()
    ST.write_segment(postings, path, "postings", seg, "tb")
    # df from the STORED postings (one cheap pass over the fresh
    # segment, not a second corpus scan); extend can't do this (a
    # read-back would include older segments) and counts from its own
    # persisted batch relation
    ST.write_segment(
        ST.read_segment(spark, path, "postings", seg)
        .groupBy("w", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("df_t")),
        path, "df", seg, "tb",
    )
    ST.write_segment(doclens, path, "doclens", seg, "db")
    # write the already-collected row (no second corpus pass)
    ST.write_segment(
        spark.createDataFrame(
            [(int(stats_row.n_docs), int(stats_row.total_dl))],
            "n_docs long, total_dl long",
        ),
        path, "_stats", seg, None,
    )
    ST.commit_build(
        spark, path, seg, meta_id, (term_buckets, _BM25_LAYOUT, meta_id),
        "term_buckets int, layout string, meta_id string",
    )


def bm25_extend_index(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    tag: "str | None" = None,
) -> bool:
    """Roll the BM25 index forward: a new segment carrying the batch's
    postings, its per-segment df rows, and its (n_docs, total_dl)
    stats row under the index's OWN stored term_buckets (read from
    _meta — callers cannot desynchronize the bucket layout).
    Everything in the segment design is additive — search sums
    df/stats across segments; compact_index collapses a
    heavily-extended index. Pinned in tests:
    search(index(A) extended with B) == search(index(A ∪ B))
    bit-for-bit.

    ATOMIC across the three relations: one manifest commit makes all
    three segment dirs visible at once (a mid-extend crash leaves
    invisible orphans; a retry cannot double-append). Pass `tag` for
    retry idempotence — returns False if that tag already committed."""
    spark = batch.sparkSession
    meta, _, tags, _ = ST.committed_state(
        spark, path, (_BM25_LAYOUT,), kind="bm25 index"
    )
    if tag is not None and tag in tags:
        return False
    postings, doclens, stats = _bm25_segment(
        batch, id_col, text_col, int(meta.term_buckets)
    )
    seg = ST.new_segment_id()
    ST.write_segment(postings, path, "postings", seg, "tb")
    # df from the JUST-written segment: the df rows MUST count exactly
    # the posting rows that were stored (re-evaluating the tokenize DAG
    # would both pay a second batch pass and, for a
    # non-value-deterministic source, silently skew idf)
    ST.write_segment(
        ST.read_segment(spark, path, "postings", seg)
        .groupBy("w", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("df_t")),
        path, "df", seg, "tb",
    )
    ST.write_segment(doclens, path, "doclens", seg, "db")
    ST.write_segment(stats, path, "_stats", seg, None)
    return ST.commit_extend(path, seg, meta.meta_id, tag=tag)


def bm25_search_index(
    spark,
    path: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    as_of_version: "int | None" = None,
) -> DataFrame:
    """Query a persisted BM25 index: the query's terms map to their
    md5 buckets, the postings/df scans prune to those partitions at the
    file listing (un-probed buckets cost zero I/O), and the shared
    scoring tail reproduces bm25_topk bit-for-bit (pytest-pinned) —
    without touching the corpus text at all. Per-query cost is the
    probed buckets' postings, not the corpus.

    Tombstoned docs (_store.delete_from_index) are excluded from the
    RESULTS immediately (their postings are anti-joined away before
    scoring); the df/n_docs/avgdl statistics continue to include them
    until compact_index physically purges the rows — Lucene's
    deleted-docs-count-until-merge semantics, the honest contract when
    recomputing global stats per delete would rescan the corpus."""
    if not (1 <= k):
        raise ValueError(f"k must be >= 1, got {k}")
    terms = sorted(set(query.lower().split()))
    if not terms:
        raise ValueError("query must contain at least one term")
    meta, segs, _, man = ST.committed_state(
        spark, path, (_BM25_LAYOUT,), kind="bm25 index",
        version=as_of_version,
    )
    # the probe's bucket set, computed driver-side with the SAME md5
    # window _tb_col uses (hashlib.md5 == Spark md5; % of a non-negative
    # == pmod) — |terms| hashes, no Spark job
    import hashlib

    tb = int(meta.term_buckets)
    buckets = sorted(
        {
            int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16) % tb
            for t in terms
        }
    )
    tf = ST.apply_deletes(
        ST.read_committed(spark, path, "postings", segs)
        .where(F.col("tb").isin(buckets))
        .where(F.col("w").isin(terms))
        .select("id", "w", "tf", "dl"),
        ST.read_deletes(spark, path, man), "id",
    )
    # df/stats SUM across segments (the append-only extend design):
    # both aggregations are bounded — <= |terms| x segments df rows,
    # one stats row per segment
    dfreq = (
        ST.read_committed(spark, path, "df", segs)
        .where(F.col("tb").isin(buckets))
        .where(F.col("w").isin(terms))
        .groupBy("w")
        .agg(F.sum("df_t").cast("long").alias("df_t"))
    )
    sums = (
        ST.read_committed(spark, path, "_stats", segs)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_dl").cast("long").alias("total_dl"),
        )
    )
    # one-row validation read (bounded: _stats is one row per segment):
    # an index built/extended over an EMPTY corpus has n_docs = 0, and
    # avgdl = total_dl/0 would NULL every score downstream — refuse it
    # loudly instead, mirroring the _store.committed_state guard style
    n_docs_row = sums.collect()[0]
    if not n_docs_row.n_docs:
        raise ValueError(
            f"bm25 index at {path} covers 0 documents (built or "
            f"compacted over an empty corpus) — scores would be NULL; "
            f"rebuild the index over a non-empty corpus"
        )
    stats = sums.select(
        "n_docs",
        (
            F.col("total_dl").cast("double") / F.col("n_docs")
        ).alias("avgdl"),
    )
    scored = _bm25_score(
        tf, F.broadcast(dfreq), F.broadcast(stats), k, k1, b
    )
    return _rank_tail(scored, id_col, "score")


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion
# ---------------------------------------------------------------------------


def rrf_fuse(
    rankings: "list[DataFrame]",
    k: int = 10,
    k0: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Buettcher SIGIR 2009):
    fuse N ranked lists into one by score(d) = sum over lists of
    1 / (k0 + rank_d(list)) — the standard hybrid-retrieval combiner
    (BM25 + dense ANN), score-scale-free because only RANKS enter.
    k0 = 60 is the published default; larger k0 flattens the fusion.

    Each input needs (id_col, rank_col); a doc absent from a list
    contributes nothing for it. Determinism (the repo oracle
    discipline): each reciprocal is rounded to 6dp FIRST, per-doc sums
    are exact DECIMAL(18,6), final double cast, ties break to the
    smaller id; the union+groupBy is one shuffle over the CANDIDATE
    lists (k-bounded inputs, never corpus-sized), and the top-k is
    TakeOrderedAndProject.

    Output: (id_col, rrf_score, rank), rank 1..k."""
    if not rankings:
        raise ValueError("rankings must contain at least one list")
    if not (1 <= k):
        raise ValueError(f"k must be >= 1, got {k}")
    if k0 < 1:
        raise ValueError(f"k0 must be >= 1, got {k0}")
    contribs = [
        r.select(
            F.col(id_col).alias("id"),
            F.round(
                F.lit(1.0)
                / (F.lit(float(k0)) + F.col(rank_col).cast("double")),
                6,
            ).cast("decimal(18,6)").alias("c"),
        )
        for r in rankings
    ]
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    fused = (
        allc.groupBy("id")
        .agg(F.sum("c").alias("c_sum"))
        .select("id", F.col("c_sum").cast("double").alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col("id").asc())
        .limit(k)
    )
    return _rank_tail(fused, id_col, "rrf_score")


# ---------------------------------------------------------------------------
# Compaction spec: BM25's df and _stats relations are ADDITIVE across
# segments, so compacting N segments into one FOLDS them (per-term df
# sums; one summed stats row) — the read-side SUMs then see exactly
# what a fresh build would have written. Postings rewrite verbatim.
# ---------------------------------------------------------------------------

def _bm25_finalize(filtered: "dict[str, DataFrame]") -> "dict[str, DataFrame]":
    """Recompute the derived relations from the (delete-filtered)
    primaries: df from the surviving postings, _stats from the
    surviving doclens — exact whether or not tombstones were purged,
    so compact(delete(X)) == fresh build over corpus-minus-X
    bit-for-bit (a per-segment SUM fold would be cheaper but cannot
    subtract deleted docs)."""
    df = filtered["postings"].groupBy("w", "tb").agg(
        F.count(F.lit(1)).cast("long").alias("df_t")
    )
    stats = filtered["doclens"].agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_dl"),
    )
    return {"df": df, "_stats": stats}


ST.COMPACT_SPECS[_BM25_LAYOUT] = {
    "rels": [("postings", "tb", "id"), ("doclens", "db", "id")],
    "derived": [("df", "tb"), ("_stats", None)],
    "finalize": _bm25_finalize,
}
