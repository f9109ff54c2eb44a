"""Extension query catalog: streaming-shaped event analytics + the
LLM-training-data operators (dedup, similarity search, text analysis,
multimodal) over the driver's `events`, `documents`, `embeddings` tables.

Oracles for the hash-based operators (MinHash-LSH, SimHash) are GENERATED
SQL that reproduces the md5-derived hash family exactly — the operators were
designed portable-deterministic precisely so they'd be verifiable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register, _pq
from .sources.files import read_events, read_parquet
from .llm import dedup as D
from .llm import similarity as S
from .llm import text as T


def _stage_cache(df: DataFrame) -> DataFrame:
    """Multi-consumer stage boundary for the composed pipelines (x14/
    x15/x19): the scoped cache guarantees each stage materializes once
    (the x14 lesson — naive composition embedded 28 corpus FileScans)
    WITHOUT the lazy localCheckpoint's construction cost. localCheckpoint
    pays queryExecution.toRdd (full physical planning) eagerly at CALL
    time even with eager=False — measured 0.8-1.0s of pure driver work
    per boundary per invocation at sf0.1, the single largest fixed cost
    of x19 (end-to-end timings had measured the three strategies as
    equal within host noise; a steady-state split of construction from
    action isolated it). Cache eviction is recompute-safe and
    capacity-bounded (_scope_cache)."""
    return D._scope_cache(df)


# ===========================================================================
# Event-time analytics (batch equivalents of the streaming ops; the
# streaming/ module runs the same logic under readStream+watermark)
# ===========================================================================


@register(
    "e1_hourly_event_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(event_id) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_e1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, _pq(sf_dir, "events"))
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        ).agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


@register(
    "e2_sessionize_gap30m",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(event_id) AS n_events, MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_e2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap — the batch shape of
    a session window (streaming variant: F.session_window / flatMapGroups
    WithState in streaming/)."""
    ev = read_events(spark, _pq(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
             > 1_800_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count("event_id").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "e3_sliding_window_15m",
    """
    WITH starts AS (
      SELECT event_id, event_type, value,
             make_timestamp(
               ((epoch_us(ts) // 1000000 // 900) * 900
                - 900 * unnest(generate_series(0, 3))) * 1000000) AS window_start
      FROM events)
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(event_id) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM starts GROUP BY 1, 2, 3
    """,
)
def q_e3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h long, 15m slide): each event lands in exactly 4
    overlapping windows — the batch shape of the streaming
    `groupBy(window(ts, '1 hour', '15 minutes'))` rollup (same windows the
    watermarked readStream variant emits)."""
    ev = read_events(spark, _pq(sf_dir, "events"))
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "sum_value",
        )
    )


# ===========================================================================
# Deduplication
# ===========================================================================

# shared SQL fragments -------------------------------------------------------

def _words_sql(src: str = "documents", prefix: str = "") -> str:
    return rf"""
  {prefix}words AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       x -> x != '') AS w
    FROM {src})
"""


_WORDS_SQL = _words_sql()


def _shingles_sql(n: int, src: str = "documents", prefix: str = "") -> str:
    if n == 1:
        return (
            _words_sql(src, prefix)
            + f", {prefix}sh AS (SELECT DISTINCT doc_id, unnest(w) AS sh"
            f" FROM {prefix}words)"
        )
    return (
        _words_sql(src, prefix)
        + f""",
  {prefix}sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(w) - {n - 1}, 0)),
             i -> array_to_string(list_slice(w, i, i + {n - 1}), ' '))) AS sh
    FROM {prefix}words)"""
    )


def _jaccard_sql(n: int, p: int, q: int) -> str:
    """CTE chain computing exact n-gram-Jaccard pairs >= p/q, integer math."""
    return f"""
    WITH {_shingles_sql(n)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE {q} * inter >= {p} * (sa.sz + sb.sz - inter))
    """


_JACCARD_N = 3
_JACCARD_P, _JACCARD_Q = 1, 5  # threshold 0.2


@register(
    "d1_dedup_exact",
    r"""
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS doc_fp,
           MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q_d1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return D.dedup_exact(docs)


@register(
    "d2_ngram_jaccard_pairs",
    _jaccard_sql(_JACCARD_N, _JACCARD_P, _JACCARD_Q)
    + "SELECT id_a, id_b, inter, size_a, size_b FROM pairs",
)
def q_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs by 3-gram Jaccard >= 0.2, via the inverted-index
    similarity join (no O(N²) cross product)."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return D.ngram_jaccard_pairs(docs, n=_JACCARD_N,
                                 threshold=_JACCARD_P / _JACCARD_Q)


_LSH_BANDS, _LSH_ROWS = 8, 2
_LSH_P, _LSH_Q = 1, 10  # verify threshold 0.1


def _lsh_ctes() -> str:
    """CTE chain ending in `lsh_pairs` = the verified MinHash-LSH near-dup
    pairs (shared by the d3 oracle and the d7 cluster oracle)."""
    H = _LSH_BANDS * _LSH_ROWS
    # scheme mirror of llm.dedup._minhash_expr: seed j//4, hex window j%4
    mh_cols = ", ".join(
        f"min(substr(md5(concat_ws('|', '{j // 4}', sh)), {1 + 8 * (j % 4)}, 8))"
        f" AS mh{j}"
        for j in range(H)
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('#', "
        + ", ".join(f"mh{b * _LSH_ROWS + r}" for r in range(_LSH_ROWS))
        + ") AS key FROM sig"
        for b in range(_LSH_BANDS)
    )
    return (
        _jaccard_sql(_JACCARD_N, _LSH_P, _LSH_Q)
        + f""",
    sig AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
    buckets AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    lsh_pairs AS (
      SELECT c.id_a, c.id_b, p.inter, p.size_a, p.size_b
      FROM cand c JOIN pairs p ON c.id_a = p.id_a AND c.id_b = p.id_b)
    """
    )


def _minhash_lsh_oracle() -> str:
    return (
        _lsh_ctes()
        + "SELECT id_a, id_b, inter, size_a, size_b FROM lsh_pairs"
    )


@register("d3_minhash_lsh_pairs", _minhash_lsh_oracle())
def q_d3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) banded 8×2, candidates verified at Jaccard >= 0.1. The
    md5-derived hash family makes the whole pipeline reproducible in SQL."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return D.minhash_lsh_pairs(docs, n=_JACCARD_N, bands=_LSH_BANDS,
                               rows_per_band=_LSH_ROWS,
                               threshold=_LSH_P / _LSH_Q)


def _grouped_lsh_oracle() -> str:
    """d19 = d3's EXACT chain filtered to same-group pairs: prepending
    an equal group string to equal band keys collides iff the original
    keys collide, so within-group dedup is relationally the ungrouped
    pair set ∩ group equality (null-safe — NULL is a real group). The
    CTEs are d3's own generator, so the grouped op can never drift
    from the standalone one."""
    return (
        _lsh_ctes()
        + """SELECT p.id_a, p.id_b, p.inter, p.size_a, p.size_b
    FROM lsh_pairs p
    JOIN documents da ON p.id_a = da.doc_id
    JOIN documents db ON p.id_b = db.doc_id
    WHERE da.lang IS NOT DISTINCT FROM db.lang"""
    )


@register("d19_grouped_lsh_pairs", _grouped_lsh_oracle())
def q_d19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-GROUP MinHash-LSH dedup (group_cols=['lang']): a French
    translation must not dedupe against its English source. The group
    value is folded INTO the band key before the candidate self-join —
    cross-group collisions are pruned inside the join's hash buckets
    (hot band keys SPLIT per group, shrinking the worst buckets — a
    skew win at 100 TB), not post-filtered from a wider candidate set.
    Oracle: d3's own CTE chain ∩ null-safe group equality."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return D.minhash_lsh_pairs(
        docs, n=_JACCARD_N, bands=_LSH_BANDS, rows_per_band=_LSH_ROWS,
        threshold=_LSH_P / _LSH_Q, group_cols=["lang"],
    )


def _simhash_ctes() -> str:
    """SimHash fingerprint CTE chain; final CTE `shfp`(doc_id, simhash).
    Shared by d4 and the d13 hamming-banded pair join."""
    sums = ", ".join(
        f"SUM(CAST(((v >> {i}) & 1) * 2 - 1 AS BIGINT)) AS s{i}" for i in range(32)
    )
    fp = " + ".join(
        f"CAST(CASE WHEN s{i} > 0 THEN {2 ** i} ELSE 0 END AS BIGINT)"
        for i in range(32)
    )
    return f"""{_shingles_sql(1)},
    v AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS v
          FROM sh),
    s AS (SELECT doc_id, {sums} FROM v GROUP BY doc_id),
    shfp AS (SELECT doc_id, ({fp}) AS simhash FROM s)"""


def _simhash_oracle() -> str:
    return (
        "WITH " + _simhash_ctes().strip()
        + "\n    SELECT doc_id AS id, simhash FROM shfp"
    )


@register("d4_simhash32", _simhash_oracle())
def q_d4(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return D.simhash32(docs)


_SIMHASH_K = 3


def _simhash64_ctes(src: str = "documents") -> str:
    """64-bit SimHash as two 32-bit halves over relation `src`; final
    CTE `shfp64`(doc_id, sh_hi, sh_lo). Mirrors llm.dedup.simhash64.
    Shared by d4, d13, and the d17 cross-corpus index probe."""
    parts = []
    for h, (lo_c, _) in {"hi": (1, 8), "lo": (9, 16)}.items():
        parts.append(
            f"v_{h} AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), "
            f"{lo_c}, 8)) AS BIGINT) AS v FROM sh)"
        )
    sums = {
        h: ", ".join(
            f"SUM(CAST(((v >> {i}) & 1) * 2 - 1 AS BIGINT)) AS s{i}"
            for i in range(32)
        )
        for h in ("hi", "lo")
    }
    fp = " + ".join(
        f"CAST(CASE WHEN s{i} > 0 THEN {2 ** i} ELSE 0 END AS BIGINT)"
        for i in range(32)
    )
    return f"""{_shingles_sql(1, src)},
    {parts[0]},
    {parts[1]},
    s_hi AS (SELECT doc_id, {sums["hi"]} FROM v_hi GROUP BY doc_id),
    s_lo AS (SELECT doc_id, {sums["lo"]} FROM v_lo GROUP BY doc_id),
    fp_hi AS (SELECT doc_id, ({fp}) AS sh_hi FROM s_hi),
    fp_lo AS (SELECT doc_id, ({fp}) AS sh_lo FROM s_lo),
    shfp64 AS (SELECT h.doc_id, h.sh_hi, l.sh_lo
               FROM fp_hi h JOIN fp_lo l USING (doc_id))"""


def _simhash_bands_sql(bands_cte: str = "bands", k: int = _SIMHASH_K) -> str:
    """CTE fragment `hexed` + `{bands_cte}` = the Manku pigeonhole band
    rows of `shfp64` (k+1 contiguous nibble-aligned bands of the
    16-hex-char fingerprint). THE single source of the banding for the
    d13 pair oracle and the d17 index-probe oracle — mirrors
    llm.dedup.simhash_band_rows."""
    n_bands = k + 1
    bounds = [round(i * 16 / n_bands) for i in range(n_bands + 1)]
    band_sel = "\n      UNION ALL ".join(
        f"SELECT doc_id, sh_hi, sh_lo, {b} AS band, "
        f"substr(hexs, {bounds[b] + 1}, {bounds[b + 1] - bounds[b]})"
        f" AS key FROM hexed"
        for b in range(n_bands)
    )
    return f"""hexed AS (SELECT doc_id, sh_hi, sh_lo,
                     printf('%08x%08x', sh_hi, sh_lo) AS hexs
              FROM shfp64),
    {bands_cte} AS (
      {band_sel})"""


def _simhash_dist_sql(a: str, b: str) -> str:
    """Exact 64-bit hamming distance between two band-row aliases —
    mirrors llm.dedup.simhash_distance."""
    return (f"(bit_count(xor({a}.sh_hi, {b}.sh_hi)) "
            f"+ bit_count(xor({a}.sh_lo, {b}.sh_lo)))")


def _simhash_pairs_oracle(group_col: "str | None" = None) -> str:
    """d13 = the 64-bit SimHash CTEs + the Manku et al. pigeonhole band
    join: k+1 contiguous nibble-aligned bands of the 16-hex-char
    fingerprint, candidates agree on >= 1 band, verified per-half
    bit_count(xor) sum <= k. With `group_col`, d20's within-group
    variant = the SAME chain ∩ null-safe group equality (the d19
    argument: equal group strings prepended to equal band keys collide
    iff the originals collide)."""
    k = _SIMHASH_K
    dist = _simhash_dist_sql("a", "b")
    tail = (
        "SELECT id_a, id_b, hamming FROM cand"
        if group_col is None
        else f"""SELECT c.id_a, c.id_b, c.hamming FROM cand c
    JOIN documents da ON c.id_a = da.doc_id
    JOIN documents db ON c.id_b = db.doc_id
    WHERE da.{group_col} IS NOT DISTINCT FROM db.{group_col}"""
    )
    return f"""
    WITH {_simhash64_ctes().strip()},
    {_simhash_bands_sql()},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST({dist} AS BIGINT) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE {dist} <= {k})
    {tail}
    """


@register("d13_simhash_pairs", _simhash_pairs_oracle())
def q_d13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS at hamming <= 3 via the Manku/Jain/Sarma
    WWW'07 pigeonhole band join (k+1 bands, agree on >= 1), verified
    with exact bit_count(xor) — never an all-pairs comparison; the
    family's pair-join counterpart to d4's fingerprints."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return D.simhash_pairs(docs, max_hamming=_SIMHASH_K)


@register("d20_grouped_simhash_pairs", _simhash_pairs_oracle("source"))
def q_d20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-GROUP SimHash pairs (group_cols=['source']) — d19's
    band-key group fold applied to the Manku pigeonhole join via the
    shared _fold_group_keys: near-dups are only reported within the
    same source (dedup per crawl/provider without cross-provider
    suppression). Oracle: d13's own generator parameterized with the
    null-safe source-equality tail — the grouped op cannot drift from
    the standalone one."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return D.simhash_pairs(
        docs, max_hamming=_SIMHASH_K, group_cols=["source"]
    )


def _components_ctes() -> str:
    """Shared CTE prefix: LSH pairs -> transitive closure (recursive
    min-id reachability) -> comp(doc_id, cluster_id) + sized(cluster_id,
    cluster_size). Shared by d7 and d12 so the keeper-policy variants
    can never drift on the clustering itself."""
    ctes = _lsh_ctes().replace("WITH ", "WITH RECURSIVE ", 1)
    return (
        ctes
        + """,
    edges AS (SELECT id_a AS u, id_b AS v FROM lsh_pairs
              UNION SELECT id_b, id_a FROM lsh_pairs),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
    comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    sized AS (SELECT cluster_id, COUNT(*) AS cluster_size
              FROM comp GROUP BY cluster_id)"""
    )


def _dedup_clusters_oracle() -> str:
    """Transitive closure of the LSH near-dup pairs as a recursive CTE:
    min-id reachability labels every doc with its component minimum —
    exactly what the alternating-star algorithm computes distributedly."""
    return (
        _components_ctes()
        + """
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           c.doc_id = c.cluster_id AS is_keeper
    FROM comp c JOIN sized s USING (cluster_id)
    """
    )


@register("d7_dedup_clusters", _dedup_clusters_oracle())
def q_d7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup resolution: MinHash-LSH pairs (d3's parameters) ->
    connected components (alternating large-star/small-star) -> every doc
    labeled with its cluster minimum, cluster size, and a unique keeper
    flag. `WHERE is_keeper` is the deduplicated corpus."""
    from .llm.clusters import dedup_clusters

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, n=_JACCARD_N, bands=_LSH_BANDS,
                                rows_per_band=_LSH_ROWS,
                                threshold=_LSH_P / _LSH_Q)
    return dedup_clusters(docs, pairs)


def _keep_best_oracle() -> str:
    """d12 = d7's clustering CTEs + quality-aware keeper: the cluster's
    longest doc (n_chars max, ties to smaller id) survives instead of
    the minimum id."""
    return (
        _components_ctes()
        + """,
    best AS (
      SELECT c.doc_id, c.cluster_id,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY -CAST(d.n_chars AS DOUBLE) ASC, c.doc_id ASC
             ) AS rn
      FROM comp c JOIN documents d USING (doc_id))
    SELECT b.doc_id, b.cluster_id, s.cluster_size,
           b.rn = 1 AS is_keeper
    FROM best b JOIN sized s USING (cluster_id)
    """
    )


@register("d12_dedup_keep_best", _keep_best_oracle())
def q_d12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup resolution: same LSH pairs + connected
    components as d7, but the KEEPER is each cluster's longest document
    (score_col='n_chars', ties to the smaller id) — what a curation
    pipeline actually keeps (the full copy, not whichever mirror got
    the smallest id). The argmax runs as a min-struct HashAggregate
    (map-side partial combine — a giant boilerplate cluster never ships
    its members to one reducer)."""
    from .llm.clusters import dedup_clusters

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, n=_JACCARD_N, bands=_LSH_BANDS,
                                rows_per_band=_LSH_ROWS,
                                threshold=_LSH_P / _LSH_Q)
    return dedup_clusters(docs, pairs, score_col="n_chars")


_COS_T = 0.42  # fixture embeddings are near-orthogonal; max pair sim ≈ 0.51


@register(
    "d5_embedding_cosine_pairs",
    f"""
    WITH p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(
          list_sum(list_transform(generate_series(1, len(a.embedding)),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
          / (greatest(sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))), 1e-150)
           * greatest(sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))), 1e-150)),
          6) AS sim
      FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
    SELECT id_a, id_b, sim FROM p WHERE sim >= {_COS_T}
    """,
)
def q_d5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, EXACT all-pairs — planes=0 is an
    explicit opt-in, valid only at small-corpus scale (the ground-truth
    baseline the SRP path in d6 is judged against)."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    return S.embedding_cosine_pairs(emb, threshold=_COS_T, planes=0)


# -- SRP-prefiltered cosine pairs: the 100 TB path, oracle-verified ---------
#
# The SRP hyperplanes are md5-derived driver-side constants
# (llm/similarity._srp_planes), so the whole bucket function is expressible
# in SQL by embedding the plane components as literals — the same
# generated-oracle technique as _minhash_lsh_oracle above.

_SRP_PLANES, _SRP_TABLES, _SRP_DIM = 8, 4, 64


def _cos_sql(av: str, bv: str) -> str:
    # greatest(sqrt(...), 1e-150) mirrors the engine's norm floor
    # (llm/similarity._norm): an all-zero vector scores cosine 0 in
    # BOTH engines instead of NaN (Spark) vs NULL (DuckDB). The floor
    # matters on RANKING paths (top-k with no threshold) where Spark
    # sorts NaN largest and DuckDB sorts NULL last; for any nonzero
    # vector it is a no-op (r12 ADVICE finding).
    def sq(v: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, len({v})), "
            f"i -> CAST({v}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE)))"
        )

    dot = (
        f"list_sum(list_transform(generate_series(1, len({av})), "
        f"i -> CAST({av}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE)))"
    )
    return (
        f"round({dot} / (greatest(sqrt({sq(av)}), 1e-150) "
        f"* greatest(sqrt({sq(bv)}), 1e-150)), 6)"
    )


def _srp_bucket_sql(vcol: str, dim: int, planes: int, seed: str) -> str:
    """SQL mirror of llm.similarity.srp_bucket: sign bit per hyperplane,
    packed little-endian into a BIGINT. Plane components are embedded as
    exact repr() literals (round-trip to the same double)."""
    terms = []
    for i, pv in enumerate(S._srp_planes(dim, planes, seed)):
        lst = "[" + ", ".join(repr(x) for x in pv) + "]"
        dot = (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> CAST({vcol}[i] AS DOUBLE) * ({lst})[i]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN CAST({2**i} AS BIGINT) "
                     f"ELSE CAST(0 AS BIGINT) END)")
    return "(" + " + ".join(terms) + ")"


def _srp_buckets_cte(dim: int, planes: int, tables: int) -> str:
    branches = "\n      UNION ALL ".join(
        f"SELECT vec_id AS id, {t} AS tbl, "
        + _srp_bucket_sql("embedding", dim, planes, f"srp{t}")
        + " AS bk FROM embeddings"
        for t in range(tables)
    )
    return f"b AS ({branches})"


def _srp_pairs_oracle() -> str:
    return f"""
    WITH {_srp_buckets_cte(_SRP_DIM, _SRP_PLANES, _SRP_TABLES)},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b2.id AS id_b
      FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bk = b2.bk AND a.id < b2.id),
    p AS (
      SELECT c.id_a, c.id_b,
             {_cos_sql('ea.embedding', 'eb.embedding')} AS sim
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b)
    SELECT id_a, id_b, sim FROM p WHERE sim >= {_COS_T}
    """


@register("d6_embedding_cosine_srp", _srp_pairs_oracle())
def q_d6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-prefiltered cosine near-dup pairs — the scale path: candidates
    are sign-hash bucket-mates in any of `tables` hash tables, so the exact
    cosine filter runs on ~N·tables/2^planes candidate rows instead of
    N²/2."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    return S.embedding_cosine_pairs(
        emb, threshold=_COS_T, dim=_SRP_DIM,
        planes=_SRP_PLANES, tables=_SRP_TABLES,
    )


# ===========================================================================
# Similarity search
# ===========================================================================

_ANN_K, _ANN_NQ = 5, 32

_ANN_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {_ANN_NQ}),
    sims AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
        round(
          list_sum(list_transform(generate_series(1, len(c.embedding)),
            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
          / (greatest(sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
               i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))), 1e-150)
           * greatest(sqrt(list_sum(list_transform(generate_series(1, len(c.embedding)),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))), 1e-150)),
          6) AS sim
      FROM embeddings c, q WHERE c.vec_id != q.query_id)
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank,
           sim
    FROM sims
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) <= {_ANN_K}
"""


@register("n1_ann_cosine_topk", _ANN_ORACLE)
def q_n1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, stream the corpus.
    Similarity rounded to 6dp with id tiebreak → deterministic ranking."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < _ANN_NQ)
    return S.brute_force_topk(emb, queries, k=_ANN_K)


_N2_PLANES, _N2_TABLES = 4, 4


def _lsh_topk_oracle() -> str:
    return f"""
    WITH {_srp_buckets_cte(_SRP_DIM, _N2_PLANES, _N2_TABLES)},
    q AS (SELECT id, tbl, bk FROM b WHERE id < {_ANN_NQ}),
    cand AS (
      SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
      FROM b c JOIN q ON c.tbl = q.tbl AND c.bk = q.bk AND c.id != q.id),
    sims AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_cos_sql('eq.embedding', 'ec.embedding')} AS sim
      FROM cand
      JOIN embeddings eq ON eq.vec_id = cand.query_id
      JOIN embeddings ec ON ec.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS INTEGER)
             AS rank,
           sim
    FROM sims
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) <= {_ANN_K}
    """


@register("n2_ann_lsh_bucketed", _lsh_topk_oracle())
def q_n2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via signed-random-projection buckets (the 100 TB
    path: corpus pre-bucketed, query touches ~|corpus|·tables/2^planes
    rows). The md5-derived plane constants make the whole pipeline
    reproducible in SQL — hash-matched like the relational queries; recall
    vs brute force is additionally asserted in tests."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < _ANN_NQ)
    return S.lsh_bucketed_topk(emb, queries, dim=_SRP_DIM, k=_ANN_K,
                               planes=_N2_PLANES, tables=_N2_TABLES)


_IVF_N_CENTROIDS, _IVF_PROBE = 8, 2


def _ivf_oracle() -> str:
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_IVF_N_CENTROIDS}),
    scored AS (
      SELECT e.vec_id AS id, c.cid,
             {_cos_sql('e.embedding', 'c.cv')} AS s
      FROM embeddings e, cent c),
    assign AS (
      SELECT id, cid FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) = 1),
    qprobe AS (
      SELECT id AS query_id, cid FROM scored WHERE id < {_ANN_NQ}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid)
              <= {_IVF_PROBE}),
    cand AS (
      SELECT q.query_id, a.id AS neighbor_id
      FROM qprobe q JOIN assign a ON a.cid = q.cid
      WHERE a.id != q.query_id),
    sims AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_cos_sql('eq.embedding', 'ec.embedding')} AS sim
      FROM cand
      JOIN embeddings eq ON eq.vec_id = cand.query_id
      JOIN embeddings ec ON ec.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS INTEGER)
             AS rank,
           sim
    FROM sims
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) <= {_ANN_K}
    """


@register("n3_ann_ivf_topk", _ivf_oracle())
def q_n3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized top-k: corpus vectors live in per-centroid
    inverted lists; a query exactly scores only its n_probe nearest lists
    (~n_probe/n_centroids of the corpus). Centroids are a hash-order
    sample bounded by the CONSTANT n_centroids (never corpus-proportional)
    → the whole pipeline, assignment argmax included, replays in SQL."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < _ANN_NQ)
    return S.ivf_topk(emb, queries, k=_ANN_K, n_centroids=_IVF_N_CENTROIDS,
                      n_probe=_IVF_PROBE)


_KM_ITER = 2


def _kmeans_assign_ctes() -> str:
    """Lloyd's iterations unrolled as CTEs, ending in `assignF`
    (vec_id -> final cluster id) and `cent{N}` — possible because
    lloyd_centroids is deterministic by construction: hash-order init,
    6dp-cosine assignment with id tiebreak, and means whose cross-row
    sums ride DECIMAL (order-independent) with round() at every float
    boundary (the same half-away-from-zero in both engines). Shared by
    the n4 ANN oracle and the d11 SemDeDup oracle so the clustering can
    never drift between them."""
    cte = [f"""cent0 AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_IVF_N_CENTROIDS})"""]
    for i in range(_KM_ITER):
        cte.append(f"""scored{i} AS (
      SELECT e.vec_id AS id, c.cid,
             {_cos_sql('e.embedding', 'c.cv')} AS s
      FROM embeddings e, cent{i} c),
    assign{i} AS (
      SELECT id, cid FROM scored{i}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) = 1),
    ex{i} AS (
      SELECT a.cid, g.j, round(CAST(e.embedding[g.j] AS DOUBLE), 6) AS x
      FROM assign{i} a
      JOIN embeddings e ON e.vec_id = a.id
      CROSS JOIN generate_series(1, {_SRP_DIM}) g(j)),
    mm{i} AS (
      SELECT cid, j,
             round(CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
                   / COUNT(*), 6) AS m
      FROM ex{i} GROUP BY cid, j),
    cm{i} AS (SELECT cid, list(m ORDER BY j) AS cv FROM mm{i} GROUP BY cid),
    cent{i + 1} AS (
      SELECT p.cid, COALESCE(c.cv, p.cv) AS cv
      FROM cent{i} p LEFT JOIN cm{i} c ON c.cid = p.cid)""")
    n = _KM_ITER
    cte.append(f"""scoredF AS (
      SELECT e.vec_id AS id, c.cid,
             {_cos_sql('e.embedding', 'c.cv')} AS s
      FROM embeddings e, cent{n} c),
    assignF AS (
      SELECT id, cid FROM scoredF
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) = 1)""")
    return ",\n    ".join(cte)


def _ivf_kmeans_oracle() -> str:
    return f"""
    WITH {_kmeans_assign_ctes()},
    qprobe AS (
      SELECT id AS query_id, cid FROM scoredF WHERE id < {_ANN_NQ}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid)
              <= {_IVF_PROBE}),
    cand AS (
      SELECT q.query_id, a.id AS neighbor_id
      FROM qprobe q JOIN assignF a ON a.cid = q.cid
      WHERE a.id != q.query_id),
    sims AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_cos_sql('eq.embedding', 'ec.embedding')} AS sim
      FROM cand
      JOIN embeddings eq ON eq.vec_id = cand.query_id
      JOIN embeddings ec ON ec.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS INTEGER)
             AS rank,
           sim
    FROM sims
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) <= {_ANN_K}
    """


@register("n4_ann_ivf_kmeans", _ivf_kmeans_oracle())
def q_n4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with DATA-ADAPTIVE centroids: DataFrame-native Lloyd
    iterations (llm.similarity.lloyd_centroids) from the deterministic
    hash-order init — partition-invariant and engine-portable, so unlike
    a pyspark.ml KMeans fit the whole pipeline (init, assignments, DECIMAL
    -exact means, final probe/rerank) replays as SQL and hash-matches."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < _ANN_NQ)
    return S.ivf_topk_kmeans(emb, queries, k=_ANN_K,
                             n_centroids=_IVF_N_CENTROIDS,
                             n_probe=_IVF_PROBE, n_iter=_KM_ITER)


_PQ_M, _PQ_CODES, _PQ_ITER = 4, 8, 1


def _dot_sql(av: str, bv: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({av})), "
        f"i -> CAST({av}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE)))"
    )


def _l2score_sql(av: str, bv: str) -> str:
    """SQL mirror of l2_assignments_arrow's score: round(2·a·b − |b|²,
    6) — argmin ||a−b||² with the |a|² constant dropped. CAST-double
    folds, same as _cos_sql."""
    dot = (
        f"list_sum(list_transform(generate_series(1, len({av})), "
        f"i -> CAST({av}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE)))"
    )
    sq = (
        f"list_sum(list_transform(generate_series(1, len({bv})), "
        f"i -> CAST({bv}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE)))"
    )
    return f"round(2.0 * {dot} - {sq}, 6)"


def _pq_train_ctes(
    train_where: str = "",
    src: str = "embeddings",
    vec: str = "embedding",
    metric: str = "cos",
) -> "list[str]":
    """Per-subspace Lloyd trainings unrolled as SQL (the
    _kmeans_assign_ctes recipe applied to 1-based-inclusive list
    slices), ending in assignF_{s} + cent{_PQ_ITER}_{s} per subspace.
    Shared by the n7 (flat ADC), n8 (IVF-PQ), n9 (persisted index),
    d22 (pq embedding store), and n10 (residual IVF-PQ) oracles so the
    codebook math can never drift between them.
    ``train_where`` restricts the TRAINING corpus (init sample +
    Lloyd assignment/update rows) — n9's FAISS-add semantics: the
    build subset trains, but assignF still ENCODES every row.
    ``src``/``vec`` retarget the generator at a derived CTE (n10's
    residual rows); ``metric`` picks the assignment score — 'cos'
    (the spherical house contract) or 'l2' (2·v·w − |w|², what
    residual codebooks train with)."""
    sd = _SRP_DIM // _PQ_M
    score = _cos_sql if metric == "cos" else _l2score_sql
    tw = f"WHERE {train_where}" if train_where else ""
    twe = f"WHERE e.{train_where}" if train_where else ""
    cte = []
    for s in range(_PQ_M):
        lo, hi = s * sd + 1, (s + 1) * sd
        sl = f"{vec}[{lo}:{hi}]"
        cte.append(f"""cent0_{s} AS (
      SELECT vec_id AS cid,
             list_transform({sl}, x -> CAST(x AS DOUBLE)) AS cv
      FROM {src} {tw}
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_PQ_CODES})""")
        for i in range(_PQ_ITER):
            cte.append(f"""scored{i}_{s} AS (
      SELECT e.vec_id AS id, c.cid,
             {score(f'e.{sl}', 'c.cv')} AS s
      FROM {src} e, cent{i}_{s} c {twe}),
    assign{i}_{s} AS (
      SELECT id, cid FROM scored{i}_{s}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) = 1),
    ex{i}_{s} AS (
      SELECT a.cid, g.j,
             round(CAST(e.{vec}[{lo} + g.j - 1] AS DOUBLE), 6) AS x
      FROM assign{i}_{s} a
      JOIN {src} e ON e.vec_id = a.id
      CROSS JOIN generate_series(1, {sd}) g(j)),
    mm{i}_{s} AS (
      SELECT cid, j,
             round(CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
                   / COUNT(*), 6) AS m
      FROM ex{i}_{s} GROUP BY cid, j),
    cm{i}_{s} AS (
      SELECT cid, list(m ORDER BY j) AS cv FROM mm{i}_{s} GROUP BY cid),
    cent{i + 1}_{s} AS (
      SELECT p.cid, COALESCE(c.cv, p.cv) AS cv
      FROM cent{i}_{s} p LEFT JOIN cm{i}_{s} c ON c.cid = p.cid)""")
        n = _PQ_ITER
        cte.append(f"""assignF_{s} AS (
      SELECT id, cid FROM (
        SELECT e.vec_id AS id, c.cid,
               {score(f'e.{sl}', 'c.cv')} AS s
        FROM {src} e, cent{n}_{s} c)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) = 1)""")
    return cte


def _pq_adc_ctes() -> str:
    """codes / cbn / den / lut / qn — the ADC plumbing shared by n7
    and n8: 6dp lookup terms, DECIMAL sums, exact query norms."""
    sd = _SRP_DIM // _PQ_M
    codes = "\n      UNION ALL ".join(
        f"SELECT id, {s} AS s, cid FROM assignF_{s}" for s in range(_PQ_M)
    )
    cbn = "\n      UNION ALL ".join(
        f"SELECT {s} AS s, cid, round({_dot_sql('cv', 'cv')}, 6) AS nsq "
        f"FROM cent{_PQ_ITER}_{s}"
        for s in range(_PQ_M)
    )
    lut = "\n      UNION ALL ".join(
        f"SELECT q.vec_id AS query_id, {s} AS s, c.cid, "
        f"round({_dot_sql(f'q.embedding[{s * sd + 1}:{(s + 1) * sd}]', 'c.cv')}, 6) AS d "
        f"FROM embeddings q, cent{_PQ_ITER}_{s} c "
        f"WHERE q.vec_id < {_ANN_NQ}"
        for s in range(_PQ_M)
    )
    return f"""codes AS (
      {codes}),
    cbn AS (
      {cbn}),
    den AS (
      SELECT co.id,
             CAST(SUM(CAST(b.nsq AS DECIMAL(28,10))) AS DOUBLE) AS den
      FROM codes co JOIN cbn b ON b.s = co.s AND b.cid = co.cid
      GROUP BY co.id),
    lut AS (
      {lut}),
    qn AS (
      SELECT vec_id AS query_id,
             sqrt({_dot_sql('embedding', 'embedding')}) AS qn
      FROM embeddings WHERE vec_id < {_ANN_NQ})"""


_PQ_FINAL = f"""ascored AS (
      SELECT n.query_id, n.id AS neighbor_id,
             round(n.num / (q.qn * sqrt(d.den)), 6) AS ascore
      FROM num n
      JOIN den d ON d.id = n.id
      JOIN qn q ON q.query_id = n.query_id
      WHERE n.query_id != n.id)
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY ascore DESC, neighbor_id)
                AS INTEGER) AS rank,
           ascore
    FROM ascored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY ascore DESC, neighbor_id) <= {_ANN_K}
    """


def _pq_oracle() -> str:
    """Flat product-quantization ADC unrolled as SQL, mirroring
    similarity.pq_topk term for term. Generated, like every
    md5/kmeans-family oracle."""
    joined = ",\n    ".join(_pq_train_ctes())
    return f"""
    WITH {joined},
    {_pq_adc_ctes()},
    num AS (
      SELECT l.query_id, co.id,
             CAST(SUM(CAST(l.d AS DECIMAL(28,10))) AS DOUBLE) AS num
      FROM codes co JOIN lut l ON l.s = co.s AND l.cid = co.cid
      GROUP BY l.query_id, co.id),
    {_PQ_FINAL}"""


def _ivf_pq_oracle(refine: "int | None" = None) -> str:
    """IVF-PQ: the n3 coarse quantizer CTEs (hash-order centroid
    sample, full-vector assignment, n_probe query lists) bound the
    candidate pairs; the shared PQ training + ADC CTEs price them.
    ``refine`` (n13) keeps refine·k per query by ADC rank, joins the
    ORIGINAL vectors for the shortlist only, and re-ranks by exact
    cosine — the FAISS IndexRefineFlat tail on n8's own chain."""
    joined = ",\n    ".join(_pq_train_ctes())
    if refine:
        final = f"""ascored AS (
      SELECT n.query_id, n.id AS neighbor_id,
             round(n.num / (q.qn * sqrt(d.den)), 6) AS ascore
      FROM num n
      JOIN den d ON d.id = n.id
      JOIN qn q ON q.query_id = n.query_id
      WHERE n.query_id != n.id),
    short AS (
      SELECT query_id, neighbor_id FROM ascored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY ascore DESC, neighbor_id)
              <= {refine * _ANN_K}),
    refined AS (
      SELECT s.query_id, s.neighbor_id,
             {_cos_sql('q.embedding', 'c.embedding')} AS sim
      FROM short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings c ON c.vec_id = s.neighbor_id)
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id)
                AS INTEGER) AS rank,
           sim
    FROM refined
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id)
            <= {_ANN_K}
    """
    else:
        final = _PQ_FINAL
    return f"""
    WITH {joined},
    {_pq_adc_ctes()},
    ccent AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_IVF_N_CENTROIDS}),
    cscored AS (
      SELECT e.vec_id AS id, c.cid,
             {_cos_sql('e.embedding', 'c.cv')} AS s
      FROM embeddings e, ccent c),
    cassign AS (
      SELECT id, cid FROM cscored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) = 1),
    qprobe AS (
      SELECT id AS query_id, cid FROM cscored WHERE id < {_ANN_NQ}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid)
              <= {_IVF_PROBE}),
    cand AS (
      SELECT q.query_id, a.id
      FROM qprobe q JOIN cassign a ON a.cid = q.cid),
    num AS (
      SELECT ca.query_id, co.id,
             CAST(SUM(CAST(l.d AS DECIMAL(28,10))) AS DOUBLE) AS num
      FROM cand ca
      JOIN codes co ON co.id = ca.id
      JOIN lut l ON l.query_id = ca.query_id
                AND l.s = co.s AND l.cid = co.cid
      GROUP BY ca.query_id, co.id),
    {final}"""


def _ivf_pq_residual_oracle(train: str = "") -> str:
    """n10 = residual IVF-PQ unrolled as ONE SQL chain: the n3 coarse
    CTEs, the residual CTE (vector − coarse centroid) BETWEEN the
    quantizers — the coupling the r11 verdict said needed a new oracle
    strategy — then the shared per-subspace trainings retargeted at
    the residual rows with the L2 score (metric='l2'), and ADC scoring
    of cos(q, c + r̂): the q·c term per (query, probed list), the
    constant centroid-codeword cross table, DECIMAL-summed code terms,
    and the |c + r̂|² denominator assembled per candidate.

    ``train`` restricts BOTH quantizers' training sets (coarse centroid
    sample AND codebook Lloyd rows) to a subset while encoding still
    covers every row — the n9 FAISS-add parameter, reused verbatim by
    n11's persisted-residual-index lifecycle so one generator pins the
    one-shot and the store."""
    sd = _SRP_DIM // _PQ_M
    tw = "rn2 > 0" + (f" AND {train}" if train else "")
    cw = f"WHERE {train} " if train else ""
    joined = ",\n    ".join(_pq_train_ctes(
        train_where=tw, src="resid", vec="rv", metric="l2"
    ))
    cbv = "\n      UNION ALL ".join(
        f"SELECT {s} AS s, cid, cv FROM cent{_PQ_ITER}_{s}"
        for s in range(_PQ_M)
    )
    codes = "\n      UNION ALL ".join(
        f"SELECT id, {s} AS s, cid FROM assignF_{s}"
        for s in range(_PQ_M)
    )
    lut = "\n      UNION ALL ".join(
        f"SELECT q.vec_id AS query_id, {s} AS s, c.cid, "
        f"round(list_sum(list_transform(generate_series(1, {sd}), "
        f"i -> CAST(q.embedding[{s * sd} + i] AS DOUBLE) * c.cv[i])), 6)"
        f" AS d "
        f"FROM embeddings q, cent{_PQ_ITER}_{s} c "
        f"WHERE q.vec_id < {_ANN_NQ}"
        for s in range(_PQ_M)
    )
    return f"""
    WITH ccent AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings {cw}
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_IVF_N_CENTROIDS}),
    cscored AS (
      SELECT e.vec_id AS id, c.cid,
             {_cos_sql('e.embedding', 'c.cv')} AS s
      FROM embeddings e, ccent c),
    cassign AS (
      SELECT id, cid FROM cscored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) = 1),
    resid AS (
      SELECT e.vec_id, a.cid AS ccid,
             list_transform(generate_series(1, {_SRP_DIM}),
               i -> CAST(e.embedding[i] AS DOUBLE)
                    - CAST(c.cv[i] AS DOUBLE)) AS rv,
             list_sum(list_transform(generate_series(1, {_SRP_DIM}),
               i -> (CAST(e.embedding[i] AS DOUBLE)
                     - CAST(c.cv[i] AS DOUBLE))
                    * (CAST(e.embedding[i] AS DOUBLE)
                       - CAST(c.cv[i] AS DOUBLE)))) AS rn2
      FROM embeddings e
      JOIN cassign a ON a.id = e.vec_id
      JOIN ccent c ON c.cid = a.cid),
    {joined},
    cbv AS (
      {cbv}),
    codes AS (
      {codes}),
    ccd AS (
      SELECT cc.cid AS ccid, b.s, b.cid AS code_cid,
             round(list_sum(list_transform(generate_series(1, {sd}),
               i -> CAST(cc.cv[b.s * {sd} + i] AS DOUBLE) * b.cv[i])),
               6) AS cd,
             round(list_sum(list_transform(generate_series(1, {sd}),
               i -> b.cv[i] * b.cv[i])), 6) AS nsq
      FROM ccent cc, cbv b),
    ncsq AS (
      SELECT cid AS ccid,
             round(list_sum(list_transform(generate_series(1,
               {_SRP_DIM}), i -> CAST(cv[i] AS DOUBLE)
                                 * CAST(cv[i] AS DOUBLE))), 6) AS ncsq
      FROM ccent),
    den AS (
      SELECT co.id, a.cid AS ccid,
             CAST(SUM(CAST(2.0 * c.cd + c.nsq AS DECIMAL(28,10)))
                  AS DOUBLE) AS dres
      FROM codes co
      JOIN cassign a ON a.id = co.id
      JOIN ccd c ON c.ccid = a.cid AND c.s = co.s
                AND c.code_cid = co.cid
      GROUP BY co.id, a.cid),
    qn AS (
      SELECT vec_id AS query_id,
             sqrt(list_sum(list_transform(generate_series(1,
               {_SRP_DIM}), i -> CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[i] AS DOUBLE)))) AS nq
      FROM embeddings WHERE vec_id < {_ANN_NQ}),
    qprobe AS (
      SELECT id AS query_id, cid FROM cscored WHERE id < {_ANN_NQ}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid)
              <= {_IVF_PROBE}),
    qc AS (
      SELECT qp.query_id, qp.cid AS ccid,
             round(list_sum(list_transform(generate_series(1,
               {_SRP_DIM}), i -> CAST(q.embedding[i] AS DOUBLE)
                                 * CAST(cc.cv[i] AS DOUBLE))), 6) AS qc
      FROM qprobe qp
      JOIN ccent cc ON cc.cid = qp.cid
      JOIN embeddings q ON q.vec_id = qp.query_id),
    lut AS (
      {lut}),
    cand AS (
      SELECT q.query_id, a.id, a.cid AS ccid
      FROM qprobe q JOIN cassign a ON a.cid = q.cid),
    num AS (
      SELECT ca.query_id, ca.id, ca.ccid,
             CAST(SUM(CAST(l.d AS DECIMAL(28,10))) AS DOUBLE) AS numr
      FROM cand ca
      JOIN codes co ON co.id = ca.id
      JOIN lut l ON l.query_id = ca.query_id
                AND l.s = co.s AND l.cid = co.cid
      GROUP BY ca.query_id, ca.id, ca.ccid),
    ascored AS (
      SELECT n.query_id, n.id AS neighbor_id,
             round((q.qc + n.numr)
                   / (qn.nq * sqrt(greatest(x.ncsq + d.dres, 1e-30))),
                   6) AS ascore
      FROM num n
      JOIN qc q ON q.query_id = n.query_id AND q.ccid = n.ccid
      JOIN den d ON d.id = n.id
      JOIN ncsq x ON x.ccid = n.ccid
      JOIN qn ON qn.query_id = n.query_id
      WHERE n.query_id != n.id)
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY ascore DESC, neighbor_id)
                AS INTEGER) AS rank,
           ascore
    FROM ascored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY ascore DESC, neighbor_id) <= {_ANN_K}
    """


@register("n10_ann_ivf_pq_residual", _ivf_pq_residual_oracle())
def q_n10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (the published IndexIVFPQ training: codebooks
    on r = x − c, verdict r11 item 4): residuals concentrate near the
    origin, so the same code budget spends its bits on within-list
    variation — measured recall at the byte-exact budget (m=8, k=256,
    clustered fixture) 0.675 vs the global books' 0.550; at this
    row's tiny fixture budget both sit in the tie-luck regime the n7
    docstring describes, and the CONTRACT, not the recall, is what
    the oracle checks. Residual quantization is L2
    (l2_assignments_arrow — a residual's position, not direction, is
    the signal); scoring stays cosine on c + r̂. The oracle chains
    the coarse CTEs, the residual CTE, the L2-retargeted trainings,
    and the assembled |c + r̂|² denominator — the quantizer coupling
    is exactly what it pins."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < _ANN_NQ)
    return S.ivf_pq_residual_topk(emb, queries, k=_ANN_K, dim=_SRP_DIM,
                                  m_subspaces=_PQ_M, n_codes=_PQ_CODES,
                                  n_iter=_PQ_ITER,
                                  n_centroids=_IVF_N_CENTROIDS,
                                  n_probe=_IVF_PROBE)


#: the persisted-index FAISS-add split: the build half trains both
#: quantizers, the other half arrives as a tagged extend (n9 and n11)
_PQIDX_TRAIN = "vec_id % 2 = 0"


@register("n11_pq_residual_index_lifecycle",
          _ivf_pq_residual_oracle(train=_PQIDX_TRAIN))
def q_n11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED residual-PQ index, full lifecycle (n9's protocol
    under n10's quantizers): build on half the corpus — coarse
    centroids AND residual-L2 codebooks both train on the build
    subset — roll the other half in with a TAGGED extend (FAISS-add:
    batch residuals encode under the STORED quantizers), then score
    cos(q, c + r̂) through the committed segment set via the SAME
    _pq_res_score the one-shot n10 runs. The oracle is n10's own
    generator with the n9 train parameter — one SQL chain pins the
    one-shot, the store, and the FAISS-add split; a quantizer that
    retrained on extend or a probe that read orphans breaks the hash.
    Tombstones/compaction/maintenance ride the shared COMPACT_SPECS
    registration (pinned in tests/test_pq.py)."""
    import os
    import shutil

    root = _proc_tmp_root("n11", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    path = os.path.join(root, "pqres")
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    build = emb.where(F.expr(_PQIDX_TRAIN))
    extend = emb.where(~F.expr(_PQIDX_TRAIN))
    S.pq_build_index(build, path, dim=_SRP_DIM, m_subspaces=_PQ_M,
                     n_codes=_PQ_CODES, n_iter=_PQ_ITER,
                     n_centroids=_IVF_N_CENTROIDS, residual=True)
    assert S.pq_extend_index(extend, path, tag="n11-batch-1")
    assert not S.pq_extend_index(extend, path, tag="n11-batch-1")
    queries = emb.where(F.col("vec_id") < _ANN_NQ)
    return S.pq_search_index(spark, path, queries, k=_ANN_K,
                             n_probe=_IVF_PROBE)


#: MaxSim fixture: embeddings fold into multi-vector docs of 4 tokens
#: (did = vec_id div 4, token = vec_id % 4); the first 8 docs query
_MAXSIM_TOKS, _MAXSIM_NQ = 4, 8


def _maxsim_oracle() -> str:
    """n12 = exact ColBERT MaxSim unrolled as SQL: per-(query token,
    doc) MAX of the 6dp cosine, exact DECIMAL sum over the query's
    tokens, ties to the smaller doc id — term for term what
    similarity.maxsim_topk computes at planes=0."""
    t = _MAXSIM_TOKS
    return f"""
    WITH mv AS (
      SELECT vec_id // {t} AS did, vec_id % {t} AS tok, embedding
      FROM embeddings),
    q AS (SELECT * FROM mv WHERE did < {_MAXSIM_NQ}),
    sims AS (
      SELECT q.did AS query_id, q.tok AS qt, c.did AS doc_id,
             {_cos_sql('q.embedding', 'c.embedding')} AS s
      FROM q, mv c WHERE c.did != q.did),
    mx AS (
      SELECT query_id, qt, doc_id, MAX(s) AS m
      FROM sims GROUP BY 1, 2, 3),
    sc AS (
      SELECT query_id, doc_id,
             CAST(SUM(CAST(m AS DECIMAL(28,10))) AS DOUBLE) AS score
      FROM mx GROUP BY 1, 2)
    SELECT query_id, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id)
                AS INTEGER) AS rank,
           score
    FROM sc
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id) <= {_ANN_K}
    """


@register("n12_maxsim_topk", _maxsim_oracle())
def q_n12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim retrieval (ColBERT, Khattab & Zaharia
    SIGIR 2020) over multi-vector documents: score(q, d) = Σ over q's
    token vectors of the MAX cosine against any of d's token vectors —
    the retrieval shape single-vector ANN flattens away. The fixture
    folds the embeddings table into 4-token docs; the exact path (this
    row's oracle) is the ground truth the SRP-bucketed candidate path
    is recall-pinned against in tests/test_llm_ops.py. Aggregations
    are map-side combinable on (query, doc) keys; the 6dp-max /
    exact-DECIMAL-sum discipline keeps both engines bit-equal."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    mv = emb.select(
        F.expr(f"vec_id div {_MAXSIM_TOKS}").alias("doc_id"),
        (F.col("vec_id") % _MAXSIM_TOKS).alias("token_id"),
        "embedding",
    )
    q = mv.where(F.col("doc_id") < _MAXSIM_NQ)
    return S.maxsim_topk(mv, q, k=_ANN_K)


@register("n7_ann_pq_adc", _pq_oracle())
def q_n7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou et al. TPAMI 2011, the
    FAISS IVF-PQ building block): per-subspace codebooks from the ONE
    deterministic Lloyd (n4's), corpus encoded to m codes per vector
    (m·log2(k) bits instead of 4·dim bytes), candidates scored from
    code lookups alone — the original vectors are never read after
    encoding. The oracle unrolls every per-subspace training AND the
    ADC arithmetic; a drift anywhere (slice bounds, assignment
    ties, DECIMAL sums, the reconstruction-norm denominator) breaks
    the hash."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < _ANN_NQ)
    return S.pq_topk(emb, queries, k=_ANN_K, dim=_SRP_DIM,
                     m_subspaces=_PQ_M, n_codes=_PQ_CODES,
                     n_iter=_PQ_ITER)


@register("n8_ann_ivf_pq", _ivf_pq_oracle())
def q_n8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ proper, the FAISS workhorse shape: the coarse quantizer
    (n3's hash-order contract) bounds WHICH candidates a query touches
    (~n_probe/n_centroids of the corpus), the PQ codes bound WHAT each
    candidate costs (m lookups, never the vector) — compression
    composing multiplicatively. Global (non-residual) codebooks,
    stated honestly in the docstring of similarity.ivf_pq_topk; the
    oracle chains the n3 coarse CTEs with n7's shared training + ADC
    generators, so neither quantizer can drift from its standalone
    row."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < _ANN_NQ)
    return S.ivf_pq_topk(emb, queries, k=_ANN_K, dim=_SRP_DIM,
                         m_subspaces=_PQ_M, n_codes=_PQ_CODES,
                         n_iter=_PQ_ITER,
                         n_centroids=_IVF_N_CENTROIDS,
                         n_probe=_IVF_PROBE)


_REFINE = 3


@register("n13_ann_ivf_pq_refined", _ivf_pq_oracle(refine=_REFINE))
def q_n13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the FAISS refine stage (IndexRefineFlat): the ADC
    ranking keeps refine_factor·k candidates, ONLY those join back to
    the original vectors, and the final top-k ranks by EXACT cosine —
    quantization error decides which candidates survive the
    shortlist, never their final order. The exact scan is
    shortlist-sized (refine·k per query), the d22 two-stage contract
    applied to top-k retrieval; the oracle is n8's own chain with the
    refine tail, so the shortlist arithmetic cannot drift from the
    unrefined row."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < _ANN_NQ)
    return S.ivf_pq_topk(emb, queries, k=_ANN_K, dim=_SRP_DIM,
                         m_subspaces=_PQ_M, n_codes=_PQ_CODES,
                         n_iter=_PQ_ITER,
                         n_centroids=_IVF_N_CENTROIDS,
                         n_probe=_IVF_PROBE,
                         refine_factor=_REFINE)


def _pq_index_oracle() -> str:
    """n9 = the PERSISTED PQ index lifecycle as one SQL chain: the
    build subset ({_PQIDX_TRAIN}) trains BOTH quantizers (coarse +
    per-subspace codebooks — the shared generators with train_where),
    every row (build + extended batch) is ENCODED under them
    (FAISS-add: extends never retrain), and queries ADC-score their
    probed lists. The equality Spark must meet: build(evens) +
    tagged-extend(odds) + search == this chain."""
    joined = ",\n    ".join(_pq_train_ctes(_PQIDX_TRAIN))
    return f"""
    WITH {joined},
    {_pq_adc_ctes()},
    ccent AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE {_PQIDX_TRAIN}
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_IVF_N_CENTROIDS}),
    cscored AS (
      SELECT e.vec_id AS id, c.cid,
             {_cos_sql('e.embedding', 'c.cv')} AS s
      FROM embeddings e, ccent c),
    cassign AS (
      SELECT id, cid FROM cscored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) = 1),
    qprobe AS (
      SELECT id AS query_id, cid FROM cscored WHERE id < {_ANN_NQ}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid)
              <= {_IVF_PROBE}),
    cand AS (
      SELECT q.query_id, a.id
      FROM qprobe q JOIN cassign a ON a.cid = q.cid),
    num AS (
      SELECT ca.query_id, co.id,
             CAST(SUM(CAST(l.d AS DECIMAL(28,10))) AS DOUBLE) AS num
      FROM cand ca
      JOIN codes co ON co.id = ca.id
      JOIN lut l ON l.query_id = ca.query_id
                AND l.s = co.s AND l.cid = co.cid
      GROUP BY ca.query_id, co.id),
    {_PQ_FINAL}"""


@register("n9_pq_index_lifecycle", _pq_index_oracle())
def q_n9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED PQ index, full lifecycle: build on half the corpus
    (training both quantizers), roll the other half in with a TAGGED
    extend (FAISS-add: encoded under the STORED coarse centroids and
    codebooks, read back with meta_id cross-checks), then ADC-search
    through the committed segment set. The oracle replays training on
    the build subset only but encoding over the union — so a
    quantizer that silently retrained on extend, a segment that
    didn't commit, or a probe that read orphans would all break the
    hash. The store inherits the whole segment-manifest protocol
    (tagged idempotence, tombstones, snapshots, compact/vacuum/
    maintain via COMPACT_SPECS) — pinned in tests/test_pq.py."""
    import os
    import shutil

    root = _proc_tmp_root("n9", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    path = os.path.join(root, "pqidx")
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    build = emb.where(F.expr(_PQIDX_TRAIN))
    extend = emb.where(~F.expr(_PQIDX_TRAIN))
    S.pq_build_index(build, path, dim=_SRP_DIM, m_subspaces=_PQ_M,
                     n_codes=_PQ_CODES, n_iter=_PQ_ITER,
                     n_centroids=_IVF_N_CENTROIDS)
    assert S.pq_extend_index(extend, path, tag="n9-batch-1")
    # retry of the same batch is a no-op (tag idempotence)
    assert not S.pq_extend_index(extend, path, tag="n9-batch-1")
    queries = emb.where(F.col("vec_id") < _ANN_NQ)
    return S.pq_search_index(spark, path, queries, k=_ANN_K,
                             n_probe=_IVF_PROBE)


# ===========================================================================
# Text analysis
# ===========================================================================

_STOP_SQL = "['" + "', '".join(T.ENGLISH_STOPWORDS) + "']"


def _stats_quality_oracle() -> str:
    """t1 = text_stats features + the gopher-style quality flags in one
    scan (quality_filter composes on text_stats, so one query covers both
    operators — keeps the driver's 50-row sweep wide)."""
    r = T.QUALITY_RULES
    return rf"""
    WITH {_WORDS_SQL.strip()},
    s AS (
      SELECT d.doc_id,
             CAST(length(d.text) AS BIGINT) AS n_chars_measured,
             CAST(len(w.w) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(d.text, '[^\w\s]', 0)) AS DOUBLE)
               / greatest(length(d.text), 1) AS punct_ratio,
             CAST(len(list_filter(w.w, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
               / greatest(len(w.w), 1) AS stopword_ratio,
             CAST(list_sum(list_transform(w.w, x -> length(x))) AS DOUBLE)
               / greatest(len(w.w), 1) AS mean_word_len
      FROM documents d JOIN words w ON d.doc_id = w.doc_id)
    SELECT doc_id, n_chars_measured, n_words, punct_ratio, stopword_ratio,
           mean_word_len,
           (n_words >= {r["min_words"]} AND n_words <= {r["max_words"]})
             AS ok_word_count,
           punct_ratio <= {r["max_punct_ratio"]} AS ok_punct,
           stopword_ratio >= {r["min_stopword_ratio"]} AS ok_stopwords,
           (mean_word_len >= {r["min_mean_word_len"]}
            AND mean_word_len <= {r["max_mean_word_len"]}) AS ok_word_len,
           ((n_words >= {r["min_words"]} AND n_words <= {r["max_words"]})
            AND punct_ratio <= {r["max_punct_ratio"]}
            AND stopword_ratio >= {r["min_stopword_ratio"]}
            AND (mean_word_len >= {r["min_mean_word_len"]}
                 AND mean_word_len <= {r["max_mean_word_len"]})) AS keep
    FROM s
    """


@register("t1_text_stats", _stats_quality_oracle())
def q_t1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-stats features + gopher-style quality flags (quality_filter
    runs on top of text_stats — one scan, both operators verified)."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return T.quality_filter(docs).select(
        "doc_id", "n_chars_measured", "n_words", "punct_ratio",
        "stopword_ratio", "mean_word_len",
        "ok_word_count", "ok_punct", "ok_stopwords", "ok_word_len", "keep",
    )


def _lang_oracle() -> str:
    """t2 = BOTH language-ID variants (stopword-hit heuristic + the
    Cavnar-Trenkle-style char-trigram profile) joined on doc_id — one
    driver row verifies the whole language-ID family."""
    hits = ", ".join(
        "CAST(len(list_filter(w.w, x -> list_contains(['"
        + "', '".join(sw)
        + f"'], x))) AS BIGINT) AS hits_{lang}"
        for lang, sw in T.LANG_STOPWORDS.items()
    )
    langs = sorted(T.LANG_STOPWORDS)  # alphabetical tiebreak
    best = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    case = " ".join(
        f"WHEN hits_{lg} = {best} THEN '{lg}'" for lg in langs
    )
    tg_scores = ", ".join(
        "CAST(len(list_filter(g, x -> list_contains(['"
        + "', '".join(prof)
        + f"'], x))) AS BIGINT) AS sc_{lang}"
        for lang, prof in T.LANG_TRIGRAMS.items()
    )
    tg_langs = sorted(T.LANG_TRIGRAMS)
    tg_best = "greatest(" + ", ".join(f"sc_{lg}" for lg in tg_langs) + ")"
    tg_case = " ".join(f"WHEN sc_{lg} = {tg_best} THEN '{lg}'" for lg in tg_langs)
    return rf"""
    WITH {_WORDS_SQL.strip()},
    sw_scored AS (SELECT d.doc_id, {hits}
                  FROM documents d JOIN words w ON d.doc_id = w.doc_id),
    sw AS (
      SELECT doc_id,
             CASE WHEN {best} = 0 THEN 'und' {case} END AS lang_stopword,
             {best} AS lang_stopword_hits
      FROM sw_scored),
    t AS (
      SELECT doc_id,
             ' ' || regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || ' '
               AS s
      FROM documents),
    tg AS (
      SELECT doc_id,
             CASE WHEN len(s) >= 3
                  THEN list_transform(generate_series(1, len(s) - 2),
                                      i -> substr(s, i, 3))
                  ELSE [] END AS g
      FROM t),
    tg_scored AS (SELECT doc_id, {tg_scores} FROM tg),
    ng AS (
      SELECT doc_id,
             CASE WHEN {tg_best} = 0 THEN 'und' {tg_case} END AS lang_trigram,
             {tg_best} AS lang_trigram_score
      FROM tg_scored)
    SELECT sw.doc_id, sw.lang_stopword, sw.lang_stopword_hits,
           ng.lang_trigram, ng.lang_trigram_score
    FROM sw JOIN ng ON sw.doc_id = ng.doc_id
    """


@register("t2_language_id", _lang_oracle())
def q_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both language-ID variants in one row per doc: the stopword-hit
    heuristic plus the char-trigram profile (robust on short text where
    stopwords return 'und')."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    sw = T.language_id(docs).select(
        "doc_id",
        F.col("lang_pred").alias("lang_stopword"),
        F.col("lang_pred_hits").alias("lang_stopword_hits"),
    )
    ng = T.language_id_ngram(docs).select(
        "doc_id",
        F.col("lang_pred").alias("lang_trigram"),
        F.col("lang_pred_score").alias("lang_trigram_score"),
    )
    return sw.join(ng, "doc_id")


@register(
    "t3_fingerprint",
    rf"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS doc_fp,
           CAST(len(regexp_extract_all(text, '{T.BPE_ISH_PATTERN}', 0)) AS BIGINT)
             AS n_tokens
    FROM documents
    """,
)
def q_t3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-doc fingerprint + BPE-ish token count — both single-scan
    per-doc transforms, folded into one driver row."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return T.token_count_bpe_ish(T.fingerprint(docs)).select(
        "doc_id", "doc_fp", "n_tokens"
    )


_WIN_K, _WIN_W = 3, 4


@register(
    "t5_winnowing_fingerprints",
    rf"""
    WITH {_WORDS_SQL.strip()},
    h AS (
      SELECT doc_id,
             list_transform(
               list_transform(generate_series(1, greatest(len(w) - {_WIN_K - 1}, 0)),
                              i -> array_to_string(list_slice(w, i, i + {_WIN_K - 1}), ' ')),
               g -> CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)) AS hs
      FROM words),
    f AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(hs) - {_WIN_W} + 1, 1)),
               i -> list_min(list_slice(hs, i, i + {_WIN_W - 1})))) AS fps
      FROM h WHERE len(hs) >= 1)
    SELECT doc_id AS id, unnest(fps) AS fp FROM f
    """,
)
def q_t5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: md5-window k-gram hashes,
    per-window minima, distinct — the local-similarity fingerprint set
    (Schleimer et al. SIGMOD'03)."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return T.winnowing_fingerprints(docs, k=_WIN_K, window=_WIN_W)


_SAMPLE_FRACS = {"en": 0.5, "de": 1.0}
_SAMPLE_DEFAULT = 0.25


def _stratified_sample_oracle() -> str:
    """SQL mirror of llm.sampling.stratified_sample: md5-bucket per key
    under a per-stratum cutoff (exact integer threshold)."""
    scale = 1 << 32
    whens = " ".join(
        f"WHEN '{v}' THEN {int(round(f * scale))}"
        for v, f in sorted(_SAMPLE_FRACS.items())
    )
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE CAST(('0x' || substr(md5('sample' || '|' || CAST(doc_id AS VARCHAR)),
                               1, 8)) AS BIGINT)
          < CASE lang {whens} ELSE {int(round(_SAMPLE_DEFAULT * scale))} END
    """


@register("x8_stratified_sample", _stratified_sample_oracle())
def q_x8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep 50% of English, all German,
    25% of everything else — decided by md5(key), so the sample is
    identical on any partitioning, cluster size, or engine (df.sample is
    not). Pure scan-stage filter, zero shuffles."""
    from .llm.sampling import stratified_sample

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return stratified_sample(
        docs, "lang", _SAMPLE_FRACS, default_fraction=_SAMPLE_DEFAULT
    ).select("doc_id", "lang")


def _curation_oracle() -> str:
    """End-to-end curation: near-dup clusters (d7's machinery) × quality
    gate × best-doc-per-cluster — the full corpus-curation answer in one
    SQL replay."""
    r = T.QUALITY_RULES
    ctes = _dedup_clusters_oracle()
    # reuse everything up to the `comp` (doc -> cluster) CTE; drop d7's
    # final SELECT
    ctes = ctes[: ctes.rindex("SELECT c.doc_id")]
    return (
        ctes
        + rf""",
    stats AS (
      SELECT d.doc_id,
             CAST(len(w.w) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(d.text, '[^\w\s]', 0)) AS DOUBLE)
               / greatest(length(d.text), 1) AS punct_ratio,
             CAST(len(list_filter(w.w, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
               / greatest(len(w.w), 1) AS stopword_ratio,
             CAST(list_sum(list_transform(w.w, x -> length(x))) AS DOUBLE)
               / greatest(len(w.w), 1) AS mean_word_len
      FROM documents d JOIN words w ON d.doc_id = w.doc_id),
    passing AS (
      SELECT doc_id, n_words FROM stats
      WHERE n_words BETWEEN {r["min_words"]} AND {r["max_words"]}
        AND punct_ratio <= {r["max_punct_ratio"]}
        AND stopword_ratio >= {r["min_stopword_ratio"]}
        AND mean_word_len BETWEEN {r["min_mean_word_len"]}
                              AND {r["max_mean_word_len"]})
    SELECT p.doc_id, c.cluster_id, p.n_words
    FROM passing p JOIN comp c ON c.doc_id = p.doc_id
    QUALIFY ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                               ORDER BY p.n_words DESC, p.doc_id) = 1
    """
    )


@register("x9_curation_pipeline", _curation_oracle())
def q_x9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation pipeline: quality-gate the
    corpus, resolve near-dup clusters (MinHash-LSH + connected
    components), keep ONE best document per cluster (longest passing doc,
    id tiebreak). Each stage is an existing oracle-checked operator; this
    query pins their composition."""
    from .llm.clusters import dedup_clusters

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, n=_JACCARD_N, bands=_LSH_BANDS,
                                rows_per_band=_LSH_ROWS,
                                threshold=_LSH_P / _LSH_Q)
    clusters = dedup_clusters(docs, pairs).select("doc_id", "cluster_id")
    passing = (
        T.quality_filter(docs)
        .where(F.col("keep"))
        .select("doc_id", "n_words")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_words").desc(), F.col("doc_id").asc()
    )
    return (
        passing.join(clusters, "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("doc_id", "cluster_id", "n_words")
    )


_TOPNG_N, _TOPNG_K = 2, 100


@register(
    "x12_top_ngrams",
    rf"""
    WITH {_WORDS_SQL.strip()},
    g AS (
      SELECT unnest(list_transform(
               generate_series(1, greatest(len(w) - {_TOPNG_N - 1}, 0)),
               i -> array_to_string(list_slice(w, i, i + {_TOPNG_N - 1}), ' ')))
             AS ngram
      FROM words)
    SELECT ngram, COUNT(*) AS n_occurrences
    FROM g GROUP BY 1
    ORDER BY n_occurrences DESC, ngram LIMIT {_TOPNG_K}
    """,
)
def q_x12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-100 word bigrams by occurrence — the vocabulary
    seeding pass for tokenizer training. Count shuffle + per-partition
    heap (TakeOrderedAndProject); no global sort."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return T.top_ngrams(docs, n=_TOPNG_N, k=_TOPNG_K)


@register(
    "x11_quantize_embeddings",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding,
                                              x -> abs(CAST(x AS DOUBLE)))),
                      1e-30) / 127.0 AS scale
      FROM embeddings),
    q AS (
      SELECT vec_id, scale,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INT))
               AS qvec
      FROM s)
    SELECT vec_id, scale,
           CAST(list_sum(qvec) AS BIGINT) AS q_sum,
           md5(array_to_string(qvec, ',')) AS q_md5
    FROM q
    """,
)
def q_x11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization (4x storage at 100 TB): per-vector
    scale plus two scalar digests of the quantized array (sum + md5 of
    the joined string), so the whole int codebook is hash-verified
    without array-representation ambiguity between engines."""
    from .llm.similarity import quantize_embeddings

    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id", "scale",
        F.aggregate(
            "qvec", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("q_sum"),
        F.md5(F.concat_ws(",", F.transform("qvec", lambda x: x.cast("string"))))
        .alias("q_md5"),
    )


@register(
    "x10_rolling_window",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rolling_1h_sum,
           CAST(COUNT(event_id)
                OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                AS BIGINT) AS rolling_1h_n
    FROM events
    """,
)
def q_x10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time rolling aggregates (trailing 1h per user) — the RANGE
    window frame, anchored to each row's own timestamp (vs e3's fixed
    sliding windows). Spark range frames are numeric, so the frame rides
    unix MICROseconds (timestamps' native precision — unix_seconds would
    truncate, silently grouping same-second rows as frame peers and
    diverging from the oracle's full-precision INTERVAL frame on any
    sub-second data); sums ride DECIMAL so both engines add exactly."""
    ev = read_events(spark, _pq(sf_dir, "events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id", "ts",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w)
        .cast("double").alias("rolling_1h_sum"),
        F.count("event_id").over(w).alias("rolling_1h_n"),
    )


# ===========================================================================
# Multimodal plumbing
# ===========================================================================


@register(
    "m1_multimodal_features",
    """
    SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def q_m1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: text bytes stand in for an opaque media
    payload; the mapInPandas (Arrow-batched) feature extractor computes byte
    metadata — the exact shape a real image/audio decode plugs into."""
    from .llm.multimodal import extract_features

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return extract_features(docs, fake_decode=True).select(
        "doc_id", "n_bytes", "payload_md5"
    )


# m2/m3: the deterministic fake decode is md5-derived (like the minhash
# family), so the full resize / frame-sample plumbing is SQL-verifiable:
# the oracle recomputes source dims / duration from the same hash windows.

_RESIZE_MAX = 512


@register(
    "m2_image_resize_meta",
    f"""
    WITH dims AS (
      SELECT doc_id, md5(text) AS md,
             320 + CAST(('0x' || substr(md5(text), 1, 4)) AS INT) % 1600 AS w,
             240 + CAST(('0x' || substr(md5(text), 5, 4)) AS INT) % 840 AS h
      FROM documents),
    sized AS (
      SELECT doc_id, md, w AS src_width, h AS src_height,
             CASE WHEN greatest(w, h) > {_RESIZE_MAX}
                  THEN (w * {_RESIZE_MAX}) // greatest(w, h) ELSE w END AS out_width,
             CASE WHEN greatest(w, h) > {_RESIZE_MAX}
                  THEN (h * {_RESIZE_MAX}) // greatest(w, h) ELSE h END AS out_height
      FROM dims)
    SELECT doc_id, CAST(src_width AS INT) AS src_width,
           CAST(src_height AS INT) AS src_height,
           CAST(out_width AS INT) AS out_width,
           CAST(out_height AS INT) AS out_height,
           md5(md || '|' || out_width || 'x' || out_height) AS resized_md5
    FROM sized
    """,
)
def q_m2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: aspect-preserving integer downscale to a
    512px max side over mapInPandas (decode faked from the content hash —
    the real codec swaps into _decode; the batch shape, pruned two-column
    Arrow input and typed output schema are production-real)."""
    from .llm.multimodal import resize_images

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return resize_images(docs, max_side=_RESIZE_MAX)


_FRAME_EVERY_MS, _FRAME_MAX = 30_000, 16


@register(
    "m3_frame_sample",
    f"""
    WITH media AS (
      SELECT doc_id, md5(text) AS md,
             1000 + CAST(('0x' || substr(md5(text), 9, 5)) AS BIGINT) % 600000
               AS dur
      FROM documents),
    n AS (
      SELECT doc_id, md,
             least(dur // {_FRAME_EVERY_MS} + 1, {_FRAME_MAX}) AS n_frames
      FROM media)
    SELECT doc_id,
           CAST(unnest(generate_series(0, n_frames - 1)) AS INT) AS frame_idx,
           CAST(unnest(generate_series(0, n_frames - 1)) * {_FRAME_EVERY_MS}
                AS BIGINT) AS frame_ms,
           md5(md || '#' || unnest(generate_series(0, n_frames - 1)))
             AS frame_md5
    FROM n
    """,
)
def q_m3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame (the
    exploding shape a real libav decode emits), every 30s capped at 16
    frames per doc."""
    from .llm.multimodal import sample_frames

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return sample_frames(docs, every_ms=_FRAME_EVERY_MS,
                         max_frames=_FRAME_MAX)


# ===========================================================================
# Round-4 curation operators: PII scrubbing, repetition quality,
# sub-document span dedup, domain-mixture resampling
# ===========================================================================

#: deterministic PII injection shared VERBATIM by the Spark query (via
#: F.expr) and the DuckDB oracle — the sf documents contain no PII, so the
#: query synthesizes some from doc_id before scrubbing
_PII_INJ = (
    "text"
    " || CASE WHEN doc_id % 5 = 0 THEN ' user' || CAST(doc_id AS STRING)"
    " || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309 or 555 123 4567'"
    " ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.0.1 ssn 123-45-6789'"
    " ELSE '' END"
)


def _pii_count_exprs() -> list[tuple[str, str]]:
    """[(category, count SQL expr)] from scrub.PII_PATTERNS — the single
    source both the t6 oracle and the x14 pipeline oracle build from, so
    the regexes can never drift between engines or between oracles."""
    from .llm.scrub import PII_PATTERNS

    return [
        (name, f"len(regexp_extract_all(text, '{pat}'))")
        for name, pat, _ in PII_PATTERNS
    ]


def _pii_scrub_expr() -> str:
    """The chained regexp_replace redaction, in PII_PATTERNS order."""
    from .llm.scrub import PII_PATTERNS

    scrub = "text"
    for _, pat, token in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    return scrub


def _pii_oracle() -> str:
    counts = ",\n           ".join(
        f"{expr} AS pii_{name}" for name, expr in _pii_count_exprs()
    )
    total = " + ".join(f"pii_{name}" for name, _ in _pii_count_exprs())
    scrub = _pii_scrub_expr()
    return f"""
    WITH inj AS (SELECT doc_id, {_PII_INJ} AS text FROM documents),
    counted AS (
      SELECT doc_id, text,
           {counts}
      FROM inj)
    SELECT doc_id, pii_email, pii_ssn, pii_ipv4, pii_phone,
           {total} AS pii_total,
           {scrub} AS text_scrubbed
    FROM counted
    """


@register("t6_pii_scrub", _pii_oracle())
def q_t6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (emails, SSNs, IPv4, phones) with per-category
    audit counts — pure regexp codegen, scan-stage, zero shuffles."""
    from .llm.scrub import pii_scrub

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    inj = docs.select("doc_id", F.expr(_PII_INJ).alias("text"))
    return pii_scrub(inj).select(
        "doc_id", "pii_email", "pii_ssn", "pii_ipv4", "pii_phone",
        "pii_total", "text_scrubbed",
    )


def _repetition_oracle() -> str:
    return (
        "WITH " + _WORDS_SQL
        + """,
    wf AS (SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS nd
           FROM words),
    wd AS (SELECT doc_id, unnest(w) AS wrd,
                  generate_subscripts(w, 1) AS pos
           FROM words),
    gr AS (SELECT doc_id,
                  wrd || ' ' || lead(wrd) OVER
                    (PARTITION BY doc_id ORDER BY pos) AS gram
           FROM wd),
    gc AS (SELECT doc_id, gram, count(*) AS c FROM gr
           WHERE gram IS NOT NULL GROUP BY 1, 2),
    gf AS (SELECT doc_id,
                  max(c) / sum(c) AS top_ngram_frac,
                  (sum(c) - count(*)) / sum(c) AS dup_ngram_frac
           FROM gc GROUP BY doc_id)
    SELECT wf.doc_id, wf.n_words,
           CASE WHEN wf.n_words > 0
                THEN (wf.n_words - wf.nd) / wf.n_words
                ELSE 0.0 END AS dup_word_frac,
           coalesce(gf.top_ngram_frac, 0.0) AS top_ngram_frac,
           coalesce(gf.dup_ngram_frac, 0.0) AS dup_ngram_frac
    FROM wf LEFT JOIN gf USING (doc_id)
    """
    )


@register("t7_repetition_stats", _repetition_oracle())
def q_t7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality features (dup-word fraction, top /
    duplicate 2-gram fractions) per document."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return T.repetition_stats(docs, n=2)


_SPAN_K = 10
#: synthesized exact-duplicate docs (the sf corpus has almost none) so the
#: keep-first span dedup has real work; shared by query and oracle
_SPAN_CORPUS_SQL = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 10 = 0)
"""


def _span_dedup_oracle() -> str:
    return (
        "WITH " + _SPAN_CORPUS_SQL + ", " + _words_sql("corpus")
        + f""",
    wd AS (SELECT doc_id, unnest(w) AS wrd,
                  generate_subscripts(w, 1) AS pos
           FROM words),
    sp AS (SELECT doc_id, (pos - 1) // {_SPAN_K} AS span_idx,
                  string_agg(wrd, ' ' ORDER BY pos) AS span
           FROM wd GROUP BY doc_id, span_idx),
    ns AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id),
    kept AS (SELECT doc_id, span_idx, span,
                    row_number() OVER
                      (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
             FROM sp),
    outq AS (SELECT doc_id,
                    string_agg(span, ' ' ORDER BY span_idx) AS text_deduped,
                    count(*) AS n_spans_kept
             FROM kept WHERE rn = 1 GROUP BY doc_id)
    SELECT o.doc_id, o.text_deduped, ns.n_spans, o.n_spans_kept
    FROM outq o JOIN ns USING (doc_id)
    """
    )


@register("d8_span_dedup", _span_dedup_oracle())
def q_d8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup: aligned 10-word spans, corpus-wide
    keep-first, reassembled — the line-level-dedup shape for corpora
    without line structure. Injected exact-dup docs vanish entirely."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    corpus = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return D.dedup_spans(corpus, k=_SPAN_K)


#: d10 corpus: exact-dup docs PLUS one-word-SHIFTED dup docs — the case
#: the aligned d8 pass provably misses; shared by query and oracle
_SUBSTR_CORPUS_SQL = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, 'zzz ' || text AS text
      FROM documents WHERE doc_id % 20 = 10)
"""


def _substr_dedup_ctes(
    src: str, k: int = _SPAN_K, min_match_words: "int | None" = None
) -> str:
    """CTE chain for every-position k-gram substring dedup over relation
    `src`(doc_id, text); final CTE `ddout`(doc_id, text_deduped,
    n_words, n_words_kept). Shared by d10 and the composed x15;
    min_match_words adds the d16 run-length threshold (gaps-and-islands
    over the covered column, drop only runs >= the bar) — the SAME
    optional parameter the operator takes, so the oracle variant can
    never drift from the default chain."""
    lead_cols = ", ".join(
        f"lead(wrd, {j}) OVER dwin" for j in range(1, k)
    )
    if min_match_words is None:
        kept_src, kept_where = "dcov", "covered = 0"
    else:
        kept_src = "dlen"
        kept_where = f"covered = 0 OR run_len < {min_match_words}"
    runs_ctes = (
        ""
        if min_match_words is None
        else f""",
    druns AS (SELECT doc_id, pos, wrd, covered,
                     pos - row_number() OVER
                       (PARTITION BY doc_id, covered ORDER BY pos) AS grp
              FROM dcov),
    dlen AS (SELECT doc_id, pos, wrd, covered,
                    count(*) OVER (PARTITION BY doc_id, covered, grp)
                      AS run_len
             FROM druns)"""
    )
    return f"""
    dwords AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x != '') AS w
      FROM {src}),
    dwd AS (SELECT doc_id, unnest(w) AS wrd,
                   generate_subscripts(w, 1) AS pos
            FROM dwords),
    dgr AS (SELECT doc_id, pos, wrd,
                   CASE WHEN lead(wrd, {k - 1}) OVER dwin IS NOT NULL
                        THEN concat_ws(' ', wrd, {lead_cols})
                   END AS gram
            FROM dwd WINDOW dwin AS (PARTITION BY doc_id ORDER BY pos)),
    dfl AS (SELECT doc_id, pos, wrd,
                   gram IS NOT NULL AND row_number() OVER
                     (PARTITION BY gram ORDER BY doc_id, pos) > 1 AS dup
            FROM dgr),
    dcov AS (SELECT doc_id, pos, wrd,
                    max(CASE WHEN dup THEN 1 ELSE 0 END) OVER
                      (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)
                      AS covered
             FROM dfl),
    dnw AS (SELECT doc_id, count(*) AS n_words FROM dwd GROUP BY doc_id)
    {runs_ctes},
    ddout AS (
      SELECT o.doc_id, o.text_deduped, dnw.n_words, o.n_words_kept
      FROM (SELECT doc_id,
                   string_agg(wrd, ' ' ORDER BY pos) AS text_deduped,
                   count(*) AS n_words_kept
            FROM {kept_src} WHERE {kept_where} GROUP BY doc_id) o
      JOIN dnw USING (doc_id))
    """


def _substr_dedup_oracle() -> str:
    return (
        "WITH " + _SUBSTR_CORPUS_SQL + ", "
        + _substr_dedup_ctes("corpus").strip()
        + "\n    SELECT doc_id, text_deduped, n_words, n_words_kept FROM ddout"
    )


@register("d10_substring_dedup", _substr_dedup_oracle())
def q_d10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-robust sub-document dedup: every-position 10-word grams,
    corpus-wide keep-first, words covered by a repeated gram removed —
    catches the one-word-shifted duplicated passages the aligned d8
    pass misses (injected here as 'zzz '-prefixed replicas, which
    collapse to the single word 'zzz'; exact-dup replicas vanish)."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    base = docs.select("doc_id", "text")
    corpus = base.unionByName(
        docs.where(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        docs.where(F.col("doc_id") % 20 == 10).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.lit("zzz "), F.col("text")).alias("text"),
        )
    )
    return D.dedup_substrings(corpus, k=_SPAN_K)


#: d14 corpus: sentence breaks become line breaks, and two boilerplate
#: footers (one in MIXED CASE on odd ids so matching exercises the
#: lower() normalization) are appended to overlapping doc subsets;
#: shared by query and oracle
_LINES_CORPUS_SQL = """
    lcorp AS (
      SELECT doc_id,
             replace(text, '. ', '.' || chr(10))
             || CASE WHEN doc_id % 3 = 0 THEN
                  chr(10) || CASE WHEN doc_id % 2 = 0
                    THEN 'Subscribe to our newsletter today'
                    ELSE 'SUBSCRIBE TO OUR NEWSLETTER TODAY' END
                ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                THEN chr(10) || 'All rights reserved.' ELSE '' END
               AS text
      FROM documents)
"""

_LINES_ORACLE = (
    "WITH " + _LINES_CORPUS_SQL.strip()
    + """,
    ln AS (SELECT doc_id,
                  unnest(string_split_regex(text, '\r?\n')) AS raw,
                  generate_subscripts(
                    string_split_regex(text, '\r?\n'), 1) AS pos
           FROM lcorp),
    nz AS (SELECT doc_id, pos, trim(raw) AS line,
                  lower(trim(raw)) AS key
           FROM ln WHERE trim(raw) != ''),
    nl AS (SELECT doc_id, count(*) AS n_lines FROM nz GROUP BY doc_id),
    common AS (SELECT key FROM (
                 SELECT key, count(DISTINCT doc_id) AS nd
                 FROM nz GROUP BY key) WHERE nd >= 2),
    kept AS (SELECT * FROM nz
             WHERE key NOT IN (SELECT key FROM common)),
    outq AS (SELECT doc_id,
                    string_agg(line, chr(10) ORDER BY pos)
                      AS text_deduped,
                    count(*) AS n_lines_kept
             FROM kept GROUP BY doc_id)
    SELECT o.doc_id, o.text_deduped,
           CAST(nl.n_lines AS BIGINT) AS n_lines,
           CAST(o.n_lines_kept AS BIGINT) AS n_lines_kept
    FROM outq o JOIN nl USING (doc_id)
    """
)


@register("d14_line_dedup", _LINES_ORACLE)
def q_d14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style line-level boilerplate dedup: every occurrence
    of a line appearing in >= 2 distinct docs is dropped (here two
    injected footers — one mixed-case, exercising the lower()
    matching — plus any sentence-line the corpus genuinely repeats),
    docs reassembled from surviving lines in order."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    newsletter = F.when(
        F.col("doc_id") % 2 == 0,
        F.lit("\nSubscribe to our newsletter today"),
    ).otherwise(F.lit("\nSUBSCRIBE TO OUR NEWSLETTER TODAY"))
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.replace(F.col("text"), F.lit(". "), F.lit(".\n")),
            F.when(F.col("doc_id") % 3 == 0, newsletter).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nAll rights reserved."),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return D.dedup_lines(corpus, min_docs=2)


#: t21 corpus: sentence breaks become line breaks, then the doc's own
#: FIRST line is re-appended on doc_id % 4 == 0 (exact repeat) and in
#: UPPER case on doc_id % 6 == 0 (exercises the lower() matching);
#: % 12 docs carry both. Shared construction, Spark and SQL.
_T21_ORACLE = """
    WITH rl AS (
      SELECT doc_id,
             replace(text, '. ', '.' || chr(10)) AS base
      FROM documents),
    rcorp AS (
      SELECT doc_id,
             base
             || CASE WHEN doc_id % 4 = 0
                THEN chr(10) || split_part(base, chr(10), 1)
                ELSE '' END
             || CASE WHEN doc_id % 6 = 0
                THEN chr(10) || upper(split_part(base, chr(10), 1))
                ELSE '' END AS text
      FROM rl),
    ln AS (SELECT doc_id,
                  unnest(string_split_regex(text, '\r?\n')) AS raw,
                  generate_subscripts(
                    string_split_regex(text, '\r?\n'), 1) AS pos
           FROM rcorp),
    nz AS (SELECT doc_id, pos, trim(raw) AS line,
                  lower(trim(raw)) AS key
           FROM ln WHERE trim(raw) != ''),
    keep AS (SELECT doc_id, key,
                    arg_min(line, pos) AS line,
                    min(pos) AS pos,
                    count(*) AS c
             FROM nz GROUP BY doc_id, key)
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY pos) AS text_deduped,
           CAST(sum(c) AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_lines_kept
    FROM keep GROUP BY doc_id
"""


@register("t21_dedup_repeated_lines", _T21_ORACLE)
def q_t21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-line removal: keep the first occurrence
    of each normalized line inside a doc, drop its later repeats (the
    repair dual of t7's duplicate-line-fraction gate; d14 handles the
    ACROSS-docs case). Keep-first rides a min(struct) hash aggregate —
    no windows, no joins, two map-side-combinable shuffles."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    base = F.replace(F.col("text"), F.lit(". "), F.lit(".\n"))
    first = F.substring_index(base, "\n", 1)
    corpus = docs.select(
        "doc_id",
        F.concat(
            base,
            F.when(
                F.col("doc_id") % 4 == 0, F.concat(F.lit("\n"), first)
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.concat(F.lit("\n"), F.upper(first)),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return D.dedup_repeated_lines(corpus)


#: d15 two-fixture split: "yesterday's corpus" = even doc ids (indexed),
#: "today's batch" = odd ids plus exact replicas of every doc_id % 10 == 0
#: under a disjoint id namespace — guaranteed cross-corpus near-dups.
_INCR_SQL = """
    u AS (
      SELECT doc_id, text, 0 AS side FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, text, 1 FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 1000000, text, 1 FROM documents
      WHERE doc_id % 10 = 0)
"""


def _cross_pairs_ctes(u_cte: str, prefix: str = "") -> str:
    """CTE chain ending in `{prefix}ipairs` = the verified cross-corpus
    pairs a persisted-index probe returns over ANY (doc_id, text, side)
    relation named `u_cte` (side 0 = indexed corpus, side 1 = probing
    batch): the SAME md5 minhash family as _lsh_ctes, candidates
    restricted to cross-side collisions, verified at the exact
    integer-math Jaccard. `prefix` namespaces every intermediate CTE so
    SEQUENTIAL probes chain in one query — x28's epoch-2 admission runs
    this a second time against corpus ∪ epoch-1 admissions."""
    H = _LSH_BANDS * _LSH_ROWS
    p, q = _LSH_P, _LSH_Q
    P = prefix
    mh_cols = ", ".join(
        f"min(substr(md5(concat_ws('|', '{j // 4}', sh)), {1 + 8 * (j % 4)}, 8))"
        f" AS mh{j}"
        for j in range(H)
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('#', "
        + ", ".join(f"mh{b * _LSH_ROWS + r}" for r in range(_LSH_ROWS))
        + f") AS key FROM {P}sig"
        for b in range(_LSH_BANDS)
    )
    return f"""
    {P}sides AS MATERIALIZED (SELECT doc_id, side FROM {u_cte}),
    {_shingles_sql(_JACCARD_N, u_cte, P).strip()},
    {P}sizes AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS sz FROM {P}sh GROUP BY doc_id),
    {P}sig AS MATERIALIZED (
      SELECT doc_id, {mh_cols} FROM {P}sh GROUP BY doc_id),
    {P}buckets AS MATERIALIZED ({band_selects}),
    {P}cand AS MATERIALIZED (
      SELECT DISTINCT bb.doc_id AS id_a, ib.doc_id AS id_b
      FROM {P}buckets bb
      JOIN {P}sides sb ON sb.doc_id = bb.doc_id AND sb.side = 1
      JOIN {P}buckets ib ON ib.band = bb.band AND ib.key = bb.key
      JOIN {P}sides si ON si.doc_id = ib.doc_id AND si.side = 0),
    {P}cinter AS MATERIALIZED (
      SELECT c.id_a, c.id_b, COUNT(*) AS inter
      FROM {P}cand c
      JOIN {P}sh a ON a.doc_id = c.id_a
      JOIN {P}sh b ON b.doc_id = c.id_b AND b.sh = a.sh
      GROUP BY 1, 2),
    {P}ipairs AS MATERIALIZED (
      SELECT i.id_a, i.id_b, i.inter,
             sa.sz AS size_a, sb.sz AS size_b
      FROM {P}cinter i
      JOIN {P}sizes sa ON sa.doc_id = i.id_a
      JOIN {P}sizes sb ON sb.doc_id = i.id_b
      WHERE {q} * i.inter >= {p} * (sa.sz + sb.sz - i.inter))
    """


def _incr_pairs_ctes() -> str:
    """The d15 fixture's instance of _cross_pairs_ctes: chain over the
    shared two-corpus union `u` (_INCR_SQL), unprefixed, ending in
    `ipairs` — reused verbatim by the d15 and x22 oracles so the
    composed ingest can never drift from the standalone probe."""
    return f"""
    {_INCR_SQL.strip()},{_cross_pairs_ctes("u")}"""


def _incr_index_oracle() -> str:
    return (
        "WITH " + _incr_pairs_ctes().strip()
        + "\n    SELECT id_a, id_b, inter, size_a, size_b FROM ipairs"
    )


def _incr_split(spark: SparkSession, sf_dir: str):
    """The shared d15/d17/x22 two-corpus fixture: "yesterday's corpus"
    = even doc ids (indexed), "today's batch" = odd ids + replicas of
    every doc_id % 10 == 0 under a shifted id namespace (guaranteed
    cross-corpus near-dups). Mirrors _INCR_SQL exactly."""
    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", "text"
    )
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1).unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return corpus, batch


def _build_once(name: str, sf_dir: str, stamp_suffix: str, build,
                src_table: str = "documents") -> str:
    """Build-once marker protocol for a persisted /tmp index keyed by
    (sf tag, fixture data fingerprint, params): repeated invocations —
    the bench warm-up + samples — measure the PROBE, the operation the
    catalog row advertises; production amortizes the build the same way
    (yesterday's index already exists). The stamp folds the source
    parquet's size+mtime in, so regenerating the fixture in place
    invalidates the marker instead of silently probing signatures of
    the OLD corpus. A FIXED per-tag path (no pid) bounds /tmp to one
    tree per (name, sf). Code changes to the signature functions must
    bump stamp_suffix (the 'vN' convention)."""
    import os
    import tempfile

    import shutil

    tag = sf_dir.strip("/").replace("/", "_")
    src = _pq(sf_dir, src_table)
    st = os.stat(src)
    # nanosecond mtime: whole-second granularity could miss an in-place
    # same-size regeneration landing within the same second
    stamp = f"{tag} data={st.st_size}:{st.st_mtime_ns} {stamp_suffix}"
    path = os.path.join(tempfile.gettempdir(), f"cfg_etl_{name}_{tag}")
    marker = os.path.join(path, "_CATALOG_BUILT")
    if not (os.path.exists(marker) and open(marker).read() == stamp):
        # a stale tree may be a DIFFERENT physical layout (a bumped
        # stamp_suffix is exactly how layout changes invalidate it);
        # building over it would mix directory structures — start clean
        shutil.rmtree(path, ignore_errors=True)
        build(path)
        with open(marker, "w") as fh:
            fh.write(stamp)
    return path


@register("d15_dedup_against_index", _incr_index_oracle())
def q_d15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus dedup: build the persisted MinHash-LSH
    index over "yesterday's corpus" (even doc ids), then probe it with
    "today's batch" (odd ids + replicated evens under a shifted id
    namespace) — signatures for the old corpus come from the parquet
    index, only the batch is re-shingled, and the probe's bucket scan
    partition-prunes to the batch's kb set. Verified pairs are
    bit-equal to the cross-side subset of the one-shot LSH pass (the
    relational statement the oracle replays). The index builds ONCE
    per (sf, data, params) via _build_once; the measured work is the
    daily probe."""
    from .llm import dedup_index as DI

    corpus, batch = _incr_split(spark, sf_dir)
    path = _build_once(
        "d15_idx", sf_dir,
        f"n={_JACCARD_N} b={_LSH_BANDS}x{_LSH_ROWS} v4",
        lambda p: DI.minhash_build_index(
            corpus, p, n=_JACCARD_N, bands=_LSH_BANDS,
            rows_per_band=_LSH_ROWS,
        ),
    )
    return DI.dedup_against_index(
        spark, path, batch, threshold=_LSH_P / _LSH_Q
    )


#: d16 fixture passages: a long lifted passage (>= the 25-word bar) on
#: doc_id % 7 == 0 and a short quoted phrase (>= k=10 but < 25) on
#: doc_id % 11 == 0 — % 77 docs carry both adjacent, pinning the
#: run-merge; shared word lists between the Spark query and the oracle
_RUNS_LONG = " ".join(f"lp{i}" for i in range(30))
_RUNS_SHORT = " ".join(f"sp{i}" for i in range(12))
_RUNS_MIN = 25


def _substr_runs_oracle() -> str:
    return (
        f"""WITH rcorp AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0 THEN ' {_RUNS_LONG}'
                ELSE '' END
             || CASE WHEN doc_id % 11 = 0 THEN ' {_RUNS_SHORT}'
                ELSE '' END AS text
      FROM documents), """
        + _substr_dedup_ctes(
            "rcorp", _SPAN_K, min_match_words=_RUNS_MIN
        ).strip()
        + "\n    SELECT doc_id, text_deduped, n_words, n_words_kept"
        + " FROM ddout"
    )


@register("d16_substring_runs", _substr_runs_oracle())
def q_d16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-semantics substring dedup (Lee et al. 2022): only
    duplicated runs >= min_match_words=25 are removed — the injected
    30-word lifted passage is dropped from every non-canonical doc
    while the injected 12-word quoted phrase (a real duplicate, but
    below the bar) survives everywhere; docs carrying both adjacently
    pin the run-merge (42-word merged run, both dropped). Same gram /
    canonical / coverage machinery as d10, plus the forward/backward
    boundary-carry run merge on the same doc-id partition."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" " + _RUNS_LONG)
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0, F.lit(" " + _RUNS_SHORT)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return D.dedup_substrings(
        corpus, k=_SPAN_K, min_match_words=_RUNS_MIN
    )


def _simhash_incr_oracle() -> str:
    """d17 = the d13 SimHash band machinery over the d15 two-corpus
    union, candidates restricted to cross-side (batch, index)
    collisions — the hamming-metric dual of the d15 probe. Reuses
    _simhash64_ctes (d13's own generator) and the shared _INCR_SQL
    fixture split, so neither the fingerprints nor the corpus split
    can drift from their standalone rows."""
    k = _SIMHASH_K
    dist = _simhash_dist_sql("bb", "ib")
    return f"""
    WITH {_INCR_SQL.strip()},
    isides AS (SELECT doc_id, side FROM u),
    {_simhash64_ctes("u").strip()},
    {_simhash_bands_sql("sbands")}
    SELECT DISTINCT bb.doc_id AS id_a, ib.doc_id AS id_b,
           CAST({dist} AS BIGINT) AS hamming
    FROM sbands bb
    JOIN isides sb ON sb.doc_id = bb.doc_id AND sb.side = 1
    JOIN sbands ib ON ib.band = bb.band AND ib.key = bb.key
    JOIN isides si ON si.doc_id = ib.doc_id AND si.side = 0
    WHERE {dist} <= {k}
    """


@register("d17_simhash_against_index", _simhash_incr_oracle())
def q_d17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash dedup: build the persisted band-row index
    over "yesterday's corpus" (even doc ids), probe it with "today's
    batch" (odd ids + replicated evens) — the hamming-metric dual of
    d15. Fingerprints ride the stored band rows, so the probe verifies
    hamming inside the pruned (band, key) join without a second store;
    max_hamming comes from the index's _meta. Exact for the
    fingerprint metric (pigeonhole bound). Builds ONCE per (sf, data,
    params) via _build_once; the measured work is the daily probe."""
    from .llm import dedup_index as DI

    corpus, batch = _incr_split(spark, sf_dir)
    path = _build_once(
        "d17_idx", sf_dir, f"k={_SIMHASH_K} v3",
        lambda p: DI.simhash_build_index(
            corpus, p, max_hamming=_SIMHASH_K
        ),
    )
    return DI.simhash_against_index(spark, path, batch)


#: d18 embedding-index fixture: "yesterday's corpus" = even vec_ids
#: (indexed), "today's batch" = odd vec_ids + exact replicas of every
#: vec_id % 10 == 0 vector under a disjoint id namespace — guaranteed
#: cross-corpus cosine-1.0 duplicates (the d15 split, vector modality).
_D18_NC, _D18_PROBE, _D18_T = 8, 2, 0.9

_EMB_INCR_SQL = """
    ecorp AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
    ebat AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings
      WHERE vec_id % 10 = 0)
"""


def _emb_incr_split(spark: SparkSession, sf_dir: str):
    """The shared d18/x25 two-corpus embedding fixture: "yesterday's
    corpus" = even vec_ids (indexed), "today's batch" = odd vec_ids +
    replicas of every vec_id % 10 == 0 vector under a shifted id
    namespace. Mirrors _EMB_INCR_SQL exactly (the _incr_split pattern,
    vector modality)."""
    emb = read_parquet(spark, _pq(sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    corpus = emb.where(F.col("vec_id") % 2 == 0)
    batch = emb.where(F.col("vec_id") % 2 == 1).unionByName(
        emb.where(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    return corpus, batch


def _emb_pairs_ctes(
    corp_cte: str,
    bat_cte: str,
    cent_src: "str | None" = None,
    prefix: str = "",
) -> str:
    """CTE chain ending in `{prefix}edup` = the thresholded (batch,
    corpus) cosine pairs a persisted embedding-index probe returns,
    over ANY (vec_id, embedding) corpus/batch CTE pair: the n3 IVF
    coarse-quantizer machinery — centroids are `cent_src`'s hash-order
    sample (the shared `ORDER BY md5(id) LIMIT n` init), the corpus
    assigns top-1, the batch probes top-n_probe, survivors keep exact
    cosine >= threshold. `cent_src` defaults to the corpus CTE (a
    fresh build); pass the ORIGINAL corpus when modelling a probe
    against an EXTENDED index — extends never retrain the quantizer,
    so later epochs still assign under the build-time sample. `prefix`
    namespaces the chain so SEQUENTIAL probes compose (x29)."""
    P = prefix
    cs = cent_src or corp_cte
    return f"""
    {P}cent AS (
      SELECT vec_id AS cid, embedding AS cv FROM {cs}
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_D18_NC}),
    {P}cscored AS (
      SELECT e.vec_id AS id, c.cid,
             {_cos_sql('e.embedding', 'c.cv')} AS s
      FROM {corp_cte} e, {P}cent c),
    {P}cassign AS (
      SELECT id, cid FROM {P}cscored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) = 1),
    {P}bscored AS (
      SELECT b.vec_id AS id, c.cid,
             {_cos_sql('b.embedding', 'c.cv')} AS s
      FROM {bat_cte} b, {P}cent c),
    {P}bprobe AS (
      SELECT id, cid FROM {P}bscored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid)
              <= {_D18_PROBE}),
    {P}epairs AS (
      SELECT bp.id AS id_a, ca.id AS id_b,
             {_cos_sql('eq.embedding', 'ec.embedding')} AS sim
      FROM {P}bprobe bp
      JOIN {P}cassign ca ON ca.cid = bp.cid
      JOIN {bat_cte} eq ON eq.vec_id = bp.id
      JOIN {corp_cte} ec ON ec.vec_id = ca.id),
    {P}edup AS (
      SELECT id_a, id_b, sim FROM {P}epairs WHERE sim >= {_D18_T})
    """


def _emb_incr_ctes() -> str:
    """The d18 fixture's instance of _emb_pairs_ctes: chain over the
    shared two-corpus embedding split (ecorp/ebat), unprefixed, ending
    in `edup` — reused verbatim by the d18 and x25 oracles so the
    composed ingest can never drift from the standalone probe."""
    return f"""
    {_EMB_INCR_SQL.strip()},{_emb_pairs_ctes("ecorp", "ebat")}"""


def _emb_incr_oracle() -> str:
    return (
        "WITH " + _emb_incr_ctes().strip()
        + "\n    SELECT id_a, id_b, sim FROM edup"
    )


@register("d18_embedding_against_index", _emb_incr_oracle())
def q_d18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC dedup: build the persisted embedding index
    over "yesterday's corpus" (even vec_ids — vectors physically
    partitioned by IVF centroid id), probe it with "today's batch" (odd
    vec_ids + replicated evens under a shifted id namespace) — the
    cosine-metric member of the d15/d17 family, the operation a daily
    embedding ingest runs. Only the batch pays the quantizer pass; the
    corpus is touched through the probed cid partitions alone (file-
    listing pruning), and exact duplicates are found at any n_probe
    (identical vectors share a top-1 list). Builds ONCE per (sf, data,
    params) via _build_once; the measured work is the daily probe."""
    from .llm import dedup_index as DI

    corpus, batch = _emb_incr_split(spark, sf_dir)
    path = _build_once(
        "d18_idx", sf_dir, f"nc={_D18_NC} v3",
        lambda p: DI.embedding_build_index(
            corpus, p, n_centroids=_D18_NC
        ),
        src_table="embeddings",
    )
    return DI.embedding_against_index(
        spark, path, batch, threshold=_D18_T, n_probe=_D18_PROBE
    )


def _emb_pq_probe_oracle() -> str:
    """d22 = the PQ-CODED embedding store's two-stage probe unrolled
    as ONE SQL chain (verdict r11 item 3): per-subspace codebook
    training on the corpus (the shared _pq_train_ctes generator with
    train_where), int8 quantization (the x11 CTEs), the precomputed
    ADC denominator, the per-row Cauchy-Schwarz shortlist bound err
    (every rounding pad spelled out — the _emb_pq_rows formula term
    for term), the coarse probe (the d18 machinery), the ADC
    SHORTLIST at threshold − err − slack, and the EXACT int8 rerank.
    The final SELECT keeps rerank sim >= threshold — which is exactly
    what a quantize='int8' store returns, so a shortlist that lost a
    pair (a broken bound), a drifted codebook, or a rerank that scored
    codes instead of vectors all break the hash."""
    sd = _SRP_DIM // _PQ_M
    joined = ",\n    ".join(_pq_train_ctes("vec_id % 2 = 0"))
    cbv = "\n      UNION ALL ".join(
        f"SELECT {s} AS s, cid, cv FROM cent{_PQ_ITER}_{s}"
        for s in range(_PQ_M)
    )
    codes = "\n      UNION ALL ".join(
        f"SELECT id, {s} AS s, cid FROM assignF_{s}"
        for s in range(_PQ_M)
    )
    blut = "\n      UNION ALL ".join(
        f"SELECT b.vec_id AS id_a, {s} AS s, c.cid, "
        f"round(list_sum(list_transform(generate_series(1, {sd}), "
        f"i -> CAST(b.embedding[{s * sd} + i] AS DOUBLE) * c.cv[i])), 6)"
        f" AS d "
        f"FROM ebat b, cent{_PQ_ITER}_{s} c"
        for s in range(_PQ_M)
    )
    pad = f"({_PQ_M} * 5e-7)"
    return f"""
    WITH {_EMB_INCR_SQL.strip()},
    {joined},
    cbv AS (
      {cbv}),
    codes AS (
      {codes}),
    cbn AS (
      SELECT s, cid, round(list_sum(list_transform(
               generate_series(1, {sd}), i -> cv[i] * cv[i])), 6) AS nsq
      FROM cbv),
    den AS (
      SELECT co.id,
             CAST(SUM(CAST(b.nsq AS DECIMAL(28,10))) AS DOUBLE) AS den
      FROM codes co JOIN cbn b ON b.s = co.s AND b.cid = co.cid
      GROUP BY co.id),
    q8s AS (
      SELECT vec_id AS id, embedding,
             greatest(list_max(list_transform(embedding,
                                  x -> abs(CAST(x AS DOUBLE)))),
                      1e-30) / 127.0 AS scale
      FROM ecorp),
    dqv AS (
      SELECT id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INT)
                    * scale) AS dq
      FROM q8s),
    dqn AS (
      SELECT id, dq,
             sqrt(list_sum(list_transform(generate_series(1, len(dq)),
                                          i -> dq[i] * dq[i]))) AS ndq
      FROM dqv),
    terms AS (
      SELECT co.id,
             round(list_sum(list_transform(generate_series(1, {sd}),
                     i -> v.dq[co.s * {sd} + i] * b.cv[i])), 6) AS t
      FROM codes co
      JOIN cbv b ON b.s = co.s AND b.cid = co.cid
      JOIN dqn v ON v.id = co.id),
    dots AS (
      SELECT id, CAST(SUM(CAST(t AS DECIMAL(28,10))) AS DOUBLE) AS dotsum
      FROM terms GROUP BY id),
    errv AS (
      SELECT v.id,
             CASE WHEN v.ndq = 0 THEN 2.0
                  ELSE round(sqrt(greatest(0.0,
                         2.0 - 2.0 * (t.dotsum / (v.ndq * sqrt(d.den)))
                             + 2.0 * {pad} / (v.ndq * sqrt(d.den))
                             + {pad} / d.den)), 6) + 2e-6
             END AS err
      FROM dqn v JOIN dots t ON t.id = v.id JOIN den d ON d.id = v.id),
    cent AS (
      SELECT vec_id AS cid, embedding AS cv FROM ecorp
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_D18_NC}),
    cassign AS (
      SELECT id, cid FROM (
        SELECT e.vec_id AS id, c.cid,
               {_cos_sql('e.embedding', 'c.cv')} AS s
        FROM ecorp e, cent c)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) = 1),
    bprobe AS (
      SELECT id, cid FROM (
        SELECT b.vec_id AS id, c.cid,
               {_cos_sql('b.embedding', 'c.cv')} AS s
        FROM ebat b, cent c)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid)
              <= {_D18_PROBE}),
    bqn AS (
      SELECT vec_id AS id_a,
             sqrt(list_sum(list_transform(generate_series(1,
                    len(embedding)),
                    i -> CAST(embedding[i] AS DOUBLE)
                         * CAST(embedding[i] AS DOUBLE)))) AS nq
      FROM ebat),
    blut AS (
      {blut}),
    cand AS (
      SELECT bp.id AS id_a, ca.id AS id_b
      FROM bprobe bp JOIN cassign ca ON ca.cid = bp.cid),
    bnum AS (
      SELECT ca.id_a, ca.id_b,
             CAST(SUM(CAST(l.d AS DECIMAL(28,10))) AS DOUBLE) AS num
      FROM cand ca
      JOIN codes co ON co.id = ca.id_b
      JOIN blut l ON l.id_a = ca.id_a AND l.s = co.s AND l.cid = co.cid
      GROUP BY ca.id_a, ca.id_b),
    short AS (
      SELECT n.id_a, n.id_b
      FROM bnum n
      JOIN den d ON d.id = n.id_b
      JOIN errv e ON e.id = n.id_b
      JOIN bqn q ON q.id_a = n.id_a
      WHERE round(n.num / (q.nq * sqrt(d.den)), 6)
            >= {_D18_T} - e.err - 1e-4),
    rerank AS (
      SELECT s.id_a, s.id_b,
             round(list_sum(list_transform(generate_series(1,
                     len(b.embedding)),
                     i -> CAST(b.embedding[i] AS DOUBLE) * v.dq[i]))
                   / (q.nq * v.ndq), 6) AS sim
      FROM short s
      JOIN ebat b ON b.vec_id = s.id_a
      JOIN dqn v ON v.id = s.id_b
      JOIN bqn q ON q.id_a = s.id_a)
    SELECT id_a, id_b, sim FROM rerank WHERE sim >= {_D18_T}
    """


@register("d22_embedding_pq_store_probe", _emb_pq_probe_oracle())
def q_d22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup against the PQ-CODED embedding store
    (quantize='pq' — verdict r11 item 3): the scoring pass reads
    m-byte PQ codes plus two doubles per row instead of the vector,
    shortlists candidates with the stored no-false-negative err bound,
    and exact-reranks only the survivors against the stored int8
    vectors — BIT-EQUAL to a quantize='int8' store's probe
    (tests/test_dedup_index.py pins the equality at two code budgets;
    this row pins the whole chain against SQL). At a realistic code
    budget (m=8, k=64) the shortlist admits ~1% of candidates on this
    data; at the fixture budget here (m={_PQ_M}, k={_PQ_CODES}) the
    bound is honest but loose — the contract, not the pruning, is
    what the oracle checks. Build amortized via _build_once; the
    measured work is the daily probe."""
    from .llm import dedup_index as DI

    corpus, batch = _emb_incr_split(spark, sf_dir)
    path = _build_once(
        "d22_idx", sf_dir,
        f"nc={_D18_NC} pq m{_PQ_M} k{_PQ_CODES} v1",
        lambda p: DI.embedding_build_index(
            corpus, p, n_centroids=_D18_NC, quantize="pq",
            m_subspaces=_PQ_M, n_codes=_PQ_CODES, pq_n_iter=_PQ_ITER,
        ),
        src_table="embeddings",
    )
    return DI.embedding_against_index(
        spark, path, batch, threshold=_D18_T, n_probe=_D18_PROBE
    )


def _emb_ingest_oracle() -> str:
    """x25 = the daily embedding-ingest COMPOSITION: admitted batch
    vectors are the batch minus anything the index probe matched.
    Chains the SAME `edup` CTE generator as the standalone d18 oracle
    — the pipeline cannot drift from its probe stage (the x22/d15
    relationship, vector modality)."""
    return (
        "WITH " + _emb_incr_ctes().strip()
        + """
    SELECT vec_id FROM ebat
    WHERE vec_id NOT IN (SELECT id_a FROM edup)
    """
    )


@register("x25_embedding_ingest", _emb_ingest_oracle())
def q_x25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily embedding ingest as a pure config program: EMBEDDING
    BUILD INDEX over yesterday's corpus, EMBEDDING AGAINST INDEX with
    today's batch, ANTI JOIN to drop batch vectors that semantically
    duplicate the corpus, EMBEDDING EXTEND INDEX with the admitted
    vectors so tomorrow's probe sees them — incremental SemDeDup
    end-to-end, every stage a registered op. Returns the admitted
    batch ids; the admitted set is EAGERLY checkpointed before the
    extend (the probe subtree reads the index parquet lazily — the x22
    write-then-extend ordering lesson)."""
    import os
    import shutil
    import tempfile

    from .plans import Engine, OpSpec

    corpus, batch = _emb_incr_split(spark, sf_dir)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"cfg_etl_x25_idx_{tag}")
    # extend APPENDS: start from a clean tree so a repeated invocation
    # measures the same pipeline every time
    shutil.rmtree(path, ignore_errors=True)
    eng = Engine(spark)
    eng.bind("corpus", corpus)
    eng.bind("batch", batch)
    run = eng.run_op
    run(OpSpec(
        "EMBEDDING BUILD INDEX", "built", ["corpus"],
        {"path": path, "n_centroids": _D18_NC,
         "id_column": "vec_id", "vector_column": "embedding"},
    ))
    run(OpSpec(
        "EMBEDDING AGAINST INDEX", "pairs", ["batch"],
        {"path": path, "threshold": _D18_T, "n_probe": _D18_PROBE,
         "id_column": "vec_id", "vector_column": "embedding"},
    ))
    eng.bind(
        "matched",
        eng.peek("pairs")[0].select(F.col("id_a").alias("vec_id")),
    )
    eng.bind("admitted", run(OpSpec(
        "ANTI JOIN", "admitted", ["batch", "matched"],
        {"on": ["vec_id"]},
    )).localCheckpoint(eager=True))
    run(OpSpec(
        "EMBEDDING EXTEND INDEX", "ext", ["admitted"],
        {"path": path, "id_column": "vec_id",
         "vector_column": "embedding"},
    ))
    return eng.peek("admitted")[0].select("vec_id")


def _incr_ingest_oracle() -> str:
    """x22 = the daily-ingest COMPOSITION: admitted batch docs are the
    batch minus anything the index probe matched. Chains the SAME
    `ipairs` CTE generator as the standalone d15 oracle — the pipeline
    cannot drift from its probe stage."""
    return (
        "WITH " + _incr_pairs_ctes().strip()
        + """,
    batchd AS (SELECT doc_id, text FROM u WHERE side = 1)
    SELECT doc_id, text FROM batchd
    WHERE doc_id NOT IN (SELECT id_a FROM ipairs)
    """
    )


@register("x22_incremental_ingest", _incr_ingest_oracle())
def q_x22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily 100 TB ingest as a pure config program: MINHASH BUILD
    INDEX over yesterday's corpus (in production this already exists —
    building it here is the honest first-day cost), DEDUP AGAINST INDEX
    with today's batch, ANTI JOIN to drop the batch docs that
    near-duplicate the corpus, MINHASH EXTEND INDEX with the admitted
    docs so tomorrow's probe sees them. Returns the admitted batch.
    Every stage is a registered op; the oracle chains d15's own pair
    CTEs, so the composition is pinned to its standalone probe."""
    import os
    import shutil
    import tempfile

    from .plans import Engine, OpSpec

    corpus, batch = _incr_split(spark, sf_dir)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"cfg_etl_x22_idx_{tag}")
    # extend APPENDS: start from a clean tree so a repeated invocation
    # (bench warm-up + samples) measures the same pipeline every time
    shutil.rmtree(path, ignore_errors=True)
    eng = Engine(spark)
    eng.bind("corpus", corpus)
    eng.bind("batch", batch)
    run = eng.run_op
    run(OpSpec(
        "MINHASH BUILD INDEX", "built", ["corpus"],
        {"path": path, "n": _JACCARD_N, "bands": _LSH_BANDS,
         "rows_per_band": _LSH_ROWS},
    ))
    run(OpSpec(
        "DEDUP AGAINST INDEX", "pairs", ["batch"],
        {"path": path, "threshold": _LSH_P / _LSH_Q},
    ))  # run_op binds the target name itself
    eng.bind(
        "matched",
        eng.peek("pairs")[0].select(F.col("id_a").alias("doc_id")),
    )
    # EAGER checkpoint before the roll-forward: the probe subtree reads
    # the index parquet lazily, and EXTEND appends the admitted docs'
    # own signatures to it — an unmaterialized `admitted` would then
    # re-probe the extended index at execution time and find every
    # admitted doc matching ITSELF (a production pipeline writes the
    # admitted batch out before extending; this models that action)
    eng.bind("admitted", run(OpSpec(
        "ANTI JOIN", "admitted", ["batch", "matched"],
        {"on": ["doc_id"]},
    )).localCheckpoint(eager=True))
    run(OpSpec(
        "MINHASH EXTEND INDEX", "ext", ["admitted"], {"path": path},
    ))
    return eng.peek("admitted")[0]



def _proc_tmp_root(prefix: str, sf_dir: str) -> str:
    """Per-process /tmp fixture path for the rmtree-at-entry rows
    (x28/x29/x30/x31/x32/x33): the pid keeps concurrent processes —
    the driver and a sweep — from deleting each other's live stores
    mid-run, and an atexit rmtree keeps the per-pid dirs from leaking
    across CI rounds (pids never repeat, so no later run would ever
    clean them)."""
    import atexit
    import os
    import shutil
    import tempfile

    tag = f"{sf_dir.strip('/').replace('/', '_')}_{os.getpid()}"
    root = os.path.join(tempfile.gettempdir(), f"cfg_etl_{prefix}_{tag}")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _admission_ctes() -> str:
    """The x28 admission chain WITHOUT the final select: ends at
    `adm1`/`adm2` (each epoch's admitted rows). x28 unions them with
    epoch stamps; x34 unions them into the post-stream SEARCH corpus —
    one chain, two rows, zero drift."""
    return f"""
    e1 AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
    e2 AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 20 = 1),
    u1 AS (
      SELECT doc_id, text, 0 AS side FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, text, 1 AS side FROM e1),{_cross_pairs_ctes("u1", "a_").rstrip()},
    adm1 AS (
      SELECT doc_id, text FROM e1
      WHERE doc_id NOT IN (SELECT id_a FROM a_ipairs)),
    u2 AS (
      SELECT doc_id, text, 0 AS side FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, text, 0 AS side FROM adm1
      UNION ALL
      SELECT doc_id, text, 1 AS side FROM e2),{_cross_pairs_ctes("u2", "b_").rstrip()},
    adm2 AS (
      SELECT doc_id, text FROM e2
      WHERE doc_id NOT IN (SELECT id_a FROM b_ipairs))"""


def _stream_admission_oracle() -> str:
    """x28 = TWO SEQUENTIAL admission epochs: epoch 1 probes the corpus
    index; epoch 2 probes corpus ∪ epoch-1 ADMISSIONS (the extend
    landed in between). Each probe is one _cross_pairs_ctes instance —
    the same generator the d15/x22 oracles use, chained under distinct
    prefixes, so the streaming composition is pinned to the standalone
    probe twice over."""
    return (
        "WITH " + _admission_ctes().strip()
        + """
    SELECT doc_id, text, 0 AS epoch FROM adm1
    UNION ALL
    SELECT doc_id, text, 1 AS epoch FROM adm2
    """
    )


@register("x28_streaming_admission", _stream_admission_oracle())
def q_x28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental-dedup admission, run as a REAL Structured
    Streaming query (file source, availableNow, maxFilesPerTrigger=1):
    two ingest epochs drain through foreachBatch(admission_batch) —
    each micro-batch probes the persisted MinHash index, drops
    near-duplicates, overwrites its own epoch output partition, and
    TAGGED-extends the index so the next epoch dedups against this
    one's admissions (streaming/admission.py; retry idempotence and
    crash-point safety pinned in tests/test_streaming_admission.py).
    Epoch file order is pinned via mtimes (the file source orders by
    timestamp). The oracle chains the d15 probe CTEs twice — epoch 2
    against corpus ∪ epoch-1 admissions — so stream == relational
    statement end-to-end. Reference parity: the reference ingest is one
    Lambda per file with no dedup or persisted state
    (/root/reference/Data_Ingestion_Python.py:111-194)."""
    import os
    import shutil

    from .llm.dedup_index import minhash_build_index
    from .streaming.admission import start_index_admission

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", "text"
    )
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    e1 = docs.where(F.col("doc_id") % 4 == 1).unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    e2 = docs.where(F.col("doc_id") % 4 == 3).unionByName(
        docs.where(F.col("doc_id") % 20 == 1).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    # per-process + atexit-cleaned fixture root (see _proc_tmp_root);
    # extend APPENDS and the checkpoint records epochs: start clean so
    # a repeated invocation measures the same pipeline every time
    root = _proc_tmp_root("x28", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    idx, out = os.path.join(root, "idx"), os.path.join(root, "out")
    src = os.path.join(root, "incoming")
    e1.coalesce(1).write.parquet(src + "/batch=0")
    e2.coalesce(1).write.parquet(src + "/batch=1")
    # deterministic epoch order: the file source sorts by mtime
    now = os.path.getmtime(src + "/batch=0")
    for i in (0, 1):
        for f in os.listdir(f"{src}/batch={i}"):
            os.utime(f"{src}/batch={i}/{f}", (now + 10 * i, now + 10 * i))
    minhash_build_index(
        corpus, idx, n=_JACCARD_N, bands=_LSH_BANDS,
        rows_per_band=_LSH_ROWS,
    )
    q = start_index_admission(
        spark, src + "/batch=*", e1.schema, idx, out,
        checkpoint=os.path.join(root, "ckpt"),
        threshold=_LSH_P / _LSH_Q, max_files_per_trigger=1,
    )
    if not q.awaitTermination(600):
        # never read a half-drained output: stop the stream and fail
        # loudly instead of hash-mismatching nondeterministically
        q.stop()
        raise TimeoutError(
            "x28 availableNow drain did not finish within 600s"
        )
    return read_parquet(spark, out).select(
        "doc_id", "text", F.col("epoch").cast("int").alias("epoch")
    )


def _index_deletion_oracle() -> str:
    """x30 = d15's probe statement minus the tombstoned ids:
    relationally, deletion is `id_b NOT IN deleted` — the parquet
    tombstone segments are pure execution strategy. Chains the SAME
    _cross_pairs_ctes generator as d15/x22/x28, so deletion semantics
    are pinned against the standalone probe."""
    return (
        "WITH " + _incr_pairs_ctes().strip()
        + """,
    deleted AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 2 = 0 AND doc_id % 3 = 0)
    SELECT id_a, id_b, inter, size_a, size_b FROM ipairs
    WHERE id_b NOT IN (SELECT doc_id FROM deleted)
    """
    )


def _deleted_minhash_store(spark: SparkSession, sf_dir: str, name: str):
    """The shared x30/x31 fixture — ONE point of truth so the two rows
    really bracket the same mutation: a fresh MinHash index over the
    d15 corpus with every doc_id % 3 == 0 tombstoned (v1 = build,
    v2 = delete). Returns (path, batch). Fresh /tmp store per
    invocation: deletes MUTATE, and bench warm-ups must measure the
    same pipeline every time."""
    import os
    import shutil

    from .llm import dedup_index as DI
    from .llm._store import delete_from_index

    corpus, batch = _incr_split(spark, sf_dir)
    path = _proc_tmp_root(name, sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    DI.minhash_build_index(
        corpus, path, n=_JACCARD_N, bands=_LSH_BANDS,
        rows_per_band=_LSH_ROWS,
    )
    delete_from_index(
        corpus.where(F.col("doc_id") % 3 == 0)
        .select(F.col("doc_id").alias("id")),
        path, tag=f"takedown-{name}",
    )
    return path, batch


@register("x30_index_deletion", _index_deletion_oracle())
def q_x30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten on a persisted index WITHOUT a rebuild
    (llm/_store.delete_from_index): tombstone a third of the indexed
    corpus, then probe — deleted ids vanish from results immediately
    (the tombstone anti-join runs before the candidate verify), while
    the rows are physically purged later by COMPACT INDEX (Lucene's
    delete-until-merge model; compact == fresh-rebuild-minus-deleted
    is pinned bit-for-bit in tests/test_store.py). The oracle is d15's
    own chain filtered by the deleted set — deletion cannot drift from
    the probe it wraps (and x31 probes the SAME fixture's v1)."""
    from .llm import dedup_index as DI

    path, batch = _deleted_minhash_store(spark, sf_dir, "x30")
    return DI.dedup_against_index(
        spark, path, batch, threshold=_LSH_P / _LSH_Q
    )


@register("x31_index_time_travel", _incr_index_oracle())
def q_x31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta/Iceberg-style SNAPSHOT READ on a persisted index
    (as_of_version): build (v1), tombstone a third of the corpus (v2),
    extend with replica docs (v3) — then probe AS OF v1. The manifest
    log makes every committed version a queryable snapshot within the
    build generation, valid until VACUUM removes superseded segments
    (Delta's VACUUM bound), so the as-of-v1 answer is bit-equal to the
    standalone d15 probe's — its EXACT oracle — even though the latest
    tree answers differently (x30 pins the post-delete answer; the two
    rows bracket the mutation). Time travel never spans a rebuild: the
    _meta/_centroids sidecars are in-place, and the meta_id cross-check
    refuses loudly (tests/test_store.py pins that plus the vacuum
    horizon)."""
    from .llm import dedup_index as DI

    # the SAME build+delete fixture as x30 (shared helper — the
    # bracketing claim depends on the mutation being identical) ...
    path, batch = _deleted_minhash_store(spark, sf_dir, "x31")
    # ... plus a v3 extend the snapshot must also ignore
    corpus, _ = _incr_split(spark, sf_dir)
    DI.minhash_extend_index(
        corpus.where(F.col("doc_id") % 6 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"), "text"
        ),
        path,
    )
    return DI.dedup_against_index(
        spark, path, batch, threshold=_LSH_P / _LSH_Q, as_of_version=1
    )


def _emb_stream_admission_oracle() -> str:
    """x29 = x28's statement in the VECTOR modality: two sequential
    embedding-admission epochs, each one _emb_pairs_ctes instance —
    epoch 2 probes corpus ∪ epoch-1 admissions, but assigns under the
    ORIGINAL corpus's centroid sample (extends never retrain the
    quantizer; cent_src pins that)."""
    return f"""
    WITH ecorp AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
    ee1 AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 1
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings
      WHERE vec_id % 10 = 0),
    ee2 AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 3
      UNION ALL
      SELECT vec_id + 2000000, embedding FROM embeddings
      WHERE vec_id % 20 = 1),{_emb_pairs_ctes("ecorp", "ee1", prefix="a_").rstrip()},
    adm1 AS (
      SELECT vec_id, embedding FROM ee1
      WHERE vec_id NOT IN (SELECT id_a FROM a_edup)),
    corp2 AS (
      SELECT vec_id, embedding FROM ecorp
      UNION ALL
      SELECT vec_id, embedding FROM adm1),{_emb_pairs_ctes("corp2", "ee2", cent_src="ecorp", prefix="b_").rstrip()},
    adm2 AS (
      SELECT vec_id FROM ee2
      WHERE vec_id NOT IN (SELECT id_a FROM b_edup))
    SELECT vec_id, 0 AS epoch FROM adm1
    UNION ALL
    SELECT vec_id, 1 AS epoch FROM adm2
    """


@register("x29_streaming_embedding_admission", _emb_stream_admission_oracle())
def q_x29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental SEMANTIC-dedup admission — x28's
    composition in the vector modality (family='embedding'), run as a
    REAL availableNow stream: each micro-batch of new vectors probes
    the persisted IVF-partitioned embedding index, drops cosine
    near-duplicates, overwrites its epoch output partition, and
    TAGGED-extends the index so the next epoch dedups against this
    one's admissions under the ORIGINAL centroid sample (FAISS-add
    semantics — extends never retrain). The oracle chains
    _emb_pairs_ctes twice, with epoch 2's quantizer pinned to the
    original corpus sample, exactly what the extended index stores.
    Shares streaming/admission.py with x28 — one admission composition
    for every probe-returning index family."""
    import os
    import shutil

    from .llm.dedup_index import embedding_build_index
    from .streaming.admission import start_index_admission

    emb = read_parquet(spark, _pq(sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    corpus = emb.where(F.col("vec_id") % 2 == 0)
    e1 = emb.where(F.col("vec_id") % 4 == 1).unionByName(
        emb.where(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    e2 = emb.where(F.col("vec_id") % 4 == 3).unionByName(
        emb.where(F.col("vec_id") % 20 == 1).select(
            (F.col("vec_id") + 2000000).alias("vec_id"), "embedding"
        )
    )
    root = _proc_tmp_root("x29", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    idx, out = os.path.join(root, "idx"), os.path.join(root, "out")
    src = os.path.join(root, "incoming")
    e1.coalesce(1).write.parquet(src + "/batch=0")
    e2.coalesce(1).write.parquet(src + "/batch=1")
    now = os.path.getmtime(src + "/batch=0")
    for i in (0, 1):
        for f in os.listdir(f"{src}/batch={i}"):
            os.utime(f"{src}/batch={i}/{f}", (now + 10 * i, now + 10 * i))
    embedding_build_index(corpus, idx, n_centroids=_D18_NC)
    q = start_index_admission(
        spark, src + "/batch=*", e1.schema, idx, out,
        checkpoint=os.path.join(root, "ckpt"),
        family="embedding", threshold=_D18_T, n_probe=_D18_PROBE,
        max_files_per_trigger=1,
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "x29 availableNow drain did not finish within 600s"
        )
    return read_parquet(spark, out).select(
        "vec_id", F.col("epoch").cast("int").alias("epoch")
    )


#: non-uniform target mixture over the documents' source domains
_MIX_WEIGHTS = {f"src{i}": i % 3 + 1 for i in range(20)}
_MIX_SEED = "mix"


def _mix_counts_ctes(src: str) -> str:
    """c/t1 prefix every mixture oracle shares (x13/x14 downsample AND
    the x26 upsample): per-stratum counts with their weights, W over
    strata PRESENT. ONE definition on purpose — the weight CASE/IN
    construction must never drift between the duals."""
    whens = " ".join(
        f"WHEN '{v}' THEN {w}" for v, w in sorted(_MIX_WEIGHTS.items())
    )
    in_list = ", ".join(f"'{v}'" for v in sorted(_MIX_WEIGHTS))
    return f"""
    c AS (
      SELECT source, count(*) AS n, CASE source {whens} END AS w
      FROM {src} WHERE source IN ({in_list}) GROUP BY source),
    t1 AS (SELECT sum(w) AS wtot FROM c)"""


def _mixture_ctes(src: str) -> str:
    """c/t1/t2/cut CTE chain: mixture_sample's integer math (W, binding
    total T* = min_s floor(n_s*W/w_s), target q_s = floor(w_s*T*/W),
    cutoff floor(q_s*2^20/n_s)) over the `src` relation — shared by the
    x13 oracle and the x14 pipeline oracle."""
    return f"""{_mix_counts_ctes(src)},
    t2 AS (SELECT max(t1.wtot) AS wtot,
                  min(c.n * t1.wtot // c.w) AS tstar
           FROM c, t1),
    cut AS (SELECT c.source,
                   (c.w * t2.tstar // t2.wtot) * {1 << 20} // c.n AS cutoff
            FROM c, t2)"""


def _mix_admit_sql(
    key_sql: str, seed: str = _MIX_SEED, cutoff_sql: str = "cut.cutoff"
) -> str:
    """WHERE fragment admitting rows whose 20-bit md5(seed|key) bucket
    falls under `cutoff_sql` — the one md5-admit idiom every mixture
    oracle uses."""
    return (
        f"CAST(('0x' || substr(md5('{seed}' || '|' || "
        f"CAST({key_sql} AS STRING)), 1, 5)) AS BIGINT) < {cutoff_sql}"
    )


def _mixture_oracle() -> str:
    return f"""
    WITH {_mixture_ctes("documents")}
    SELECT d.doc_id, d.source, d.lang
    FROM documents d JOIN cut ON d.source = cut.source
    WHERE {_mix_admit_sql("d.doc_id")}
    """


@register("x13_domain_mixture", _mixture_oracle())
def q_x13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: keep the largest corpus achievable at
    the requested integer weight ratios (1:2:3 across source domains),
    rows admitted by deterministic md5 bucket — exact BIGINT math end to
    end, so the sample is reproducible on any cluster and engine."""
    from .llm.sampling import mixture_sample

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return mixture_sample(docs, _MIX_WEIGHTS, seed=_MIX_SEED).select(
        "doc_id", "source", "lang"
    )


#: x26: total sized so weight-3 domains need > max_epochs copies (the
#: cap binds and the achieved mixture honestly undershoots) while
#: weight-1 domains land on full-copies + md5 remainder — both branches
#: of the epoch math in one fixture
_UP_T, _UP_E, _UP_SEED = 2000, 4, "mixup"


def _upsample_oracle() -> str:
    """SQL replay of mixture_upsample's integer math: W over present
    strata, q_s = floor(w_s*T/W), full copies min(floor(q_s/n_s), E),
    20-bit md5 remainder cutoff, constant-bounded epoch series."""
    return f"""
    WITH {_mix_counts_ctes("documents").strip()},
    p AS (SELECT c.source, c.n, c.w * {_UP_T} // t1.wtot AS q
          FROM c, t1),
    e AS (SELECT source, n,
                 CASE WHEN q // n >= {_UP_E} THEN {_UP_E}
                      ELSE q // n END AS fe,
                 CASE WHEN q // n >= {_UP_E} THEN 0
                      ELSE (q - (q // n) * n) * {1 << 20} // n
                 END AS cutoff
          FROM p),
    s AS (SELECT unnest(generate_series(0, {_UP_E})) AS epoch),
    g AS (SELECT d.doc_id, d.source, d.lang, e.fe, e.cutoff, s.epoch
          FROM documents d JOIN e ON e.source = d.source CROSS JOIN s)
    SELECT doc_id, source, lang, CAST(epoch AS BIGINT) AS epoch
    FROM g
    WHERE epoch < fe
       OR (epoch = fe
           AND {_mix_admit_sql("doc_id", seed=_UP_SEED,
                               cutoff_sql="cutoff")})
    """


@register("x26_mixture_upsample", _upsample_oracle())
def q_x26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped mixture UPSAMPLING (x13's dual): scarce domains are
    repeated — full copies plus a deterministic md5 remainder, capped
    at max_epochs full passes (the published-practice repetition cap) —
    so the corpus reaches a target SIZE at the requested ratios instead
    of shrinking to the binding stratum. Exact BIGINT math end to end;
    rows carry a 0-based epoch so (doc_id, epoch) stays a unique
    identity for downstream packing."""
    from .llm.sampling import mixture_upsample

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", "source", "lang"
    )
    return mixture_upsample(
        docs, _MIX_WEIGHTS, total_rows=_UP_T, max_epochs=_UP_E,
        seed=_UP_SEED,
    )


_DECONTAM_N = 13
#: eval-set membership predicate, shared by query and oracle: the
#: "benchmark" is a copy of every 17th document (an external eval set
#: that happens to contain training docs verbatim — the exact situation
#: decontamination exists to catch)
_DECONTAM_PRED = "doc_id % 17 = 0"


def _decontam_oracle() -> str:
    return (
        "WITH " + _shingles_sql(_DECONTAM_N)
        + f""",
    ev AS (SELECT DISTINCT sh FROM sh WHERE {_DECONTAM_PRED}),
    hits AS (SELECT s.doc_id, count(*) AS n_contaminated_grams
             FROM sh s JOIN ev e USING (sh)
             GROUP BY s.doc_id)
    SELECT d.doc_id,
           h.doc_id IS NOT NULL AS contaminated,
           coalesce(h.n_contaminated_grams, CAST(0 AS BIGINT))
             AS n_contaminated_grams
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """
    )


@register("d9_decontaminate", _decontam_oracle())
def q_d9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (GPT-3 13-gram rule): flag corpus docs
    sharing any 13-gram with the eval set. Eval grams broadcast; the
    probe is a map-side hash join, no shuffle by gram."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    evalset = docs.where(F.expr(_DECONTAM_PRED)).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    return D.decontaminate(docs, evalset, n=_DECONTAM_N).select(
        "doc_id", "contaminated", "n_contaminated_grams"
    )


@register("d21_decontaminate_bloom", _decontam_oracle())
def q_d21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination — d9's oracle VERBATIM,
    because the result is bit-identical by construction: the eval
    grams fold into a broadcast Bloom filter (no false negatives), the
    corpus probes it map-side in vectorized Arrow batches, and only
    the surviving sliver pays the exact verification join. The scale
    path for eval sets too big to broadcast as grams (1e8 grams ≈ 9 GB
    of strings vs a 125 MB bitmap); FPR tunes cost, never results.
    bloom_bits here is deliberately small (2^18 for ~29k eval grams at
    5 hashes ≈ a few % FPR) so the verify join provably scrubs real
    false positives, not just a zero-FPR fixture."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    evalset = docs.where(F.expr(_DECONTAM_PRED)).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    return D.decontaminate_bloom(
        docs, evalset, n=_DECONTAM_N, bloom_bits=1 << 18,
    ).select("doc_id", "contaminated", "n_contaminated_grams")


_PIPE_REP_MAX = 0.2  # top-2-gram repetition gate


def _pipeline_oracle() -> str:
    """x14 = the WHOLE pre-training curation pipeline as one SQL chain:
    inject PII -> scrub -> quality gate (on scrubbed text) -> repetition
    gate -> 13-gram eval-set decontamination -> exact-ratio domain
    mixture. Every CTE mirrors an already-oracle-checked operator; this
    query pins their composition end to end. Every shared fragment
    (_pii_count_exprs/_pii_scrub_expr/_mixture_ctes/_mix_admit_sql) is
    built ONCE and reused by the standalone t6/x13 oracles, so the
    pipeline oracle can never drift from theirs."""
    r = T.QUALITY_RULES
    total = " + ".join(expr for _, expr in _pii_count_exprs())
    scrub = _pii_scrub_expr()
    nm1 = _DECONTAM_N - 1
    return rf"""
    WITH inj AS (
      SELECT doc_id, source, lang, {_PII_INJ} AS text FROM documents),
    scrub AS (
      SELECT doc_id, source, lang,
             CAST({total} AS BIGINT) AS pii_total,
             {scrub} AS text_scrubbed
      FROM inj),
    sdocs AS (SELECT doc_id, text_scrubbed AS text FROM scrub),
    {_words_sql("sdocs").strip()},
    q AS (
      SELECT d.doc_id,
             CAST(len(w.w) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(d.text, '[^\w\s]', 0)) AS DOUBLE)
               / greatest(length(d.text), 1) AS punct_ratio,
             CAST(len(list_filter(w.w, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
               / greatest(len(w.w), 1) AS stopword_ratio,
             CAST(list_sum(list_transform(w.w, x -> length(x))) AS DOUBLE)
               / greatest(len(w.w), 1) AS mean_word_len
      FROM sdocs d JOIN words w ON d.doc_id = w.doc_id),
    qk AS (
      SELECT doc_id, n_words,
             ((n_words >= {r["min_words"]} AND n_words <= {r["max_words"]})
              AND punct_ratio <= {r["max_punct_ratio"]}
              AND stopword_ratio >= {r["min_stopword_ratio"]}
              AND (mean_word_len >= {r["min_mean_word_len"]}
                   AND mean_word_len <= {r["max_mean_word_len"]})) AS keep
      FROM q),
    wd AS (SELECT doc_id, unnest(w) AS wrd,
                  generate_subscripts(w, 1) AS pos
           FROM words),
    gr AS (SELECT doc_id,
                  wrd || ' ' || lead(wrd) OVER
                    (PARTITION BY doc_id ORDER BY pos) AS gram
           FROM wd),
    gc AS (SELECT doc_id, gram, count(*) AS c FROM gr
           WHERE gram IS NOT NULL GROUP BY 1, 2),
    gf AS (SELECT doc_id, max(c) / sum(c) AS top_ngram_frac
           FROM gc GROUP BY doc_id),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(w) - {nm1}, 0)),
               i -> array_to_string(list_slice(w, i, i + {nm1}), ' '))) AS sh
      FROM words),
    ev AS (SELECT DISTINCT sh FROM sh WHERE {_DECONTAM_PRED}),
    contaminated AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN ev e USING (sh)),
    kept AS (
      SELECT sc.doc_id, sc.source, sc.lang, qk.n_words, sc.pii_total,
             coalesce(gf.top_ngram_frac, 0.0) AS top_ngram_frac,
             sc.text_scrubbed
      FROM scrub sc
      JOIN qk ON sc.doc_id = qk.doc_id
      LEFT JOIN gf ON sc.doc_id = gf.doc_id
      WHERE qk.keep
        AND coalesce(gf.top_ngram_frac, 0.0) <= {_PIPE_REP_MAX}
        AND sc.doc_id NOT IN (SELECT doc_id FROM contaminated)),
    {_mixture_ctes("kept")}
    SELECT k.doc_id, k.source, k.lang, k.n_words, k.pii_total,
           k.top_ngram_frac, k.text_scrubbed
    FROM kept k JOIN cut ON k.source = cut.source
    WHERE {_mix_admit_sql("k.doc_id")}
    """


@register("x14_pretraining_pipeline", _pipeline_oracle())
def q_x14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE pre-training curation pipeline, composed entirely
    from registered config op types through the declarative Engine: PII
    scrub -> quality gate (on the scrubbed text) -> repetition gate ->
    13-gram eval-set decontamination (drop) -> exact-ratio domain
    mixture. What a real 100 TB curation run looks like in this engine:
    every stage an oracle-checked operator.

    The scrub output feeds FOUR branches (quality, repetition, eval set,
    decontamination corpus) and the decontaminated corpus feeds the
    mixture's counting pass plus the output — naive composition embeds
    each upstream subtree once per consumer (measured 28 corpus FileScans
    in the fully-lazy plan). Scoped caches (_stage_cache) at those two
    stage boundaries keep each stage materializing once — the
    multi-branch analogue of d2/d3's scoped shingle cache, and exactly
    the stage-materialization a 100 TB curation run would do by writing
    intermediate tables. (Lazy localCheckpoints held these boundaries
    before; their eager toRdd cost 0.8-1.0 s of driver-side planning per
    boundary per invocation at sf0.1, see _stage_cache.)"""
    from .plans import Engine, OpSpec, ScanSpec

    eng = Engine(spark)
    eng.run_scan(ScanSpec("docs_raw", "parquet", _pq(sf_dir, "documents")))
    eng.bind("docs", eng.peek("docs_raw")[0].select(
        "doc_id", "source", "lang", F.expr(_PII_INJ).alias("text")
    ))
    run = eng.run_op
    eng.bind("scrub", _stage_cache(
        run(OpSpec("PII SCRUB", "scrub", ["docs"], {}))))
    eng.bind("qual", run(OpSpec(
        "QUALITY FILTER", "qual", ["scrub"],
        {"text_column": "text_scrubbed"},
    )))
    eng.bind("rep", run(OpSpec(
        "REPETITION STATS", "rep", ["scrub"],
        {"id_column": "doc_id", "text_column": "text_scrubbed"},
    )))
    eng.bind("rep2", run(OpSpec(
        "REMOVE COLUMN", "rep2", ["rep"],
        {"columns": ["n_words", "dup_word_frac", "dup_ngram_frac"]},
    )))
    eng.bind("joined", run(OpSpec(
        "LEFT JOIN", "joined", ["qual", "rep2"], {"on": ["doc_id"]},
    )))
    eng.bind("gated", run(OpSpec(
        "FILTER", "gated", ["joined"],
        {"condition": "keep = BOOLEAN(TRUE)"
                      f" & top_ngram_frac <= NUMBER({_PIPE_REP_MAX})"},
    )))
    eng.bind("evalset", eng.peek("scrub")[0]
             .where(F.expr(_DECONTAM_PRED)).select("doc_id", "text_scrubbed"))
    eng.bind("clean", _stage_cache(run(OpSpec(
        "DECONTAMINATE", "clean", ["gated", "evalset"],
        {"id_column": "doc_id", "text_column": "text_scrubbed",
         "eval_text_col": "text_scrubbed", "n": _DECONTAM_N, "mode": "drop"},
    ))))
    eng.bind("mixed", run(OpSpec(
        "SAMPLE MIXTURE", "mixed", ["clean"],
        {"strata_column": "source", "key_column": "doc_id",
         "weights": _MIX_WEIGHTS, "seed": _MIX_SEED},
    )))
    return run(OpSpec(
        "SELECT COLUMNS", "out", ["mixed"],
        {"columns": ["doc_id", "source", "lang", "n_words", "pii_total",
                     "top_ngram_frac", "text_scrubbed"]},
    ))


_PACK_SEQ_LEN = 512


@register(
    "t8_pack_sequences",
    rf"""
    WITH counted AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '{T.BPE_ISH_PATTERN}', 0))
                  AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT doc_id, source, n_tokens,
             coalesce(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS bef
      FROM counted)
    SELECT doc_id, source, n_tokens,
           CAST(bef // {_PACK_SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(bef % {_PACK_SEQ_LEN} AS BIGINT) AS seq_offset
    FROM packed
    """,
)
def q_t8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: where every doc's tokens land in the
    fixed-length (512) training sequences, packed per source shard —
    pure window math, one shuffle on the shard key."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return T.pack_sequences(docs, seq_len=_PACK_SEQ_LEN)


def _bpe_pack_oracle() -> str:
    from .llm.bpe import bpe_count_sql

    return rf"""
    WITH counted AS (
      SELECT doc_id, source, {bpe_count_sql("text")} AS n_tokens
      FROM documents),
    packed AS (
      SELECT doc_id, source, n_tokens,
             coalesce(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS bef
      FROM counted)
    SELECT doc_id, source, n_tokens,
           CAST(bef // {_PACK_SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(bef % {_PACK_SEQ_LEN} AS BIGINT) AS seq_offset
    FROM packed
    """


#: deterministic URL injection shared VERBATIM by query and oracle (the
#: sf documents contain no URLs): every 3rd doc gets a blocked domain
#: (one behind www., exercising the regex-side normalization), every
#: 4th a clean one
_URL_INJ = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' see https://spam.example/page'"
    " || CAST(doc_id AS STRING)"
    " || ' and http://www.Bad-Ads.net/x' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN"
    " ' ref https://docs.example.org/intro' ELSE '' END"
)

_BLOCKED_DOMAINS = ("spam.example", "www.bad-ads.net", "tracker.test")


def _blocked_sql() -> str:
    """The normalized blocklist as ONE SQL list literal — shared by the
    standalone t11 oracle and the composed x15 oracle so the
    normalization can never drift between them."""
    return ", ".join(
        f"'{d}'" for d in sorted(
            {d.lower().removeprefix("www.") for d in _BLOCKED_DOMAINS}
        )
    )


def _url_blocklist_oracle() -> str:
    from .llm.scrub import URL_HOST_PATTERN

    blocked = _blocked_sql()
    return rf"""
    WITH inj AS (SELECT doc_id, {_URL_INJ} AS text FROM documents),
    ex AS (SELECT doc_id, text,
                  regexp_extract_all(coalesce(lower(text), ''),
                                     '{URL_HOST_PATTERN}', 1)
                    AS hosts
           FROM inj),
    hits AS (SELECT doc_id, text, hosts,
                    list_intersect(list_distinct(hosts), [{blocked}]) AS hit
             FROM ex)
    SELECT doc_id, text,
           CAST(len(hosts) AS BIGINT) AS n_urls,
           CAST(len(hit) AS BIGINT) AS n_blocked_domains,
           len(hit) > 0 AS blocked
    FROM hits
    """


@register("t11_url_blocklist", _url_blocklist_oracle())
def q_t11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist curation (the UT1/URL-filter stage): extract URL
    hosts (www.-stripped inside the one codegen regexp), intersect with
    the blocklist literal, flag — zero shuffles, scan-stage."""
    from .llm.scrub import url_blocklist_filter

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    inj = docs.select("doc_id", F.expr(_URL_INJ).alias("text"))
    return url_blocklist_filter(inj, list(_BLOCKED_DOMAINS))


def _surprisal_ctes(src: str) -> str:
    """CTE chain computing self-corpus unigram surprisal over relation
    `src`(doc_id, text); final CTE `sscore`(doc_id, n_words,
    avg_surprisal). Shared by t10 and the composed x15 so the pipeline
    oracle can never drift from the standalone one."""
    return rf"""
    swords AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x != '') AS w
      FROM {src}),
    swd AS (SELECT doc_id, unnest(w) AS wrd FROM swords),
    scnt AS (SELECT wrd, count(*) AS c FROM swd GROUP BY wrd),
    stot AS (SELECT sum(c) AS n FROM scnt),
    ssup AS (SELECT doc_id,
                    CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 6)
                         AS DECIMAL(18,6)) AS s
             FROM swd JOIN scnt USING (wrd) CROSS JOIN stot),
    sscore AS (
      SELECT doc_id,
             count(*) AS n_words,
             round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS avg_surprisal
      FROM ssup GROUP BY doc_id)
    """


_SURPRISAL_ORACLE = (
    "WITH " + _surprisal_ctes("documents").strip()
    + "\n    SELECT doc_id, n_words, avg_surprisal FROM sscore"
)


@register("t10_unigram_surprisal", _SURPRISAL_ORACLE)
def q_t10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal per document (the CCNet fluency/quality
    signal, in-engine): avg -ln p(word) under the corpus's own unigram
    distribution — per-word surprisal rounded BEFORE an exact decimal
    sum, so accumulation order can't flip bits vs the oracle."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return T.surprisal_score(docs.select("doc_id", "text"))


def _gopher_lines_oracle() -> str:
    """t19 = the Gopher line/symbol rules in SQL: words as the list CTE
    (no lookarounds — RE2), lines via string_split on newline, exact
    small-integer divisions so both engines agree bit-for-bit."""
    from .llm.text import GOPHER_LINE_RULES as R
    from .llm.text import GOPHER_STOPWORDS

    stop_hits = " + ".join(
        f"CASE WHEN list_contains(w, '{wd}') THEN 1 ELSE 0 END"
        for wd in GOPHER_STOPWORDS
    )
    return rf"""
    WITH {_words_sql().strip()},
    feats AS (
      SELECT d.doc_id,
             len(ww.w) AS n_words,
             greatest(len(ww.w), 1) AS nw1,
             len(regexp_extract_all(d.text, '#|\.\.\.|…')) AS n_symbols,
             greatest(len(string_split(d.text, chr(10))), 1) AS n_lines,
             len(list_filter(string_split(d.text, chr(10)),
                             x -> regexp_matches(x, '^\s*[-*•‣◦]')))
               AS n_bullet,
             len(list_filter(string_split(d.text, chr(10)),
                             x -> regexp_matches(x, '(\.\.\.|…)\s*$')))
               AS n_ellipsis,
             len(list_filter(ww.w, x -> regexp_matches(x, '[a-z]')))
               AS n_alpha,
             {stop_hits} AS n_req_stop
      FROM documents d JOIN words ww ON ww.doc_id = d.doc_id),
    ratios AS (
      SELECT doc_id,
             CAST(n_symbols AS DOUBLE) / nw1 AS symbol_word_ratio,
             CAST(n_bullet AS DOUBLE) / n_lines AS bullet_line_frac,
             CAST(n_ellipsis AS DOUBLE) / n_lines AS ellipsis_line_frac,
             CAST(n_alpha AS DOUBLE) / nw1 AS alpha_word_frac,
             CAST(n_req_stop AS BIGINT) AS n_required_stopwords
      FROM feats)
    SELECT doc_id, symbol_word_ratio, bullet_line_frac,
           ellipsis_line_frac, alpha_word_frac, n_required_stopwords,
           symbol_word_ratio <= {R["max_symbol_word_ratio"]} AS ok_symbols,
           bullet_line_frac <= {R["max_bullet_line_frac"]} AS ok_bullets,
           ellipsis_line_frac <= {R["max_ellipsis_line_frac"]}
             AS ok_ellipsis,
           alpha_word_frac >= {R["min_alpha_word_frac"]} AS ok_alpha,
           n_required_stopwords >= {R["min_required_stopwords"]}
             AS ok_req_stopwords,
           (symbol_word_ratio <= {R["max_symbol_word_ratio"]})
             AND (bullet_line_frac <= {R["max_bullet_line_frac"]})
             AND (ellipsis_line_frac <= {R["max_ellipsis_line_frac"]})
             AND (alpha_word_frac >= {R["min_alpha_word_frac"]})
             AND (n_required_stopwords >= {R["min_required_stopwords"]})
             AS keep_lines
    FROM ratios
    """


@register("t19_gopher_line_rules", _gopher_lines_oracle())
def q_t19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher line/symbol quality rules (Rae et al. 2021 §A1.1)
    completing the published rule family next to quality_filter (word
    counts/ratios) and repetition_stats (dup fractions): symbol-to-word
    ratio, bullet-started / ellipsis-ended line fractions, alpha-word
    fraction, required-stopword count. Pure codegen regexp math, zero
    exchanges."""
    from .llm.text import gopher_line_rules

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return gopher_line_rules(docs.select("doc_id", "text")).drop("text")


_CHUNK_MAX_WORDS = 64


_CHUNK_ORACLE = rf"""
    WITH cased AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x != '') AS w
      FROM documents),
    nz AS (SELECT doc_id, w FROM cased WHERE len(w) > 0),
    ch AS (
      SELECT doc_id,
             unnest(generate_series(0,
               CAST(ceil(len(w) / {_CHUNK_MAX_WORDS}.0) AS INT) - 1))
               AS chunk_idx,
             w
      FROM nz)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(w,
             chunk_idx * {_CHUNK_MAX_WORDS} + 1,
             (chunk_idx + 1) * {_CHUNK_MAX_WORDS}), ' ') AS chunk_text,
           CAST(len(list_slice(w,
             chunk_idx * {_CHUNK_MAX_WORDS} + 1,
             (chunk_idx + 1) * {_CHUNK_MAX_WORDS})) AS BIGINT)
             AS n_chunk_words
    FROM ch
    """


@register("t20_chunk_documents", _CHUNK_ORACLE)
def q_t20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — the dual of pack_sequences: long docs
    split into consecutive <= max_words chunks, one projection + one
    generator, zero shuffles (the word array binds to a column before
    the explode, per the bind-before-explode rule)."""
    from .llm.text import chunk_documents

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return chunk_documents(docs.select("doc_id", "text"),
                           max_words=_CHUNK_MAX_WORDS)


_PPL_ORACLE = (
    "WITH " + _surprisal_ctes("documents").strip()
    + """
    SELECT s.doc_id, d.lang, s.n_words, s.avg_surprisal,
           CASE ntile(3) OVER (PARTITION BY d.lang
                               ORDER BY s.avg_surprisal ASC, s.doc_id ASC)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM sscore s JOIN documents d USING (doc_id)
    """
)


@register("t18_perplexity_partition", _PPL_ORACLE)
def q_t18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partition (Wenzek et al. 2020): unigram
    surprisal per doc, then rank-based ntile terciles WITHIN each
    language — exact equal-count buckets, deterministic under ties (id
    tiebreak), bit-identical in SQL. Downstream keeps head+middle or
    down-samples tail."""
    from .llm.text import perplexity_partition, surprisal_score

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    scored = surprisal_score(docs.select("doc_id", "text")).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return perplexity_partition(scored, strata_col="lang").select(
        "doc_id", "lang", "n_words", "avg_surprisal", "ppl_bucket"
    )


@register("t9_bpe_pack_sequences", _bpe_pack_oracle())
def q_t9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL merges-table BPE token counts feeding pack_sequences
    through its tokens_col seam: the packing math runs on actual
    tokenizer lengths, proxy skipped. Counting runs the Arrow engine
    (token_count_bpe_arrow: broadcast ranks + per-task piece memo) —
    measured 6x faster than the pure-Column nested-replace engine at
    sf0.1 (0.4s vs 2.6s isolated; the Zipfian piece memo beats 32
    sequential whole-stream JVM replaces, guide §4.2), and it is the
    path production-size vocabularies must use anyway
    (MAX_COLUMN_MERGES). Counts are bit-identical — Column == Arrow ==
    DuckDB parity is pytest-pinned at every level — and the Column
    engine remains the SQL-mirrorable spec the oracle embeds."""
    from .llm.bpe import token_count_bpe_arrow

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    counted = token_count_bpe_arrow(docs.select("doc_id", "source", "text"))
    return T.pack_sequences(
        counted.drop("text"), seq_len=_PACK_SEQ_LEN, tokens_col="n_tokens"
    )


#: surprisal gate for x15 — ~p50 of the fixture distribution (3.38-3.70),
#: so the gate does real work without emptying the corpus
_X15_SUP_MAX = 3.41
_X15_SEQ_LEN = 512


def _web_pipeline_oracle() -> str:
    """x15 = the web-corpus curation chain as one SQL pipeline: URL
    inject -> domain-blocklist drop -> unigram-surprisal gate (LM fit on
    the blocklist survivors) -> every-position substring dedup -> real
    BPE token counts -> greedy sequence packing per source shard. Every
    stage's CTEs are the SAME generators the standalone t11/t10/d10/t9
    oracles use, so this composition can never drift from them."""
    from .llm.bpe import bpe_count_sql
    from .llm.scrub import URL_HOST_PATTERN

    blocked = _blocked_sql()
    return rf"""
    WITH inj AS (SELECT doc_id, source, {_URL_INJ} AS text FROM documents),
    urlkept AS (
      SELECT doc_id, source, text FROM inj
      WHERE len(list_intersect(
              list_distinct(regexp_extract_all(coalesce(lower(text), ''),
                                               '{URL_HOST_PATTERN}', 1)),
              [{blocked}])) = 0),
    {_surprisal_ctes("urlkept").strip()},
    gated AS (
      SELECT u.doc_id, u.source, u.text
      FROM urlkept u JOIN sscore s USING (doc_id)
      WHERE s.avg_surprisal <= {_X15_SUP_MAX}),
    {_substr_dedup_ctes("gated").strip()},
    tok AS (
      SELECT d.doc_id, g.source,
             {bpe_count_sql("d.text_deduped")} AS n_tokens
      FROM ddout d JOIN gated g USING (doc_id)),
    packed AS (
      SELECT doc_id, source, n_tokens,
             coalesce(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS bef
      FROM tok)
    SELECT doc_id, source, n_tokens,
           CAST(bef // {_X15_SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(bef % {_X15_SEQ_LEN} AS BIGINT) AS seq_offset
    FROM packed
    """


@register("x15_web_curation_pipeline", _web_pipeline_oracle())
def q_x15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The web-corpus curation chain composed entirely from registered
    config op types: URL blocklist (drop) -> unigram-surprisal fluency
    gate -> shift-robust substring dedup -> real merges-table BPE token
    counts -> greedy packing per source shard. The round-5 counterpart
    of x14 (which covers scrub/quality/decontaminate/mixture): together
    they span the full operator surface a 100 TB pre-training data run
    chains. The blocklist survivors feed the surprisal LM twice (words +
    counts) plus the gate join, and the gate output feeds dedup + the
    source re-join — scoped caches at both boundaries keep each stage
    materializing once (the x14 lesson; _stage_cache on why not
    localCheckpoint)."""
    from .plans import Engine, OpSpec, ScanSpec

    eng = Engine(spark)
    eng.run_scan(ScanSpec("docs_raw", "parquet", _pq(sf_dir, "documents")))
    eng.bind("docs", eng.peek("docs_raw")[0].select(
        "doc_id", "source", F.expr(_URL_INJ).alias("text")
    ))
    run = eng.run_op
    eng.bind("urlkept", _stage_cache(run(OpSpec(
        "URL BLOCKLIST", "urlkept", ["docs"],
        {"blocked_domains": list(_BLOCKED_DOMAINS), "mode": "drop"},
    ))))
    eng.bind("sup", run(OpSpec(
        "SURPRISAL SCORE", "sup", ["urlkept"], {"id_column": "doc_id"},
    )))
    eng.bind("sup2", run(OpSpec(
        "REMOVE COLUMN", "sup2", ["sup"], {"columns": ["n_words"]},
    )))
    eng.bind("joined", run(OpSpec(
        "INNER JOIN", "joined", ["urlkept", "sup2"], {"on": ["doc_id"]},
    )))
    eng.bind("gated", _stage_cache(run(OpSpec(
        "FILTER", "gated", ["joined"],
        {"condition": f"avg_surprisal <= NUMBER({_X15_SUP_MAX})"},
    ))))
    eng.bind("dd", run(OpSpec(
        "DEDUP SUBSTRINGS", "dd", ["gated"],
        {"id_column": "doc_id", "k": _SPAN_K},
    )))
    eng.bind("dd2", run(OpSpec(
        "REMOVE COLUMN", "dd2", ["dd"], {"columns": ["n_words"]},
    )))
    eng.bind("src_map", eng.peek("gated")[0].select("doc_id", "source"))
    eng.bind("withsrc", run(OpSpec(
        "INNER JOIN", "withsrc", ["dd2", "src_map"], {"on": ["doc_id"]},
    )))
    eng.bind("tok", run(OpSpec(
        # the ARROW engine: bit-identical counts (parity pytest-pinned),
        # measured 6x faster than the nested-replace Column engine at
        # sf0.1 (the t9 measurement; guide §4.2 piece-memo batching)
        "TOKEN COUNT BPE ARROW", "tok", ["withsrc"],
        {"text_column": "text_deduped"},
    )))
    eng.bind("packed", run(OpSpec(
        "PACK SEQUENCES", "packed", ["tok"],
        {"seq_len": _X15_SEQ_LEN, "shard_column": "source",
         "tokens_col": "n_tokens"},
    )))
    return run(OpSpec(
        "SELECT COLUMNS", "out", ["packed"],
        {"columns": ["doc_id", "source", "n_tokens", "seq_id",
                     "seq_offset"]},
    ))


def _classifier_oracle() -> str:
    """t12 reuses t1's feature CTE verbatim, then the logistic layer in
    the same sorted-feature-name accumulation order as the Spark side —
    identical float expression trees, score rounded to 6 decimals."""
    w = T.DEFAULT_CLASSIFIER_WEIGHTS
    feat_sql = {
        "log_n_words": "ln(1.0 + CAST(n_words AS DOUBLE))",
        "mean_word_len": "mean_word_len",
        "punct_ratio": "punct_ratio",
        "stopword_ratio": "stopword_ratio",
    }
    z = str(float(T.DEFAULT_CLASSIFIER_BIAS))
    for name in sorted(w):
        z += f" + {float(w[name])} * {feat_sql[name]}"
    return rf"""
    WITH {_WORDS_SQL.strip()},
    s AS (
      SELECT d.doc_id,
             CAST(len(w.w) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(d.text, '[^\w\s]', 0)) AS DOUBLE)
               / greatest(length(d.text), 1) AS punct_ratio,
             CAST(len(list_filter(w.w, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
               / greatest(len(w.w), 1) AS stopword_ratio,
             CAST(list_sum(list_transform(w.w, x -> length(x))) AS DOUBLE)
               / greatest(len(w.w), 1) AS mean_word_len
      FROM documents d JOIN words w ON d.doc_id = w.doc_id),
    scored AS (
      SELECT doc_id, n_words,
             round(1.0 / (1.0 + exp(-({z}))), 6) AS quality_score
      FROM s)
    SELECT doc_id, n_words, quality_score,
           quality_score >= 0.5 AS quality_keep
    FROM scored
    """


@register("t12_quality_classifier", _classifier_oracle())
def q_t12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic quality classifier over the text_stats features (the
    fasttext-classifier shape for pretraining-quality gating): pure
    Column, weights folded into the plan, zero shuffles."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return T.classifier_score(docs.select("doc_id", "text")).select(
        "doc_id", "n_words", "quality_score", "quality_keep"
    )


_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SEED = "split"


def _cluster_split_oracle() -> str:
    """x16 = d7's component labeling (recursive-CTE reachability) + the
    hash-range split CASE over the CLUSTER id — reuses d7's CTE chain so
    the composition cannot drift from the standalone query."""
    scale = 1 << 32
    cum = 0.0
    cases = []
    for name in sorted(_SPLITS):
        cum += _SPLITS[name]
        cases.append(
            f"WHEN CAST(('0x' || substr(md5('{_SPLIT_SEED}' || '|' ||"
            f" CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)"
            f" < {int(round(cum * scale))} THEN '{name}'"
        )
    case = "CASE " + " ".join(cases) + " ELSE NULL END"
    ctes = _lsh_ctes().replace("WITH ", "WITH RECURSIVE ", 1)
    return (
        ctes
        + f""",
    edges AS (SELECT id_a AS u, id_b AS v FROM lsh_pairs
              UNION SELECT id_b, id_a FROM lsh_pairs),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
    comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id, cluster_id, {case} AS split FROM comp
    """
    )


@register("x16_cluster_aware_splits", _cluster_split_oracle())
def q_x16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE train/val/test splits: near-duplicate clusters
    (MinHash-LSH pairs -> connected components) are the split atoms —
    every member of a cluster hashes by the CLUSTER id, so a near-dup
    pair can never straddle train/test and leak eval data into
    training. The split itself is a pure scan-stage hash-range CASE
    (partitioning-invariant, engine-portable)."""
    from .llm.clusters import dedup_clusters
    from .llm.sampling import split_assign

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, n=_JACCARD_N, bands=_LSH_BANDS,
                                rows_per_band=_LSH_ROWS,
                                threshold=_LSH_P / _LSH_Q)
    # degree_cap=8: the star rounds iterate on <= 8*N edges instead of
    # the full LSH pair volume (boilerplate cliques made x16's sf1
    # edge-volume exponent 0.81 uncapped) — EXACT, so the oracle and the
    # uncapped path produce bit-identical splits (pinned in tests)
    comp = dedup_clusters(docs, pairs,
                          degree_cap=8).select("doc_id", "cluster_id")
    return split_assign(comp, _SPLITS, seed=_SPLIT_SEED,
                        group_col="cluster_id")


_TOPK_K = 5


@register(
    "x17_exact_k_sample",
    f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5('sample' || '|' ||
                          CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) ASC,
                        doc_id ASC) AS rn
      FROM documents)
    WHERE rn <= {_TOPK_K}
    """,
)
def q_x17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic sample per source stratum (hash-order
    top-k): exactly min(k, stratum) rows, partitioning-invariant and
    nested across k — compiles to WindowGroupLimit so map partitions
    pre-prune to their local top-k before the shuffle."""
    from .llm.sampling import top_k_sample

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return top_k_sample(
        docs.select("doc_id", "source"), _TOPK_K, strata_col="source"
    )


def _backoff_ctes(scored_src: str, lm_src: str) -> str:
    """Bigram Stupid-Backoff surprisal CTE chain: LM counts from
    `lm_src`, lag-window bigrams, backoff CASE, -ln rounded 6dp before
    the exact DECIMAL per-doc sum (the t10 convention). Final CTE:
    `bscore`(doc_id, n_words, avg_surprisal). Shared by t17 and the
    composed x19."""
    return rf"""
    dw AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'),
             x -> x != '') AS w FROM {scored_src}),
    lw AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'),
             x -> x != '') AS w FROM {lm_src}),
    dwd AS (SELECT doc_id, unnest(w) AS wrd,
                   generate_subscripts(w, 1) AS pos FROM dw),
    lwd AS (SELECT doc_id, unnest(w) AS wrd,
                   generate_subscripts(w, 1) AS pos FROM lw),
    uni AS (SELECT wrd, count(*) AS cu FROM lwd GROUP BY wrd),
    voc AS (SELECT coalesce(sum(cu), 0) AS n, count(*) AS v FROM uni),
    lbi AS (SELECT doc_id, wrd, pos,
                   lag(wrd) OVER (PARTITION BY doc_id ORDER BY pos) AS pw
            FROM lwd),
    bi AS (SELECT pw, wrd, count(*) AS cb FROM lbi
           WHERE pw IS NOT NULL GROUP BY pw, wrd),
    pos2 AS (SELECT doc_id, wrd, pos,
                    lag(wrd) OVER (PARTITION BY doc_id ORDER BY pos) AS pw
             FROM dwd),
    sc AS (
      SELECT p.doc_id,
             CAST(round(-ln(CASE
               WHEN p.pw IS NOT NULL AND b.cb IS NOT NULL
                 THEN CAST(b.cb AS DOUBLE) / CAST(upw.cu AS DOUBLE)
               WHEN p.pw IS NOT NULL
                 THEN 0.4 * ((coalesce(u.cu, 0) + 1.0)
                             / (voc.n + 1.0 * (voc.v + 1.0)))
               ELSE ((coalesce(u.cu, 0) + 1.0)
                     / (voc.n + 1.0 * (voc.v + 1.0)))
             END), 6) AS DECIMAL(18,6)) AS s
      FROM pos2 p
      LEFT JOIN bi b ON b.pw = p.pw AND b.wrd = p.wrd
      LEFT JOIN uni upw ON upw.wrd = p.pw
      LEFT JOIN uni u ON u.wrd = p.wrd
      CROSS JOIN voc),
    bscore AS (
      SELECT doc_id, count(*) AS n_words,
             round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS avg_surprisal
      FROM sc GROUP BY doc_id)
    """


def _backoff_oracle() -> str:
    return (
        "WITH lmdocs AS (SELECT doc_id, text FROM documents"
        " WHERE doc_id % 2 = 0),"
        + _backoff_ctes("documents", "lmdocs").strip()
        + "\n    SELECT doc_id, n_words, avg_surprisal FROM bscore"
    )


@register("t17_backoff_surprisal", _backoff_oracle())
def q_t17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram Stupid-Backoff surprisal (Brants et al. 2007) of every doc
    against an LM fit on the even-doc_id half of the corpus — the
    contextual fluency signal past t10's unigram LM (implausible word
    ORDER now scores high); odd docs genuinely exercise the backoff
    path. Three AQE-skew-splittable hash joins on content keys, no
    collect."""
    from .llm.text import backoff_surprisal

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    lm = docs.where(F.col("doc_id") % 2 == 0)
    return backoff_surprisal(
        docs.select("doc_id", "text"), lm.select("doc_id", "text")
    )


_DSIR_BUCKETS = 512
_DSIR_K = 200
_DSIR_TARGET_SRC = "src0"


def _dsir_ctes(src: str = "documents") -> str:
    """DSIR CTE chain over relation `src`(doc_id, source, text): hashed
    unigram+bigram bucket counts for corpus and target, Laplace-smoothed
    per-bucket log-ratios (each ln rounded to 6dp FIRST — the
    surprisal/t10 determinism convention), exact DECIMAL per-doc sums,
    deterministic md5-Gumbel perturbation, top-k. Final CTE:
    `dsir_sel`(doc_id, source, text, n_grams, logw, sel_key) — the
    selected docs. Shared by x18 and the composed x19 so the pipeline
    oracle can never drift from the standalone one."""
    B, K = _DSIR_BUCKETS, _DSIR_K
    return rf"""
    tgt AS (SELECT doc_id, text FROM {src}
            WHERE source = '{_DSIR_TARGET_SRC}'),
    cw AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'),
             x -> x != '') AS w FROM {src}),
    tw AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'),
             x -> x != '') AS w FROM tgt),
    cwd AS (SELECT doc_id, unnest(w) AS wrd,
                   generate_subscripts(w, 1) AS pos FROM cw),
    twd AS (SELECT doc_id, unnest(w) AS wrd,
                   generate_subscripts(w, 1) AS pos FROM tw),
    cg AS (
      SELECT doc_id, wrd AS g FROM cwd
      UNION ALL
      SELECT doc_id, wrd || ' ' || lead(wrd) OVER
               (PARTITION BY doc_id ORDER BY pos) AS g
      FROM cwd QUALIFY g IS NOT NULL),
    tg AS (
      SELECT doc_id, wrd AS g FROM twd
      UNION ALL
      SELECT doc_id, wrd || ' ' || lead(wrd) OVER
               (PARTITION BY doc_id ORDER BY pos) AS g
      FROM twd QUALIFY g IS NOT NULL),
    cgb AS (SELECT doc_id, CAST(('0x' || substr(md5('dsir' || '|' || g),
                   1, 8)) AS BIGINT) % {B} AS bkt FROM cg),
    tgb AS (SELECT CAST(('0x' || substr(md5('dsir' || '|' || g),
                   1, 8)) AS BIGINT) % {B} AS bkt FROM tg),
    cq AS (SELECT bkt, count(*) AS cq FROM cgb GROUP BY bkt),
    cp AS (SELECT bkt, count(*) AS cp FROM tgb GROUP BY bkt),
    nq AS (SELECT sum(cq) AS nq FROM cq),
    np AS (SELECT sum(cp) AS np FROM cp),
    lam AS (
      SELECT cq.bkt,
             CAST(round(ln((coalesce(cp.cp, 0) + 1.0)
                           / (coalesce(np.np, 0) + 1.0 * {B})), 6)
                  AS DECIMAL(18,6))
             - CAST(round(ln((cq.cq + 1.0) / (nq.nq + 1.0 * {B})), 6)
                    AS DECIMAL(18,6)) AS lam
      FROM cq LEFT JOIN cp USING (bkt) CROSS JOIN nq CROSS JOIN np),
    w AS (
      SELECT cgb.doc_id AS id, count(*) AS n_grams,
             CAST(sum(lam) AS DECIMAL(28,6)) AS logw
      FROM cgb JOIN lam USING (bkt) GROUP BY cgb.doc_id),
    keyed AS (
      SELECT id, n_grams, logw,
             CAST(logw + CAST(round(-ln(-ln(
               (CAST(('0x' || substr(md5('dsir|gumbel' || '|' ||
                  CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
               / 4294967296.0)), 6) AS DECIMAL(18,6)) AS DECIMAL(28,6))
             AS sel_key
      FROM w),
    dsir_sel AS (
      SELECT d.doc_id, d.source, d.text, k.n_grams, k.logw, k.sel_key
      FROM keyed k JOIN {src} d ON d.doc_id = k.id
      ORDER BY k.sel_key DESC, d.doc_id ASC LIMIT {K})
    """


def _dsir_oracle() -> str:
    return (
        "WITH " + _dsir_ctes().strip()
        + """
    SELECT doc_id, source, n_grams,
           CAST(logw AS DOUBLE) AS logw,
           CAST(sel_key AS DOUBLE) AS sel_key
    FROM dsir_sel
    ORDER BY sel_key DESC, doc_id ASC
    """
    )


@register("x18_dsir_selection", _dsir_oracle())
def q_x18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    importance log-weights of every corpus doc against an in-domain
    target sample, then deterministic Gumbel-top-k resampling — the
    data-selection step of a pre-training pipeline, engine-portable and
    bit-exact vs the SQL replay (each ln rounded to 6dp before exact
    DECIMAL sums). Bucket-count aggregates are <= buckets rows (a
    constant), lambda broadcasts onto the gram stream, and the top-k
    compiles to TakeOrderedAndProject — no collect, no full sort."""
    from .llm.sampling import dsir_select

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    target = docs.where(F.col("source") == _DSIR_TARGET_SRC)
    # exact DECIMAL math end-to-end (ordering included); the final cast
    # to DOUBLE only normalizes the wire dtype for the driver's
    # type-sensitive hash — identical nearest-double on both engines
    return dsir_select(
        docs.select("doc_id", "source", "text"),
        target.select("doc_id", "text"),
        k=_DSIR_K, buckets=_DSIR_BUCKETS,
    ).select(
        "doc_id", "source", "n_grams",
        F.col("logw").cast("double").alias("logw"),
        F.col("sel_key").cast("double").alias("sel_key"),
    )


#: backoff-surprisal gate for x19 — ~p50 of the DSIR-selected docs'
#: score distribution (3.38-3.56), so the gate does real work without
#: emptying the selection
_X19_SUP_MAX = 3.48
_X19_SEQ_LEN = 512


def _targeted_pipeline_oracle() -> str:
    """x19 = the TARGETED pre-training data chain as one SQL pipeline:
    DSIR importance selection against the src0 in-domain target ->
    bigram-backoff fluency gate (LM = the same target) -> 13-gram
    eval-set decontamination (drop) -> BPE-ish token counts -> greedy
    packing per source shard. Every stage's CTEs are the SAME
    generators the standalone x18/t17/d9 oracles use, so this
    composition can never drift from them."""
    from .llm import text as T

    return rf"""
    WITH {_dsir_ctes("documents").strip()},
    sel AS (SELECT doc_id, source, text FROM dsir_sel),
    {_backoff_ctes("sel", "tgt").strip()},
    gated AS (
      SELECT s.doc_id, s.source, s.text
      FROM sel s JOIN bscore b USING (doc_id)
      WHERE b.avg_surprisal <= {_X19_SUP_MAX}),
    {_shingles_sql(_DECONTAM_N).strip()},
    ev AS (SELECT DISTINCT sh FROM sh WHERE {_DECONTAM_PRED}),
    hits AS (SELECT DISTINCT s.doc_id
             FROM sh s JOIN gated g USING (doc_id)
             JOIN ev e USING (sh)),
    clean AS (
      SELECT g.doc_id, g.source, g.text
      FROM gated g LEFT JOIN hits h USING (doc_id)
      WHERE h.doc_id IS NULL),
    tok AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '{T.BPE_ISH_PATTERN}', 0))
                  AS BIGINT) AS n_tokens
      FROM clean),
    packed AS (
      SELECT doc_id, source, n_tokens,
             coalesce(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS bef
      FROM tok)
    SELECT doc_id, source, n_tokens,
           CAST(bef // {_X19_SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(bef % {_X19_SEQ_LEN} AS BIGINT) AS seq_offset
    FROM packed
    """


@register("x19_targeted_pipeline", _targeted_pipeline_oracle())
def q_x19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TARGETED pre-training data chain composed entirely from
    registered config op types — the round-7 counterpart of x14/x15,
    spanning the new selection surface: DSIR importance selection
    against an in-domain target -> bigram Stupid-Backoff fluency gate
    (LM = the same target, so 'reads like the target' is enforced
    contextually, not just lexically) -> GPT-3-rule 13-gram eval-set
    decontamination (drop) -> token counts -> greedy packing per source
    shard. The DSIR selection feeds the gate's scorer and the gate
    output feeds decontamination + packing — scoped caches at both
    multi-consumer boundaries (the x14 lesson; _stage_cache on why not
    localCheckpoint)."""
    from .plans import Engine, OpSpec, ScanSpec

    eng = Engine(spark)
    eng.run_scan(ScanSpec("docs_raw", "parquet", _pq(sf_dir, "documents")))
    docs = eng.peek("docs_raw")[0].select("doc_id", "source", "text")
    eng.bind("docs", docs)
    eng.bind("tgt", docs.where(
        F.col("source") == _DSIR_TARGET_SRC
    ).select("doc_id", "text"))
    run = eng.run_op
    eng.bind("sel", _stage_cache(run(OpSpec(
        "DSIR SELECT", "sel", ["docs", "tgt"],
        {"k": _DSIR_K, "buckets": _DSIR_BUCKETS},
    )).select("doc_id", "source", "text")))
    eng.bind("bs", run(OpSpec(
        "SURPRISAL BACKOFF", "bs", ["sel", "tgt"], {},
    )))
    eng.bind("bs2", run(OpSpec(
        "REMOVE COLUMN", "bs2", ["bs"], {"columns": ["n_words"]},
    )))
    eng.bind("joined", run(OpSpec(
        "INNER JOIN", "joined", ["sel", "bs2"], {"on": ["doc_id"]},
    )))
    eng.bind("gated", _stage_cache(run(OpSpec(
        "FILTER", "gated", ["joined"],
        {"condition": f"avg_surprisal <= NUMBER({_X19_SUP_MAX})"},
    ))))
    eng.bind("evalset", docs.where(F.expr(_DECONTAM_PRED)).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    ))
    eng.bind("clean", run(OpSpec(
        "DECONTAMINATE", "clean", ["gated", "evalset"],
        {"n": _DECONTAM_N, "mode": "drop"},
    )))
    eng.bind("tok", run(OpSpec(
        "TOKEN COUNT", "tok", ["clean"], {},
    )))
    eng.bind("packed", run(OpSpec(
        "PACK SEQUENCES", "packed", ["tok"],
        {"seq_len": _X19_SEQ_LEN, "shard_column": "source",
         "tokens_col": "n_tokens"},
    )))
    return eng.peek("packed")[0].select(
        "doc_id", "source", "n_tokens", "seq_id", "seq_offset"
    )


_SEMDEDUP_T = 0.40


def _semdedup_oracle() -> str:
    """d11 = the shared Lloyd/assignment CTEs + within-cluster pairwise
    cosine + keep-first witnesses — SemDeDup replayed in SQL."""
    return f"""
    WITH {_kmeans_assign_ctes()},
    mem AS (
      SELECT a.id, a.cid, e.embedding
      FROM assignF a JOIN embeddings e ON e.vec_id = a.id),
    p AS (
      SELECT x.id AS id_a, y.id AS id_b,
             {_cos_sql('x.embedding', 'y.embedding')} AS sim
      FROM mem x JOIN mem y ON x.cid = y.cid AND x.id < y.id),
    wit AS (
      SELECT id_b, MIN(id_a) AS dup_of
      FROM p WHERE sim >= {_SEMDEDUP_T} GROUP BY id_b)
    SELECT a.id AS vec_id, a.cid, w.dup_of, w.dup_of IS NULL AS kept
    FROM assignF a LEFT JOIN wit w ON w.id_b = a.id
    """


@register("d11_semantic_dedup", _semdedup_oracle())
def q_d11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: embedding-space dedup with k-means clusters bounding
    the pairwise cosine work (all-pairs is the documented d5 opt-in;
    clusters make it sum-of-cluster-sizes-squared). Deterministic
    end-to-end — Lloyd clustering included — so the whole pipeline
    hash-matches its SQL replay."""
    from .llm.similarity import semantic_dedup

    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    return semantic_dedup(emb, threshold=_SEMDEDUP_T,
                          n_centroids=_IVF_N_CENTROIDS, n_iter=_KM_ITER)


_SHARD_TARGET = 2000


@register(
    "t13_sized_shards",
    rf"""
    WITH counted AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '{T.BPE_ISH_PATTERN}', 0))
                  AS BIGINT) AS n_tokens
      FROM documents),
    tot AS (
      SELECT source,
             greatest(1, (sum(n_tokens) + {_SHARD_TARGET} - 1)
                         // {_SHARD_TARGET}) AS n_sub
      FROM counted GROUP BY source),
    keyed AS (
      SELECT c.doc_id, c.source, c.n_tokens,
             c.source || '#' || CAST(
               CAST(('0x' || substr(md5('shard' || '|' ||
                       CAST(c.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % t.n_sub AS VARCHAR) AS shard
      FROM counted c JOIN tot t USING (source)),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             coalesce(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS bef
      FROM keyed)
    SELECT doc_id, shard, n_tokens,
           CAST(bef // {_PACK_SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(bef % {_PACK_SEQ_LEN} AS BIGINT) AS seq_offset
    FROM packed
    """,
)
def q_t13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-targeted shards: every base source splits into
    ceil(total/target) hash-buckets before packing, so a hot domain
    cannot produce one monster shard file/window — the counting pass
    folds to a literal CASE, the bucket is the md5 content hash."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    keyed = T.derive_shard_key(
        docs.select("doc_id", "source", "text"),
        target_tokens=_SHARD_TARGET,
    )
    return T.pack_sequences(
        keyed.select("doc_id", "shard", "n_tokens"),
        seq_len=_PACK_SEQ_LEN, shard_col="shard", tokens_col="n_tokens",
    )


def _bpe_bytes_oracle() -> str:
    from .llm.bpe import bpe_count_sql

    return rf"""
    SELECT doc_id, {bpe_count_sql("text", level="bytes")} AS n_tokens
    FROM documents
    """


@register("t14_bpe_bytes", _bpe_bytes_oracle())
def q_t14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-level BPE token counts (the GPT-2-family regime: one symbol
    per UTF-8 byte, surfaced as hex pairs so the same wrapped-symbol
    replace machinery and its SQL mirror apply unchanged; merges =
    the fixture's hex-pair image). Counting runs the Arrow engine —
    the t9 measurement (6x at sf0.1, piece memo vs nested replaces);
    bytes-level Column == Arrow == DuckDB parity is pytest-pinned."""
    from .llm.bpe import token_count_bpe_arrow

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return token_count_bpe_arrow(
        docs.select("doc_id", "text"), level="bytes"
    ).select("doc_id", "n_tokens")


#: contraction / multi-space / trailing-run suffix appended to every doc
#: so the corpus exercises exactly the GPT-2 branches bpe_ish lacks
#: (apostrophe contractions, leading-space pieces, whitespace-run splits)
_GPT2_SUFFIX = "  we'll isn't  don't 42abc  tail run   "


def _bpe_gpt2_oracle() -> str:
    from .llm.bpe import GPT2_FIXTURE_MERGES, bpe_count_sql

    text = f"text || '{_GPT2_SUFFIX.replace(chr(39), chr(39) * 2)}'"
    return rf"""
    SELECT doc_id,
           {bpe_count_sql(text, merges=GPT2_FIXTURE_MERGES,
                          pretokenizer="gpt2")} AS n_tokens
    FROM documents
    """


@register("t15_bpe_gpt2", _bpe_gpt2_oracle())
def q_t15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE token counts under the EXACT GPT-2 pre-tokenizer
    (contractions, leading-space pieces, whitespace runs yielding their
    final char to the next piece) — learned/counted vocabs become
    drop-in comparable to released-tokenizer conventions. The engines
    run the lookahead-free marked equivalent (RE2 has no lookarounds);
    equality with the released regex is pytest-pinned. Merges include
    leading-space rules (' the') that only this pre-tokenizer can feed.
    Counting runs the Arrow engine — the t9 measurement (6x at sf0.1);
    gpt2-level Column == Arrow == DuckDB parity is pytest-pinned."""
    from .llm.bpe import GPT2_FIXTURE_MERGES, token_count_bpe_arrow

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    docs = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(_GPT2_SUFFIX)).alias("text")
    )
    return token_count_bpe_arrow(
        docs, merges=GPT2_FIXTURE_MERGES, pretokenizer="gpt2"
    ).select("doc_id", "n_tokens")


_SHARD_TARGET_BYTES = 12_000


@register(
    "t16_sized_shards_bytes",
    rf"""
    WITH counted AS (
      SELECT doc_id, source, CAST(strlen(text) AS BIGINT) AS n_bytes
      FROM documents),
    tot AS (
      SELECT source,
             greatest(1, (sum(n_bytes) + {_SHARD_TARGET_BYTES} - 1)
                         // {_SHARD_TARGET_BYTES}) AS n_sub
      FROM counted GROUP BY source)
    SELECT c.doc_id, c.source, c.n_bytes,
           c.source || '#' || CAST(
             CAST(('0x' || substr(md5('shard' || '|' ||
                     CAST(c.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % t.n_sub AS VARCHAR) AS shard
    FROM counted c JOIN tot t USING (source)
    """,
)
def q_t16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-targeted shard keys: t13's hash-split sizing with
    octet_length(text) as the weight, so OUTPUT FILES (not just packing
    windows) hit a serialized-size target — DuckDB strlen is the same
    UTF-8 byte count as Spark octet_length. Same shape: one bounded
    counting pass folds to a literal CASE, md5 bucket, zero corpus
    shuffles."""
    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return T.derive_shard_key(
        docs.select("doc_id", "source", "text"),
        target_bytes=_SHARD_TARGET_BYTES,
    ).select("doc_id", "source", "n_bytes", "shard")


_HLL_B = 12


def _hll_oracle(
    b: int = _HLL_B,
    seed: str = "hll",
    src: str = "lineitem",
    key_sql: str = "CAST(l_partkey AS VARCHAR)",
    exact_sql: str = "l_partkey",
    group: "str | None" = None,
) -> str:
    """SQL replay of the full HLL pipeline (llm/sketch.py): md5-derived
    register/rho bits, exact integer harmonic sum (2^(33-rho) terms),
    the alpha_m*m^2 numerator folded to ONE repr()'d double literal,
    6dp-rounded ln()s, single final round — bit-identical to Spark.
    The oracle sketches the corpus in ONE pass; the Spark queries merge
    half-corpus sketches, so the hash match also pins the
    sketch(A)⊔sketch(B) == sketch(A∪B) merge identity in the gate.
    ONE generator for the global (x20) and grouped (x23) rows — the
    `group` key threads through every stage (the exact join is
    null-safe: a NULL group is a real group), so the intricate
    correction CASE can never drift between the two."""
    from .llm.sketch import _alpha_m

    m = 1 << b
    num = _alpha_m(m) * m * m * float(1 << 33)
    e_raw = f"({num!r} / CAST(s_scaled AS DOUBLE))"
    g = f"{group}, " if group else ""
    gf = f"f.{group}, " if group else ""
    gb = f" GROUP BY {group}" if group else ""
    exact_from = (
        f"FROM fin f JOIN ex ON ex.{group} IS NOT DISTINCT FROM f.{group}"
        if group
        else "FROM fin f, ex"
    )
    return f"""
    WITH h AS (
      SELECT {g}md5('{seed}' || '|'
                    || coalesce(CAST(({key_sql}) AS VARCHAR), chr(1)))
             AS hx
      FROM {src}),
    r AS (
      SELECT {g}CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % {m}
               AS register,
             CASE WHEN CAST(('0x' || substr(hx, 9, 8)) AS BIGINT) = 0
                  THEN 33
                  ELSE 33 - length(bin(
                         CAST(('0x' || substr(hx, 9, 8)) AS BIGINT)))
             END AS rho
      FROM h),
    sk AS (SELECT {g}register, CAST(max(rho) AS INT) AS max_rho
           FROM r GROUP BY {g}register),
    ag AS (SELECT {g}count(*) AS used,
                  coalesce(sum(CAST(power(2, 33 - max_rho) AS BIGINT)),
                           0) AS s_present
           FROM sk{gb}),
    fin AS (SELECT {g}CAST({m} - used AS BIGINT) AS v_zero,
                   s_present + ({m} - used)
                     * CAST({1 << 33} AS BIGINT) AS s_scaled
            FROM ag),
    ex AS (SELECT {g}CAST(count(DISTINCT {exact_sql}) AS BIGINT)
                    AS exact_distinct
           FROM {src}{gb})
    SELECT {gf}CAST({m} AS BIGINT) AS m, f.v_zero,
           CAST(round(CASE
             WHEN {e_raw} <= {2.5 * m!r} AND f.v_zero > 0
               THEN {float(m)!r}
                    * round(ln({float(m)!r}
                               / CAST(f.v_zero AS DOUBLE)), 6)
             WHEN {e_raw} > {float(1 << 32) / 30.0!r}
               THEN {-float(1 << 32)!r}
                    * round(ln(1.0 - least({e_raw},
                                           {float((1 << 32) - 1)!r})
                               / {float(1 << 32)!r}), 6)
             ELSE {e_raw}
           END, 6) AS DOUBLE) AS est,
           ex.exact_distinct
    {exact_from}
    """


@register("x20_hll_distinct_sketch", _hll_oracle())
def q_x20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable HLL distinct sketch: the Spark side
    builds per-half-corpus sketches (even/odd orderkeys) and MERGES
    them (register-wise max) before estimating; the oracle sketches in
    one pass — the hash match proves the merge identity, the est column
    the bit-determinism, and exact_distinct sits alongside for the
    error to be read off (b=12 → ~1.6% standard error)."""
    from .llm import sketch as SK

    li = read_parquet(spark, _pq(sf_dir, "lineitem")).select(
        "l_orderkey", "l_partkey"
    )
    halves = [
        SK.distinct_sketch(
            li.where(F.col("l_orderkey") % 2 == p).select("l_partkey"),
            ["l_partkey"],
            b=_HLL_B,
        )
        for p in (0, 1)
    ]
    est = SK.sketch_estimate(SK.merge_sketches(*halves), b=_HLL_B)
    exact = li.agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_distinct")
    )
    return est.crossJoin(F.broadcast(exact))


_QSK_S = 7
_QSK_QS = [0.5, 0.95, 0.99]


def _quantile_sketch_oracle(
    s: int = _QSK_S,
    src: str = "documents",
    val_sql: str = "length(text)",
    group: "str | None" = None,
) -> str:
    """SQL replay of the HDR log-bucket quantile sketch
    (llm/sketch.value_sketch + sketch_quantiles): integer-only encode
    (bitlen/shift), one cumulative walk, integer-only midpoint decode.
    The oracle sketches the corpus in ONE pass; the Spark queries merge
    half-corpus sketches, so the hash match also pins the
    sketch(A)⊔sketch(B) == sketch(A∪B) merge identity — the x20
    technique applied to the distribution dual. ONE generator for the
    global (x21) and grouped (x24) rows; with `group` the walk
    partitions per group and the rank-hit join is null-safe (IS NOT
    DISTINCT FROM) to mirror sketch_quantiles' eqNullSafe — a NULL
    group is a real group on both engines."""
    m = 1 << (s + 1)
    q_list = ", ".join(repr(q) for q in _QSK_QS)
    g = f"{group}, " if group else ""
    grk = f"rk.{group}, " if group else ""
    gtot = f"tot.{group}, " if group else ""
    gb = f" GROUP BY {group}" if group else ""
    over = (
        f"OVER (PARTITION BY {group} ORDER BY idx)"
        if group
        else "OVER (ORDER BY idx)"
    )
    hit_on = (
        f"ON cum.{group} IS NOT DISTINCT FROM rk.{group} "
        f"AND cum.cum >= rk.r"
        if group
        else "ON cum.cum >= rk.r"
    )
    hit_gb = "GROUP BY 1, 2, 3" if group else "GROUP BY 1, 2"
    return f"""
    WITH v AS (
      SELECT {g}CAST({val_sql} AS BIGINT) AS sv FROM {src}),
    b AS (
      SELECT {g}CAST(greatest(length(bin(greatest(sv, 1))) - {1 + s}, 0)
                  AS BIGINT) AS shift, sv
      FROM v),
    sk AS (
      SELECT {g}shift * {m} + (sv >> CAST(shift AS INT)) AS idx,
             count(*) AS cnt
      FROM b GROUP BY {"1, 2" if group else "1"}),
    cum AS (SELECT {g}idx, sum(cnt) {over} AS cum FROM sk),
    tot AS (SELECT {g}sum(cnt) AS n FROM sk{gb}),
    qs AS (SELECT CAST(unnest([{q_list}]) AS DOUBLE) AS q),
    rk AS (
      SELECT {gtot}q, tot.n,
             least(greatest(CAST(ceil(q * tot.n) AS BIGINT), 1), tot.n)
               AS r
      FROM tot CROSS JOIN qs),
    hit AS (
      SELECT {grk}rk.q, rk.n, min(cum.idx) AS idx
      FROM rk JOIN cum {hit_on}
      {hit_gb})
    SELECT {g}q,
           CAST(round(CAST((
             ((idx % {m}) << CAST(idx >> {s + 1} AS INT))
             + (((1::BIGINT << CAST(idx >> {s + 1} AS INT)) - 1) >> 1)
           ) AS DOUBLE) / 1.0, 6) AS DOUBLE) AS est,
           CAST(n AS BIGINT) AS n
    FROM hit
    """


@register("x21_quantile_sketch", _quantile_sketch_oracle())
def q_x21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable quantile sketch (x20's distribution
    dual): p50/p95/p99 of document length from an HDR-style integer
    log-bucket histogram — ONE bounded map-side-combinable aggregation
    instead of t18's full per-stratum sort. The Spark side sketches the
    two doc_id-parity halves separately and merges them, while the
    oracle sketches once: the hash match pins the merge identity in the
    gate, and every encode/decode step is integer shifts, bit-identical
    across engines."""
    from .llm import sketch as SK

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", F.length("text").alias("len")
    )
    halves = [
        SK.value_sketch(
            docs.where(F.col("doc_id") % 2 == p), "len", s=_QSK_S
        )
        for p in (0, 1)
    ]
    merged = SK.merge_value_sketches(*halves)
    return SK.sketch_quantiles(merged, _QSK_QS, s=_QSK_S)


@register(
    "x23_grouped_distinct_sketch",
    _hll_oracle(src="documents", key_sql="text", exact_sql="text",
                group="lang"),
)
def q_x23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP HLL distinct sketches in one pass: distinct texts per
    language — the per-domain corpus report, still one bounded
    map-side-combinable aggregation (<= 2^b rows per group, never one
    job per group). The Spark side merges two half-corpus GROUPED
    sketches (doc_id parity) group-wise before estimating while the
    oracle sketches once, so the hash match pins the grouped merge
    identity; exact distinct rides alongside per group."""
    from .llm import sketch as SK

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )
    halves = [
        SK.distinct_sketch(
            docs.where(F.col("doc_id") % 2 == p),
            ["text"],
            b=_HLL_B,
            group_cols=["lang"],
        )
        for p in (0, 1)
    ]
    est = SK.sketch_estimate(
        SK.merge_sketches(*halves, group_cols=["lang"]),
        b=_HLL_B,
        group_cols=["lang"],
    )
    exact = docs.groupBy("lang").agg(
        F.countDistinct("text").cast("long").alias("exact_distinct")
    ).withColumnRenamed("lang", "__lang")
    # eqNullSafe like the oracle's IS NOT DISTINCT FROM: a NULL lang
    # would be a real group on both sides
    return est.join(
        exact, F.col("lang").eqNullSafe(F.col("__lang"))
    ).drop("__lang")


def _corpus_report_oracle() -> str:
    """x27 = the dataset-card report assembled from the SAME
    parametrized generators as its stages: _hll_oracle and
    _quantile_sketch_oracle embedded as subqueries (group='source'),
    plus plain per-source stats — the composition cannot drift from
    the standalone x23/x24 machinery."""
    from .llm.sketch import quantile_col_name

    hll = _hll_oracle(
        src="documents", key_sql="text", exact_sql="text", group="source"
    )
    qnt = _quantile_sketch_oracle(group="source")
    # pivot arms derived from the SAME _QSK_QS + quantile_col_name the
    # Spark side uses — changing the quantile list moves both engines
    piv_cols = ",\n                   ".join(
        f"max(CASE WHEN q = {q!r} THEN est END)"
        f" AS {quantile_col_name(q)}"
        for q in _QSK_QS
    )
    piv_out = ", ".join(f"p.{quantile_col_name(q)}" for q in _QSK_QS)
    return f"""
    WITH base AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(length(text)) AS BIGINT) AS value_sum
      FROM documents GROUP BY source),
    hll AS (SELECT source, est AS distinct_est FROM ({hll}) h),
    qrows AS (SELECT source, q, est FROM ({qnt}) v),
    piv AS (SELECT source,
                   {piv_cols}
            FROM qrows GROUP BY source)
    SELECT b.source, b.n_rows, b.value_sum, h.distinct_est,
           {piv_out}
    FROM base b
    LEFT JOIN hll h ON h.source IS NOT DISTINCT FROM b.source
    LEFT JOIN piv p ON p.source IS NOT DISTINCT FROM b.source
    """


@register("x27_corpus_report", _corpus_report_oracle())
def q_x27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-domain dataset card in one operator: docs, total chars,
    HLL distinct-text estimate, and HDR length quantiles PER SOURCE —
    the corpus report a curation run publishes, three bounded
    map-side-combinable passes and group-sized null-safe joins, no
    global sort, no per-domain jobs. Oracle embeds the same
    parametrized generators as the standalone x23/x24 rows."""
    from .llm import sketch as SK

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "source", "text", F.length("text").alias("len")
    )
    return SK.corpus_report(
        docs, group_cols=["source"], distinct_cols=["text"],
        value_col="len", qs=list(_QSK_QS), b=_HLL_B, s=_QSK_S,
    )


@register("x24_grouped_quantile_sketch",
          _quantile_sketch_oracle(group="lang"))
def q_x24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP quantile sketches: p50/p95/p99 of document length PER
    LANGUAGE from one grouped HDR histogram pass — the distribution
    dual of x23 and the sketch answer to t18's per-language strata
    (whose exact ranks pay a full sort per language). Spark merges the
    two doc_id-parity halves group-wise; the oracle sketches once —
    the grouped merge identity rides the hash match."""
    from .llm import sketch as SK

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", "lang", F.length("text").alias("len")
    )
    halves = [
        SK.value_sketch(
            docs.where(F.col("doc_id") % 2 == p),
            "len",
            s=_QSK_S,
            group_cols=["lang"],
        )
        for p in (0, 1)
    ]
    merged = SK.merge_value_sketches(*halves, group_cols=["lang"])
    return SK.sketch_quantiles(
        merged, _QSK_QS, s=_QSK_S, group_cols=["lang"]
    )


_BM25_QUERY = "slow hash join merge"
_BM25_K = 10


def _bm25_ctes(query: str = _BM25_QUERY, k: int = _BM25_K,
               k1: float = 1.2, b: float = 0.75,
               src: str = "documents") -> str:
    """SQL replay of llm/search.bm25_topk with the expression tree in
    the SAME association order (idf ln 6dp-rounded first, per-term
    score 6dp-rounded, per-doc DECIMAL(38,6) sums, one final double
    cast) so both engines build identical floats. Final CTE
    `bm25r`(doc_id, score, rank) — shared by the n5 oracle, the n6
    hybrid-fusion oracle, and (via `src`) the x34 searchable-admission
    oracle, so the lexical leg can never drift."""
    terms = sorted(set(query.lower().split()))
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
    {_words_sql(src).strip()},
    lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM words),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM lens),
    post AS (SELECT doc_id, unnest(w) AS t FROM words),
    tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
           FROM post WHERE t IN ({in_list}) GROUP BY doc_id, t),
    dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df_t
              FROM tf GROUP BY t),
    sc AS (SELECT f.doc_id,
                  CAST(round(
                    round(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - d.df_t
                                    + 0.5) / (d.df_t + 0.5)), 6)
                    * CAST(f.tf AS DOUBLE) * {k1 + 1.0!r}
                    / (CAST(f.tf AS DOUBLE) + {k1!r}
                       * ({1.0 - b!r} + {b!r}
                          * CAST(l.dl AS DOUBLE) / s.avgdl)), 6)
                    AS DECIMAL(38,6)) AS s6
           FROM tf f JOIN dfreq d USING (t) CROSS JOIN stats s
           JOIN lens l USING (doc_id)),
    agg AS (SELECT doc_id, CAST(sum(s6) AS DOUBLE) AS score
            FROM sc GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC LIMIT {k}),
    bm25r AS (
      SELECT doc_id, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                  AS BIGINT) AS rank
      FROM agg)
    """


def _bm25_oracle(query: str = _BM25_QUERY, k: int = _BM25_K,
                 k1: float = 1.2, b: float = 0.75) -> str:
    return (
        "WITH " + _bm25_ctes(query, k, k1, b).strip()
        + "\n    SELECT doc_id, score, rank FROM bm25r"
    )


@register("n5_bm25_topk", _bm25_oracle())
def q_n5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-k retrieval — the keyword dual of the dense ANN
    queries: the query's term set filters the corpus word stream BEFORE
    any shuffle (inverted-index probe, isin pushed to the scan),
    document frequencies + corpus stats broadcast back, top-k is
    TakeOrderedAndProject."""
    from .llm.search import bm25_topk

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    return bm25_topk(docs.select("doc_id", "text"), _BM25_QUERY,
                     k=_BM25_K)


#: n6 hybrid retrieval: text query = the n5 keyword query; dense query
#: = the embedding of doc _HYB_QID (doc_id == vec_id in the fixtures);
#: each leg contributes its top _HYB_N ranks to the RRF fusion
_HYB_QID, _HYB_N, _HYB_K, _RRF_K0 = 7, 50, 10, 60


def _hybrid_rrf_oracle() -> str:
    """n6 = reciprocal rank fusion of the n5 BM25 leg (chained from
    _bm25_ctes — the lexical leg cannot drift from n5) and a
    brute-force cosine leg over the query doc's embedding (the n1
    formula via _cos_sql): each reciprocal 6dp-rounded first, exact
    DECIMAL sums, ties to the smaller id."""
    return f"""
    WITH {_bm25_ctes(_BM25_QUERY, _HYB_N).strip()},
    dq AS (SELECT embedding AS qv FROM embeddings
           WHERE vec_id = {_HYB_QID}),
    dsims AS (
      SELECT c.vec_id AS doc_id, {_cos_sql('c.embedding', 'dq.qv')}
               AS sim
      FROM embeddings c, dq WHERE c.vec_id != {_HYB_QID}),
    denser AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY sim DESC, doc_id ASC)
                  AS BIGINT) AS rank
      FROM dsims
      QUALIFY row_number() OVER (ORDER BY sim DESC, doc_id ASC)
              <= {_HYB_N}),
    contrib AS (
      SELECT doc_id, CAST(round(1.0 / ({float(_RRF_K0)!r} + rank), 6)
                          AS DECIMAL(18,6)) AS c FROM bm25r
      UNION ALL
      SELECT doc_id, CAST(round(1.0 / ({float(_RRF_K0)!r} + rank), 6)
                          AS DECIMAL(18,6)) AS c FROM denser),
    fused AS (
      SELECT doc_id, CAST(sum(c) AS DOUBLE) AS rrf_score
      FROM contrib GROUP BY doc_id
      ORDER BY rrf_score DESC, doc_id ASC LIMIT {_HYB_K})
    SELECT doc_id, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
                AS BIGINT) AS rank
    FROM fused
    """


@register("n6_hybrid_rrf", _hybrid_rrf_oracle())
def q_n6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical leg + exact-cosine dense leg
    fused by Reciprocal Rank Fusion (Cormack et al. 2009) — the
    standard production combiner, score-scale-free because only ranks
    enter. Both legs are k-bounded, so the fusion's union+groupBy
    shuffles at most 2k candidate rows (never corpus-sized); each
    reciprocal is 6dp-rounded before exact DECIMAL sums, ties to the
    smaller id — bit-exact vs the SQL replay, whose lexical leg chains
    n5's own CTE generator."""
    from .llm import similarity as S
    from .llm.search import bm25_topk, rrf_fuse

    docs = read_parquet(spark, _pq(sf_dir, "documents"))
    emb = read_parquet(spark, _pq(sf_dir, "embeddings"))
    lex = bm25_topk(docs.select("doc_id", "text"), _BM25_QUERY,
                    k=_HYB_N)
    dense = S.brute_force_topk(
        emb, emb.where(F.col("vec_id") == _HYB_QID), k=_HYB_N
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse(
        [lex.select("doc_id", "rank"), dense],
        k=_HYB_K, k0=_RRF_K0,
    )


# ===========================================================================
# Round-11 rows: automatic index maintenance, SimHash streaming admission,
# real PNG decode through the stdlib codec
# ===========================================================================


@register("x32_index_maintenance", _index_deletion_oracle())
def q_x32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automatic index maintenance as a config op (MAINTAIN INDEX →
    llm/_store.maintain_index): on the x30 build+delete fixture the
    manifest shows 1 tombstone of 2 segments (share 0.5 >= the 0.2
    default), so the policy compacts — physically purging the
    tombstoned rows, Lucene's merge — and vacuums the replaced dirs,
    all from one idempotent call a scheduler or the admission stream's
    maintain_every_n_epochs can issue forever. The probe AFTER
    maintenance answers bit-identically to x30's delete-until-merge
    probe (the oracle is x30's, verbatim): maintenance is an execution
    strategy, never a semantics change. The query refuses to return if
    the policy did NOT fire, so a broken trigger fails loudly instead
    of passing on the unchanged store."""
    from .llm import dedup_index as DI
    from .plans import Engine, OpSpec

    path, batch = _deleted_minhash_store(spark, sf_dir, "x32")
    receipt = Engine(spark).run_op(OpSpec(
        "MAINTAIN INDEX", "maint", [],
        {"path": path, "retention_seconds": 0},
    )).collect()[0]
    if not receipt.compacted:
        raise ValueError(
            f"x32: MAINTAIN INDEX did not fire on {path} "
            f"(tombstone share 0.5 >= 0.2 expected to trigger)"
        )
    return DI.dedup_against_index(
        spark, path, batch, threshold=_LSH_P / _LSH_Q
    )


def _simhash_stream_admission_oracle() -> str:
    """x33 = x28's statement in the HAMMING metric: two sequential
    SimHash-admission epochs. Band rows are doc-local, so ONE
    _simhash64_ctes + _simhash_bands_sql chain over the 3-side union
    (corpus / epoch 1 / epoch 2) serves both probes — the d17 oracle's
    own generators — and epoch 2's index side is corpus ∪ epoch-1
    ADMISSIONS (the extend landed in between)."""
    k = _SIMHASH_K
    dist = _simhash_dist_sql("bb", "ib")
    return f"""
    WITH se1 AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
    se2 AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 20 = 1),
    u3 AS (
      SELECT doc_id, text, 0 AS side FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, text, 1 AS side FROM se1
      UNION ALL
      SELECT doc_id, text, 2 AS side FROM se2),
    {_simhash64_ctes("u3").strip()},
    {_simhash_bands_sql("sbands")},
    usides AS (SELECT doc_id, side FROM u3),
    a_hits AS (
      SELECT DISTINCT bb.doc_id AS id_a
      FROM sbands bb
      JOIN usides sb ON sb.doc_id = bb.doc_id AND sb.side = 1
      JOIN sbands ib ON ib.band = bb.band AND ib.key = bb.key
      JOIN usides si ON si.doc_id = ib.doc_id AND si.side = 0
      WHERE {dist} <= {k}),
    adm1 AS (
      SELECT doc_id, text FROM se1
      WHERE doc_id NOT IN (SELECT id_a FROM a_hits)),
    b_hits AS (
      SELECT DISTINCT bb.doc_id AS id_a
      FROM sbands bb
      JOIN usides sb ON sb.doc_id = bb.doc_id AND sb.side = 2
      JOIN sbands ib ON ib.band = bb.band AND ib.key = bb.key
      JOIN usides si ON si.doc_id = ib.doc_id
      WHERE {dist} <= {k}
        AND (si.side = 0 OR (si.side = 1 AND
             ib.doc_id IN (SELECT doc_id FROM adm1)))),
    adm2 AS (
      SELECT doc_id, text FROM se2
      WHERE doc_id NOT IN (SELECT id_a FROM b_hits))
    SELECT doc_id, text, 0 AS epoch FROM adm1
    UNION ALL
    SELECT doc_id, text, 1 AS epoch FROM adm2
    """


@register("x33_simhash_stream_admission",
          _simhash_stream_admission_oracle())
def q_x33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental HAMMING-dedup admission — x28's
    composition through the SimHash index family (family='simhash',
    new r11): each availableNow micro-batch probes the persisted
    Manku-band index, drops docs within the index's max_hamming,
    overwrites its epoch output partition, and TAGGED-extends so the
    next epoch dedups against this one's admissions. max_hamming is
    BUILD-time (it fixes the band count) — the family rejects a
    runtime threshold. One admission composition now serves all three
    probe-returning index families (minhash / simhash / embedding)."""
    import os
    import shutil

    from .llm.dedup_index import simhash_build_index
    from .streaming.admission import start_index_admission

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", "text"
    )
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    e1 = docs.where(F.col("doc_id") % 4 == 1).unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    e2 = docs.where(F.col("doc_id") % 4 == 3).unionByName(
        docs.where(F.col("doc_id") % 20 == 1).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    root = _proc_tmp_root("x33", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    idx, out = os.path.join(root, "idx"), os.path.join(root, "out")
    src = os.path.join(root, "incoming")
    e1.coalesce(1).write.parquet(src + "/batch=0")
    e2.coalesce(1).write.parquet(src + "/batch=1")
    # deterministic epoch order: the file source sorts by mtime
    now = os.path.getmtime(src + "/batch=0")
    for i in (0, 1):
        for f in os.listdir(f"{src}/batch={i}"):
            os.utime(f"{src}/batch={i}/{f}", (now + 10 * i, now + 10 * i))
    simhash_build_index(corpus, idx, max_hamming=_SIMHASH_K)
    q = start_index_admission(
        spark, src + "/batch=*", e1.schema, idx, out,
        checkpoint=os.path.join(root, "ckpt"), family="simhash",
        max_files_per_trigger=1,
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "x33 availableNow drain did not finish within 600s"
        )
    return read_parquet(spark, out).select(
        "doc_id", "text", F.col("epoch").cast("int").alias("epoch")
    )


# --- real PNG decode rows: fixture images whose pixels come from a
# doc_id formula BOTH engines can state — Spark encodes real PNGs
# (llm/png.encode_png, filter types rotating per row) and strict-mode
# decodes them through the stdlib codec; DuckDB recomputes the same
# facts from the formula. The decode is REAL (zlib inflate + all five
# unfilters), not the fake: n_bytes/md5 of the encoded payload are
# deliberately NOT output (compression output is not SQL-computable).

_PNG_SQL_DIMS = """
      SELECT doc_id,
             CAST(4 + doc_id % 29 AS INT) AS w,
             CAST(3 + doc_id % 17 AS INT) AS h,
             CAST(doc_id % 256 AS INT) AS r,
             CAST((doc_id * 7) % 256 AS INT) AS g,
             CAST((doc_id * 13) % 256 AS INT) AS b
      FROM documents"""


def _png_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) of one solid-color RGB PNG per document —
    dims/color from the doc_id formula _PNG_SQL_DIMS states in SQL.
    Solid pixels keep the oracle closed-form while the rotating row
    filters still exercise every unfilter path at decode."""
    from collections.abc import Iterator

    import pandas as pd

    from .llm.png import encode_png

    def gen(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = [
                encode_png(
                    "RGB",
                    (4 + d % 29, 3 + d % 17),
                    bytes((d % 256, (d * 7) % 256, (d * 13) % 256))
                    * ((4 + d % 29) * (3 + d % 17)),
                )
                for d in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return (
        read_parquet(spark, _pq(sf_dir, "documents"))
        .select("doc_id")
        .mapInPandas(gen, "doc_id long, payload binary")
    )


@register(
    "m4_png_decode_features",
    f"""
    WITH dims AS ({_PNG_SQL_DIMS}),
    lum AS (
      SELECT doc_id, w, h, (299 * r + 587 * g + 114 * b) // 1000 AS l
      FROM dims)
    SELECT doc_id, w AS width, h AS height,
           CAST(w * h AS INT) AS area,
           CAST(l AS INT) AS l0, CAST(l AS INT) AS l1,
           CAST(l AS INT) AS l2, CAST(l AS INT) AS l3
    FROM lum
    """,
)
def q_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end with zero image libraries: encode
    one PNG per document (llm/png.encode_png — real zlib, filter types
    rotating per scanline), then strict-mode feature extraction
    (fake_decode=False, codec='png_stdlib') inflates + unfilters the
    actual bytes, converts to integer luminance, and 2x2-thumbnails.
    The oracle recomputes dims/luminance from the pixel formula — so a
    decoder bug (wrong unfilter, wrong luminance, wrong dims) breaks
    the hash. Converts the multimodal seam's longest-standing weak
    item (fake codec at runtime) to shipped-for-PNG."""
    from .llm.multimodal import extract_features

    feats = extract_features(
        _png_fixture(spark, sf_dir), fake_decode=False,
        codec="png_stdlib",
    )
    f = F.col("features")
    return feats.select(
        "doc_id",
        f[1].cast("int").alias("width"),
        f[2].cast("int").alias("height"),
        f[3].cast("int").alias("area"),
        *[
            F.round(f[4 + i] * 255, 0).cast("int").alias(f"l{i}")
            for i in range(4)
        ],
    )


_M5_MAX_SIDE = 16


@register(
    "m5_png_resize_dims",
    f"""
    WITH dims AS ({_PNG_SQL_DIMS})
    SELECT doc_id, w AS src_width, h AS src_height,
           CAST(CASE WHEN greatest(w, h) > {_M5_MAX_SIDE}
                THEN greatest((w * {_M5_MAX_SIDE}) // greatest(w, h), 1)
                ELSE w END AS INT) AS out_width,
           CAST(CASE WHEN greatest(w, h) > {_M5_MAX_SIDE}
                THEN greatest((h * {_M5_MAX_SIDE}) // greatest(w, h), 1)
                ELSE h END AS INT) AS out_height
    FROM dims
    """,
)
def q_m5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize through the stdlib codec: strict-mode
    resize_images decodes each fixture PNG, applies the shared
    aspect-preserving integer clamp, nearest-neighbor-resizes, and
    re-ENCODES (the resized_md5 the test suite pins offline is the
    re-encoded payload's — not SQL-computable, so this row outputs the
    dims the oracle can state). Source dims here come from the actual
    IHDR parse, not a hash fake — m2 remains the fake-path dual."""
    from .llm.multimodal import resize_images

    return resize_images(
        _png_fixture(spark, sf_dir), max_side=_M5_MAX_SIDE,
        fake_decode=False, codec="png_stdlib",
    ).select("doc_id", "src_width", "src_height",
             "out_width", "out_height")


# --- real JPEG decode row: the LOSSY dual of m4. Solid-color fixtures
# make the whole encode→decode chain closed-form (every block is
# DC-only), so a SQL oracle can restate baseline JPEG end to end:
# integer RGB→YCbCr, quantize floor(8Δ/q + 0.5) against the quality-50
# Annex K DC steps, reconstruct floor(coef·q/8 + 128.5), float
# YCbCr→RGB, integer luminance. Quality 50 is chosen ADVERSARIALLY:
# the luma q00 is 16, so odd level-shifted values land exactly on .5
# quantization boundaries — the case llm/jpeg.py's integer block-sum
# DC and power-of-two DC-only IDCT exist for (its module docstring).
# Subsampling alternates 4:2:0 / 4:4:4 per doc parity: both decode
# paths run; constant chroma makes their answers identical, which the
# one oracle states once.

_JPEG_Q = 50


def _jpeg_oracle() -> str:
    from .llm.jpeg import scaled_quant_tables

    ql, qc = scaled_quant_tables(_JPEG_Q)
    qy, qcc = int(ql[0]), int(qc[0])
    assert (qy, qcc) == (16, 17)  # Annex K at quality 50
    return f"""
    WITH dims AS (
      SELECT doc_id,
             CAST(5 + doc_id % 27 AS INT) AS w,
             CAST(4 + doc_id % 15 AS INT) AS h,
             (doc_id * 3) % 256 AS r,
             (doc_id * 11) % 256 AS g,
             (doc_id * 17) % 256 AS b
      FROM documents),
    ycc AS (
      SELECT doc_id, w, h,
        LEAST(255, GREATEST(0,
          (299 * r + 587 * g + 114 * b + 500) // 1000)) AS y,
        LEAST(255, GREATEST(0, 128 + CAST(FLOOR(
          (-168736 * r - 331264 * g + 500000 * b + 500000) / 1000000.0
          ) AS BIGINT))) AS cb,
        LEAST(255, GREATEST(0, 128 + CAST(FLOOR(
          (500000 * r - 418688 * g - 81312 * b + 500000) / 1000000.0
          ) AS BIGINT))) AS cr
      FROM dims),
    rec AS (
      SELECT doc_id, w, h,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          CAST(FLOOR(8.0 * (y - 128) / {qy} + 0.5) AS BIGINT)
          * {qy} / 8.0 + 128.5) AS BIGINT))) AS yr,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          CAST(FLOOR(8.0 * (cb - 128) / {qcc} + 0.5) AS BIGINT)
          * {qcc} / 8.0 + 128.5) AS BIGINT))) AS cbr,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          CAST(FLOOR(8.0 * (cr - 128) / {qcc} + 0.5) AS BIGINT)
          * {qcc} / 8.0 + 128.5) AS BIGINT))) AS crr
      FROM ycc),
    rgb AS (
      SELECT doc_id, w, h,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          yr + 1.402 * (crr - 128) + 0.5) AS BIGINT))) AS r2,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          yr - 0.344136 * (cbr - 128) - 0.714136 * (crr - 128) + 0.5
          ) AS BIGINT))) AS g2,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          yr + 1.772 * (cbr - 128) + 0.5) AS BIGINT))) AS b2
      FROM rec)
    SELECT doc_id, w AS width, h AS height,
           CAST(w * h AS INT) AS area,
           CAST(l AS INT) AS l0, CAST(l AS INT) AS l1,
           CAST(l AS INT) AS l2, CAST(l AS INT) AS l3
    FROM (SELECT doc_id, w, h,
                 (299 * r2 + 587 * g2 + 114 * b2) // 1000 AS l
          FROM rgb)
    """


def _jpeg_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) of one solid-color baseline JPEG per document
    — dims/color from the doc_id formula the oracle states; quality
    {_JPEG_Q}; subsampling 4:2:0 for even ids, 4:4:4 for odd."""
    from collections.abc import Iterator

    import pandas as pd

    from .llm.jpeg import encode_jpeg

    def gen(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = [
                encode_jpeg(
                    "RGB",
                    (5 + d % 27, 4 + d % 15),
                    bytes(((d * 3) % 256, (d * 11) % 256, (d * 17) % 256))
                    * ((5 + d % 27) * (4 + d % 15)),
                    quality=_JPEG_Q,
                    subsampling="4:2:0" if d % 2 == 0 else "4:4:4",
                )
                for d in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return (
        read_parquet(spark, _pq(sf_dir, "documents"))
        .select("doc_id")
        .mapInPandas(gen, "doc_id long, payload binary")
    )


@register("m6_jpeg_decode_features", _jpeg_oracle())
def q_m6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode end-to-end with zero image libraries: encode
    one baseline JFIF per document (llm/jpeg.encode_jpeg — Annex K
    tables, real huffman coding, 4:2:0/4:4:4 alternating), then
    strict-mode feature extraction (fake_decode=False,
    codec='jpeg_stdlib') huffman-decodes, dequantizes, IDCTs, and
    color-converts the actual bytes. The oracle restates the lossy
    round trip in closed form (solid color ⇒ DC-only everywhere) — a
    decoder bug in any stage (marker parse, huffman tables, EXTEND,
    dequant, reconstruction rounding, upsampling, YCbCr→RGB) breaks
    the hash. m4 is the lossless PNG sibling; together they close the
    'fake codec at runtime' weak item for both shipped formats."""
    from .llm.multimodal import extract_features

    feats = extract_features(
        _jpeg_fixture(spark, sf_dir), fake_decode=False,
        codec="jpeg_stdlib",
    )
    f = F.col("features")
    return feats.select(
        "doc_id",
        f[1].cast("int").alias("width"),
        f[2].cast("int").alias("height"),
        f[3].cast("int").alias("area"),
        *[
            F.round(f[4 + i] * 255, 0).cast("int").alias(f"l{i}")
            for i in range(4)
        ],
    )


# --- real WAV decode row: the audio modality joins the real-bytes
# club. Square-wave fixtures make every feature closed-form: rms of a
# ±amp square wave is EXACTLY amp (the int64 square sum is n·amp²;
# one float divide and an IEEE sqrt of a perfect square are both
# exact), zero crossings are (n-1) // half_period, and the PCM
# container size is 44 + frames·channels·2 bytes.


def _wav_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) of one 16-bit PCM WAV per document — a ±amp
    square wave with amp/half-period/frames/rate/channels all stated
    by the m7 oracle's doc_id formulas."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .llm.wavcodec import encode_wav

    def gen(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                amp = 500 + (d * 13) % 30000
                hp = 1 + d % 9
                n = 200 + (d * 7) % 1000
                i = np.arange(n)
                x = np.where(
                    (i // hp) % 2 == 0, amp, -amp
                ).astype(np.int32)
                payloads.append(
                    encode_wav(
                        8000 * (1 + d % 3),
                        np.repeat(x[:, None], 1 + d % 2, axis=1),
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return (
        read_parquet(spark, _pq(sf_dir, "documents"))
        .select("doc_id")
        .mapInPandas(gen, "doc_id long, payload binary")
    )


@register(
    "m7_wav_audio_features",
    """
    WITH p AS (
      SELECT doc_id,
             500 + (doc_id * 13) % 30000 AS amp,
             1 + doc_id % 9 AS hp,
             200 + (doc_id * 7) % 1000 AS n,
             8000 * (1 + doc_id % 3) AS sr,
             1 + doc_id % 2 AS ch
      FROM documents)
    SELECT doc_id,
           CAST(44 + n * ch * 2 AS BIGINT) AS n_bytes,
           CAST(sr AS INT) AS sample_rate,
           CAST(ch AS INT) AS n_channels,
           CAST(n AS BIGINT) AS n_frames,
           CAST(n * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(amp AS DOUBLE) AS rms,
           CAST(amp AS INT) AS peak,
           CAST((n - 1) // hp AS BIGINT) AS zero_crossings
    FROM p
    """,
)
def q_m7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end with zero audio libraries: encode
    one PCM WAV per document (llm/wavcodec.encode_wav), then
    strict-mode extract_audio_features parses the actual RIFF
    container (chunk walk, fmt sanity, frame de-interleave) and
    computes rms / peak / zero-crossings from the actual samples. The
    oracle restates every output from the fixture formulas — a parser
    bug (wrong offset, wrong endianness, channel mixing) breaks the
    hash. Completes the modality set: m4/m6 images, m7 audio, m8
    video, every one on real bytes."""
    from .llm.multimodal import extract_audio_features

    return extract_audio_features(
        _wav_fixture(spark, sf_dir), fake_decode=False
    ).drop("payload_md5")


# --- real VIDEO decode row: frame sampling over actual Y4M bytes.
# Solid-luma frames with neutral chroma make per-frame stats
# closed-form: the YCbCr→RGB conversion at cb=cr=128 reconstructs
# R=G=B=Y exactly under the floor(x+0.5) contract, so mean integer
# luminance == the Y value the generator wrote. Timestamps are exact
# (llm/y4m.py exposes .time_ms as idx*1000*den//num — the float-
# seconds path would truncate frame 3 at 25fps to 119 ms).

_M8_EVERY_MS, _M8_MAX_FRAMES = 80, 3


def _y4m_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) of one Y4M clip per document: dims, frame
    count, colorspace (rotating 4:2:0 / 4:4:4 / mono), and per-frame
    luma all from the doc_id formulas the m8 oracle states; 25 fps."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .llm.y4m import encode_y4m

    def gen(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                w, h = 8 + (d % 8) * 2, 4 + (d % 6) * 2
                n = 1 + d % 8
                space = ("420jpeg", "444", "mono")[d % 3]
                frames = []
                for i in range(n):
                    y = np.full((h, w), (d * 7 + i * 31) % 256, np.uint8)
                    if space == "mono":
                        frames.append((y, None, None))
                    else:
                        cw = w // (2 if space == "420jpeg" else 1)
                        ch = h // (2 if space == "420jpeg" else 1)
                        u = np.full((ch, cw), 128, np.uint8)
                        frames.append((y, u, u))
                payloads.append(
                    encode_y4m((w, h), frames, fps=(25, 1),
                               colorspace=space)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return (
        read_parquet(spark, _pq(sf_dir, "documents"))
        .select("doc_id")
        .mapInPandas(gen, "doc_id long, payload binary")
    )


@register(
    "m8_y4m_frame_stats",
    f"""
    WITH clips AS (
      SELECT doc_id,
             8 + (doc_id % 8) * 2 AS w,
             4 + (doc_id % 6) * 2 AS h,
             1 + doc_id % 8 AS n
      FROM documents),
    sampled AS (
      SELECT doc_id, w, h,
             least((n + 1) // 2, {_M8_MAX_FRAMES}) AS n_samp
      FROM clips)
    SELECT doc_id,
           CAST(unnest(generate_series(0, n_samp - 1)) AS INT)
             AS frame_idx,
           CAST(unnest(generate_series(0, n_samp - 1)) * {_M8_EVERY_MS}
                AS BIGINT) AS frame_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST((doc_id * 7
                 + unnest(generate_series(0, n_samp - 1)) * 62) % 256
                AS INT) AS mean_luma
    FROM sampled
    """,
)
def q_m8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling end-to-end with zero video libraries:
    encode one YUV4MPEG2 clip per document (llm/y4m.encode_y4m), then
    frame_stats parses the actual stream (header grammar, FRAME walk,
    planar slicing), samples every {_M8_EVERY_MS} ms of 25 fps video
    (so every OTHER source frame — sampled k maps to source frame 2k,
    luma (doc_id·7 + 62k) % 256), caps at {_M8_MAX_FRAMES}, converts
    each frame through the real YCbCr→RGB path, and emits integer mean
    luminance. The oracle restates the sampling arithmetic and pixel
    formulas per generated row — a parser bug (plane offsets, chroma
    sizing, timestamp math, sampling loop) breaks the hash. m3 stays
    the fake-plumbing dual; with m4/m6 (images) and m7 (audio), every
    modality now decodes real bytes in strict mode."""
    from .llm.multimodal import frame_stats

    return frame_stats(
        _y4m_fixture(spark, sf_dir),
        every_ms=_M8_EVERY_MS, max_frames=_M8_MAX_FRAMES,
        codec="y4m_stdlib",
    )


def _searchable_admission_oracle() -> str:
    """x34 = the admission chain (x28's own `_admission_ctes`,
    verbatim) feeding retrieval: the post-stream BM25 search corpus is
    corpus ∪ epoch-1 admissions ∪ epoch-2 admissions, scored by n5's
    own `_bm25_ctes` generator over that union — ingest and search
    pinned to each other's standalone oracles in one statement."""
    return (
        "WITH " + _admission_ctes().strip()
        + f""",
    scorpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, text FROM adm1
      UNION ALL
      SELECT doc_id, text FROM adm2),{_bm25_ctes(src="scorpus").rstrip()}
    SELECT doc_id, score, rank FROM bm25r
    """
    )


@register("x34_searchable_admission", _searchable_admission_oracle())
def q_x34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admitted docs are IMMEDIATELY SEARCHABLE: the x28 admission
    stream runs with ``search_index_path`` — each epoch's admissions
    also roll a persisted BM25 index forward (between the output write
    and the dedup extend, same epoch tag in its own manifest, so
    exactly-once survives the second store; crash points pinned in
    tests/test_streaming_admission.py). The returned result is a REAL
    bm25_search_index over the post-stream index; the oracle replays
    admission + scoring from the two generators' standalone chains.
    This is the production ingest-feeds-retrieval shape: a doc
    admitted at epoch N is findable at epoch N, not after a nightly
    rebuild."""
    import os
    import shutil

    from .llm.dedup_index import minhash_build_index
    from .llm.search import bm25_build_index, bm25_search_index
    from .streaming.admission import start_index_admission

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", "text"
    )
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    e1 = docs.where(F.col("doc_id") % 4 == 1).unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    e2 = docs.where(F.col("doc_id") % 4 == 3).unionByName(
        docs.where(F.col("doc_id") % 20 == 1).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    root = _proc_tmp_root("x34", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    idx = os.path.join(root, "idx")
    sidx = os.path.join(root, "sidx")
    out = os.path.join(root, "out")
    src = os.path.join(root, "incoming")
    e1.coalesce(1).write.parquet(src + "/batch=0")
    e2.coalesce(1).write.parquet(src + "/batch=1")
    now = os.path.getmtime(src + "/batch=0")
    for i in (0, 1):
        for f in os.listdir(f"{src}/batch={i}"):
            os.utime(f"{src}/batch={i}/{f}", (now + 10 * i, now + 10 * i))
    minhash_build_index(
        corpus, idx, n=_JACCARD_N, bands=_LSH_BANDS,
        rows_per_band=_LSH_ROWS,
    )
    bm25_build_index(corpus, sidx)
    q = start_index_admission(
        spark, src + "/batch=*", e1.schema, idx, out,
        checkpoint=os.path.join(root, "ckpt"),
        threshold=_LSH_P / _LSH_Q, max_files_per_trigger=1,
        search_index_path=sidx,
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "x34 availableNow drain did not finish within 600s"
        )
    return bm25_search_index(spark, sidx, _BM25_QUERY, k=_BM25_K)


# ===========================================================================
# Round-13 rows: count-min frequency sketch
# ===========================================================================

_CMS_D, _CMS_W = 4, 12
_CMS_PROBE_DOCS = 20


def _cms_oracle(depth: int = _CMS_D, width_bits: int = _CMS_W,
                seed: str = "cms", group: "str | None" = None) -> str:
    """SQL replay of the count-min pipeline (llm/sketch.py): the
    md5-derived 32-bit halves, Kirsch-Mitzenmacher bucket choice
    (h1 + i*h2) % w per row, exact BIGINT counters, MIN-of-rows
    estimate with missing counters as 0. The oracle sketches the
    corpus in ONE pass; the Spark query merges two half-corpus
    sketches (counter-wise ADD), so the hash match also pins the
    cms(A) + cms(B) == cms(A ∪ B) merge identity — the x20
    technique applied to the frequency dual. ONE generator for the
    global (x35) and grouped (x36) rows — with ``group`` every stage
    keys per group (independent counter matrices, the x23/x24
    grouped-dual convention; the fixture's group column is non-NULL,
    and the engine's null-safe group join is pytest-pinned)."""
    w = 1 << width_bits
    khash = f"md5('{seed}' || '|' || coalesce(token, chr(1)))"
    g = f"{group}, " if group else ""
    on_g = f"AND c.{group} = p.{group} " if group else ""
    xon_g = f"AND x.{group} IS NOT DISTINCT FROM e.{group} " if group else ""
    ge = f"e.{group}, " if group else ""
    return f"""
    WITH {_WORDS_SQL.strip()},
    tok AS (SELECT {('s.' + group + ', ') if group else ''}d.doc_id,
                   unnest(d.w) AS token
            FROM words d{f'''
            JOIN documents s ON s.doc_id = d.doc_id''' if group else ''}),
    bh AS (
      SELECT {g}CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) AS h1,
             CAST(('0x' || substr(hx, 9, 8)) AS BIGINT) AS h2
      FROM (SELECT {g}{khash} AS hx FROM tok)),
    ii AS (SELECT unnest(generate_series(0, {depth - 1})) AS i),
    counters AS (
      SELECT {g}ii.i AS row, (h1 + ii.i * h2) % {w} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bh, ii GROUP BY {'1, 2, 3' if group else '1, 2'}),
    probe AS (
      SELECT DISTINCT {g}token FROM tok
      WHERE doc_id < {_CMS_PROBE_DOCS}),
    ph AS (
      SELECT {g}token,
             CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) AS h1,
             CAST(('0x' || substr(hx, 9, 8)) AS BIGINT) AS h2
      FROM (SELECT {g}token, {khash} AS hx FROM probe)),
    est AS (
      SELECT {'p.' + group + ', ' if group else ''}p.token,
             MIN(CAST(coalesce(c.cnt, 0) AS BIGINT)) AS est
      FROM ph p CROSS JOIN ii
      LEFT JOIN counters c
        ON c.row = ii.i AND c.bucket = (p.h1 + ii.i * p.h2) % {w}
        {on_g}
      GROUP BY {'1, 2' if group else 'p.token'}),
    exact AS (
      SELECT {g}token, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM tok GROUP BY {'1, 2' if group else '1'})
    SELECT {ge}e.token, e.est, x.exact_n
    FROM est e JOIN exact x ON x.token = e.token {xon_g}
    """


@register("x35_count_min_frequency", _cms_oracle())
def q_x35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable count-min frequency sketch: the Spark
    side builds per-half-corpus token sketches (even/odd doc_ids) and
    MERGES them (counter-wise add) before point-querying a probe
    vocabulary; the oracle sketches in one pass — the hash match
    proves the merge identity, exact_n sits alongside so the
    one-sided overestimate (est >= exact always) can be read off.

    100 TB posture: the exact token count (x12) shuffles every
    distinct key; this sketch is one map-side-combinable aggregation
    bounded at depth * 2^width_bits rows regardless of vocabulary,
    per-shard sketches roll up lossless-ly without re-reading the
    data, and the estimate join BROADCASTS the constant-size
    counters. (The exact_n column here is the fixture's ground truth
    for the catalog gate, not part of the production plan.)"""
    from .llm import sketch as SK
    from .llm.text import _words

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "doc_id", "text"
    )
    tok = docs.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("token")
    )
    halves = [
        SK.count_min_sketch(
            tok.where(F.col("doc_id") % 2 == p), ["token"],
            depth=_CMS_D, width_bits=_CMS_W,
        )
        for p in (0, 1)
    ]
    cms = SK.merge_cms(*halves)
    probe = tok.where(F.col("doc_id") < _CMS_PROBE_DOCS).select("token")
    est = SK.cms_estimate(
        cms, probe, ["token"], depth=_CMS_D, width_bits=_CMS_W
    )
    exact = tok.groupBy("token").agg(F.count("*").alias("exact_n"))
    return est.join(exact, "token").select("token", "est", "exact_n")


@register("x36_grouped_count_min", _cms_oracle(group="source"))
def q_x36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP count-min sketches: independent counter matrices per
    source from ONE grouped pass (the x23/x24 grouped-dual
    convention applied to the frequency sketch) — "how often do these
    tokens appear PER DOMAIN" without a per-domain job or an exact
    per-domain vocabulary shuffle. Spark merges the doc_id-parity
    halves group-wise before estimating; the oracle sketches once —
    the grouped merge identity rides the hash match; exact per-group
    counts sit alongside."""
    from .llm import sketch as SK
    from .llm.text import _words

    docs = read_parquet(spark, _pq(sf_dir, "documents")).select(
        "source", "doc_id", "text"
    )
    tok = docs.select(
        "source", "doc_id",
        F.explode(_words(F.col("text"))).alias("token"),
    )
    halves = [
        SK.count_min_sketch(
            tok.where(F.col("doc_id") % 2 == p), ["token"],
            depth=_CMS_D, width_bits=_CMS_W, group_cols=["source"],
        )
        for p in (0, 1)
    ]
    cms = SK.merge_cms(*halves, group_cols=["source"])
    probe = tok.where(F.col("doc_id") < _CMS_PROBE_DOCS).select(
        "source", "token"
    )
    est = SK.cms_estimate(
        cms, probe, ["token"], depth=_CMS_D, width_bits=_CMS_W,
        group_cols=["source"],
    )
    exact = tok.groupBy("source", "token").agg(
        F.count("*").alias("exact_n")
    )
    return est.join(exact, ["source", "token"]).select(
        "source", "token", "est", "exact_n"
    )
