"""Similarity search over embedding columns (array<float>).

Two paths:
  - brute_force_topk: exact cosine top-k. The QUERY side broadcasts (queries
    are the small side by construction); the corpus streams partition-local,
    so at 100 TB this is a map-only pass over the corpus followed by one
    per-query top-k shuffle. Dot products run JVM-side via zip_with +
    aggregate — no Python.
  - lsh_bucketed_topk: signed-random-projection LSH — corpus and queries
    hash to sign-bit buckets; candidates are bucket-mates only. Recall is
    tunable via (planes, tables); the plane vectors are deterministic
    (md5-seeded) so runs are reproducible.

Ranking determinism: similarity is rounded to 6 decimals and ties break on
neighbor id, so results are stable across partitionings and engines (the
DuckDB oracle reproduces the exact ranking).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import _store as ST


def _dot(a, b):
    """Dot product of two array<float> columns as double, via the
    higher-order aggregate (single array pass; left-to-right fold — same
    summation order as DuckDB's list_sum, so oracles match bit-for-bit).
    Measured: this beats a 64-term unrolled element_at expression ~2-5×
    at sf0.1, both for pair scoring and SRP plane hashing."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    """L2 norm floored at 1e-150 — the scoring-side mirror of
    ivf_assignments_arrow's 1e-300 normalization guard: an all-zero
    vector scores cosine 0 (dot is exactly 0, denominator stays
    positive) instead of NaN, and both floors round to the SAME 0 the
    SQL oracles' greatest(sqrt(...), 1e-150) produces. 1e-150 (not
    1e-300) because this floor gets MULTIPLIED by the other side's
    norm in _sim/cosine — 1e-300·1e-300 underflows to 0.0 and would
    reintroduce the 0/0 NaN for a both-zero pair. For any nonzero
    vector the floor is a no-op (the smallest positive float32
    component is ~1e-45, so any nonzero vector's norm is >= ~1e-45
    >> 1e-150), so every existing oracle hash is unchanged."""
    return F.greatest(F.sqrt(_dot(a, a)), F.lit(1e-150))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _with_norm(df: DataFrame, vec_alias: str, norm_alias: str) -> DataFrame:
    """Append the vector's L2 norm as a column. Every pair-scoring path
    here computes norms ONCE PER VECTOR before the join instead of twice
    per pair inside `cosine` — the norm fold is the same expression
    either way (bit-identical values, oracles unaffected), but a vector
    participating in p pairs pays for 1 norm instead of p."""
    return df.withColumn(norm_alias, _norm(F.col(vec_alias)))


def _sim(qv, cv, nq, nc, round_digits: int):
    """round(dot/(|q||c|)) with precomputed norm columns."""
    return F.round(_dot(qv, cv) / (nq * nc), round_digits)


#: q-side salt fanout for cogroup_pair_dots: bounds a hot group's
#: task to |q ∩ key|/K + the (build-policy-bounded) stored list, at the
#: price of replicating the c side K ways. Scale-neutral: the value
#: bounds PER-TASK state, not throughput, so the local default is also
#: the cluster default.
_PAIR_SPLITS = 8


def cogroup_pair_dots(
    q: DataFrame,
    c: DataFrame,
    key: str = "cid",
    n_splits: int = _PAIR_SPLITS,
) -> DataFrame:
    """(id_a, id_b, d, nq, nc) for EVERY (q, c) pair sharing `key`:
    the exact-cosine building blocks, computed in per-group numpy
    matrices instead of a per-pair Column fold.

    q columns: (key, id_a, qv); c columns: (key, id_b, cv). The caller
    applies round(d / (nq * nc), digits) and its own filters — rounding
    stays a Spark expression so its HALF_UP semantics are untouched.

    Bit-identical to `_with_norm` + `_dot` by construction: the dot is
    accumulated element-index by element-index (acc = acc + x_j * y_j,
    a float64 vectorized loop over j) — the same left-to-right fold
    order as the Column aggregate and DuckDB's list_sum — and the norm
    is max(sqrt(same fold), 1e-150). Verified zero-mismatch against
    the Column path on the d18 fixture's 301,775 pairs and pinned by
    test_cogroup_pair_dots_bit_identical.

    Why this shape (guide §8: move heavy bytes once): the equi-join
    formulation materializes both dim-sized vectors PER PAIR — a
    vector in p pairs crosses the scoring operator p times (~0.9s of
    Arrow traffic alone at d18's 300k pairs), and the interpreted HOF
    fold costs ~70ns/element on top. Here each vector crosses the
    Python boundary once per (key, salt) group and the pairwise scores
    come from vectorized outer products; only the 5-column pair rows
    flow back. The q side is salted `n_splits` ways (deterministic
    pmod(xxhash64(id_a))) so a hot key's task holds |q∩key|/K q-rows
    against one c list (c lists are bounded by the stores' build
    policies / semantic_dedup's target_cluster_size); the c side is
    replicated K ways — the salting trade from guide §2.5.

    Requires fixed-dimension vectors within each group (every store
    and catalog corpus guarantees this); a ragged group raises loudly
    instead of the join path's silent null-sim drop."""
    kq = q.schema[key].dataType
    kc = c.schema[key].dataType
    if kq != kc:
        # cogroup aligns groups by EXACT key value+type; an int/long
        # mismatch silently mis-aligns groups (measured: 104k of 302k
        # pairs produced) — normalize integral keys to long
        q = q.withColumn(key, F.col(key).cast("long"))
        c = c.withColumn(key, F.col(key).cast("long"))
    ida_t = q.schema["id_a"].dataType.simpleString()
    idb_t = c.schema["id_b"].dataType.simpleString()
    out_schema = (
        f"id_a {ida_t}, id_b {idb_t}, d double, nq double, nc double"
    )
    qs = q.select(
        key, "id_a", "qv",
        F.pmod(F.xxhash64("id_a"), F.lit(n_splits)).cast("int").alias("__qs"),
    )
    cs = c.select(
        key, "id_b", "cv",
        F.explode(
            F.array(*[F.lit(i) for i in range(n_splits)])
        ).alias("__qs"),
    )

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(
                {
                    "id_a": left["id_a"].iloc[:0],
                    "id_b": right["id_b"].iloc[:0],
                    "d": pd.Series(dtype="float64"),
                    "nq": pd.Series(dtype="float64"),
                    "nc": pd.Series(dtype="float64"),
                }
            )
        Q = np.stack(left["qv"].values).astype(np.float64, copy=False)
        C = np.stack(right["cv"].values).astype(np.float64, copy=False)
        n_, m_ = len(Q), len(C)
        acc = np.zeros((n_, m_))
        qn = np.zeros(n_)
        cn = np.zeros(m_)
        for j in range(Q.shape[1]):  # left-to-right fold, vectorized
            acc = acc + np.multiply.outer(Q[:, j], C[:, j])
            qn = qn + Q[:, j] * Q[:, j]
            cn = cn + C[:, j] * C[:, j]
        qn = np.maximum(np.sqrt(qn), 1e-150)
        cn = np.maximum(np.sqrt(cn), 1e-150)
        return pd.DataFrame(
            {
                "id_a": np.repeat(left["id_a"].values, m_),
                "id_b": np.tile(right["id_b"].values, n_),
                "d": acc.ravel(),
                "nq": np.repeat(qn, m_),
                "nc": np.tile(cn, n_),
            }
        )

    return (
        qs.groupBy(key, "__qs")
        .cogroup(cs.groupBy(key, "__qs"))
        .applyInPandas(score, out_schema)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query.

    Output: (query_id, neighbor_id, rank, sim) — sim rounded for
    determinism; self-matches excluded."""
    q = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        "qv", "nq",
    )
    c = _with_norm(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        "cv", "nc",
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            _sim(F.col("qv"), F.col("cv"), F.col("nq"), F.col("nc"),
                 round_digits),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def embedding_cosine_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    dim: int | None = None,
    planes: int | None = None,
    tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, sim) with
    rounded cosine >= threshold.

    `planes` is REQUIRED — there is no silent default, because the two paths
    differ by orders of magnitude at scale:
      planes>0 → SRP-bucket prefilter (needs dim): the 100 TB path, where
        candidates are bucket-mates in any of `tables` hash tables and the
        exact cosine filter runs only on candidates.
      planes=0 → exact all-pairs crossJoin — an explicit opt-in for small
        corpora (~10^5 rows max); a cartesian detonation beyond that."""
    if planes is None:
        raise ValueError(
            "embedding_cosine_pairs requires planes: planes>0 for the "
            "SRP-prefiltered scale path (recommended), or planes=0 to "
            "explicitly opt in to exact all-pairs on a small corpus"
        )
    a = _with_norm(
        corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")),
        "va", "na",
    )
    b = _with_norm(
        corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")),
        "vb", "nb",
    )
    if planes > 0:
        if dim is None:
            raise ValueError("SRP prefilter requires dim")
        bks = srp_buckets_arrow(dim, planes, tables)
        # bucket join and multi-table dedupe carry ONLY the ids (a pair may
        # collide in several tables); the dim-sized vectors join back in
        # once per surviving candidate — at dim=64 float that's ~512B/row
        # kept out of both the bucket-join and the distinct shuffles
        # ONE Arrow hashing pass (r14): both self-join legs are the
        # same (id, tbl, bk) projection, but Spark shares no work
        # across join sides — uncached, the corpus-sized SRP quantizer
        # ran twice per query (measured: the candidate stage is ~85%
        # of d6's wall, about half of it the duplicate hash pass)
        from .dedup import _scope_cache

        hs = _scope_cache(
            corpus.select(
                F.col(id_col).alias("__hid"),
                F.posexplode(bks(F.col(vec_col))).alias("tbl", "bk"),
            )
        )
        ha = hs.withColumnsRenamed({"__hid": "id_a"})
        hb = hs.withColumnsRenamed({"__hid": "id_b"})
        cand = (
            ha.join(hb, ["tbl", "bk"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .join(a, "id_a")
            .join(b, "id_b")
        )
    else:
        cand = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return (
        cand.withColumn(
            "sim",
            _sim(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"),
                 round_digits),
        )
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _srp_planes(dim: int, planes: int, seed: str = "srp") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: each component is a
    md5-derived uniform in [-1, 1). Driver-side constants — tiny."""
    out = []
    for p in range(planes):
        vec = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).digest()
            (u,) = struct.unpack("<I", h[:4])
            vec.append(u / 2**31 - 1.0)
        out.append(vec)
    return out


def srp_bucket(vec_col, dim: int, planes: int = 8, seed: str = "srp"):
    """Sign-bit bucket id of a vector under `planes` fixed hyperplanes.

    Column-math formulation — the readable spec the SQL oracles mirror.
    The hot path uses srp_buckets_arrow below: Catalyst evaluates
    higher-order functions interpreted (no codegen), so this costs ~1ms
    per row at planes=8; the Arrow batch is ~1000x faster and
    sign-identical away from the |dot| ~ 1e-12 knife edge (asserted equal
    on the fixture corpus in tests)."""
    plane_vs = _srp_planes(dim, planes, seed)
    bucket = F.lit(0).cast("long")
    for i, pv in enumerate(plane_vs):
        arr = F.array(*[F.lit(x) for x in pv])
        bit = (_dot(vec_col, arr) > 0).cast("long")
        bucket = bucket + bit * F.lit(2**i).cast("long")
    return bucket


def srp_buckets_arrow(dim: int, planes: int, tables: int):
    """Vectorized SRP hashing: one pandas UDF returning the array of
    per-table bucket ids for a vector column.

    All tables*planes hyperplane dot products compute as ONE numpy matmul
    per Arrow batch — dense linear algebra is the one place the built-in
    Column algebra genuinely loses (interpreted HOF fold), and exactly
    what Arrow-batched numpy is for. ~10^4 rows/ms/core at dim=64."""
    from pyspark.sql.functions import pandas_udf

    mats = np.array(
        [_srp_planes(dim, planes, f"srp{t}") for t in range(tables)],
        dtype=np.float64,
    )  # (tables, planes, dim)
    W = mats.reshape(tables * planes, dim).T  # (dim, tables*planes)
    weights = 2 ** np.arange(planes, dtype=np.int64)

    @pandas_udf("array<long>")
    def buckets(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(s.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (V @ W > 0).reshape(len(s), tables, planes)
        out = bits.astype(np.int64) @ weights  # (n, tables)
        return pd.Series(list(out))

    return buckets


def _round_half_away(a: "np.ndarray", digits: int = 6) -> "np.ndarray":
    """Round half away from zero — matches Spark's F.round and DuckDB's
    round() (numpy's default is banker's rounding, which would disagree
    with the SQL oracle exactly on .5 boundaries)."""
    scale = 10.0 ** digits
    return np.sign(a) * np.floor(np.abs(a) * scale + 0.5) / scale


def _round_away_col(col, digits: int):
    """Column-side round-half-away-from-zero on the BINARY double —
    bit-matches DuckDB's round(), numpy's _round_half_away, and
    Python's float arithmetic. Spark's F.round is NOT that function:
    it rounds the value's SHORTEST DECIMAL REPRESENTATION
    (BigDecimal.valueOf == Double.toString) with HALF_UP, so the two
    disagree exactly on values whose shortest repr IS a .5 boundary
    while the binary value sits an ulp below — e.g. 3.029388/24:
    F.round → 0.126225, DuckDB/numpy/Python → 0.126224 (found when
    n11's Lloyd mean landed there; every other engine path already
    rounds binary, so the Lloyd means now do too). floor(|x|·10^d +
    0.5) is exact for |x|·10^d < 2^52 — far above any mean this
    package computes."""
    scale = F.lit(float(10 ** digits))
    mag = F.floor(F.abs(col) * scale + F.lit(0.5)).cast("double") / scale
    return F.when(col < 0, -mag).otherwise(mag)


def ivf_assignments_arrow(centroids: "list[tuple[int, list[float]]]",
                          n_best: int = 1, digits: int = 6):
    """Vectorized IVF coarse quantizer: a pandas UDF mapping a vector
    column to its n_best nearest centroid ids (cosine, rounded to
    `digits`, ties to the smaller centroid id — the ordering the SQL
    oracle reproduces). `centroids` is the driver-side
    [(centroid_id, vector), ...] list — tiny (the centroid table IS the
    coarse index)."""
    from pyspark.sql.functions import pandas_udf

    cids = np.array([c[0] for c in centroids], dtype=np.int64)
    C = np.stack([np.asarray(c[1], dtype=np.float64) for c in centroids])
    # the norm floor mirrors the vector-side guard below: an all-zero
    # centroid scores 0 against everything instead of poisoning the
    # whole sims matrix with NaN (residual-PQ inits filter zero
    # residuals out, but a guard beats a latent NaN)
    Cn = C / np.maximum(
        np.linalg.norm(C, axis=1, keepdims=True), 1e-300
    )

    @pandas_udf("array<long>")
    def assign(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(s.to_numpy()).astype(np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        sims = _round_half_away(Vn @ Cn.T, digits)
        # sort by (-sim, centroid_id): centroid ids are ascending in C, so
        # a stable argsort on -sims gives the smaller id on ties
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_best]
        return pd.Series([cids[row].tolist() for row in order])

    return assign


def l2_assignments_arrow(centroids: "list[tuple[int, list[float]]]",
                         n_best: int = 1, digits: int = 6):
    """EUCLIDEAN variant of ivf_assignments_arrow — the assignment
    residual-PQ codebooks need (a residual's direction is noise; its
    position is the signal, so spherical assignment wastes the code
    budget). argmin ||v − w||² computed as argmax of
    round(2·v·w − |w|², digits) — the |v|² term is constant per vector
    and drops out — ties to the smaller centroid id; the rounded-score
    + tiebreak contract is the same one the SQL oracles replay
    (`2*dot − |w|²` folds, round, ORDER BY DESC, cid). Zero vectors
    and zero codewords are well-defined here (finite scores, no
    normalization), which is why the residual path can encode the
    exactly-zero residuals of coarse-centroid rows."""
    from pyspark.sql.functions import pandas_udf

    cids = np.array([c[0] for c in centroids], dtype=np.int64)
    C = np.stack([np.asarray(c[1], dtype=np.float64) for c in centroids])
    w2 = (C * C).sum(axis=1)

    @pandas_udf("array<long>")
    def assign(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(s.to_numpy()).astype(np.float64)
        sims = _round_half_away(2.0 * (V @ C.T) - w2, digits)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_best]
        return pd.Series([cids[row].tolist() for row in order])

    return assign


def _hash_order_sample(
    corpus: DataFrame, n: int, id_col: str, vec_col: str
) -> "list[tuple[int, list[float]]]":
    """The deterministic centroid init every IVF variant shares: the n
    rows with the smallest md5(id) — a hash-order sample, uniform,
    partition-invariant, and exactly `ORDER BY md5(CAST(id AS STRING))
    LIMIT n` in the SQL oracles. ONE definition on purpose: this is a
    load-bearing determinism contract; copies could drift from each
    other and from the generated oracles. Driver state is bounded by the
    constant n."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n)
        .collect()
    )
    centroids = sorted(
        (int(r[0]), [float(x) for x in r[1]]) for r in rows
    )
    if not centroids:
        raise ValueError("no centroids: corpus is empty")
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 256,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Approximate cosine top-k via IVF coarse quantization: every corpus
    vector is assigned to its nearest centroid (the inverted lists); a
    query exactly scores ONLY the lists of its n_probe nearest centroids
    — ~n_probe/n_centroids of the corpus instead of all of it.

    Centroids are a DETERMINISTIC PSEUDO-RANDOM corpus sample: the
    n_centroids rows with the smallest md5(id) — a hash-order sample, so
    (a) the driver-side collect is bounded by the CONSTANT n_centroids
    regardless of corpus size, (b) the sample is uniform (hash order is
    uncorrelated with insertion/id order), and (c) every step replays in
    SQL (ORDER BY md5(id) LIMIT n). Swap in Lloyd-refined centroids
    (`ivf_topk_kmeans` / `lloyd_centroids`) for data-adaptive lists —
    the assignment/probe/rerank plumbing is unchanged.

    At scale: assignment is a write-side transform (store the corpus
    partitioned by centroid id); a query then partition-prunes straight
    to its probed lists."""
    centroids = _hash_order_sample(corpus, n_centroids, id_col, vec_col)
    return _ivf_search(
        corpus, queries, centroids, k, n_probe, id_col, vec_col, round_digits
    )


def _ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """Shared IVF assignment/probe/rerank plumbing: corpus rows join their
    single nearest centroid (the inverted list), queries explode to their
    n_probe nearest lists, and exact rerank runs only inside probed
    lists. The centroid list is driver-side by construction (it IS the
    coarse index) — a few KB broadcast inside the pandas UDF closures."""
    assign1 = ivf_assignments_arrow(centroids, n_best=1, digits=round_digits)
    probe = ivf_assignments_arrow(centroids, n_best=n_probe,
                                  digits=round_digits)
    c = _with_norm(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            assign1(F.col(vec_col))[0].alias("cid"),
        ),
        "cv", "nc",
    )
    q = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.explode(probe(F.col(vec_col))).alias("cid"),
        ),
        "qv", "nq",
    )
    sims = (
        c.join(F.broadcast(q), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            _sim(F.col("qv"), F.col("cv"), F.col("nq"), F.col("nc"),
                 round_digits),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def lloyd_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mean_digits: int = 6,
    metric: str = "cos",
) -> "list[tuple[int, list[float]]]":
    """DATA-ADAPTIVE centroids via DataFrame-native Lloyd iterations,
    engineered to be fully DETERMINISTIC — partition-invariant AND
    engine-portable, so a SQL oracle replays every step:

      - init: the `ivf_topk` hash-order sample (n_centroids smallest
        md5(id) — uniform, constant-bounded, ORDER BY + LIMIT in SQL);
        centroid labels are the sampled ids, stable across iterations;
      - assignment: nearest centroid by the rounded metric score, ties
        to the smaller centroid id (the same contract the search
        path's quantizer and the oracle's argmax use) — metric='cos'
        (default, the spherical house contract) or 'l2'
        (2·v·w − |w|² argmax; what residual-PQ codebooks need);
      - update: per-cluster elementwise mean, with every float hazard
        pinned: components round to `mean_digits` on the BINARY double
        (_round_away_col — bit-equal to DuckDB round/numpy, NOT
        F.round, whose shortest-repr HALF_UP diverges exactly on .5
        shortest-repr boundaries; see _round_away_col), cross-row sums
        ride DECIMAL (exact, ORDER-INDEPENDENT — a double sum would
        vary with partitioning), and one IEEE divide + round yields
        the mean;
      - empty clusters keep their previous centroid (LEFT JOIN+COALESCE
        in the oracle).

    Each iteration is one corpus pass: a map-side-combined groupBy on the
    centroid id producing dim DECIMAL sums, then a collect bounded by the
    CONSTANT n_centroids. At 100 TB: n_iter scans, no driver state beyond
    the centroid table itself."""
    if metric not in ("cos", "l2"):
        raise ValueError(f"metric must be 'cos' or 'l2', got {metric!r}")
    assign_arrow = (
        ivf_assignments_arrow if metric == "cos" else l2_assignments_arrow
    )
    centroids = _hash_order_sample(corpus, n_centroids, id_col, vec_col)
    dim = len(centroids[0][1])
    for _ in range(n_iter):
        assign1 = assign_arrow(centroids, n_best=1, digits=mean_digits)
        assigned = corpus.select(
            assign1(F.col(vec_col))[0].alias("__cid"),
            F.col(vec_col).alias("__v"),
        )
        # NARROW mean update: posexplode to (cid, j, x) and aggregate per
        # (cid, element-index) — the same round-to-mean_digits, DECIMAL
        # cross-row sum, IEEE divide, round chain as before, value-for-
        # value (the per-(cid,j) count equals the cluster size because
        # posexplode emits every index of every fixed-dim row). The prior
        # dim-wide formulation built 2·dim round/cast/sum Column trees
        # PER ITERATION (~2k py4j round trips, measured 4-5s of pure
        # driver-side plan construction per iteration at dim=64 — over
        # half of d11's wall); this builds ONE expression per role and
        # ships the same shuffle bytes (dim decimals per cluster per map
        # task, partial-aggregated either way).
        means_rows = (
            assigned.select(
                "__cid", F.posexplode("__v").alias("__j", "__x")
            )
            .groupBy("__cid", "__j")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum(
                    _round_away_col(F.col("__x").cast("double"),
                                    mean_digits)
                    .cast("decimal(28,10)")
                ).alias("__s"),
            )
            .select(
                "__cid", "__j",
                _round_away_col(
                    F.col("__s").cast("double") / F.col("__n"),
                    mean_digits,
                ).alias("__m"),
            )
            .collect()   # ≤ n_centroids·dim rows — constant
        )
        means: "dict[int, list[float]]" = {}
        for r in means_rows:
            means.setdefault(int(r[0]), [0.0] * dim)[int(r[1])] = float(r[2])
        centroids = [(cid, means.get(cid, vec)) for cid, vec in centroids]
    return centroids


def ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_iter: int = 2,
) -> DataFrame:
    """IVF top-k with DATA-ADAPTIVE (Lloyd/k-means) centroids; the search
    plumbing is identical to `ivf_topk`. Data-adaptive lists track the
    corpus distribution, so list sizes stay balanced where the
    static-sample quantizer can skew on clustered embeddings.

    Unlike a pyspark.ml KMeans fit (whose seeded init still depends on
    data partitioning), `lloyd_centroids` is deterministic end-to-end, so
    this variant hash-matches a generated SQL oracle exactly like the
    rest of the ANN family — and the recall bounds vs brute force hold
    on top (both pytest-pinned)."""
    centroids = lloyd_centroids(
        corpus, n_centroids, n_iter, id_col, vec_col, round_digits
    )
    return _ivf_search(
        corpus, queries, centroids, k, n_probe, id_col, vec_col, round_digits
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127, q_i =
    round(x_i/scale) ∈ [-127, 127]. 4x smaller than float32 on disk and
    over the wire — at 100 TB of embeddings that is the difference
    between one cluster and four. Deterministic pure-Column math (round
    half away from zero in both Spark and the SQL oracle), so the
    quantized table is engine-portable. Adds (scale, qvec); cosine on the
    dequantized vectors approximates the original (recall-tested)."""
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.greatest(absmax, F.lit(1e-30)) / F.lit(127.0)
    qvec = F.transform(
        v, lambda x: F.round(x.cast("double") / scale).cast("int")
    )
    return df.select(
        F.col(id_col), scale.alias("scale"), qvec.alias("qvec")
    )


def dequantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    scale_col: str = "scale",
    qvec_col: str = "qvec",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverse of quantize_embeddings: x_i ≈ q_i * scale, as
    array<float> — drop-in for every ANN/cosine operator here."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(qvec_col),
            lambda q: (q.cast("double") * F.col(scale_col)).cast("float"),
        ).alias(vec_col),
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): Jégou et al., "Product Quantization for
# Nearest Neighbor Search" (TPAMI 2011) — the design FAISS's IVF-PQ
# popularized. The vector is split into m_subspaces contiguous
# subvectors; each subspace gets its own tiny codebook; a vector is
# stored as m ONE-BYTE-ish codes (m·log2(n_codes) bits instead of
# 4·dim bytes — 64× smaller at dim=64/m=4/k=8 before even dropping the
# exact vectors). Search is ADC (asymmetric distance computation): the
# query stays exact, each subspace contributes a looked-up
# query×codeword term, and candidates are scored without ever touching
# the original vectors.
#
# This implementation is SPHERICAL PQ, on purpose: codebooks are
# trained by the package's one deterministic Lloyd (lloyd_centroids —
# cosine assignment at 6dp with id tiebreaks, DECIMAL-exact means),
# and encoding uses the same cosine assignment, so the ENTIRE pipeline
# (per-subspace init, iterations, code assignment, ADC scores) replays
# as SQL and hash-matches (catalog n7). Appropriate for the cosine
# retrieval every operator here targets; classic L2-PQ differs only in
# the assignment metric.
# --------------------------------------------------------------------------


def _pq_slices(dim: int, m_subspaces: int) -> "list[tuple[int, int]]":
    if dim % m_subspaces:
        raise ValueError(
            f"dim {dim} is not divisible by m_subspaces {m_subspaces}"
        )
    sd = dim // m_subspaces
    return [(s * sd + 1, sd) for s in range(m_subspaces)]  # (1-based, len)


def pq_train(
    corpus: DataFrame,
    dim: int,
    m_subspaces: int = 4,
    n_codes: int = 8,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    metric: str = "cos",
) -> "list[list[tuple[int, list[float]]]]":
    """Per-subspace codebooks via lloyd_centroids on the sliced corpus
    — one deterministic Lloyd contract for the whole package. Returns
    [subspace][(codeword_id, subvector)]; codeword ids are the
    hash-order-sample vec_ids (identical across subspaces — slicing
    never changes the init order). Driver state: m·n_codes rows, a
    constant. At 100 TB: m_subspaces × n_iter corpus passes, each a
    map-side-combined groupBy. `round_digits` is the Lloyd mean/assign
    precision (forwarded as mean_digits — one precision per caller,
    ADVICE r11)."""
    books = []
    for start, sd in _pq_slices(dim, m_subspaces):
        sub = corpus.select(
            id_col, F.slice(F.col(vec_col), start, sd).alias(vec_col)
        )
        books.append(
            lloyd_centroids(sub, n_centroids=n_codes, n_iter=n_iter,
                            id_col=id_col, vec_col=vec_col,
                            mean_digits=round_digits, metric=metric)
        )
    return books


def _pq_codebook_df(spark, codebooks, digits: int = 6) -> DataFrame:
    """(s, cid, cv, nsq) — one row per codeword; nsq =
    round(|cv|², digits), the den term ADC sums. Tiny (m·n_codes rows)
    and always broadcast."""
    rows = [
        (s, int(cid), [float(x) for x in cv])
        for s, book in enumerate(codebooks)
        for cid, cv in book
    ]
    df = spark.createDataFrame(rows, "s int, cid long, cv array<double>")
    return df.withColumn(
        "nsq", F.round(_dot(F.col("cv"), F.col("cv")), digits)
    )


def pq_encode(
    corpus: DataFrame,
    codebooks,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """(id, codes array<long>) — codes[s] = nearest codeword id in
    subspace s by the shared cosine assignment at `round_digits` (the
    codebook's own training contract). One projection, no shuffle."""
    m = len(codebooks)
    cols = []
    for s, (start, sd) in enumerate(_pq_slices(dim, m)):
        assign1 = ivf_assignments_arrow(codebooks[s], n_best=1,
                                        digits=round_digits)
        cols.append(assign1(F.slice(F.col(vec_col), start, sd))[0])
    return corpus.select(
        F.col(id_col).alias("id"), F.array(*cols).alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    m_subspaces: int = 4,
    n_codes: int = 8,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """ADC top-k over PQ codes: train per-subspace codebooks, encode
    the corpus to m codes per vector, then score every candidate from
    CODE LOOKUPS alone — the corpus vectors are never read again after
    encoding (the PQ promise: the working set is m bytes a vector).

    ascore ≈ cosine(q, x̂) where x̂ is the reconstruction from
    codewords: num = Σ_s round(dot(q_s, cw_s), 6) and |x̂|² =
    Σ_s round(|cw_s|², 6), both summed as DECIMAL (order-independent),
    score = round(num / (|q| · sqrt(|x̂|²)), 6), ties to the smaller
    neighbor id. Self-matches are excluded.

    Distributed shape: codes explode to m rows per vector; the den
    aggregate is one narrow N·m → N pass; the num join hits a
    BROADCAST query LUT (nq·m·n_codes rows — constants) and aggregates
    N·m·nq → N·nq, then per-query top-k. At 100 TB you bound N with an
    IVF prune first (ivf_search_index) and feed the survivors here;
    the ADC cost model (m lookups per candidate per query) is the
    whole point.

    Scale/recall tradeoffs are the caller's: n_codes=8 over sf-sized
    fixtures keeps the oracle small; production uses 256 codes
    (byte-exact) and m=dim/8. Design from the public PQ paper (Jégou
    et al. 2011); reference repo has no ANN surface at all."""
    spark = corpus.sparkSession
    codebooks = pq_train(corpus, dim, m_subspaces, n_codes, n_iter,
                         id_col, vec_col, round_digits)
    cb = F.broadcast(_pq_codebook_df(spark, codebooks, round_digits))
    codes = pq_encode(corpus, codebooks, dim, id_col, vec_col,
                      round_digits)
    ex = codes.select(
        "id", F.posexplode("codes").alias("s", "cid")
    )
    den = (
        ex.join(cb.select("s", "cid", "nsq"), ["s", "cid"])
        .groupBy("id")
        .agg(
            F.sum(F.col("nsq").cast("decimal(28,10)"))
            .cast("double").alias("den")
        )
    )
    # query LUT: one row per (query, subspace, codeword) — constants
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    lut_terms = []
    for s, (start, sd) in enumerate(_pq_slices(dim, m_subspaces)):
        lut_terms.append((s, start, sd))
    lut = (
        q.crossJoin(cb.select("s", "cid", "cv"))
        .withColumn(
            "d",
            F.round(
                _dot(
                    F.element_at(
                        F.array(*[
                            F.slice(F.col("__qv"), start, sd)
                            for _s, start, sd in lut_terms
                        ]),
                        F.col("s") + 1,
                    ),
                    F.col("cv"),
                ),
                round_digits,
            ),
        )
        .select("query_id", "__qn", "s", "cid", "d")
    )
    num = (
        ex.join(F.broadcast(lut), ["s", "cid"])
        .groupBy("query_id", "__qn", "id")
        .agg(
            F.sum(F.col("d").cast("decimal(28,10)"))
            .cast("double").alias("num")
        )
    )
    scored = (
        num.join(den, "id")
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(
                F.col("num") / (F.col("__qn") * F.sqrt(F.col("den"))),
                round_digits,
            ).alias("ascore"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ascore"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "ascore")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    m_subspaces: int = 4,
    n_codes: int = 8,
    n_iter: int = 1,
    n_centroids: int = 256,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    refine_factor: "int | None" = None,
) -> DataFrame:
    """IVF-PQ proper (the FAISS workhorse): the coarse IVF quantizer
    bounds WHICH candidates a query touches (~n_probe/n_centroids of
    the corpus, the ivf_topk hash-order contract), and PQ/ADC bounds
    WHAT each candidate costs (m code lookups, never the vector). The
    two compressions compose multiplicatively — at 100 TB the corpus
    lives as codes partitioned by centroid id, a query partition-prunes
    to its probed lists and scores them from the broadcast LUT.

    ``refine_factor`` adds the FAISS refine stage (IndexRefineFlat):
    the ADC ranking keeps refine_factor·k candidates per query, ONLY
    those join back to the original vectors, and the final top-k ranks
    by exact cosine (output column `sim`, ties to the smaller id).
    The exact scan stays shortlist-sized — refine_factor·k·|queries|
    vector reads, not candidate-many — so the quality of exact scoring
    costs a bounded join, the same two-stage contract the PQ dedup
    store's probe runs (d22). Quantization error then affects only
    WHICH candidates survive the shortlist, never their final order —
    with refine_factor covering the whole probed set the result equals
    ivf_topk's exact scoring of the same lists (pytest-pinned).

    Simplification vs FAISS, stated honestly: codebooks are GLOBAL
    (trained on raw vectors corpus-wide), not per-list residual
    codebooks — residual PQ recovers more precision per bit but its
    training couples the two quantizers; the global variant keeps
    train/encode/score each independently SQL-replayable (catalog n8
    unrolls coarse assignment + all per-subspace trainings + ADC in
    one oracle; n13 chains the refine tail onto it). ascore semantics
    and tie rules are pq_topk's."""
    if refine_factor is not None and int(refine_factor) < 1:
        raise ValueError(
            f"refine_factor must be >= 1, got {refine_factor}"
        )
    spark = corpus.sparkSession
    coarse = _hash_order_sample(corpus, n_centroids, id_col, vec_col)
    assign1 = ivf_assignments_arrow(coarse, n_best=1, digits=round_digits)
    assignp = ivf_assignments_arrow(coarse, n_best=n_probe,
                                    digits=round_digits)
    codebooks = pq_train(corpus, dim, m_subspaces, n_codes, n_iter,
                         id_col, vec_col, round_digits)
    cb = F.broadcast(_pq_codebook_df(spark, codebooks, round_digits))
    # one corpus pass: coarse list id + PQ codes per vector
    enc = corpus.select(
        F.col(id_col).alias("id"),
        assign1(F.col(vec_col))[0].alias("__list"),
        *[
            ivf_assignments_arrow(codebooks[s], n_best=1,
                                  digits=round_digits)(
                F.slice(F.col(vec_col), start, sd)
            )[0].alias(f"__c{s}")
            for s, (start, sd) in enumerate(_pq_slices(dim, m_subspaces))
        ],
    )
    ex = enc.select(
        "id", "__list",
        F.posexplode(F.array(*[
            F.col(f"__c{s}") for s in range(m_subspaces)
        ])).alias("s", "cid"),
    )
    den = (
        ex.join(cb.select("s", "cid", "nsq"), ["s", "cid"])
        .groupBy("id")
        .agg(
            F.sum(F.col("nsq").cast("decimal(28,10)"))
            .cast("double").alias("den")
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    qlists = q.select(
        "query_id",
        F.explode(assignp(F.col("__qv"))).alias("__list"),
    )
    lut = (
        q.crossJoin(cb.select("s", "cid", "cv"))
        .withColumn(
            "d",
            F.round(
                _dot(
                    F.element_at(
                        F.array(*[
                            F.slice(F.col("__qv"), start, sd)
                            for start, sd in _pq_slices(dim, m_subspaces)
                        ]),
                        F.col("s") + 1,
                    ),
                    F.col("cv"),
                ),
                round_digits,
            ),
        )
        .select("query_id", "__qn", "s", "cid", "d")
    )
    # candidates = members of the query's probed lists; ADC terms join
    # the broadcast LUT on (query, subspace, codeword)
    num = (
        ex.join(F.broadcast(qlists), "__list")
        .join(
            F.broadcast(lut),
            ["query_id", "s", "cid"],
        )
        .groupBy("query_id", "__qn", "id")
        .agg(
            F.sum(F.col("d").cast("decimal(28,10)"))
            .cast("double").alias("num")
        )
    )
    scored = (
        num.join(den, "id")
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(
                F.col("num") / (F.col("__qn") * F.sqrt(F.col("den"))),
                round_digits,
            ).alias("ascore"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ascore"), F.asc("neighbor_id")
    )
    if refine_factor is not None:
        short = (
            scored.withColumn("__ar", F.row_number().over(w))
            .where(F.col("__ar") <= int(refine_factor) * k)
            .select("query_id", "neighbor_id")
        )
        cv = _with_norm(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cv"),
            ),
            "cv", "nc",
        )
        re = (
            short.join(cv, "neighbor_id")
            .join(q.select("query_id", "__qv", "__qn"), "query_id")
            .withColumn(
                "sim",
                _sim(F.col("__qv"), F.col("cv"), F.col("__qn"),
                     F.col("nc"), round_digits),
            )
        )
        w2 = Window.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("neighbor_id")
        )
        return (
            re.withColumn("rank", F.row_number().over(w2).cast("int"))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "sim")
        )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "ascore")
    )


def ivf_pq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    m_subspaces: int = 4,
    n_codes: int = 8,
    n_iter: int = 1,
    n_centroids: int = 256,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF-PQ with RESIDUAL codebooks — the published refinement over
    ivf_pq_topk's global books (Jégou et al. 2011 §III-A; what FAISS
    IndexIVFPQ trains): subtract each vector's coarse centroid FIRST,
    then train the per-subspace codebooks on the residuals r = x − c.
    Residuals concentrate near the origin regardless of which list a
    vector landed in, so the same m·n_codes code budget spends its
    precision on the WITHIN-list variation instead of re-describing
    the centroid the coarse stage already knows — measurably higher
    recall at equal bits (recorded vs n8 in BENCH_sf1_r12).

    Residual QUANTIZATION is EUCLIDEAN (l2_assignments_arrow /
    lloyd metric='l2' — the published algorithm's metric): a
    residual's direction is noise and its position is the signal, so
    the spherical assignment the rest of the family uses would spend
    the codebook on noise directions (measured: it scores BELOW the
    global books). Search-time SCORING stays cosine, exactly the
    FAISS split between the quantizer's metric and the query metric.

    Scoring reconstructs x̂ = c + r̂ implicitly: cos(q, x̂) =
    (q·c + Σ_s q_s·rw_s) / (|q| · sqrt(|c|² + Σ_s (2·c_s·rw_s +
    |rw_s|²))) — the q·c term is one lookup per (query, probed list)
    (batch × n_probe rows), the cross terms c_s·rw_s are a
    CONSTANT-SIZE table (n_centroids · m · n_codes rows, broadcast),
    so the per-candidate cost stays m code lookups plus two scalar
    adds. Every term is 6dp-rounded and DECIMAL-summed exactly as the
    n10 oracle replays; ties to the smaller neighbor id; self
    excluded.

    Residual-specific determinism guard: the coarse centroids ARE
    corpus rows, so their residuals are EXACTLY zero — and they sort
    first in the shared hash-order init (same md5 ids that chose them
    as centroids), which would seed every codebook with the SAME zero
    vector (a degenerate all-ties init). Training therefore filters to
    rn2 > 0 (nonzero residual norm², a plain column so the oracle's
    train_where replays it verbatim) while ENCODING still covers every
    row — under L2 a zero residual legitimately assigns to the
    smallest-norm codeword, identically in both engines. This couples
    the quantizers (the codebooks are a function of the coarse
    assignment), which is exactly why the oracle chains the residual
    CTE between them."""
    coarse = _hash_order_sample(corpus, n_centroids, id_col, vec_col)
    res = _pq_residuals(corpus, coarse, id_col, vec_col, round_digits)
    codebooks = pq_train(res.where(F.col("rn2") > 0), dim, m_subspaces,
                         n_codes, n_iter, id_col="id", vec_col="rv",
                         round_digits=round_digits, metric="l2")
    enc = _pq_res_codes(res, codebooks, dim, m_subspaces, round_digits)
    return _pq_res_score(enc, coarse, codebooks, queries, dim,
                         m_subspaces, k, n_probe, id_col, vec_col,
                         round_digits)


def _pq_residuals(batch, coarse, id_col, vec_col, round_digits=6):
    """(id, cid, rv, rn2) under a FIXED coarse quantizer — the residual
    construction shared verbatim by the one-shot ivf_pq_residual_topk,
    pq_build_index(residual=True), and the residual extend (the
    _pq_rows convention: identical math on every path). rv = v − c as
    a zip_with against the broadcast centroid row; rn2 = |rv|² is the
    training-filter column (coarse centroids ARE corpus rows with
    exactly-zero residuals — ivf_pq_residual_topk's determinism
    guard)."""
    spark = batch.sparkSession
    assign1 = ivf_assignments_arrow(coarse, n_best=1, digits=round_digits)
    centdf = F.broadcast(spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in coarse],
        "cid long, ccv array<double>",
    ))
    return (
        batch.select(
            F.col(id_col).alias("id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("cid", assign1(F.col("v"))[0])
        .join(centdf, "cid")
        .select(
            "id", "cid",
            F.zip_with("v", "ccv", lambda a, b: a - b).alias("rv"),
        )
        .withColumn("rn2", _dot(F.col("rv"), F.col("rv")))
    )


def _pq_res_codes(res, codebooks, dim, m_subspaces, round_digits=6):
    """(cid, id, codes): L2-encode each residual slice under FIXED
    codebooks — a zero residual legitimately assigns to the
    smallest-norm codeword, identically in both engines."""
    return res.select(
        "cid", "id",
        F.array(*[
            l2_assignments_arrow(codebooks[s], n_best=1,
                                 digits=round_digits)(
                F.slice(F.col("rv"), start, sdl)
            )[0]
            for s, (start, sdl) in enumerate(_pq_slices(dim, m_subspaces))
        ]).alias("codes"),
    )


def _pq_res_score(enc, coarse, codebooks, queries, dim, m_subspaces,
                  k, n_probe, id_col, vec_col, round_digits,
                  qlists=None):
    """Score cos(q, c + r̂) from residual-coded rows (cid, id, codes)
    and return the per-query top-k — the scoring half shared
    term-for-term by ivf_pq_residual_topk and the persisted residual
    index's search path, so the n10 and n11 oracles pin ONE
    arithmetic. See ivf_pq_residual_topk for the decomposition: the
    q·c lookup per (query, probed list), the constant
    centroid-codeword cross table, DECIMAL-summed code terms, and the
    |c + r̂|² denominator assembled per candidate.

    `qlists` (optional): a precomputed (query_id, cid) probe relation
    built with the SAME quantizer contract (n_best=n_probe at
    round_digits over `coarse`). pq_search_index already coarse-
    assigns the queries to collect the partition-pruning cid set;
    passing that relation here skips a redundant second Arrow
    assignment pass over the queries (ADVICE r13)."""
    spark = queries.sparkSession
    centdf = F.broadcast(spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in coarse],
        "cid long, ccv array<double>",
    ))
    sd = dim // m_subspaces
    cb = _pq_codebook_df(spark, codebooks, round_digits)
    cbx = F.broadcast(cb.withColumnRenamed("cid", "code_cid"))
    ex = enc.select(
        "id", "cid", F.posexplode("codes").alias("s", "code_cid")
    )
    # centroid-codeword cross terms + codeword norms: constants
    ccd = F.broadcast(
        centdf.crossJoin(cbx.select("s", "code_cid", "cv", "nsq"))
        .select(
            "cid", "s", "code_cid", "nsq",
            F.round(
                _dot(
                    F.slice(F.col("ccv"), F.col("s") * sd + 1,
                            F.lit(sd)),
                    F.col("cv"),
                ),
                round_digits,
            ).alias("cd"),
        )
    )
    ncsq = F.broadcast(centdf.select(
        "cid",
        F.round(_dot(F.col("ccv"), F.col("ccv")),
                round_digits).alias("ncsq"),
    ))
    den = (
        ex.join(ccd, ["cid", "s", "code_cid"])
        .groupBy("id", "cid")
        .agg(
            F.sum((2.0 * F.col("cd") + F.col("nsq"))
                  .cast("decimal(28,10)"))
            .cast("double").alias("dres")
        )
        .join(ncsq, "cid")
        .select("id", "cid", (F.col("ncsq") + F.col("dres")).alias("den"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    if qlists is None:
        assignp = ivf_assignments_arrow(coarse, n_best=n_probe,
                                        digits=round_digits)
        qlists = q.select(
            "query_id", F.explode(assignp(F.col("__qv"))).alias("cid")
        )
    qc = (
        qlists.join(centdf, "cid")
        .join(q, "query_id")
        .select(
            "query_id", "cid",
            F.round(_dot(F.col("__qv"), F.col("ccv")),
                    round_digits).alias("qc"),
        )
    )
    lut = q.crossJoin(cbx.select("s", "code_cid", "cv")).select(
        "query_id", "s", "code_cid",
        F.round(
            _dot(
                F.slice(F.col("__qv"), F.col("s") * sd + 1, F.lit(sd)),
                F.col("cv"),
            ),
            round_digits,
        ).alias("d"),
    )
    num = (
        ex.join(F.broadcast(qlists), "cid")
        .join(F.broadcast(lut), ["query_id", "s", "code_cid"])
        .groupBy("query_id", "id", "cid")
        .agg(
            F.sum(F.col("d").cast("decimal(28,10)"))
            .cast("double").alias("numr")
        )
    )
    scored = (
        num.join(F.broadcast(qc), ["query_id", "cid"])
        .join(den, ["id", "cid"])
        .join(q.select("query_id", "__qn"), "query_id")
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(
                (F.col("qc") + F.col("numr"))
                / (F.col("__qn")
                   * F.sqrt(F.greatest(F.col("den"), F.lit(1e-30)))),
                round_digits,
            ).alias("ascore"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ascore"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "ascore")
    )


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    n_centroids: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = False,
    target_list_size: int = 1024,
) -> "list[tuple[int, list[float]]]":
    """WRITE-SIDE IVF index: assign every corpus vector to its nearest
    centroid and store the corpus PHYSICALLY PARTITIONED by centroid id
    (plus the centroid table itself under <path>/_centroids). This is the
    shape the search path wants at 100 TB: probing n_probe of n_centroids
    lists becomes parquet PARTITION PRUNING — the scan never touches the
    other lists' files, so query cost is ~n_probe/n_centroids of the
    corpus in I/O, not just in compute. Returns the centroid list.

    quantize=True stores int8 codes + per-vector scale instead of the
    float vectors (~4x smaller index; assignment still computes on the
    full-precision input, search reranks on dequantized codes —
    recall-tested).

    Roll the index forward with ivf_extend_index (FAISS-add semantics:
    the quantizer is fixed at build time; rebuild when the corpus
    distribution drifts). `_meta` pins (n_centroids, quantize, layout,
    meta_id) so search/extend refuse a mismatched tree.

    n_centroids=None (the default) AUTO-SIZES the coarse quantizer
    from one corpus count as max(1, ceil(N / target_list_size)) — the
    scale policy (per-list size constant as the corpus grows) applied
    as the default instead of a docstring; pass an explicit int to pin
    (oracle fixtures do). The build COMMITS atomically via the
    segment-manifest protocol (_store.py): readers never see a
    half-written segment. A crashed REbuild is weaker — _meta and
    _centroids are in-place sidecars, so dying between their overwrite
    and commit_build leaves the previous index DETECTABLY torn (the
    meta_id cross-check raises) rather than readable; re-run to heal."""
    import math

    if n_centroids is None:
        if target_list_size < 1:
            raise ValueError(
                f"target_list_size must be >= 1, got {target_list_size}"
            )
        n_centroids = max(1, math.ceil(corpus.count() / target_list_size))
    centroids = _hash_order_sample(corpus, n_centroids, id_col, vec_col)
    rows = _ivf_rows(corpus, centroids, id_col, vec_col, quantize)
    seg, meta_id = ST.new_segment_id(), ST.new_meta_id()
    ST.write_segment(rows, path, "", seg, "cid")
    spark = corpus.sparkSession
    ST.write_centroids(spark, path, centroids, meta_id)
    ST.commit_build(
        spark, path, seg, meta_id,
        (len(centroids), bool(quantize), id_col, _IVF_LAYOUT, meta_id),
        "n_centroids int, quantize boolean, id_col string, "
        "layout string, meta_id string",
    )
    return centroids


#: ANN store layout version (vectors under seg=<id> dirs at the root,
#: partitioned by cid; _centroids + _meta + _segments manifests
#: alongside — v2 = atomic segment-manifest commits; v3 = meta_id
#: stamped into _centroids rows so a torn/mid-probe-swapped quantizer
#: fails loudly, _store.py); search/extend refuse other trees
_IVF_LAYOUT = "ivf-cid-seg-v3"


def _ivf_rows(
    corpus: DataFrame,
    centroids,
    id_col: str,
    vec_col: str,
    quantize: bool,
) -> DataFrame:
    """One segment of the ANN store: vectors (or int8 codes) with their
    top-1 list assignment — identical construction for build and
    extend, on purpose."""
    assign1 = ivf_assignments_arrow(centroids, n_best=1)
    rows = corpus.withColumn("cid", assign1(F.col(vec_col))[0])
    if quantize:
        q = quantize_embeddings(rows, id_col=id_col, vec_col=vec_col)
        rows = (
            rows.select(id_col, "cid")
            .join(q, id_col)
            .select(
                id_col, "scale",
                F.transform("qvec", lambda x: x.cast("tinyint")).alias("qvec"),
                "cid",
            )
        )
    return rows


def ivf_extend_index(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tag: "str | None" = None,
) -> bool:
    """Roll the ANN index forward: assign the batch under the index's
    OWN stored centroids and quantization mode (read back — callers
    cannot desynchronize either) and commit a new segment. FAISS-add
    semantics: the coarse quantizer is never retrained; an exhaustive
    search (n_probe = n_centroids) after an extend equals brute force
    over the union (pytest-pinned), and pruning behaves as if the rows
    were present at build time. ATOMIC via the segment-manifest commit
    (_store.py); `tag` gives retry idempotence (returns False if
    already committed)."""
    spark = batch.sparkSession
    meta, _, tags, _ = ST.committed_state(
        spark, path, (_IVF_LAYOUT,), kind="ivf index"
    )
    if tag is not None and tag in tags:
        return False
    centroids = ST.read_centroids(
        spark, path, meta.meta_id, kind="ivf index"
    )
    rows = _ivf_rows(
        batch, centroids, id_col, vec_col, bool(meta.quantize)
    )
    seg = ST.new_segment_id()
    ST.write_segment(rows, path, "", seg, "cid")
    return ST.commit_extend(path, seg, meta.meta_id, tag=tag)


def ivf_search_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    as_of_version: "int | None" = None,
) -> DataFrame:
    """Query a write-side IVF index: load the (tiny) centroid table, find
    each query's n_probe nearest lists, and scan ONLY those partitions of
    the indexed corpus — `cid IN (...)` prunes at the file listing, so
    I/O scales with the probed fraction. Rerank is the exact cosine.
    Tombstoned ids (_store.delete_from_index) never appear as
    neighbors."""
    meta, segs, _, man = ST.committed_state(
        spark, path, (_IVF_LAYOUT,), kind="ivf index",
        version=as_of_version,
    )
    centroids = ST.read_centroids(
        spark, path, meta.meta_id, kind="ivf index"
    )
    probe = ivf_assignments_arrow(centroids, n_best=n_probe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe(F.col(vec_col))).alias("cid"),
    )
    probed = sorted({
        int(r[0]) for r in q.select("cid").distinct().collect()
    })
    # partition filter: only committed segments' probed lists are ever
    # listed/read (crashed extends' orphans are invisible)
    stored = ST.apply_deletes(
        ST.read_committed(spark, path, "", segs),
        ST.read_deletes(spark, path, man), id_col,
    ).where(F.col("cid").isin(probed))
    # branch on the COMMITTED meta.quantize, never on schema sniffing:
    # orphan segments from a crashed opposite-mode rebuild can flip
    # Spark's parquet schema inference (ADVICE r9) — meta is the truth
    if bool(meta.quantize):  # quantized index: dequantize at rerank
        stored = stored.select(
            "cid",
            F.col(id_col),
            F.transform(
                "qvec",
                lambda x: (x.cast("double") * F.col("scale")).cast("float"),
            ).alias(vec_col),
        )
    c = _with_norm(
        stored.select(
            "cid", F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
        ),
        "cv", "nc",
    )
    qn = _with_norm(q, "qv", "nq")
    sims = (
        c.join(F.broadcast(qn), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            _sim(F.col("qv"), F.col("cv"), F.col("nq"), F.col("nc"),
                 round_digits),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


#: PQ store layout version (code rows under seg=<id> dirs at the root,
#: partitioned by coarse cid; _centroids + _codebooks + _meta +
#: _segments manifests alongside). Shares the whole segment-manifest
#: protocol: atomic commits, tagged idempotent extends, tombstones,
#: snapshot reads, compact/vacuum/maintain via COMPACT_SPECS.
_PQ_LAYOUT = "pq-cid-seg-v1"
_PQ_RES_LAYOUT = "pq-res-cid-seg-v1"
#: the layouts pq extend/search read (dispatch on meta.layout)
_PQ_LAYOUTS = (_PQ_LAYOUT, _PQ_RES_LAYOUT)


def _pq_rows(
    batch: DataFrame, coarse, codebooks, dim: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """(cid, id, codes) under FIXED quantizers — identical construction
    for build and extend, on purpose (the _emb_rows convention). The
    6dp assignment here is the PERSISTED index's quantization
    contract: build, extend, and the n9 oracle all state it, so it is
    deliberately not a parameter (pq_search_index round_digits governs
    query-side arithmetic only)."""
    assign1 = ivf_assignments_arrow(coarse, n_best=1)
    return batch.select(
        assign1(F.col(vec_col))[0].alias("cid"),
        F.col(id_col).alias("id"),
        F.array(*[
            ivf_assignments_arrow(codebooks[s], n_best=1)(
                F.slice(F.col(vec_col), start, sd)
            )[0]
            for s, (start, sd) in enumerate(
                _pq_slices(dim, len(codebooks))
            )
        ]).alias("codes"),
    )


def pq_build_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    m_subspaces: int = 4,
    n_codes: int = 8,
    n_iter: int = 1,
    n_centroids: "int | None" = None,
    target_list_size: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> None:
    """WRITE-SIDE PQ index — the repeated-retrieval dual of the
    one-shot ivf_pq_topk (the minhash/BM25/IVF index convention): one
    corpus pass trains the coarse quantizer + per-subspace codebooks
    and stores ONLY (cid, id, m codes) per vector, physically
    partitioned by coarse list id. The original vectors are never
    stored: the index is m·log2(n_codes) bits a row plus two
    constant-size sidecars — at 100 TB this is the difference between
    an index you can cache and one you can't (64-dim float32 = 256 B
    a vector; m=8/k=256 = 8 B, 32× smaller before parquet encoding).

    Search partition-prunes to the probed lists AND scores from codes
    alone (pq_search_index); roll forward with pq_extend_index
    (FAISS-add semantics — neither quantizer retrains); tombstone via
    _store.delete_from_index; compact/vacuum/maintain ride the shared
    COMPACT_SPECS registration. Atomic segment-manifest commit; the
    crashed-REBUILD caveat is ivf_build_index's (in-place sidecars are
    detectably torn via meta_id, never silently mixed)."""
    import math

    if n_centroids is None:
        if target_list_size < 1:
            raise ValueError(
                f"target_list_size must be >= 1, got {target_list_size}"
            )
        n_centroids = max(1, math.ceil(corpus.count() / target_list_size))
    coarse = _hash_order_sample(corpus, n_centroids, id_col, vec_col)
    if residual:
        # residual=True trains the codebooks on r = x − c (the
        # published IndexIVFPQ; ivf_pq_residual_topk's exact recipe at
        # the persisted 6dp contract) and stamps the residual layout —
        # extend and search dispatch on it, callers never re-say it
        res = _pq_residuals(corpus, coarse, id_col, vec_col)
        codebooks = pq_train(res.where(F.col("rn2") > 0), dim,
                             m_subspaces, n_codes, n_iter,
                             id_col="id", vec_col="rv", metric="l2")
        rows = _pq_res_codes(res, codebooks, dim, m_subspaces)
        layout = _PQ_RES_LAYOUT
    else:
        codebooks = pq_train(corpus, dim, m_subspaces, n_codes, n_iter,
                             id_col, vec_col)
        rows = _pq_rows(corpus, coarse, codebooks, dim, id_col, vec_col)
        layout = _PQ_LAYOUT
    seg, meta_id = ST.new_segment_id(), ST.new_meta_id()
    ST.write_segment(rows, path, "", seg, "cid")
    spark = corpus.sparkSession
    ST.write_centroids(spark, path, coarse, meta_id)
    ST.write_codebooks(spark, path, codebooks, meta_id)
    ST.commit_build(
        spark, path, seg, meta_id,
        (int(dim), int(m_subspaces), int(n_codes), len(coarse),
         id_col, layout, meta_id),
        "dim int, m_subspaces int, n_codes int, n_centroids int, "
        "id_col string, layout string, meta_id string",
    )


def pq_extend_index(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tag: "str | None" = None,
) -> bool:
    """Roll the PQ index forward: encode the batch under the index's
    OWN stored coarse centroids AND codebooks (read back with meta_id
    cross-checks — callers cannot desynchronize either; the global vs
    residual encoding dispatches on the committed meta.layout) and
    commit a new segment. FAISS-add semantics: nothing retrains; a search after
    an extend equals a search against a fresh build whose TRAINING SET
    was the original corpus (pytest-pinned). ATOMIC via the
    segment-manifest commit; `tag` gives retry idempotence."""
    spark = batch.sparkSession
    meta, _, tags, _ = ST.committed_state(
        spark, path, _PQ_LAYOUTS, kind="pq index"
    )
    if tag is not None and tag in tags:
        return False
    coarse = ST.read_centroids(spark, path, meta.meta_id, kind="pq index")
    codebooks = ST.read_codebooks(spark, path, meta.meta_id)
    if meta.layout == _PQ_RES_LAYOUT:
        # a residual tree encodes batch RESIDUALS under its stored
        # codebooks — dispatch on the layout stamp, never a kwarg (a
        # caller cannot desynchronize the encoding from the build)
        res = _pq_residuals(batch, coarse, id_col, vec_col)
        rows = _pq_res_codes(res, codebooks, int(meta.dim),
                             int(meta.m_subspaces))
    else:
        rows = _pq_rows(batch, coarse, codebooks, int(meta.dim),
                        id_col, vec_col)
    seg = ST.new_segment_id()
    ST.write_segment(rows, path, "", seg, "cid")
    return ST.commit_extend(path, seg, meta.meta_id, tag=tag)


def pq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    as_of_version: "int | None" = None,
) -> DataFrame:
    """Query a write-side PQ index: load the two constant-size
    quantizer sidecars, find each query's n_probe nearest coarse
    lists, scan ONLY those partitions of the CODE rows (`cid IN`
    prunes at the file listing — and the rows pruned are m-byte codes,
    not vectors), and ADC-score from the broadcast query LUT with the
    pq_topk contract (DECIMAL-summed terms, reconstruction-norm
    denominator, ties to the smaller id, self excluded). Tombstoned
    ids never appear; `as_of_version` time-travels the manifest log
    like every other store. A residual tree (one committed_state read
    of _meta, dispatched on meta.layout) scores through _pq_res_score.

    `round_digits` governs ALL query-side arithmetic — the coarse
    probe, the LUT terms, the codeword norms, and the final score
    (one precision per search, ADVICE r11). The STORED code
    assignment is the index's own build-time contract (fixed 6dp in
    pq_build_index/_pq_rows) and is already frozen on disk — a
    search-side precision cannot and does not re-quantize it."""
    meta, segs, _, man = ST.committed_state(
        spark, path, _PQ_LAYOUTS, kind="pq index", version=as_of_version
    )
    coarse = ST.read_centroids(spark, path, meta.meta_id, kind="pq index")
    codebooks = ST.read_codebooks(spark, path, meta.meta_id)
    dim, m = int(meta.dim), int(meta.m_subspaces)
    cb = F.broadcast(_pq_codebook_df(spark, codebooks, round_digits))
    probe = ivf_assignments_arrow(coarse, n_best=n_probe,
                                  digits=round_digits)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    qlists = q.select(
        "query_id", F.explode(probe(F.col("__qv"))).alias("cid")
    )
    probed = sorted({
        int(r[0]) for r in qlists.select("cid").distinct().collect()
    })
    stored = ST.apply_deletes(
        ST.read_committed(spark, path, "", segs),
        ST.read_deletes(spark, path, man), "id",
    ).where(F.col("cid").isin(probed))
    if meta.layout == _PQ_RES_LAYOUT:
        # residual tree: hand the pruned code rows to the shared
        # residual scorer (the one ivf_pq_residual_topk runs) — same
        # probe digits, same tiebreaks, same DECIMAL folds; the cid
        # isin above already pruned the scan to the probed lists, and
        # the already-built qlists rides along so the scorer does not
        # coarse-assign the queries a second time (ADVICE r13)
        return _pq_res_score(stored, coarse, codebooks, queries, dim,
                             m, k, n_probe, id_col, vec_col,
                             round_digits, qlists=qlists)
    ex = stored.select(
        "cid", "id",
        F.posexplode("codes").alias("s", "code_cid"),
    )
    den = (
        ex.join(
            cb.select("s", F.col("cid").alias("code_cid"), "nsq"),
            ["s", "code_cid"],
        )
        .groupBy("id")
        .agg(
            F.sum(F.col("nsq").cast("decimal(28,10)"))
            .cast("double").alias("den")
        )
    )
    lut = (
        q.crossJoin(
            cb.select("s", F.col("cid").alias("code_cid"), "cv")
        )
        .withColumn(
            "d",
            F.round(
                _dot(
                    F.element_at(
                        F.array(*[
                            F.slice(F.col("__qv"), start, sd)
                            for start, sd in _pq_slices(dim, m)
                        ]),
                        F.col("s") + 1,
                    ),
                    F.col("cv"),
                ),
                round_digits,
            ),
        )
        .select("query_id", "__qn", "s", "code_cid", "d")
    )
    num = (
        ex.join(F.broadcast(qlists.withColumnRenamed("cid", "__pl")),
                F.col("cid") == F.col("__pl"))
        .join(F.broadcast(lut), ["query_id", "s", "code_cid"])
        .groupBy("query_id", "__qn", "id")
        .agg(
            F.sum(F.col("d").cast("decimal(28,10)"))
            .cast("double").alias("num")
        )
    )
    scored = (
        num.join(den, "id")
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(
                F.col("num") / (F.col("__qn") * F.sqrt(F.col("den"))),
                round_digits,
            ).alias("ascore"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ascore"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "ascore")
    )


def maxsim_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    doc_col: str = "doc_id",
    token_col: str = "token_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    planes: int = 0,
    tables: int = 4,
    dim: "int | None" = None,
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval over
    MULTI-VECTOR documents (Khattab & Zaharia, SIGIR 2020): each doc is
    a BAG of vectors (one row per token), each query likewise, and
    score(q, d) = sum over q's tokens of the MAX cosine against any of
    d's tokens — token-level matching that single-vector ANN flattens
    away. Corpus rows need (doc_col, vec_col); query rows need
    (doc_col, token_col, vec_col) — token_col identifies the query
    token each MAX is taken over (corpus tokens need no identity).

    Output: (query_id, doc_id, rank, score) — score is the exact
    DECIMAL sum of 6dp-rounded per-token maxima (engine-portable:
    max-of-rounded then exact sum, the repo discipline), ranks dense
    per query with ties to the smaller doc_id; self-matches excluded.

    planes=0 (default) scores every (query token, doc token) pair —
    the exact baseline, the n1 shape: right for a bounded query set
    against a corpus partition, and the ground truth the bucketed
    path is measured against. planes>0 is the SCALE path: SRP token
    buckets (srp_buckets_arrow, `tables` independent tables) generate
    doc candidates — a doc is scored iff ANY of its token buckets
    collides with ANY query token bucket — then exact MaxSim runs on
    the candidate pairs only (requires `dim`). At 100 TB the
    candidate join touches ~tables·|corpus|/2^planes of the token
    rows instead of all of them, and the MAX/SUM aggregations are
    map-side combinable on (query, doc) keys either way; recall vs
    exact is pytest-pinned (the lsh_bucketed_topk convention)."""
    c = _with_norm(
        corpus.select(
            F.col(doc_col).alias("doc_id"), F.col(vec_col).alias("cv")
        ),
        "cv", "nc",
    )
    q = _with_norm(
        queries.select(
            F.col(doc_col).alias("query_id"),
            F.col(token_col).alias("__qt"),
            F.col(vec_col).alias("qv"),
        ),
        "qv", "nq",
    )
    if planes:
        if dim is None:
            raise ValueError("planes > 0 needs dim (the SRP hyperplane "
                             "dimensionality)")
        buckets = srp_buckets_arrow(dim, planes, tables)
        cb = corpus.select(
            F.col(doc_col).alias("doc_id"),
            F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bk"),
        ).distinct()
        qb = queries.select(
            F.col(doc_col).alias("query_id"),
            F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bk"),
        ).distinct()
        cand = (
            qb.join(cb, ["tbl", "bk"])
            .select("query_id", "doc_id")
            .distinct()
        )
        # the candidate pair set DRIVES the token join (cand ⋈ q ⋈ c):
        # exact cosines are computed only for candidate pairs' token
        # rows. The previous shape — full q×c crossJoin, then a
        # left-semi on (query_id, doc_id) — could not push the semi-join
        # below the cross join (its keys come from both legs), so the
        # optimized plan scored EVERY pair before filtering and planes>0
        # was strictly slower than planes=0 (ADVICE r13); this one makes
        # the documented ~tables·|corpus|/2^planes contract real.
        pair_rows = cand.join(q, "query_id").join(c, "doc_id")
    else:
        pair_rows = q.crossJoin(c)
    sims = (
        pair_rows
        .where(F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id", "__qt", "doc_id",
            _sim(F.col("qv"), F.col("cv"), F.col("nq"), F.col("nc"),
                 round_digits).alias("s"),
        )
    )
    mx = sims.groupBy("query_id", "__qt", "doc_id").agg(
        F.max("s").alias("m")
    )
    sc = mx.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("m").cast("decimal(28,10)"))
        .cast("double").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Approximate cosine top-k: candidates are rows sharing an SRP bucket
    in ANY of `tables` independent hash tables (multi-probe recall boost —
    single-table sign-hash recall is poor for high-dim cosine).

    At scale the corpus is pre-bucketed once per table (a write-side
    transform), so a query touches ~tables·|corpus|/2^planes candidates;
    this is the IVF coarse-quantization pattern with hash buckets instead
    of k-means centroids (no vector libs needed — hashing is one numpy
    matmul per Arrow batch, srp_buckets_arrow)."""
    buckets = srp_buckets_arrow(dim, planes, tables)
    # bucket join + multi-table dedupe on bare ids (a pair may collide in
    # several tables — score once); vectors join back in per surviving
    # candidate, so the dim-sized arrays never ride the bucket-explode or
    # the distinct shuffle
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )
    qv = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        "qv", "nq",
    )
    cv = _with_norm(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        "cv", "nc",
    )
    sims = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "sim",
            _sim(F.col("qv"), F.col("cv"), F.col("nq"), F.col("nc"),
                 round_digits),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    n_centroids: "int | None" = None,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    target_cluster_size: int = 64,
    max_centroids: int = 65_536,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space deduplication with
    k-means clusters bounding the pairwise work — vectors land in their
    nearest Lloyd centroid's cluster, exact cosine runs only WITHIN each
    cluster, and of any pair scoring >= threshold the lower id is kept
    (the engine's keep-first convention, deterministic).

    The clusters are the whole point at scale: all-pairs cosine is
    O(N^2) (the documented d5 opt-in); SemDeDup pays sum of cluster
    sizes squared — the pairwise join is an equi-join on the cluster
    id, so AQE splits an oversized cluster's partitions and nothing is
    ever a cartesian across clusters. SCALE POLICY (the default):
    n_centroids=None derives ceil(N / target_cluster_size) from one
    counting pass, so expected CLUSTER SIZE stays constant as the
    corpus grows (the SemDeDup paper's regime) — a PINNED n_centroids
    makes the pairwise term quadratic (measured at sf0.1 -> x10:
    exponent 0.44 under the policy vs 1.32 pinned). The derived count
    is capped at max_centroids because the centroid table is driver
    state (the IVF bounded-collect budget); a corpus needing more
    (~ max_centroids x target_cluster_size vectors) must shard first
    or raise the cap knowingly.

    Determinism end-to-end: lloyd_centroids is hash-order-init,
    DECIMAL-mean, rounded to `round_digits` (default 6 — the same
    precision as assignment and sims, forwarded as mean_digits);
    assignment ties break to the smaller centroid id; sims round to
    `round_digits` with id tiebreaks — so the full pipeline
    (clustering included) replays as SQL.

    Output: one row per vector — (id_col, cid, dup_of, kept) where
    dup_of is the smallest same-cluster id witnessing sim >= threshold
    (NULL for kept representatives). `WHERE kept` is the deduplicated
    corpus."""
    if target_cluster_size < 1:
        raise ValueError(
            f"target_cluster_size must be >= 1, got {target_cluster_size}"
        )
    if n_centroids is None:
        n = df.count()  # one cheap counting pass, like mixture_sample's
        n_centroids = min(
            max(1, -(-n // target_cluster_size)), max_centroids
        )
    # mean_digits follows round_digits so the clustering rounding agrees
    # with the assignment/sim rounding end-to-end (the SQL-replay
    # contract)
    cents = lloyd_centroids(df, n_centroids, n_iter, id_col, vec_col,
                            mean_digits=round_digits)
    assign1 = ivf_assignments_arrow(cents, n_best=1, digits=round_digits)
    # the assignment relation feeds THREE branches (pairs left side, b,
    # and the output join): the scoped cache stops the corpus scan and
    # the Arrow quantizer (the dominant cost) recomputing per branch
    from .dedup import _scope_cache

    a = _scope_cache(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            assign1(F.col(vec_col))[0].alias("cid"),
        )
    )
    # within-cluster exact cosines via the cogrouped matrix scorer
    # (r14): each vector crosses the scorer once per (cid, salt) group
    # instead of once per pair — value-identical to the former
    # _with_norm + equi-join + _dot formulation by fold order (the
    # cogroup_pair_dots contract); id < id_b and the threshold stay
    # Spark-side filters so pair semantics and rounding are untouched
    pairs = (
        cogroup_pair_dots(
            a.select("cid", F.col("id").alias("id_a"),
                     F.col("v").alias("qv")),
            a.select("cid", F.col("id").alias("id_b"),
                     F.col("v").alias("cv")),
        )
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            F.round(
                F.col("d") / (F.col("nq") * F.col("nc")), round_digits
            ),
        )
        .where(F.col("sim") >= threshold)
    )
    wit = pairs.groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
    return (
        a.select("id", "cid")
        .join(wit, F.col("id") == F.col("id_b"), "left")
        .select(
            F.col("id").alias(id_col),
            "cid",
            "dup_of",
            F.col("dup_of").isNull().alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Compaction spec: the IVF store is one verbatim relation at the root
# ---------------------------------------------------------------------------


def _ivf_id_col(df, meta) -> str:
    """The ANN store keeps the CALLER's id column name (ivf_search_index
    selects it back by that name), so the tombstone filter reads it
    from _meta (stamped at build since seg-v3). Structural fallback for
    stores whose _meta predates the stamp: the one non-array column
    that is neither the list assignment (cid) nor the int8 pair
    (scale/qvec) — but quantize=False stores keep EVERY corpus column,
    so with extra non-vector columns the fallback is ambiguous and
    raises; rebuild (which stamps id_col) to unblock compaction."""
    stamped = getattr(meta, "id_col", None)
    if stamped:
        return stamped
    from pyspark.sql.types import ArrayType

    candidates = [
        f.name for f in df.schema.fields
        if f.name not in ("cid", "scale", "qvec")
        and not isinstance(f.dataType, ArrayType)
    ]
    if len(candidates) != 1:
        raise ValueError(
            f"cannot resolve the id column of the ivf store from "
            f"schema {df.columns} — expected exactly one non-vector, "
            f"non-cid column, found {candidates}; rebuild the index "
            f"(newer builds stamp id_col into _meta)"
        )
    return candidates[0]


ST.COMPACT_SPECS[_IVF_LAYOUT] = {
    "rels": [("", "cid", _ivf_id_col)], "derived": [], "finalize": None,
}
ST.COMPACT_SPECS[_PQ_LAYOUT] = {
    "rels": [("", "cid", "id")], "derived": [], "finalize": None,
}
# the residual tree's physical shape is identical (cid-partitioned code
# rows; quantizer sidecars are rebuild-scoped, not compaction-scoped)
ST.COMPACT_SPECS[_PQ_RES_LAYOUT] = {
    "rels": [("", "cid", "id")], "derived": [], "finalize": None,
}
