"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:
  - exact dedup is one hash-partitioned groupBy on the fingerprint;
  - n-gram Jaccard similarity join uses the inverted-index (shingle-explode
    + equi-join) pattern so candidate generation is a shuffle on shingle,
    never an all-pairs cross join;
  - MinHash-LSH replaces the shingle join with a band-bucket join whose
    fan-out is O(docs × bands), independent of document length;
  - all hash functions are md5-derived and engine-portable, so results are
    deterministic and the DuckDB oracle reproduces them bit-for-bit.

Threshold comparisons use integer cross-multiplication (no float division)
so Spark and any oracle agree exactly.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType


def _words(text_col):
    """Whitespace tokens of the lowercased, trimmed text (empty → [])."""
    return F.filter(
        F.split(F.lower(F.trim(text_col)), r"\s+"), lambda w: w != F.lit("")
    )


def _shingles(text_col, n: int):
    """Distinct word n-gram shingles as a Column (HOF formulation) — the
    readable spec the SQL oracles mirror. The hot path is doc_shingles
    below: Catalyst evaluates lambda HOFs interpreted (no codegen), so at
    n>=2 this costs ~5x the window formulation (measured 2.6s vs 0.56s
    over sf0.1's ~1.5M grams). Kept for n=1 (cheap: one filter pass) and
    as the semantic reference."""
    words = _words(text_col)
    if n == 1:
        return F.array_distinct(words)
    # size<n must yield [] — sequence(0, size-n) DESCENDS when size-n<0,
    # producing [0,-1], and slice(words, 0, n) then throws
    # INVALID_PARAMETER_VALUE.START, aborting a whole streaming query on
    # one short row; guard explicitly rather than clamping the bound
    idx = F.sequence(F.lit(0), F.size(words) - n)
    return F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _doc_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, sh) word n-grams in document order, WITH duplicates, n >= 2 —
    partitioned by id (the builder window's shuffle). Internal: consumers
    that aggregate per doc anyway (doc_shingles' distinct, minhash's
    signature groupBy) fuse their aggregation onto this exchange-free.

    The last n-1 positions (incomplete grams) are dropped by testing the
    furthest LEAD for null — words are never null (split + non-empty
    filter), so lead(w, n-1) IS NULL exactly on pos > count-n, the set
    the previous per-doc count window filtered. One Window pass instead
    of two (the count window was a second full pass over the exchanged
    gram stream with its own frame buffer)."""
    from pyspark.sql import Window

    w0 = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_words(F.col(text_col))).alias("pos", "w"),
    )
    win = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", k).over(win) for k in range(1, n)]
    return (
        w0.select(
            "id",
            F.concat_ws(" ", *leads).alias("sh"),
            leads[-1].isNotNull().alias("__keep"),
        )
        .where(F.col("__keep"))
        .select("id", "sh")
    )


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) exploded, distinct per doc.

    n>=2 compiles to posexplode + n-1 window LEADs + a partition-local
    distinct — every expression whole-stage-codegen'd, one hash shuffle on
    the doc id (which downstream per-doc aggregations reuse exchange-free).
    The interpreted-HOF alternative (_shingles) is shuffle-free but ~5x
    the CPU; gram construction dominates both d2 and d3, so codegen wins
    at every scale where CPU is the shingling bottleneck."""
    if n == 1:
        return df.select(
            F.col(id_col).alias("id"),
            F.explode(_shingles(F.col(text_col), n)).alias("sh"),
        )
    # distinct per doc WITHOUT a second exchange: the window already
    # partitioned by id, so collect_set + explode dedupes partition-local
    return (
        _doc_grams(df, id_col, text_col, n)
        .groupBy("id")
        .agg(F.collect_set("sh").alias("__shs"))
        .select("id", F.explode("__shs").alias("sh"))
    )


# The shared dedup relations (exploded shingles for the jaccard join;
# the fused signature+array aggregate for minhash LSH; the substring
# pass's every-position gram stream) are cached because each feeds
# multiple consumers. A long-lived session running many dedup jobs must
# not accumulate executor storage, so the cache is SCOPED: at most
# _SCOPE_CAPACITY relations stay cached, oldest evicted first
# (unpersist is safe mid-plan — Spark recomputes). Capacity > 1 so a
# LAZY pipeline composing several dedup operators before its first
# action (e.g. substring dedup downstream of a jaccard pass) does not
# evict a relation that has not even materialized yet; capacity small
# so a session sweeping many queries stays bounded.
# clear_shingle_cache() releases everything.
_CACHED_SHINGLES: list[DataFrame] = []
_SCOPE_CAPACITY = 4


def _scope_cache(df: DataFrame) -> DataFrame:
    """Cache a multi-consumer dedup relation under the bounded eviction
    policy above. Cache, NOT localCheckpoint: unpersisting a cache is
    always safe (Spark recomputes), while a released local checkpoint
    breaks any still-held reference — and unreleased checkpoint blocks
    from one query were measured doubling the next query's runtime at
    sf1 (executor storage pressure).

    Eviction is PLAN-aware, not object-aware: re-invoking the same query
    rebuilds a plan-identical relation, and Spark's CacheManager maps
    both to ONE InMemoryRelation — so registering the twin as a new
    entry and later evicting the old one would unpersist the shared
    data out from under the newly built pipeline mid-plan. Measured
    before this dedup: a warm re-run recomputed each evicted heavy
    relation once PER CONSUMER, inflating sf1 samples 3-6x at random
    depending on which query's twin got evicted. A sameSemantics match
    instead refreshes the existing entry's LRU position and registers
    nothing."""
    for old in list(_CACHED_SHINGLES):
        try:
            same = old.sameSemantics(df)
        except Exception:  # stale entry from a stopped session
            _CACHED_SHINGLES.remove(old)
            continue
        if same:
            _CACHED_SHINGLES.remove(old)
            _CACHED_SHINGLES.append(old)
            return df.cache()
    while len(_CACHED_SHINGLES) >= _SCOPE_CAPACITY:
        _CACHED_SHINGLES.pop(0).unpersist()
    _CACHED_SHINGLES.append(df)
    return df.cache()


def _cached_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return _scope_cache(doc_shingles(df, id_col, text_col, n))


def clear_shingle_cache() -> None:
    """Unpersist any shingle relation cached by a previous dedup call."""
    while _CACHED_SHINGLES:
        _CACHED_SHINGLES.pop().unpersist()


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on the normalized-text md5 fingerprint: one row per
    distinct content, keeping the smallest id (deterministic), plus the
    duplicate count. Single hash shuffle at any scale."""
    from .text import fingerprint

    fp = fingerprint(df, text_col)
    return fp.groupBy("doc_fp").agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


#: `prefix_filter="auto"` routes to the PPJoin prefix path at or above this
#: threshold and to the direct inverted-index join below it. Measured at
#: sf0.1 (high-entropy corpus): t=0.2 ppjoin 8.7s vs direct 5.4s; t=0.5
#: 6.8 vs 4.7; t=0.7 4.5 vs 4.6 — below ~0.5 the prefix keeps ~(1-t) of
#: every doc, so its pruning never repays the df-ranking + window + verify
#: overhead. Both paths are EXACT (identical output); the routing is purely
#: a physical-plan choice.
PREFIX_FILTER_MIN_THRESHOLD = 0.5


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    shingles: DataFrame | None = None,
    prefix_filter: bool | str = "auto",
) -> DataFrame:
    """EXACT near-duplicate pairs by n-gram Jaccard >= threshold.

    Two physical strategies, same exact output; `prefix_filter="auto"`
    (default) routes on the threshold:

    prefix_filter=True — inverted-index join with PPJoin-style PREFIX
    FILTERING: order each doc's shingles by global rarity (document
    frequency asc, shingle asc); a pair with jaccard >= t = p/q MUST
    share a shingle inside each doc's first ⌊sz - ceil(t*sz)⌋ + 1
    shingles, so only those prefixes join. Hot (frequent) shingles land
    at the END of the ordering and rarely enter a prefix — this bounds
    the Σ df² blowup that the direct shingle join suffers on low-entropy
    corpora. Verification then runs only on candidates
    (jaccard_for_pairs). The right choice at high thresholds, and the
    safe choice on heavily skewed shingle distributions.

    prefix_filter=False — direct inverted-index join: every shared
    shingle joins, and the intersection count falls out of the same
    groupBy (no separate verify pass). At thresholds below
    PREFIX_FILTER_MIN_THRESHOLD the prefix covers most of every doc, so
    this path does strictly less work (measured 1.6× faster at t=0.2).

    Genuinely low-threshold dedup at 100 TB belongs to the LSH path
    (minhash_lsh_pairs) — sub-linear candidates at any threshold, at the
    cost of banding recall; this operator stays exact. Boilerplate-heavy
    corpora make that routing advice a hard requirement: on an sf1
    fixture where 1/7 of docs share one appended sentence, the TRUE
    t=0.2 answer is 6.7M pairs (vs 2.6k clean) — the OUTPUT is
    quadratic in the boilerplate shard, so no exact candidate strategy
    can be fast (measured: direct 137s, prefix 85s; a hot-gram-capped
    two-phase rewrite was abandoned at 343s because natural corpora
    make most docs hot-feasible). Route such corpora to
    prefix_filter=True for the constant-factor shield, to d3 for
    sub-linear candidates, or dedup the boilerplate spans first
    (dedup_spans / dedup_substrings).

    Output: (id_a < id_b, inter, size_a, size_b) with integer-exact
    threshold test: q*inter >= p*(size_a + size_b - inter)."""
    frac = Fraction(threshold).limit_denominator(10**6)
    p, q = frac.numerator, frac.denominator
    if prefix_filter == "auto":
        prefix_filter = threshold >= PREFIX_FILTER_MIN_THRESHOLD
    sh = shingles if shingles is not None else _cached_shingles(df, id_col, text_col, n)
    if not prefix_filter:
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        return (
            inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "size_a"}), "id_a")
            .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "size_b"}), "id_b")
            .where(
                F.lit(q) * F.col("inter")
                >= F.lit(p) * (F.col("size_a") + F.col("size_b") - F.col("inter"))
            )
            .select("id_a", "id_b", "inter", "size_a", "size_b")
        )
    cand = _prefix_candidates(sh, p, q)
    return jaccard_for_pairs(cand, sh, threshold)


def _prefix_candidates(sh: DataFrame, p: int, q: int) -> DataFrame:
    """PPJoin candidates: prefix filtering + positional filtering.

    PREFIX: for jaccard >= p/q, if two sets of sizes sa, sb match, their
    intersection has >= ceil(t*max(sa,sb)) elements, so each doc can
    'skip' at most sz - ceil(t*sz) shingles: any matching pair shares an
    element within each side's first (sz - ceil(t*sz) + 1) rarest-first
    shingles.

    LENGTH: jaccard >= p/q forces min(sa,sb)*(p+q) >= p*(sa+sb) (the
    intersection is at most the smaller set), so size-incompatible pairs
    are dropped INSIDE the join, before the pair aggregation ever sees
    them (the PPJoin length filter, applied as a join-time predicate —
    the "length-stratified" prune without re-keying the shuffle).

    POSITIONAL, applied PER JOIN ROW: both docs order shingles by the
    SAME global rarity order, so the globally-first common element e* of
    a matching pair sits inside both prefixes and attains the
    componentwise-MINIMUM ranks (ra*, rb*) simultaneously — any shared
    element's per-row bound 1 + min(sa - ra, sb - rb) is therefore <=
    e*'s bound, and the pair survives the classic aggregate test iff
    e*'s own row passes the per-row test. Filtering rows inside the join
    is thus EXACT, and the surviving pair set needs only a distinct —
    no min-rank aggregation at all. (Both filters are integer-exact:
    inter*(p+q) >= p*(sa+sb) with inter bounded by min-size / by the
    positional bound.)"""
    from pyspark.sql import Window

    df_freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(df_freq, "sh")
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("sh").asc())
            ),
        )
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    # prefix length = sz - ceil(p/q * sz) + 1, integer math
    prefix_len = F.col("sz") - F.ceil(F.lit(p) * F.col("sz") / F.lit(q)) + 1
    prefixes = ranked.where(F.col("rank") <= prefix_len).select(
        "id", "sh", "rank", "sz"
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    required = F.lit(p) * (F.col("a.sz") + F.col("b.sz"))
    length_ok = (
        F.lit(p + q) * F.least(F.col("a.sz"), F.col("b.sz")) >= required
    )
    pos_bound = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.rank"), F.col("b.sz") - F.col("b.rank")
    )
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            & length_ok
            & (F.lit(p + q) * pos_bound >= required),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_expr(j: int):
    """MinHash function j: min over the doc's shingles of an 8-hex-char
    window of md5(seed || '|' || shingle), where seed = j//4 and the window
    is j%4 — one md5 call yields FOUR hash functions (md5 is the dominant
    per-shingle cost; 16 functions cost 4 digests, not 16). String-min over
    fixed-width hex == numeric min of the 32-bit value; md5 keeps the
    scheme portable to the SQL oracle."""
    seed, window = j // 4, j % 4
    return F.min(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("sh"))),
            1 + 8 * window, 8,
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: columns mh0..mh{H-1}. One explode + one
    groupBy (H min-aggregates ride the same shuffle)."""
    sh = shingles if shingles is not None else doc_shingles(df, id_col, text_col, n)
    return sh.groupBy("id").agg(
        *[_minhash_expr(j).alias(f"mh{j}") for j in range(num_hashes)]
    )


def minhash_sigarr(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int
) -> DataFrame:
    """The fused per-doc (arr, mh0..mh{H-1}) aggregate every MinHash
    consumer shares: ONE groupBy(id) produces the signature AND the
    per-doc shingle array the verify step needs — signature aggs and
    collect_set ride the same shuffle. The input is the raw gram stream
    (duplicates included): min() is duplicate-blind, collect_set
    dedupes — so no separate per-doc distinct pass exists anywhere in
    the MinHash pipelines, and the builder window's id-partitioning
    makes this aggregation exchange-free. Shared by the one-shot
    minhash_lsh_pairs and the persisted index (dedup_index.py), which
    is what makes probe-vs-one-shot equality hold bit-for-bit."""
    if n == 1:
        grams = doc_shingles(df, id_col, text_col, n)
    else:
        grams = _doc_grams(df, id_col, text_col, n)
    return grams.groupBy("id").agg(
        F.collect_set("sh").alias("arr"),
        *[_minhash_expr(j).alias(f"mh{j}") for j in range(num_hashes)],
    )


def explode_band_keys(
    sigarr: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, key) LSH bucket rows from a signature relation: band
    b's key concatenates its rows_per_band minhashes — docs sharing any
    (band, key) are LSH candidates. One generator over the signature
    columns; the fat `arr` column never rides the explode."""
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "#",
                    *[
                        F.col(f"mh{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return sigarr.select("id", F.explode(band_arr).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _fold_group_keys(
    buckets: DataFrame,
    df: DataFrame,
    id_col: str,
    group_cols: "list[str] | str",
) -> DataFrame:
    """Fold a doc's group value INTO its banding key so cross-group
    collisions are pruned inside the candidate self-join's hash buckets
    (hot band keys SPLIT per group — the skew win), never post-filtered
    from a wider candidate set. MEASURED (SKEW_r11.json, the
    boilerplate-shard fixture: 1/7 of 50k docs share a 24-word
    sentence across 20 groups): the fold cut the candidate-join work
    (sum of C(n,2) over buckets) to 0.29x and the max bucket to 0.52x
    for BOTH families (minhash 1.61M -> 0.47M candidates, max bucket
    1339 -> 696; simhash 21.4M -> 6.1M, 1609 -> 816), wall 8.1s ->
    1.7s / 2.9s -> 1.4s — part of the wall drop is the narrower
    same-group question, the bucket shape is the skew evidence proper.
    Shared by the MinHash and SimHash pair
    joins. Semantics: prepending equal group strings to equal keys
    collides iff the original keys collide, so for same-group pairs the
    grouped op is bit-identical to the ungrouped one.

    - deterministic doc -> group map (min-agg: duplicate-id inputs
      collapse the same way the signature groupBys collapse them, never
      by partition order); O(docs) skinny rows — the group string never
      rides the per-gram/per-band explode;
    - null-safe, injection-proof fold: each group value is folded as
      md5(value) — 32 hex chars that can never contain the \\x1f
      separator or the \\x00 NULL sentinel — so a value that IS the
      sentinel, or contains the separator, cannot conflate groups
      (('a\\x1fb','c') vs ('a','b\\x1fc') fold to different keys, and
      only genuine NULL folds to the sentinel). Grouping is enforced
      inside the band key with no post-filter, so this is what makes
      the grouped == ungrouped ∩ same-group contract hold for
      arbitrary byte strings (equal values -> equal digests exactly;
      distinct values collide only at md5-collision odds, the same
      acceptance every md5-derived bucket in this package makes);
    - scope-cached: the candidate self-join reads the folded relation
      TWICE (aliases a and b), and without the cache each side would
      re-embed the gmap aggregate+join subtree (+4 exchanges, measured
      in the executed plan)."""
    cols = ([group_cols] if isinstance(group_cols, str)
            else list(group_cols))
    gmap = df.groupBy(F.col(id_col).alias("id")).agg(
        *[F.min(F.col(c).cast("string")).alias(f"__g_{c}")
          for c in cols]
    )
    gkey = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.md5(F.col(f"__g_{c}")), F.lit("\x00"))
          for c in cols],
    )
    keep = [c for c in buckets.columns if c != "key"]
    return _scope_cache(
        buckets.join(gmap, "id")
        .select(
            *keep,
            F.concat_ws("\x1f", gkey, F.col("key")).alias("key"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    verify: bool = True,
    group_cols: "list[str] | str | None" = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding, optionally
    verified with exact n-gram Jaccard (integer math).

    Two docs collide if any band's row minhashes all agree — probability
    1-(1-j^r)^b for true jaccard j. With verify=True the output is exactly
    {LSH candidates} ∩ {jaccard >= threshold} — deterministic given the
    md5-derived hash family, so an oracle can reproduce it.

    `group_cols` scopes dedup WITHIN groups (per language, per domain:
    a French translation must not dedupe against its English source) —
    pairs whose docs differ on any group column never appear. NULL is a
    real group (NULL == NULL pairs up, the eqNullSafe convention).
    Scale shape: the group value is FOLDED INTO the band key before the
    candidate self-join, so cross-group collisions are pruned inside
    the join's hash buckets — the buckets SHRINK (hot band keys split
    per group); no extra join condition, no post-filter on a wider
    candidate set. Prepending equal group strings to equal keys
    collides iff the original keys collide, so for same-group pairs
    the output is bit-identical to the ungrouped op's — the oracle (and
    the pytest pin) states grouped == ungrouped ∩ same-group."""
    # scoped (plan-aware) cache, NOT a clear+append: clearing here wiped
    # every cached relation — other queries' and this plan's own warm
    # twin — at PLAN CONSTRUCTION time, so a warm re-run always paid a
    # full signature recompute and neighbors randomly lost their caches
    sigarr = _scope_cache(
        minhash_sigarr(df, id_col, text_col, n, bands * rows_per_band)
    )
    # arr is dropped BEFORE the bucket explode/join — only (id, band, key)
    # rides the candidate shuffle
    buckets = explode_band_keys(sigarr, bands, rows_per_band)
    if group_cols:
        buckets = _fold_group_keys(buckets, df, id_col, group_cols)
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand
    return _jaccard_from_arrays(cand, sigarr.select("id", "arr"), threshold)


def jaccard_for_pairs(
    pairs: DataFrame, shingles: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard restricted to GIVEN candidate pairs.

    Cost is O(|pairs| × shingles-per-doc), independent of shingle document
    frequency — computing all shingle-sharing pairs first and filtering to
    candidates is quadratic in df(shingle) and detonates on low-entropy
    corpora (measured: 100k synthetic docs with a 50-word vocabulary
    produced ~5×10^8 intermediate pairs).

    Strategy: nest each doc's shingles into ONE array row, join the pair
    list against that (AQE picks broadcast when the doc side is small,
    shuffle otherwise), and intersect per-row with the codegen'd
    array_intersect. vs the exploded composite-key join this moves
    |pairs| fat rows instead of |pairs|×sz skinny rows — measured 1.5x
    faster at sf0.1 and strictly fewer shuffled bytes at every scale
    (per-doc arrays are bounded by document length, so no row ever
    outgrows an executor). pairs: (id_a, id_b); shingles: (id, sh)
    distinct."""
    arrays = shingles.groupBy("id").agg(F.collect_list("sh").alias("arr"))
    return _jaccard_from_arrays(pairs, arrays, threshold)


def _jaccard_from_arrays(
    pairs: DataFrame,
    arrays: DataFrame,
    threshold: float,
    arrays_b: "DataFrame | None" = None,
) -> DataFrame:
    """jaccard_for_pairs core over an already-nested (id, arr) relation —
    callers that computed the per-doc arrays in an earlier aggregation
    (minhash_lsh_pairs' fused signature groupBy) skip the extra shuffle.
    arrays_b resolves id_b against a SEPARATE relation (the cross-corpus
    index probe, where id_a is a batch doc and id_b an indexed doc whose
    ids live in different namespaces)."""
    frac = Fraction(threshold).limit_denominator(10**6)
    p, q = frac.numerator, frac.denominator
    b_side = arrays if arrays_b is None else arrays_b
    return (
        pairs.join(arrays.withColumnsRenamed({"id": "id_a", "arr": "arr_a"}), "id_a")
        .join(b_side.withColumnsRenamed({"id": "id_b", "arr": "arr_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("inter"),
            F.size("arr_a").alias("size_a"),
            F.size("arr_b").alias("size_b"),
        )
        .where(
            F.lit(q) * F.col("inter")
            >= F.lit(p) * (F.col("size_a") + F.col("size_b") - F.col("inter"))
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash32(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit SimHash over distinct lowercased words.

    Each word hashes to a 32-bit value (md5-derived, portable); bit i of the
    fingerprint is 1 iff more word-hashes have bit i set than unset
    (strictly more — ties → 0). Near-dup detection then compares hamming
    distance on the fingerprints. One explode + one groupBy."""
    words = doc_shingles(df, id_col, text_col, n=1)
    v = F.conv(F.substring(F.md5(F.col("sh")), 1, 8), 16, 10).cast("long")
    bit_sums = [
        F.sum(
            (F.shiftright(v, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
        ).alias(f"s{i}")
        for i in range(32)
    ]
    agg = words.groupBy("id").agg(*bit_sums)
    fp = None
    for i in range(32):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0))
        fp = bit if fp is None else (fp + bit)
    return agg.select("id", fp.alias("simhash"))


def hamming32(col_a, col_b):
    """Hamming distance between two 32-bit simhash values."""
    return F.bit_count(F.col(col_a).bitwiseXOR(F.col(col_b)))


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over distinct lowercased words, as TWO 32-bit
    halves (sh_hi, sh_lo) — 64-bit unsigned arithmetic overflows a
    signed BIGINT in one engine or the other, so the halves never get
    recombined numerically. Word hash = md5 chars 1-8 (hi) and 9-16
    (lo). The width matters for the banded pair join: with B-bit bands,
    expected candidates scale with docs^2 / 2^B — 8-bit bands (the
    32-bit fingerprint's best at k=3) collide at 1/256 and went
    quadratic on the sf1 fixture; 16-bit bands collide at 1/65536."""
    words = doc_shingles(df, id_col, text_col, n=1)
    md = F.md5(F.col("sh"))
    halves = {
        "hi": F.conv(F.substring(md, 1, 8), 16, 10).cast("long"),
        "lo": F.conv(F.substring(md, 9, 8), 16, 10).cast("long"),
    }
    sums = [
        F.sum(
            (F.shiftright(v, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
        ).alias(f"s_{h}{i}")
        for h, v in halves.items()
        for i in range(32)
    ]
    agg = words.groupBy("id").agg(*sums)
    out = {}
    for h in halves:
        fp = None
        for i in range(32):
            bit = F.when(
                F.col(f"s_{h}{i}") > 0, F.lit(2**i).cast("long")
            ).otherwise(F.lit(0))
            fp = bit if fp is None else (fp + bit)
        out[f"sh_{h}"] = fp
    return agg.select("id", out["sh_hi"].alias("sh_hi"),
                      out["sh_lo"].alias("sh_lo"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    fingerprints: DataFrame | None = None,
    group_cols: "list[str] | str | None" = None,
) -> DataFrame:
    """EXACT near-duplicate pairs by 64-bit SimHash hamming distance <=
    max_hamming — the Manku/Jain/Sarma WWW'07 multi-index pigeonhole
    construction that made SimHash Google's web-dedup workhorse: split
    the fingerprint into max_hamming + 1 bands; two fingerprints within
    hamming k differ in at most k bands, so they AGREE on at least one
    band — candidates are the per-band bucket equi-joins (never an
    all-pairs comparison), verified with an exact per-half
    bit_count(xor) sum <= k filter and deduped.

    EXACT for the fingerprint metric (the pigeonhole bound misses
    nothing); the fingerprints themselves are the usual lossy SimHash
    summary. Bands are contiguous 4-bit-aligned ranges of the 16-nibble
    hex string (any partition satisfies the pigeonhole argument), so
    max_hamming <= 15.

    100 TB shape: k+1 hash shuffles on (band, band-bits) with expected
    candidate volume docs^2 * (k+1) / 2^band_bits — 16-bit bands at k=3
    keep a 500k-doc corpus in the millions where the 32-bit
    fingerprint's 8-bit bands measured ~2e9; the verify filter runs
    INSIDE the join before the distinct shuffles anything. Output:
    (id_a < id_b, hamming).

    `group_cols` scopes pairs WITHIN groups exactly like
    minhash_lsh_pairs' (shared _fold_group_keys: the group value folds
    into the band key, NULL is a real group, grouped == ungrouped ∩
    same-group). The doc -> group map is read from `df` — when a
    caller-provided `fingerprints` frame is used, its ids must be
    df's ids (the existing contract)."""
    if not (0 <= max_hamming <= 15):
        raise ValueError(
            f"max_hamming must be in [0, 15], got {max_hamming}"
        )
    if fingerprints is not None:
        # Caller-keyed fingerprint frames (id_col, sh_hi, sh_lo) are the
        # natural shape; normalize to the internal 'id' name.
        fp = (
            fingerprints.withColumnRenamed(id_col, "id")
            if id_col != "id" and id_col in fingerprints.columns
            else fingerprints
        )
        missing = {"id", "sh_hi", "sh_lo"} - set(fp.columns)
        if missing:
            raise ValueError(
                f"fingerprints frame lacks columns {sorted(missing)} "
                f"(id_col={id_col!r})"
            )
    else:
        fp = simhash64(df, id_col, text_col)
    exploded = simhash_band_rows(fp, max_hamming)
    if group_cols:
        exploded = _fold_group_keys(exploded, df, id_col, group_cols)
    dist = simhash_distance("a", "b")
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id"))
            & (dist <= max_hamming),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist.cast("long").alias("hamming"),
        )
        .distinct()
    )


def simhash_band_rows(fp: DataFrame, max_hamming: int) -> DataFrame:
    """(id, sh_hi, sh_lo, band, key) pigeonhole band rows of a 64-bit
    fingerprint relation: max_hamming + 1 contiguous nibble-aligned
    bands of the 16-hex-char fingerprint — two fingerprints within
    hamming k agree on at least one (band, key). The fingerprint halves
    ride every band row so a verify needs no join back to the
    fingerprint table. Shared by the one-shot simhash_pairs and the
    persisted index (dedup_index.py), which keeps probe == one-shot
    bit-exact."""
    n_bands = max_hamming + 1
    bounds = [round(i * 16 / n_bands) for i in range(n_bands + 1)]
    hexs = F.format_string("%08x%08x", F.col("sh_hi"), F.col("sh_lo"))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring(
                    hexs, bounds[b] + 1, bounds[b + 1] - bounds[b]
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    return fp.select(
        "id", "sh_hi", "sh_lo", F.explode(bands).alias("bk")
    ).select(
        "id", "sh_hi", "sh_lo",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )


def simhash_distance(a: str, b: str):
    """Exact 64-bit hamming distance between two aliased band-row /
    fingerprint relations: per-half bit_count(xor) sum."""
    return (
        F.bit_count(F.col(f"{a}.sh_hi").bitwiseXOR(F.col(f"{b}.sh_hi")))
        + F.bit_count(F.col(f"{a}.sh_lo").bitwiseXOR(F.col(f"{b}.sh_lo")))
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Sub-document exact dedup: split each document into aligned k-word
    spans, drop every span whose text already occurred (corpus-wide,
    keep-first by (doc id, span position)), and reassemble the surviving
    spans in order. The RefinedWeb/CCNet line-level-dedup shape for
    corpora without line structure — repeated boilerplate (headers,
    licence blocks, navigation) is removed from every copy but the first,
    while whole-doc dedup (dedup_exact) would keep both documents intact.
    Docs whose every span is a repeat disappear (they contribute nothing
    new).

    Aligned spans only match at equal offsets modulo content: this is the
    documented cheap approximation (suffix-array substring dedup is the
    exhaustive version); k trades granularity against over-matching.

    Plan shape: posexplode + window LEADs build spans in whole-stage
    codegen (the shingle rewrite's path — no interpreted HOFs); keep-first
    is min(struct(id, span_idx)) grouped by span — a HashAggregate with
    MAP-SIDE PARTIAL COMBINE, so a boilerplate span duplicated millions of
    times shuffles at most one candidate per map partition (a row_number
    window over the span would ship every copy to one reducer and sort
    them — the skew this shape exists to avoid); reassembly is an ordered
    full-frame collect_list per doc. Three linear shuffles, no all-pairs
    joins, no driver state — 100 TB safe.

    Output: (id, text_deduped, n_spans, n_spans_kept), one row per doc
    with >= 1 surviving span.
    """
    from pyspark.sql import Window

    w0 = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_words(F.col(text_col))).alias("pos", "w"),
    )
    win = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, k)]
    spans = (
        w0.withColumn("span", F.concat_ws(" ", *leads))
        .where(F.col("pos") % k == 0)  # concat_ws skips the tail's NULL leads
        .select(
            "id",
            (F.col("pos") / k).cast("long").alias("span_idx"),
            "span",
        )
    )
    # (struct comparison is lexicographic and (id, span_idx) is unique, so
    # __n_spans riding in third position can never influence the argmin)
    # NOTE the count window runs over the SPAN rows — 1/k of the word
    # stream, on the exchange the span build already paid. Fusing it
    # into the span-build window node was measured SLOWER (it would
    # count the full word stream instead).
    kept = (
        spans.withColumn("__n_spans",
                         F.count(F.lit(1)).over(Window.partitionBy("id")))
        .groupBy("span")
        .agg(F.min(F.struct("id", "span_idx", "__n_spans")).alias("__w"))
        .select(
            F.col("__w.id").alias("id"),
            F.col("__w.span_idx").alias("span_idx"),
            F.col("__w.__n_spans").alias("__n_spans"),
            "span",
        )
    )
    doc = Window.partitionBy("id").orderBy("span_idx")
    full = doc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        kept.withColumn(
            "text_deduped",
            F.concat_ws(" ", F.collect_list("span").over(full)),
        )
        .withColumn("n_spans_kept", F.count(F.lit(1)).over(full))
        .withColumn("__first", F.row_number().over(doc))
        .where(F.col("__first") == 1)
        .select(
            F.col("id").alias(id_col),
            "text_deduped",
            F.col("__n_spans").alias("n_spans"),
            "n_spans_kept",
        )
    )


def dedup_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_match_words: "int | None" = None,
) -> DataFrame:
    """Shift-robust sub-document exact dedup: remove every word covered
    by a k-word gram whose text occurred EARLIER in the corpus (earlier =
    min (doc id, position), the same keep-first order dedup_spans uses).
    Where dedup_spans only matches spans on the same k-word alignment —
    a duplicated paragraph shifted by one word escapes it — this variant
    builds a gram at EVERY word position, so a duplicated passage of
    >= k words is caught at ANY alignment, and exactly the duplicated
    words are removed (grams straddling the passage boundary differ in
    context, so surrounding original text is untouched). This is the
    bounded-cost approximation of suffix-array ExactSubstr dedup
    (Lee et al. 2022): detection granularity k instead of 50-token
    minimum match, no suffix structures.

    Cost bound, stated and tested: the gram relation has one row per
    word (= k x the aligned pass's span rows, since dedup_spans builds
    one span per k words); everything downstream is linear in that.

    Plan shape: posexplode + window LEADs build every-position grams in
    whole-stage codegen (one shuffle on doc id); the canonical occurrence
    per gram is the min of the packed DECIMAL id * 2^32 + pos (order-
    isomorphic to (id, pos), hence integral ids only: a string or
    fractional id_col is refused with ValueError) — a HashAggregate
    with MAP-SIDE PARTIAL COMBINE, so a boilerplate gram duplicated
    millions of times ships <= 1 candidate per map partition;
    occurrences learn their canonical via an equi-join on gram (AQE
    splits skewed gram keys — a join, deliberately not a window over
    gram, which would sort every copy of a hot gram on one reducer);
    duplicate-coverage is a ROWS-frame rolling max over [p-k+1, p] per
    doc; reassembly is the dedup_spans ordered collect_list. Four linear
    shuffles, no all-pairs joins, no driver state — 100 TB safe.

    Docs shorter than k words carry no full gram and pass through
    verbatim; docs whose every word is covered disappear.

    min_match_words (>= k) switches to the PUBLISHED ExactSubstr
    semantics (Lee et al. 2022 drop only duplicated runs >= ~50
    tokens): adjacent covered positions merge into maximal runs (every
    run is >= k by construction — one dup gram covers k words) and only
    words in runs >= min_match_words are removed, so a short quoted
    phrase survives while a lifted passage is dropped. The run merge is
    two extra window passes (forward/backward boundary carry) over the
    SAME doc-id partition — no new exchange, linear cost.
    min_match_words=k reproduces the default output exactly
    (pytest-pinned); None skips the run machinery entirely.

    Output: (id, text_deduped, n_words, n_words_kept), one row per doc
    with >= 1 surviving word.
    """
    from pyspark.sql import Window

    if min_match_words is not None and min_match_words < k:
        raise ValueError(
            f"min_match_words must be >= k={k} (a covered run is never "
            f"shorter than one gram), got {min_match_words}"
        )
    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, IntegralType):
        # the packed key below casts id to DECIMAL(38,0): a non-numeric
        # string id casts to NULL (its grams never match) or fails under
        # ANSI, and a fractional one rounds, merging distinct documents'
        # keep-first order
        raise ValueError(
            f"dedup_substrings needs an integral id_col; {id_col!r} is "
            f"{id_type.simpleString()}"
        )

    w0 = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_words(F.col(text_col))).alias("pos", "w"),
    )
    win = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, k)]
    # gram is NULL unless FULL (k words): a tail fragment's concat_ws
    # output could textually equal a real k-gram elsewhere and
    # fabricate a match; NULL join keys match nothing.
    # __n_words rides the SAME window node (same partition+order spec,
    # full frame) — computing it later as a free-standing count window
    # cost a second full pass over the post-join stream.
    occ = w0.withColumn(
        "gram",
        F.when(
            F.lead("w", k - 1).over(win).isNotNull(),
            F.concat_ws(" ", *leads),
        ),
    ).withColumn(
        "__n_words",
        F.count(F.lit(1)).over(
            win.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    # occ feeds BOTH the canonical aggregate and the probe side of the
    # join; uncached, the gram-build window (the dominant cost) executes
    # twice — the x14 multi-consumer lesson. Scoped cache, not
    # localCheckpoint: see _scope_cache (checkpoint blocks from one
    # query measurably slowed the NEXT query at sf1).
    occ = _scope_cache(occ)
    # the keep-first witness (lexicographic min (id, pos)) as a min over
    # ONE order-isomorphic DECIMAL: id * 2^32 + pos is strictly
    # increasing in (id, pos) for every BIGINT id (pos < 2^32 by
    # construction — it is an array index), so min(packed) picks the
    # same canonical occurrence as min(struct(id, pos)). A struct min
    # has a struct aggregation buffer, which HashAggregate cannot hold —
    # Spark fell back to SortAggregate and SORTED THE ENTIRE GRAM STREAM
    # by gram string on both sides of the exchange; the decimal min is a
    # plain mutable buffer, so the canonical aggregate is a
    # HashAggregate with map-side partial combine (the skew bound the
    # docstring promises — a hot gram ships <= 1 candidate per map
    # partition — now without the sort).
    packed = (
        F.col("id").cast("decimal(38,0)") * F.lit(4294967296)
        + F.col("pos")
    ).alias("__ip")
    canon = (
        occ.where(F.col("gram").isNotNull())
        .select("gram", packed)
        .groupBy("gram")
        .agg(F.min("__ip").alias("__cp"))
    )
    flagged = occ.join(canon, on="gram", how="left").withColumn(
        "__dup",
        F.col("gram").isNotNull()
        & (
            (
                F.col("id").cast("decimal(38,0)") * F.lit(4294967296)
                + F.col("pos")
            )
            != F.col("__cp")
        ),
    )
    cov = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(-(k - 1), 0)
    )
    marked = flagged.withColumn(
        "__covered", F.max(F.col("__dup").cast("int")).over(cov)
    )
    if min_match_words is not None and min_match_words > k:
        # merge adjacent covered positions into maximal runs and keep
        # short runs: boundary markers carried forward (run start) and
        # backward (run end) over the SAME id partition — Spark reuses
        # the exchange and only adds the descending sort
        asc = Window.partitionBy("id").orderBy("pos")
        desc = Window.partitionBy("id").orderBy(F.col("pos").desc())
        prev_cov = F.coalesce(F.lag("__covered").over(asc), F.lit(0))
        next_cov = F.coalesce(F.lag("__covered").over(desc), F.lit(0))
        marked = (
            marked.withColumn(
                "__rs",
                F.when(
                    (F.col("__covered") == 1) & (prev_cov == 0),
                    F.col("pos"),
                ),
            )
            .withColumn(
                "__re",
                F.when(
                    (F.col("__covered") == 1) & (next_cov == 0),
                    F.col("pos"),
                ),
            )
            .withColumn(
                "__run_start",
                F.last("__rs", ignorenulls=True).over(
                    asc.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
            .withColumn(
                "__run_end",
                F.last("__re", ignorenulls=True).over(
                    desc.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
        )
        drop = (F.col("__covered") == 1) & (
            F.col("__run_end") - F.col("__run_start") + 1
            >= F.lit(min_match_words)
        )
        kept = marked.where(~drop)
    else:
        kept = marked.where(F.col("__covered") == 0)
    ordered = Window.partitionBy("id").orderBy("pos")
    full = ordered.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        kept.withColumn(
            "text_deduped",
            F.concat_ws(" ", F.collect_list("w").over(full)),
        )
        .withColumn("n_words_kept", F.count(F.lit(1)).over(full))
        .withColumn("__first", F.row_number().over(ordered))
        .where(F.col("__first") == 1)
        .select(
            F.col("id").alias(id_col),
            "text_deduped",
            F.col("__n_words").alias("n_words"),
            "n_words_kept",
        )
    )


def decontaminate(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 13,
    mode: str = "flag",
) -> DataFrame:
    """Train/test contamination check: flag (or drop) corpus documents
    sharing ANY word n-gram with the evaluation set — the GPT-3/PaLM
    13-gram decontamination rule (Brown et al. 2020, Appendix C). The
    reference pipeline has no analogue; this is training-data surface.

    mode="flag" (default) returns every corpus row annotated with
    `contaminated` (bool) and `n_contaminated_grams` (count of the doc's
    DISTINCT n-grams that appear anywhere in the eval set);
    mode="drop" returns only clean rows, un-annotated.

    Plan shape: the eval side's DISTINCT gram set is collected and
    broadcast — benchmarks are small next to a training corpus, the
    exact assumption the old BroadcastHashJoin probe already made. The
    CORPUS side (r14) never explodes grams at all: tokenization stays a
    JVM expression (regex/lower semantics must keep matching the SQL
    oracle), and one Arrow mapInPandas pass assembles each doc's
    n-grams in Python and counts the distinct ones present in the
    broadcast set — gram assembly is plain string concatenation
    (engine-neutral), so the counted gram set is identical to the old
    explode+join+groupBy chain. This removes the corpus-sized
    shingle-window exchange AND the per-gram row explosion (the corpus
    ships one words-array row per doc into the scorer, matched counts
    come back one row per contaminated doc): d9 2.1s -> 0.75s at
    sf0.1, and the probe is map-side at any scale. An eval set too
    large to hold driver-side goes to decontaminate_bloom instead (the
    DECONTAMINATE BLOOM op): a bounded bloom prefilter plus an exact
    join of the survivors.
    """
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")

    import pandas as pd

    spark = corpus.sparkSession
    # eval grams assembled map-side too (same Python concatenation
    # as the probe, so both sides build byte-identical gram
    # strings); per-row processing needs no synthetic doc id and
    # cannot interleave duplicate texts, and the only exchange left
    # on the eval side is the distinct over the gram strings
    ev_words = evalset.select(
        _words(F.col(eval_text_col)).alias("__w")
    )

    def ev_grams(batches):
        for pdf in batches:
            out: "set[str]" = set()
            for ws in pdf["__w"]:
                if ws is None or len(ws) < n:
                    continue
                out.update(
                    " ".join(ws[i:i + n])
                    for i in range(len(ws) - n + 1)
                )
            yield pd.DataFrame({"sh": sorted(out)})

    eval_grams = ev_words.mapInPandas(
        ev_grams, "sh string"
    ).distinct()
    # the driver holds the distinct eval gram set — the same
    # driver/executor footprint the broadcast relation already had
    gset = {r[0] for r in eval_grams.collect()}
    bset = spark.sparkContext.broadcast(gset)
    id_t = corpus.schema[id_col].dataType.simpleString()
    words_df = corpus.select(
        F.col(id_col).alias("__id"),
        _words(F.col(text_col)).alias("__w"),
    )

    def probe(batches):
        s = bset.value
        for pdf in batches:
            ids, cnts = [], []
            for id_, ws in zip(pdf["__id"], pdf["__w"]):
                if ws is None or len(ws) < n:
                    continue
                # distinct matched grams only — identical count to
                # the exploded distinct-join (a doc gram hits the
                # eval set once no matter how often it repeats)
                matched = {
                    g
                    for i in range(len(ws) - n + 1)
                    if (g := " ".join(ws[i:i + n])) in s
                }
                if matched:
                    ids.append(id_)
                    cnts.append(len(matched))
            yield pd.DataFrame(
                {"__id": ids, "n_contaminated_grams": cnts}
            )

    hits = words_df.mapInPandas(
        probe, f"__id {id_t}, n_contaminated_grams long"
    ).withColumnRenamed("__id", id_col)
    # hits is NOT force-broadcast: it is usually tiny, but a pervasively
    # contaminated corpus makes it corpus-sized — AQE picks the strategy
    out = (
        corpus.join(hits, on=id_col, how="left")
        .withColumn(
            "contaminated", F.col("n_contaminated_grams").isNotNull()
        )
        .withColumn(
            "n_contaminated_grams",
            F.coalesce("n_contaminated_grams", F.lit(0).cast("long")),
        )
    )
    if mode == "drop":
        return out.where(~F.col("contaminated")).drop(
            "contaminated", "n_contaminated_grams"
        )
    return out


def decontaminate_bloom(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 13,
    mode: str = "flag",
    bloom_bits: int = 1 << 23,
    bloom_hashes: int = 5,
) -> DataFrame:
    """decontaminate() for eval sets too big to broadcast as grams —
    BIT-IDENTICAL results (pytest-pinned), different probe economics.

    decontaminate() ships the eval GRAM SET to every executor: right
    for benchmark-sized eval sets, impossible at held-out-corpus scale
    (a 13-gram averages ~90 bytes of string; 1e8 grams ≈ 9 GB). Here
    the eval grams fold into a BLOOM FILTER (Bloom 1970) of
    ``bloom_bits`` bits — 1e9 bits is a 125 MB broadcast and holds 1e8
    grams at ~2% FPR with 5 hashes — built distributively (per-partition
    numpy bitmaps OR-reduced; driver holds one bitmap, a constant).
    Corpus grams probe the bitmap MAP-SIDE (vectorized Arrow batches,
    double hashing h1 + i·h2 — Kirsch & Mitzenmacher 2006 — over
    xxhash64, zero shuffle), and only the sliver that might match
    (true hits + FPR·grams) pays the exact verification join. A bloom
    has no false negatives, so the verify join sees every true match:
    the filter is a pruning lens, the join is the truth — which is why
    this shares d9's oracle verbatim (catalog d21) and why FPR tuning
    can never corrupt results, only shift cost.

    At 100 TB: the corpus-side shingle pass is the same one shuffle
    every dedup op pays; the probe adds no exchange; the verify join's
    left side is FPR-bounded. Set bloom_bits ≈ 1.2 · n_grams ·
    bloom_hashes for ~2-3% FPR (power of two required — positions use
    mask arithmetic)."""
    import numpy as np

    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    if bloom_bits < 8 or bloom_bits & (bloom_bits - 1):
        raise ValueError(
            f"bloom_bits must be a power of two >= 8, got {bloom_bits}"
        )
    if bloom_hashes < 1:
        raise ValueError(f"bloom_hashes must be >= 1, got {bloom_hashes}")
    j, mask = int(bloom_hashes), np.uint64(bloom_bits - 1)
    nbytes = bloom_bits // 8

    eval_grams = (
        doc_shingles(
            evalset.select(
                F.xxhash64(F.col(eval_text_col)).alias("__eid"),
                F.col(eval_text_col),
            ).distinct(),
            id_col="__eid", text_col=eval_text_col, n=n,
        )
        .where(F.col("sh").isNotNull())
        .select("sh")
        .distinct()
    )

    def _part(rows):
        bm = np.zeros(nbytes, dtype=np.uint8)
        pairs = [(r[0], r[1]) for r in rows]
        if pairs:
            arr = np.array(pairs, dtype=np.int64).astype(np.uint64)
            for i in range(j):
                pos = (arr[:, 0] + np.uint64(i) * arr[:, 1]) & mask
                np.bitwise_or.at(
                    bm,
                    (pos >> np.uint64(3)).astype(np.int64),
                    np.left_shift(
                        np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
                    ),
                )
        yield bm

    # treeAggregate, not treeReduce: an EMPTY eval set (or one where
    # every text is shorter than the n-gram window) reaches here as a
    # 0-partition relation after AQE collapses it, and treeReduce
    # raises "Cannot reduce empty RDD" — the zero-bitmap seed keeps the
    # documented drop-in contract with decontaminate(), which returns
    # all-uncontaminated on the same input (pytest-pinned).
    bitmap = (
        eval_grams.select(
            F.xxhash64("sh").alias("h1"),
            F.xxhash64("sh", F.lit(1)).alias("h2"),
        )
        .rdd.mapPartitions(_part)
        .treeAggregate(
            np.zeros(nbytes, dtype=np.uint8), np.bitwise_or, np.bitwise_or
        )
    )
    bc = corpus.sparkSession.sparkContext.broadcast(bitmap.tobytes())

    import pandas as pd  # function-local: this module stays pandas-free
    from pyspark.sql.functions import pandas_udf

    def _maybe_fn(h1, h2):
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        a = h1.to_numpy(dtype=np.int64).astype(np.uint64)
        b = h2.to_numpy(dtype=np.int64).astype(np.uint64)
        hit = np.ones(len(a), dtype=np.bool_)
        for i in range(j):
            pos = (a + np.uint64(i) * b) & mask
            byte = bm[(pos >> np.uint64(3)).astype(np.int64)]
            hit &= (
                byte >> (pos & np.uint64(7)).astype(np.uint8)
            ).astype(np.uint8) & np.uint8(1) != 0
        return pd.Series(hit)

    # real annotation objects (the module's `from __future__ import
    # annotations` would stringify inline hints, and 'pd' is not in
    # this module's globals for pyspark's type-hint resolution)
    _maybe_fn.__annotations__ = {
        "h1": pd.Series, "h2": pd.Series, "return": pd.Series,
    }
    _maybe = pandas_udf(_maybe_fn, "boolean")

    candidates = (
        doc_shingles(corpus, id_col=id_col, text_col=text_col, n=n)
        .where(F.col("sh").isNotNull())
        .where(
            _maybe(
                F.xxhash64("sh"), F.xxhash64("sh", F.lit(1))
            )
        )
    )
    # exact verification on the bloom-surviving sliver: the join that
    # decontaminate() runs over ALL corpus grams runs here over
    # (true hits + FPR) only; no broadcast hint — AQE sizes it
    hits = (
        candidates.join(eval_grams, on="sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
        .withColumnRenamed("id", id_col)
    )
    out = (
        corpus.join(hits, on=id_col, how="left")
        .withColumn(
            "contaminated", F.col("n_contaminated_grams").isNotNull()
        )
        .withColumn(
            "n_contaminated_grams",
            F.coalesce("n_contaminated_grams", F.lit(0).cast("long")),
        )
    )
    if mode == "drop":
        return out.where(~F.col("contaminated")).drop(
            "contaminated", "n_contaminated_grams"
        )
    return out


def eval_gram_set(
    evalset: DataFrame,
    text_col: str = "text",
    n: int = 13,
) -> "list[str]":
    """The eval set's distinct word n-grams, collected driver-side —
    bounded by the benchmark's size, which is what makes the streaming
    decontamination below possible (and is the same bounded-collect
    budget the IVF centroid table uses). Compute once per eval-set
    release, reuse across streams."""
    grams = (
        doc_shingles(
            evalset.select(
                F.xxhash64(F.col(text_col)).alias("__eid"),
                F.col(text_col),
            ).distinct(),
            id_col="__eid", text_col=text_col, n=n,
        )
        .select("sh")
        .distinct()
        .collect()
    )
    return sorted(r[0] for r in grams)


def decontaminate_stream(
    df: DataFrame,
    eval_grams: "list[str]",
    text_col: str = "text",
    n: int = 13,
    mode: str = "flag",
    max_eval_grams: int = 1_000_000,
) -> DataFrame:
    """Streaming-legal decontamination: the batch operator's shingle
    window and per-doc hit aggregation are not allowed under readStream
    append mode, so this variant is PURE per-row Column math — the
    HOF-built distinct shingle array intersected with the eval grams as
    ONE array literal. Same `contaminated`/`n_contaminated_grams`
    semantics as decontaminate(mode="flag") and the same row set for
    mode="drop"; parity is pytest-pinned stream-vs-batch.

    Trade-offs, stated plainly: the lambda HOFs run interpreted (fine at
    stream arrival rates, NOT the batch path — use decontaminate() for
    backfills), and the eval grams ride the plan as a literal (guarded
    by max_eval_grams; a benchmark suite is ~10^4-10^5 grams).
    """
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    if len(eval_grams) > max_eval_grams:
        raise ValueError(
            f"{len(eval_grams)} eval grams exceeds max_eval_grams="
            f"{max_eval_grams}; a literal that large would bloat every "
            f"task — shrink the eval set or run batch decontaminate()"
        )
    if eval_grams:
        hits = F.size(
            F.array_intersect(
                _shingles(F.col(text_col), n), F.lit(list(eval_grams))
            )
        ).cast("long")
    else:  # empty eval set: nothing can be contaminated
        hits = F.lit(0).cast("long")
    if mode == "drop":
        return df.where(hits == 0)
    return df.withColumn("n_contaminated_grams", hits).withColumn(
        "contaminated", F.col("n_contaminated_grams") > 0
    )


def _doc_lines(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The line-extraction contract the line-dedup family shares
    (dedup_lines / dedup_repeated_lines, replayed by the d14 and t21
    oracles): split on \\r?\\n so CRLF corpora don't keep a trailing \\r
    in the match key ('subscribe now\\r' != 'subscribe now' would let
    mixed-line-ending boilerplate escape), match on lower(trim(line)),
    keep the trimmed original-case line, exclude blanks. ONE definition
    on purpose — a change here must move both operators AND both
    oracles together."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\r?\n")).alias(
                "pos", "__raw"
            ),
        )
        .select(
            "id",
            "pos",
            F.trim(F.col("__raw")).alias("line"),
            F.lower(F.trim(F.col("__raw"))).alias("key"),
        )
        .where(F.col("key") != "")
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Line-level boilerplate dedup (the RefinedWeb / Falcon line-dedup
    shape, Penedo et al. 2023 §3.3): drop EVERY occurrence of any line
    whose normalized form appears in >= min_docs DISTINCT documents —
    navigation menus, cookie banners, licence headers, "subscribe"
    footers — and reassemble each document from its surviving lines in
    order. Complements dedup_spans/dedup_substrings (word-gram spans for
    corpora WITHOUT line structure): here the line break is the
    author's own span boundary, and removal is corpus-frequency-based
    (a line repeated across the web is boilerplate) rather than
    keep-first (the duplicated line carries no information for anyone).

    Lines split on \\r?\\n (CRLF-safe — web corpora mix line endings);
    matching is on lower(trim(line)); surviving lines keep their
    original (trimmed, case-preserved) text — this op RETURNS training
    text, so content is never case-folded (the chunk_documents rule).
    Blank lines are structure, not content: they are not counted and
    not rebuilt. Documents whose every line is boilerplate vanish.

    Plan shape, 100 TB posture: one shuffle by doc id (the reassembly
    window, which also counts n_lines before anything is dropped), one
    (id, key) DISTINCT + map-side-combinable count(*) to find common
    keys (the distinct bounds a line repeated 1M times inside ONE doc
    to one shuffled row per doc), and one LEFT ANTI join of lines
    against the common-key set — the common set is at most
    total_lines / min_docs rows and usually tiny, so AQE broadcasts it;
    a genuinely hot boilerplate key concentrates only drop-work (AQE
    skew-split handles the probe side). No all-pairs anywhere; linear
    in corpus lines.

    Output: (id_col, text_deduped, n_lines, n_lines_kept), one row per
    document with >= 1 surviving line.

    Reference parity: the reference has no sub-document dedup
    (/root/reference/Configurable_ETL_Python.py drops whole-row
    duplicates only, :243-252); this is part of the LLM-curation
    extension surface.
    """
    from pyspark.sql import Window

    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    lines = _doc_lines(df, id_col, text_col)
    per_doc = Window.partitionBy("id")
    lines = lines.withColumn("__n_lines", F.count(F.lit(1)).over(per_doc))
    common = (
        lines.select("id", "key")
        .distinct()
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("key")
    )
    kept = lines.join(common, "key", "left_anti")
    doc = Window.partitionBy("id").orderBy("pos")
    full = doc.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        kept.withColumn(
            "text_deduped",
            F.concat_ws("\n", F.collect_list("line").over(full)),
        )
        .withColumn("n_lines_kept", F.count(F.lit(1)).over(full))
        .withColumn("__first", F.row_number().over(doc))
        .where(F.col("__first") == 1)
        .select(
            F.col("id").alias(id_col),
            "text_deduped",
            F.col("__n_lines").cast("long").alias("n_lines"),
            F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        )
    )


def dedup_repeated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WITHIN-document repeated-line removal — the intra-doc dual of
    dedup_lines (which drops lines common ACROSS >= min_docs docs):
    keep only the FIRST occurrence of each normalized line inside a
    document and drop its later repeats — scraped pages duplicate their
    own nav/footer/heading lines many times, and Rae et al. 2021 §A1.1
    gates on exactly this signal (duplicate line fraction; t7 measures
    it, this op repairs it instead of dropping the whole doc).

    Same line conventions as dedup_lines: split on \\r?\\n (CRLF-safe),
    match on lower(trim(line)), surviving lines keep their original
    trimmed case (the first occurrence's case wins), blank lines are
    neither counted nor rebuilt.

    Plan shape, 100 TB posture: NO windows and no joins — two hash
    aggregates, both map-side combinable: (id, key) -> min(struct(pos,
    line)) + count(*) (keep-first as an argmin aggregate, the d8/d12
    pattern — a line repeated 1M times inside one doc partial-combines
    to one row per map task, where a row_number window would sort the
    hot key), then id -> ordered reassembly. Linear in corpus lines.

    Output: (id_col, text_deduped, n_lines, n_lines_kept), one row per
    document with >= 1 surviving (non-blank) line; n_lines counts the
    doc's non-blank lines before the drop.

    Reference parity: the reference has no sub-document dedup
    (/root/reference/Configurable_ETL_Python.py drops whole-row
    duplicates only, :243-252); LLM-curation extension surface.
    """
    first = _doc_lines(df, id_col, text_col).groupBy("id", "key").agg(
        F.min(F.struct("pos", "line")).alias("__f"),
        F.count(F.lit(1)).alias("__c"),
    )
    return (
        first.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__f.pos").alias("pos"),
                                F.col("__f.line").alias("line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_deduped"),
            F.sum("__c").cast("long").alias("n_lines"),
            F.count(F.lit(1)).cast("long").alias("n_lines_kept"),
        )
        .select(
            F.col("id").alias(id_col),
            "text_deduped", "n_lines", "n_lines_kept",
        )
    )
