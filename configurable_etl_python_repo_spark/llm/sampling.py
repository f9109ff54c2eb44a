"""Deterministic sampling for training-data curation.

`df.sample()` is seed-stable only for a fixed partitioning — repartition
the corpus (or re-run after compaction) and the sample changes, which is
unacceptable for a reproducible 100 TB curation run. These operators
sample by CONTENT: a row is kept iff the md5 of its key falls under the
fraction cutoff, so the decision is a pure function of (key, seed) —
independent of partitioning, cluster size, execution order, or engine
(the DuckDB oracle reproduces it bit-for-bit). Zero shuffles: both
operators are a scan-stage filter.

The first 8 hex chars of md5(seed|key) read as a uniform 32-bit integer;
keep iff value < fraction * 2^32. Exact integer threshold — no float
comparison ambiguity at the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = 1 << 32

#: upper bound on DSIR's `buckets`: dsir_weights force-broadcasts the
#: per-bucket lambda table (<= buckets rows of BIGINT + DECIMAL(18,6)),
#: so its size must stay a small constant; 2^20 rows is tens of MB of
#: hashed relation on every executor, and 100x the DSIR paper's 10k
DSIR_MAX_BUCKETS = 1 << 20


def _bucket(key_col, seed: str, hex_chars: int = 8):
    """Uniform integer derived from the row key: the first `hex_chars`
    hex chars of md5(seed|key) (8 → 32-bit; mixture uses 5 → 20-bit so
    its all-BIGINT cutoff products can never overflow)."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(seed), key_col.cast("string"))),
            1, hex_chars,
        ),
        16, 10,
    ).cast("long")


def md5_mod(expr, denom: int):
    """THE repo md5-partition idiom in one place: the first 8 hex chars
    of md5(expr) as a 32-bit integer, mod `denom` — deterministic,
    engine-portable (hashlib.md5 on the driver computes the identical
    value), non-negative. Physical-layout keys (the MinHash index's kb,
    the BM25 index's tb, the dedup-index arrays' ab) all route through
    here so the derivation can never drift between modules; seeded
    row-sampling keys use _bucket (same window, seed|key input)."""
    return F.pmod(
        F.conv(F.substring(F.md5(expr), 1, 8), 16, 10).cast("long"),
        F.lit(denom),
    )


def _cutoff(fraction: float) -> int:
    if not (0.0 <= fraction <= 1.0):
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return int(round(fraction * _SCALE))


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    seed: str = "sample",
) -> DataFrame:
    """Keep ~fraction of rows, chosen deterministically by key content.
    Same (key, seed) → same decision on any cluster, any partitioning,
    any engine. Pure scan-stage filter (no shuffle, no state)."""
    return df.where(_bucket(F.col(key_col), seed) < F.lit(_cutoff(fraction)))


def mixture_sample(
    df: DataFrame,
    weights: dict[str, int],
    strata_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Resample to a target domain mixture — the data-mixing step of a
    pre-training pipeline (e.g. "2 parts web : 1 part code : 3 parts
    books"). Keeps the LARGEST corpus achievable at exactly the requested
    integer weight ratios: with W = Σw and per-stratum counts n_s, the
    binding stratum caps the total at T* = min_s ⌊n_s·W / w_s⌋, each
    stratum targets q_s = ⌊w_s·T* / W⌋ rows (the binding stratum keeps
    ~100%), and rows are admitted by the deterministic md5 bucket under
    the integer cutoff ⌊q_s·2^20 / n_s⌋. All arithmetic is BIGINT — no
    float boundary, so the DuckDB oracle reproduces the sample row-for-row
    (exact for n_s < 2^43 with the 20-bit bucket). Strata absent from
    `weights` are dropped (weight 0).

    Plan shape: ONE counting pass over the corpus (map-side partial,
    output = #strata rows, collected — driver state bounded by the number
    of strata, the same constant-bounded-collect pattern as the IVF
    centroid sample), then the cutoffs fold into a literal CASE and the
    output plan is a pure scan-stage filter: no join, no shuffle, and —
    crucially for composed pipelines — the input's lineage appears ONCE
    in the output plan (the previous cutoff-join formulation embedded the
    upstream subtree three more times, which multiplied whole-pipeline
    scans when mixture ran as the last stage of x14).
    """
    if not weights:
        raise ValueError("weights must be a non-empty {stratum: int} map")
    for v, w in weights.items():
        if not isinstance(w, int) or w <= 0:
            raise ValueError(f"weight for {v!r} must be a positive int, got {w!r}")

    strata = F.col(strata_col)
    in_mix = df.where(strata.isin(*weights))
    # counting pass: #strata rows to the driver; W over strata PRESENT in
    # the data (an absent stratum can't bind), then exact BIGINT math
    n = {
        r[0]: r[1]
        for r in in_mix.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    }
    if not n:
        return in_mix.where(F.lit(False))
    wtot = sum(weights[s] for s in n)
    tstar = min(cnt * wtot // weights[s] for s, cnt in n.items())
    cutoff = None
    for s, cnt in sorted(n.items()):
        q = weights[s] * tstar // wtot
        cond, val = strata == F.lit(s), F.lit((q << 20) // cnt)
        cutoff = F.when(cond, val) if cutoff is None else cutoff.when(cond, val)
    return in_mix.where(
        _bucket(F.col(key_col), seed, hex_chars=5) < cutoff
    )


def mixture_upsample(
    df: DataFrame,
    weights: dict[str, int],
    total_rows: int,
    max_epochs: int = 4,
    strata_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "mixup",
) -> DataFrame:
    """Resample to a target mixture WITH REPETITION, small domains
    repeated up to `max_epochs` — the upsampling dual of
    mixture_sample (which only keeps the largest achievable corpus at
    the exact ratios). Published mixtures repeat scarce high-quality
    domains for several epochs while web text sees less than one
    (Gao et al. 2020 §2 report per-set epochs for The Pile; Touvron et
    al. 2023 Table 1 lists per-dataset epochs for LLaMA); the cap
    bounds memorization-prone over-repetition.

    Each stratum targets q_s = floor(w_s * total_rows / W) rows (W =
    Σw over strata PRESENT): it contributes floor(q_s / n_s) full
    copies (capped at max_epochs — when the cap binds the stratum
    delivers exactly max_epochs * n_s rows and the achieved mixture
    honestly undershoots the target) plus a deterministic md5-bucket
    remainder, so every count is exact BIGINT math and the output
    replays row-for-row in SQL. Output rows carry an `epoch` column
    (0-based; the remainder rides epoch = floor(q_s / n_s)) so a
    downstream shuffle/pack can interleave copies, and (key, epoch) is
    a unique row identity.

    Plan shape: ONE counting pass (#strata rows collected — the
    mixture_sample pattern), then per-stratum (full, cutoff) fold into
    literal CASEs and the output is a single constant-bounded
    generator (sequence(0, max_epochs), at most max_epochs + 1 rows
    per input row before the admit filter) — no joins, no shuffles,
    lineage appears once."""
    if not weights:
        raise ValueError("weights must be a non-empty {stratum: int} map")
    for v, w in weights.items():
        if not isinstance(w, int) or w <= 0:
            raise ValueError(
                f"weight for {v!r} must be a positive int, got {w!r}"
            )
    if not isinstance(total_rows, int) or total_rows <= 0:
        raise ValueError(f"total_rows must be a positive int, got {total_rows}")
    if not isinstance(max_epochs, int) or max_epochs < 1:
        raise ValueError(f"max_epochs must be an int >= 1, got {max_epochs}")
    if "epoch" in df.columns:
        raise ValueError(
            "input already has an 'epoch' column — mixture_upsample "
            "emits the copy index under that name (rename the input "
            "column; silently overwriting it would corrupt the "
            "(key, epoch) identity contract)"
        )

    strata = F.col(strata_col)
    in_mix = df.where(strata.isin(*weights))
    n = {
        r[0]: r[1]
        for r in in_mix.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    }
    if not n:
        return in_mix.where(F.lit(False)).withColumn(
            "epoch", F.lit(0).cast("long")
        )
    wtot = sum(weights[s] for s in n)
    full_c, cut_c = None, None
    for s, cnt in sorted(n.items()):
        q = weights[s] * total_rows // wtot
        full = q // cnt
        if full >= max_epochs:
            full, cut = max_epochs, 0
        else:
            cut = ((q - full * cnt) << 20) // cnt
        cond = strata == F.lit(s)
        fv, cv = F.lit(full).cast("long"), F.lit(cut).cast("long")
        full_c = F.when(cond, fv) if full_c is None else full_c.when(cond, fv)
        cut_c = F.when(cond, cv) if cut_c is None else cut_c.when(cond, cv)
    out = in_mix.withColumn(
        "epoch",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.lit(max_epochs).cast("long")
            )
        ),
    )
    admit = (F.col("epoch") < full_c) | (
        (F.col("epoch") == full_c)
        & (_bucket(F.col(key_col), seed, hex_chars=5) < cut_c)
    )
    return out.where(admit)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    key_col: str = "doc_id",
    seed: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum value keeps its
    own fraction (e.g. downsample dominant languages, keep all of rare
    ones). Strata not listed keep default_fraction. The per-stratum
    cutoff compiles to a CASE chain — still a pure scan-stage filter."""
    cut = F.lit(_cutoff(default_fraction))
    for value, frac in sorted(fractions.items()):
        cut = F.when(
            F.col(strata_col) == F.lit(value), F.lit(_cutoff(frac))
        ).otherwise(cut)
    return df.where(_bucket(F.col(key_col), seed) < cut)

def split_assign(
    df: DataFrame,
    splits: "dict[str, float]",
    key_col: str = "doc_id",
    seed: str = "split",
    group_col: "str | None" = None,
) -> DataFrame:
    """Deterministic train/val/test split assignment by content hash —
    adds a `split` column naming each row's split (NULL for the
    unassigned remainder when fractions sum below 1).

    `group_col` makes the split LEAKAGE-FREE: rows hash by their GROUP
    key (e.g. the near-duplicate cluster id from dedup_clusters), so
    every member of a cluster lands in the SAME split — without it, a
    near-duplicate pair straddling train/test silently leaks eval data
    into training. This is the reason the operator exists; plain
    per-row splits are the group_col=None degenerate case.

    Ranges are contiguous [c_{i-1}, c_i) slices of the 32-bit hash
    space in SORTED split-name order with exact integer cutoffs (the
    hash_sample convention) — a pure scan-stage CASE, zero shuffles,
    partitioning-invariant, engine-portable."""
    if not splits:
        raise ValueError("splits must be a non-empty {name: fraction} dict")
    total = 0.0
    for name, frac in splits.items():
        if not (0.0 < frac <= 1.0):
            raise ValueError(
                f"split {name!r}: fraction must be in (0, 1], got {frac}"
            )
        total += frac
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    b = _bucket(F.col(group_col if group_col is not None else key_col), seed)
    cum = 0.0
    cuts = []
    for name in sorted(splits):
        cum += splits[name]
        cuts.append((name, int(round(cum * _SCALE))))
    # nest the CASE inside-out so the LOWEST matching cutoff wins
    assigned = F.lit(None).cast("string")
    for name, hi in reversed(cuts):
        assigned = F.when(b < F.lit(hi), F.lit(name)).otherwise(assigned)
    return df.withColumn("split", assigned)


def top_k_sample(
    df: DataFrame,
    k: int,
    strata_col: "str | None" = None,
    key_col: str = "doc_id",
    seed: str = "sample",
) -> DataFrame:
    """EXACTLY min(k, stratum size) rows per stratum (or globally with
    strata_col=None), chosen deterministically by content-hash order —
    the exact-count companion to hash_sample's fractions ("exactly 10k
    eval docs per domain"). Same invariances: a pure function of
    (key, seed), partitioning-independent, engine-portable, and NESTED
    (the top-k' for k' < k is a prefix of the top-k).

    Scale shape: row_number over (stratum, hash, key) bounded by k
    compiles to WindowGroupLimit (plan-asserted in tests) — every map
    partition pre-prunes to its LOCAL top-k per stratum before the
    shuffle, so at most k rows per stratum per partition move; a hot
    stratum never ships its full population to one reducer. Hash ties
    break by key, so the result is unique even for duplicate content."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    b = _bucket(F.col(key_col), seed)
    part = [F.col(strata_col)] if strata_col is not None else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy(
        b.asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def _uni_bi_grams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, g) word unigrams + bigrams WITH duplicates — the DSIR
    hashed-feature stream, from ONE posexplode + LEAD pass: each word
    position emits its unigram plus (when a next word exists) its
    bigram. Same gram multiset as the old two-branch union, but the
    document text is scanned and split ONCE instead of twice (the
    unigram branch was a second full scan + explode of the corpus) and
    the shuffle bytes are unchanged — the id-hash exchange carries the
    same (id, pos, w) word stream either way. Words are never null
    (split + non-empty filter), so lead IS NULL exactly at each doc's
    last position."""
    from pyspark.sql import Window

    from .dedup import _words

    w0 = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_words(F.col(text_col))).alias("pos", "w"),
    )
    nx = F.lead("w", 1).over(Window.partitionBy("id").orderBy("pos"))
    withnx = w0.select("id", "w", nx.alias("__nx"))
    both = F.when(
        F.col("__nx").isNotNull(),
        F.array(F.col("w"), F.concat_ws(" ", F.col("w"), F.col("__nx"))),
    ).otherwise(F.array(F.col("w")))
    return withnx.select("id", F.explode(both).alias("g"))


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: "str | None" = None,
    buckets: int = 10_000,
    alpha: float = 1.0,
    seed: str = "dsir",
) -> DataFrame:
    """Per-document DSIR importance log-weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score how
    much more likely each corpus document is under a small in-domain
    TARGET sample than under the raw corpus, using hashed n-gram
    (unigram + bigram) bag-of-words models.

    Per bucket b: lambda_b = ln p_target(b) - ln p_corpus(b), Laplace-
    smoothed; per doc: logw = sum over its gram occurrences of
    lambda_{bucket(gram)}. High logw = looks like the target.

    Determinism (the oracle convention): gram->bucket is the md5 bucket
    (engine-portable, partitioning-invariant), each ln is rounded to 6
    decimals FIRST, lambda is an exact DECIMAL difference, and the
    per-doc sum runs in DECIMAL — accumulation order can't flip bits.

    100 TB shape: ONE tagged bucket-count aggregation over the union of
    both gram streams (output <= `buckets` rows — a constant), the
    grand totals nq/np as global windows OVER THAT CONSTANT-BOUNDED
    relation (single-partition, <= buckets rows by construction — not
    over anything data-sized), and the per-bucket lambda table joins
    the corpus gram stream on the bucket id (AQE broadcasts it: <=
    buckets rows), one per-doc aggregation. No collect anywhere; the
    corpus is scanned twice (count pass + weight pass) and never
    shuffled except by doc id for the bigram window and the final
    groupBy. The union+window formulation replaced two separate count
    aggregations plus two scalar agg+crossJoins that re-embedded the
    gram subtrees in the logical plan — measured seconds of pure
    driver-side planning/codegen per invocation (41 Exchange nodes in
    the x18 logical plan) for byte-identical output.

    Output: (id, n_grams, logw DECIMAL(28,6)); docs with zero grams are
    absent (no evidence either way), documented like surprisal_score."""
    if not 2 <= buckets <= DSIR_MAX_BUCKETS:
        raise ValueError(
            f"buckets must be in [2, {DSIR_MAX_BUCKETS}] (the lambda table "
            f"is broadcast), got {buckets}"
        )
    tgt_text = target_text_col if target_text_col is not None else text_col

    def bucketed(grams: DataFrame) -> DataFrame:
        return grams.withColumn(
            "bkt", F.pmod(_bucket(F.col("g"), seed), F.lit(buckets))
        )

    # the corpus gram stream feeds BOTH the bucket-count aggregation and
    # the weight join — scope-cache it (capacity-bounded, recompute-safe)
    # so the posexplode + bigram-window build runs once, not twice
    from pyspark.sql import Window

    from .dedup import _scope_cache

    # project the cache to (id, bkt) — the gram string itself is never
    # read downstream (both consumers key on the bucket), and an opaque
    # column in the cache would double its bytes for nothing
    corpus_grams = _scope_cache(
        bucketed(_uni_bi_grams(df, id_col, text_col)).select("id", "bkt")
    )
    target_grams = bucketed(_uni_bi_grams(target, id_col, tgt_text))
    # ONE tagged aggregation yields both per-bucket counts (cq: corpus,
    # cp: target) — same BIGINT counts as two separate groupBys, one
    # shuffle instead of two, and the gram subtrees appear in the plan
    # once each. Buckets only one side touched carry an exact 0 for the
    # other (the coalesce(·, 0) the old left join applied).
    bc = (
        corpus_grams.select("bkt", F.lit(1).alias("__t"))
        .unionByName(target_grams.select("bkt", F.lit(0).alias("__t")))
        .groupBy("bkt")
        .agg(
            F.count(F.when(F.col("__t") == 1, 1)).alias("cq"),
            F.count(F.when(F.col("__t") == 0, 1)).alias("cp"),
        )
    )

    def log6(num, den):
        return F.round(F.log(num / den), 6).cast("decimal(18,6)")

    # grand totals as global windows over bc — <= `buckets` rows by
    # construction (pmod into `buckets`), so the single-partition window
    # is constant-bounded at any corpus scale. Exact BIGINT sums over
    # the same addend sets as the old scalar aggs: nq includes every
    # corpus bucket (cq = 0 rows add nothing) and np every target
    # bucket — including target-only buckets the old LEFT join kept out
    # of the lambda table but whose counts np always included.
    wb = Window.partitionBy()
    lam = bc.select(
        "bkt",
        F.col("cq").alias("__cq"),
        (
            log6(
                F.col("cp").cast("double") + F.lit(alpha),
                F.sum("cp").over(wb).cast("double")
                + F.lit(alpha * buckets),
            )
            - log6(
                F.col("cq").cast("double") + F.lit(alpha),
                F.sum("cq").over(wb).cast("double")
                + F.lit(alpha * buckets),
            )
        ).alias("lam"),
    ).where(F.col("__cq") > 0).select("bkt", "lam")
    # lam is <= `buckets` rows BY CONSTRUCTION (pmod into `buckets`) —
    # broadcast it explicitly. Catalyst's estimate for the window-over-
    # aggregate subtree is garbage while the cached gram relation has
    # exact stats, so left to itself the planner BuildLeft-broadcast the
    # corpus-sized gram stream (measured: a 3.1M-row hashed relation
    # collected to the driver per invocation at sf0.1) — backwards at
    # every scale (guide §3.1: hint the side you KNOW is small).
    return (
        corpus_grams.join(F.broadcast(lam), "bkt")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lam").cast("decimal(28,6)").alias("logw"),
        )
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: "str | None" = None,
    buckets: int = 10_000,
    alpha: float = 1.0,
    seed: str = "dsir",
) -> DataFrame:
    """DSIR data selection: the top-k corpus documents under Gumbel-
    perturbed importance log-weights — exact Gumbel-top-k sampling
    without replacement from the softmax over dsir_weights (Xie et al.
    2023 select docs this way; temperature 1).

    The Gumbel noise is DETERMINISTIC content-hash randomness (the
    sampling-family convention): u = (md5-bucket(id) + 0.5) / 2^32,
    g = -ln(-ln(u)) rounded to 6 decimals, key = logw + g as an exact
    DECIMAL sum — reproducible on any cluster, any partitioning, any
    engine. Ties break by id. Global top-k compiles to
    TakeOrderedAndProject (per-partition heaps, no full sort).

    Output: the selected docs' rows plus (n_grams, logw, sel_key),
    exactly k rows (or fewer when the corpus has fewer docs with >= 1
    gram)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = dsir_weights(df, target, id_col, text_col, target_text_col,
                     buckets, alpha, seed)
    u = (
        _bucket(F.col("id"), seed + "|gumbel").cast("double") + F.lit(0.5)
    ) / F.lit(float(_SCALE))
    gumbel = F.round(-F.log(-F.log(u)), 6).cast("decimal(18,6)")
    keyed = w.select(
        "id", "n_grams", "logw",
        (F.col("logw") + gumbel).cast("decimal(28,6)").alias("sel_key"),
    )
    return (
        df.join(keyed.withColumnsRenamed({"id": id_col}), id_col)
        .orderBy(F.col("sel_key").desc(), F.col(id_col).asc())
        .limit(k)
    )
