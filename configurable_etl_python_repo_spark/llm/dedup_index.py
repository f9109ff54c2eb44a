"""Incremental cross-corpus near-duplicate detection: a PERSISTED
MinHash-LSH signature index and a probe that deduplicates a new batch
against it without recomputing the old corpus.

The production shape of dedup at 100 TB is not "dedup the corpus once";
it is "dedup TODAY'S batch against YESTERDAY'S corpus, every day". The
one-shot operators (minhash_lsh_pairs) recompute every signature on
every run — a daily ingest would re-shingle 100 TB to admit 100 GB.
This module is the write-side dual, mirroring the IVF index pattern
(similarity.py ivf_build_index/ivf_search_index):

- ``minhash_build_index`` runs the fused signature aggregate ONCE and
  persists two relations under ``path``: the LSH band buckets
  (id, band, key), physically partitioned by a md5-derived bucket of
  (band, key) so a probe can PARTITION-PRUNE its scan, and the per-doc
  shingle arrays the exact-Jaccard verify step needs. Hash parameters
  are stored alongside so a probe can never run with a mismatched
  family.
- ``dedup_against_index`` computes signatures for the NEW batch only,
  collects its <= key_buckets distinct partition values (a constant-
  bounded driver list, the ivf_search_index probe trick), scans only
  those bucket partitions, joins on (band, key), and verifies
  candidates with the same integer-math Jaccard as the one-shot path.
  Probe cost scales with the BATCH, not the corpus: the corpus is
  touched only through the pruned bucket partitions and the candidate
  ids' array rows.
- ``minhash_extend_index`` appends the batch's signatures after
  admission, so tomorrow's probe sees today's docs — the daily
  roll-forward.

Because build and probe share minhash_sigarr (dedup.py) — the same
md5-derived hash family, gram stream, and band keys — the probe's
verified pairs are BIT-EQUAL to the cross-corpus subset of
minhash_lsh_pairs on the union (pinned in tests), and the whole
pipeline replays in ANSI SQL for the oracle gate.

Reference parity: the reference has no persisted state between runs at
all (/root/reference/Configurable_ETL_Python.py re-reads every source
per execution); this is part of the LLM-curation extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _store as ST
from .dedup import (
    _jaccard_from_arrays,
    _scope_cache,
    explode_band_keys,
    minhash_sigarr,
)

#: default physical partition count for the bucket store — small enough
#: that a tiny probe prunes to a few directories, large enough that one
#: partition of a 100 TB corpus's buckets stays executor-sized
_DEFAULT_KEY_BUCKETS = 64

#: physical-layout version stamped into _meta: probe/extend REFUSE a
#: tree written under a different layout instead of mis-reading it (an
#: extend appending a new layout into an old tree would corrupt the
#: store — 'Conflicting directory structures' on the next read).
#: v2 = segment-manifest layout: every relation gains a seg=<id>
#: partition level and visibility is governed by _segments manifests
#: (_store.py) — build/extend/compact commit atomically
_LAYOUT = "kb-ab-seg-v2"


def _kb_col(key_buckets: int):
    """md5-derived physical partition of an LSH (band, key) bucket —
    deterministic, so the build side and every later probe/extend
    agree on the layout without coordination."""
    from .sampling import md5_mod

    return md5_mod(
        F.concat_ws("#", F.col("band").cast("string"), F.col("key")),
        key_buckets,
    ).alias("kb")


def _ab_col(id_expr, buckets: int):
    """md5-derived physical partition of the arrays store BY DOC ID, so
    the verify step can prune its scan to the candidate ids' buckets —
    without this the probe's verify full-scanned the corpus-sized
    shingle arrays and broke the batch-scaling contract."""
    from .sampling import md5_mod

    return md5_mod(id_expr.cast("string"), buckets).alias("ab")


def _batch_buckets(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    meta,
) -> "tuple[DataFrame, DataFrame]":
    """(cached signature relation, bucket rows) for a batch under the
    index's stored hash parameters."""
    sig = _scope_cache(
        minhash_sigarr(
            batch, id_col, text_col, int(meta.n),
            int(meta.bands) * int(meta.rows_per_band),
        )
    )
    buckets = explode_band_keys(
        sig, int(meta.bands), int(meta.rows_per_band)
    ).withColumn("kb", _kb_col(int(meta.key_buckets)))
    return sig, buckets


def minhash_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    key_buckets: int = _DEFAULT_KEY_BUCKETS,
) -> None:
    """WRITE-SIDE MinHash-LSH index: one pass over the corpus persists
    everything a future probe needs under ``path``:

    - ``buckets/`` — (id, band, key) LSH bucket rows, physically
      partitioned by kb = md5(band#key) % key_buckets. The probe prunes
      to its own kb set at the file listing, so un-probed partitions
      cost zero I/O (the ivf_build_index property).
    - ``arrays/`` — (id, arr) distinct shingle arrays for the exact-
      Jaccard verify of candidates (bounded by document length per
      row), physically partitioned by ab = md5(id) % key_buckets so
      the verify scan prunes to the candidate ids' buckets.
    - ``_meta/`` — the hash-family parameters (n, bands, rows_per_band,
      key_buckets), read back by probe/extend so a family mismatch is
      structurally impossible.

    Build cost equals the one-shot minhash_lsh_pairs signature pass
    (shared minhash_sigarr aggregate); every subsequent daily probe
    amortizes it. The build is ATOMIC: relations land in a fresh
    seg=<id> directory pair, and the manifest commit (the txlog
    create-if-absent protocol, _store.py) makes both visible at once —
    a crashed or concurrent rebuild is invisible, never torn."""
    if key_buckets < 1:
        raise ValueError(f"key_buckets must be >= 1, got {key_buckets}")
    sig = _scope_cache(
        minhash_sigarr(corpus, id_col, text_col, n, bands * rows_per_band)
    )
    buckets = explode_band_keys(sig, bands, rows_per_band).withColumn(
        "kb", _kb_col(key_buckets)
    )
    seg, meta_id = ST.new_segment_id(), ST.new_meta_id()
    ST.write_segment(buckets, path, "buckets", seg, "kb")
    ST.write_segment(
        sig.select("id", "arr", _ab_col(F.col("id"), key_buckets)),
        path, "arrays", seg, "ab",
    )
    ST.commit_build(
        corpus.sparkSession, path, seg, meta_id,
        (n, bands, rows_per_band, key_buckets, _LAYOUT, meta_id),
        "n int, bands int, rows_per_band int, key_buckets int, "
        "layout string, meta_id string",
    )


def minhash_extend_index(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    tag: "str | None" = None,
) -> bool:
    """Roll the index forward: append the batch's bucket rows and
    shingle arrays under the index's OWN stored hash parameters (read
    from _meta — callers cannot desynchronize the family). Committed
    segments behave exactly like the build's — pinned in tests as
    probe(index(A) extended with B) == probe(index(A ∪ B)).

    The caller decides WHAT to append (typically the admitted subset of
    the batch, after dropping near-dups the probe found). ATOMIC: both
    relations' segment dirs become visible in ONE manifest commit; a
    job that dies mid-extend leaves invisible orphans and a retry
    cannot double-append. Pass `tag` (e.g. a streaming batch id) for
    retry IDEMPOTENCE: if that tag already committed, nothing is
    published and False is returned."""
    meta, _, tags, _ = ST.committed_state(
        batch.sparkSession, path, (_LAYOUT,), kind="signature index"
    )
    if tag is not None and tag in tags:
        return False
    sig, buckets = _batch_buckets(batch, id_col, text_col, meta)
    seg = ST.new_segment_id()
    ST.write_segment(buckets, path, "buckets", seg, "kb")
    ST.write_segment(
        sig.select(
            "id", "arr", _ab_col(F.col("id"), int(meta.key_buckets))
        ),
        path, "arrays", seg, "ab",
    )
    return ST.commit_extend(path, seg, meta.meta_id, tag=tag)


def dedup_against_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    verify: bool = True,
    as_of_version: "int | None" = None,
) -> DataFrame:
    """Probe a persisted MinHash index with a NEW batch: near-duplicate
    (batch doc, indexed doc) pairs without recomputing any corpus
    signature.

    Output: (id_a, id_b[, inter, size_a, size_b]) where id_a is the
    BATCH doc and id_b the INDEXED doc — cross-corpus pairs only (the
    two id namespaces are independent; an id present on both sides is
    reported like any other match, which is what a re-ingest wants).
    Batch-internal duplicates are a one-shot minhash_lsh_pairs over the
    batch alone — a batch-sized job, not this one.

    Plan shape, 100 TB posture: the batch pays one signature aggregate
    (batch-sized). Its distinct kb values — at most key_buckets, a
    constant — are collected driver-side and pushed as a partition
    filter on the bucket store, so the corpus-side scan lists only the
    probed directories and reads (id, band, key) rows, never text. The
    (band, key) equi-join's batch side is batch-sized (AQE broadcasts a
    small morning batch); the verify scan of the stored arrays prunes
    to the candidate ids' ab partitions (a second constant-bounded
    probe set), so corpus array rows are read only from directories
    that can hold a matched doc. With verify=True the output is exactly
    {LSH candidates} ∩ {jaccard >= threshold}, same integer math as the
    one-shot path. Reads resolve the segment manifest ONCE and filter
    both stores to committed segments — snapshot isolation: a crashed
    extend's orphan dirs and a mid-probe concurrent extend are both
    invisible. Tombstoned ids (_store.delete_from_index) never appear
    as id_b: the bucket relation is anti-joined against the committed
    tombstones BEFORE the candidate join (zero cost when no deletes
    exist). `as_of_version` pins the probe to an explicit manifest
    snapshot — the answer the store gave when vN was latest, spanning
    extends/deletes/compactions within the build generation, valid
    until vacuum_index removes the superseded segments (see
    _store.committed_state)."""
    meta, segs, _, man = ST.committed_state(
        spark, path, (_LAYOUT,), kind="signature index",
        version=as_of_version,
    )
    sig, b_buckets = _batch_buckets(batch, id_col, text_col, meta)
    # constant-bounded probe set (<= key_buckets values): the only
    # driver-side materialization in the pipeline, same trick as
    # ivf_search_index's probed-centroid list
    probed = sorted(
        r[0] for r in b_buckets.select("kb").distinct().collect()
    )
    idx = (
        ST.apply_deletes(
            ST.read_committed(spark, path, "buckets", segs),
            ST.read_deletes(spark, path, man), "id",
        )
        .where(F.col("kb").isin(probed))
        .withColumnsRenamed({"id": "__idx_id"})
    )
    cand = (
        idx.join(
            b_buckets.withColumnsRenamed({"id": "__batch_id"}),
            ["band", "key"],
        )
        .select(
            F.col("__batch_id").alias("id_a"),
            F.col("__idx_id").alias("id_b"),
        )
        .distinct()
    )
    if not verify:
        return cand
    # the candidate set feeds two consumers (the ab probe-set collect
    # and the verify join) — scope-cache it so the bucket join runs once
    cand = _scope_cache(cand)
    # second constant-bounded probe set: the candidates' index ids map
    # to <= key_buckets array partitions, so the verify scan reads only
    # the directories that can hold a matched doc's shingles — without
    # this the verify full-scanned the corpus-sized arrays store and
    # broke the "probe cost scales with the batch" contract
    ab = _ab_col(F.col("id_b"), int(meta.key_buckets))
    probed_ab = sorted(
        r[0] for r in cand.select(ab).distinct().collect()
    )
    idx_arrays = (
        ST.read_committed(spark, path, "arrays", segs)
        .where(F.col("ab").isin(probed_ab))
        .select("id", "arr")
    )
    return _jaccard_from_arrays(
        cand, sig.select("id", "arr"), threshold, arrays_b=idx_arrays
    )


# ---------------------------------------------------------------------------
# SimHash incremental index (the hamming-metric dual of the MinHash index)
# ---------------------------------------------------------------------------

#: SimHash store layout version (bands/ partitioned by kb, fingerprint
#: halves denormalized onto every band row; v2 = segment-manifest
#: commits, see _store.py)
_SH_LAYOUT = "sh-kb-seg-v2"


def simhash_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    key_buckets: int = _DEFAULT_KEY_BUCKETS,
) -> None:
    """WRITE-SIDE SimHash index: one fingerprint pass persists the
    Manku pigeonhole band rows (id, sh_hi, sh_lo, band, key) under
    ``path``/bands, physically partitioned by kb = md5(band#key) %
    key_buckets — the MinHash index's layout applied to the hamming
    metric. The fingerprint halves ride every band row, so a probe
    verifies hamming INSIDE the band join and needs no second store
    (no arrays/ dual here). ``_meta`` pins (max_hamming, key_buckets,
    layout); max_hamming is a BUILD-time parameter because it fixes
    the band count — probing at a larger k than the index was built
    for would miss pairs, so the probe reads k from the index."""
    from .dedup import simhash64, simhash_band_rows

    if key_buckets < 1:
        raise ValueError(f"key_buckets must be >= 1, got {key_buckets}")
    if not (0 <= max_hamming <= 15):
        raise ValueError(
            f"max_hamming must be in [0, 15], got {max_hamming}"
        )
    fp = simhash64(corpus, id_col, text_col)
    rows = simhash_band_rows(fp, max_hamming).withColumn(
        "kb", _kb_col(key_buckets)
    )
    seg, meta_id = ST.new_segment_id(), ST.new_meta_id()
    ST.write_segment(rows, path, "bands", seg, "kb")
    ST.commit_build(
        corpus.sparkSession, path, seg, meta_id,
        (max_hamming, key_buckets, _SH_LAYOUT, meta_id),
        "max_hamming int, key_buckets int, layout string, "
        "meta_id string",
    )


def simhash_extend_index(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    tag: "str | None" = None,
) -> bool:
    """Roll the SimHash index forward: append the batch's band rows
    under the index's OWN stored (max_hamming, key_buckets) — pinned in
    tests as probe(index(A) extended with B) == probe(index(A ∪ B)).
    ATOMIC via the segment-manifest commit (_store.py); `tag` gives
    retry idempotence (returns False if already committed)."""
    from .dedup import simhash64, simhash_band_rows

    meta, _, tags, _ = ST.committed_state(
        batch.sparkSession, path, (_SH_LAYOUT,), kind="signature index"
    )
    if tag is not None and tag in tags:
        return False
    fp = simhash64(batch, id_col, text_col)
    rows = simhash_band_rows(fp, int(meta.max_hamming)).withColumn(
        "kb", _kb_col(int(meta.key_buckets))
    )
    seg = ST.new_segment_id()
    ST.write_segment(rows, path, "bands", seg, "kb")
    return ST.commit_extend(path, seg, meta.meta_id, tag=tag)


def simhash_against_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    as_of_version: "int | None" = None,
) -> DataFrame:
    """Probe a persisted SimHash index with a NEW batch: (batch doc,
    indexed doc) pairs within the index's max_hamming — EXACT for the
    fingerprint metric (pigeonhole bound) and bit-equal to the
    cross-side subset of the one-shot simhash_pairs on the union
    (pytest-pinned; shared simhash64 + band machinery).

    Plan shape: the batch pays one fingerprint aggregate; its <=
    key_buckets distinct kb values prune the band-store scan at the
    file listing; the hamming verify runs INSIDE the (band, key)
    equi-join on the denormalized fingerprint halves — the corpus text
    and fingerprints are never recomputed, and no second store is
    touched. Output: (id_a batch, id_b index, hamming). Tombstoned ids
    never appear as id_b."""
    from .dedup import simhash64, simhash_band_rows, simhash_distance

    meta, segs, _, man = ST.committed_state(
        spark, path, (_SH_LAYOUT,), kind="signature index",
        version=as_of_version,
    )
    k = int(meta.max_hamming)
    fp = _scope_cache(simhash64(batch, id_col, text_col))
    b_rows = simhash_band_rows(fp, k).withColumn(
        "kb", _kb_col(int(meta.key_buckets))
    )
    probed = sorted(
        r[0] for r in b_rows.select("kb").distinct().collect()
    )
    idx = (
        ST.apply_deletes(
            ST.read_committed(spark, path, "bands", segs),
            ST.read_deletes(spark, path, man), "id",
        )
        .where(F.col("kb").isin(probed))
        .select("id", "sh_hi", "sh_lo", "band", "key")
    )
    dist = simhash_distance("a", "b")
    a = b_rows.alias("a")
    b = idx.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (dist <= k),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist.cast("long").alias("hamming"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding (cosine) incremental index — the vector-metric member of the
# family: MinHash = shingle Jaccard, SimHash = hamming, this = cosine.
# ---------------------------------------------------------------------------

#: embedding store layout version (vectors/ partitioned by IVF centroid id,
#: centroid table + params alongside; v2 = segment-manifest commits +
#: optional int8 storage; v3 = meta_id stamped into _centroids rows so a
#: torn/mid-probe-swapped quantizer fails loudly, see _store.py)
_EMB_LAYOUT = "emb-cid-seg-v3"

#: auto-sizing target: vectors per IVF list when n_centroids is None —
#: the d11/SemDeDup scale policy (n_centroids ~ N / target_list_size)
#: applied as the DEFAULT instead of a docstring
_EMB_TARGET_LIST_SIZE = 1024


def _emb_rows(batch, centroids, id_col, vec_col, quantize: bool):
    """One segment of the embedding store: (id, vec|scale+qvec, cid)
    under a FIXED quantizer — identical construction for build and
    extend, on purpose. quantize=True stores symmetric per-vector int8
    codes + scale (similarity.quantize_embeddings — 8x smaller than
    the exact array<double> at 100 TB); assignment always computes on
    the full-precision input."""
    from .similarity import ivf_assignments_arrow, quantize_embeddings

    assign1 = ivf_assignments_arrow(centroids, n_best=1)
    exact = batch.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
    ).withColumn("cid", assign1(F.col("vec"))[0])
    if not quantize:
        return exact
    q = quantize_embeddings(exact, id_col="id", vec_col="vec")
    return (
        exact.select("id", "cid")
        .join(q, "id")
        .select(
            "id", "scale",
            F.transform("qvec", lambda x: x.cast("tinyint")).alias("qvec"),
            "cid",
        )
    )


_EMB_PQ_LAYOUT = "emb-pq-cid-seg-v1"

#: the layouts the embedding probe/extend read (dispatch on meta.layout)
_EMB_LAYOUTS = (_EMB_LAYOUT, _EMB_PQ_LAYOUT)

#: probe-side slack added to the per-row err bound before the ADC
#: shortlist comparison. It covers the QUERY-side rounding the stored
#: err cannot know about: the m LUT terms round at round_digits (total
#: shift <= m·5e-7/(|q|·sqrt(den)) at the default 6dp) and the ascore
#: rounds once more (5e-7). 1e-4 dominates both whenever
#: |q|·sqrt(den) >= m·5e-3 — i.e. unless query and reconstruction
#: norms are BOTH degenerate-small (~0.03 for m=8), where cosine
#: itself is numerically meaningless. Slack only LOOSENS the shortlist
#: (extra rerank candidates, never a lost pair).
_PQ_ERR_SLACK = 1e-4


def _emb_pq_rows(batch, centroids, codebooks, dim, id_col, vec_col):
    """One segment of the PQ-CODED embedding store: (id, cid, codes,
    den, err, scale, qvec) under FIXED quantizers — identical
    construction for build and extend (the _emb_rows convention).

    - ``codes[s]`` = nearest codeword in subspace s of the FULL-
      precision vector (pq_encode's 6dp contract);
    - ``den`` = Σ_s round(|cw_s|², 6) DECIMAL-summed — the
      query-independent ADC denominator, precomputed once at encode
      time so probes never aggregate codebook norms;
    - ``scale``/``qvec`` = the int8 rerank vector (quantize_embeddings);
    - ``err`` = the per-row SHORTLIST BOUND: with dq the dequantized
      int8 vector, x̂ the codeword reconstruction, and x̃ = x̂/sqrt(den)
      the reconstruction AS THE PROBE NORMALIZES IT, Cauchy-Schwarz
      gives |cos(q,dq) − q_n·x̃| ≤ ||dq_n − x̃|| for any query. Any
      pair whose RERANK score reaches the threshold therefore has ADC
      score ≥ threshold − err, so the shortlist at (threshold − err −
      slack) is provably a SUPERSET of the rerank's answer set — the
      exact-threshold contract survives code-compressed scoring.
      ||dq_n − x̃||² = 1 + |x̂|²/den − 2·dq_n·x̃, and every rounding in
      its computation is folded in EXPLICITLY: the m 6dp-rounded dot
      terms shift dq_n·x̃ by at most m·5e-7/(|dq|·sqrt(den)) (the 2δ
      pad), den's m rounded nsq terms shift |x̂|²/den from 1 by at most
      m·5e-7/den (the δd pad), and the final 6dp rounding of the sqrt
      is dominated by the +2e-6 nudge — the stored err ALWAYS
      dominates the true deviation. Query-side LUT rounding is the
      probe's slack's job (_PQ_ERR_SLACK)."""
    from .similarity import (
        _dot,
        _norm,
        _pq_codebook_df,
        _pq_slices,
        ivf_assignments_arrow,
        quantize_embeddings,
    )

    m = len(codebooks)
    sd = dim // m
    assign1 = ivf_assignments_arrow(centroids, n_best=1)
    exact = batch.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
    ).withColumn("cid", assign1(F.col("vec"))[0])
    q8 = quantize_embeddings(exact, id_col="id", vec_col="vec")
    coded = (
        exact.join(q8, "id")
        .select(
            "id", "cid", "scale",
            F.transform("qvec", lambda x: x.cast("tinyint")).alias("qvec"),
            F.array(*[
                ivf_assignments_arrow(codebooks[s], n_best=1)(
                    F.slice(F.col("vec"), start, sdl)
                )[0]
                for s, (start, sdl) in enumerate(_pq_slices(dim, m))
            ]).alias("codes"),
        )
    )
    coded = _scope_cache(coded)
    cb = F.broadcast(
        _pq_codebook_df(batch.sparkSession, codebooks)
        .withColumnRenamed("cid", "code_cid")
    )
    dq = F.transform(
        "qvec", lambda q: q.cast("double") * F.col("scale")
    )
    ex = coded.select(
        "id", F.col("scale"), "qvec",
        F.posexplode("codes").alias("s", "code_cid"),
    ).join(cb, ["s", "code_cid"]).select(
        "id", "nsq",
        F.round(
            _dot(
                F.slice(dq, F.col("s") * sd + 1, F.lit(sd)),
                F.col("cv"),
            ),
            6,
        ).alias("__t"),
    )
    stats = ex.groupBy("id").agg(
        F.sum(F.col("nsq").cast("decimal(28,10)"))
        .cast("double").alias("den"),
        F.sum(F.col("__t").cast("decimal(28,10)"))
        .cast("double").alias("__dotsum"),
    )
    ndq = _norm(dq)
    c = F.col("__dotsum") / (ndq * F.sqrt("den"))
    delta = F.lit(float(m) * 5e-7) / (ndq * F.sqrt("den"))
    dpad = F.lit(float(m) * 5e-7) / F.col("den")
    err = F.when(ndq == 0, F.lit(2.0)).otherwise(
        F.round(
            F.sqrt(F.greatest(
                F.lit(0.0),
                F.lit(2.0) - 2.0 * c + 2.0 * delta + dpad,
            )),
            6,
        ) + F.lit(2e-6)
    )
    return coded.join(stats, "id").select(
        "id", "cid", "codes", "den", err.alias("err"), "scale", "qvec"
    )


def embedding_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: "int | None" = None,
    target_list_size: int = _EMB_TARGET_LIST_SIZE,
    quantize: "bool | str" = False,
    m_subspaces: int = 4,
    n_codes: int = 8,
    pq_n_iter: int = 1,
) -> None:
    """WRITE-SIDE embedding index for incremental SEMANTIC dedup: assign
    every corpus vector to its nearest hash-order-sample centroid
    (similarity.ivf_build_index's coarse quantizer — same deterministic
    init, same 6dp/smaller-cid tiebreak the SQL oracles replay) and
    persist under ``path``:

    - ``vectors/`` — (id, vec) rows physically partitioned by cid, so a
      probe's n_probe lists prune at the file listing (the IVF property:
      un-probed lists cost zero I/O).
    - ``_centroids/`` — the coarse quantizer itself (<= n_centroids rows).
    - ``_meta/`` — (n_centroids, quantize, layout, meta_id);
      probe/extend REFUSE a tree with a different layout instead of
      mis-reading it.

    quantize=False (default, alias "exact") stores exact array<double>
    vectors (float->double widening, so extends can never fork the
    schema); quantize=True (alias "int8") stores symmetric per-vector
    int8 codes + scale — 8x smaller on disk, the difference between
    one cluster and eight at 100 TB of embeddings — and probes score
    in the DEQUANTIZED domain (recall/error bound pinned in tests, the
    x11 pattern).

    quantize="pq" is the CODE-COMPRESSED store (verdict r11 item 3):
    rows carry PQ codes + the precomputed ADC denominator + a per-row
    shortlist bound ALONGSIDE the int8 rerank vector (_emb_pq_rows).
    Probes run two stages — an ADC shortlist whose per-candidate cost
    is m code lookups instead of dim multiply-adds, then the EXACT
    int8 rerank on the provably-superset shortlist — so the result is
    BIT-EQUAL to a quantize="int8" store's probe (pytest-pinned,
    catalog d22) while the scoring pass reads m-byte code columns.
    The per-subspace codebooks (m_subspaces × n_codes, trained with
    the shared deterministic Lloyd at pq_n_iter iterations) persist
    under _codebooks with the meta_id torn-rebuild stamp; extends
    encode under the STORED codebooks (FAISS-add — nothing retrains).
    Fixture-sized defaults; production uses m_subspaces=dim/8,
    n_codes=256 (byte-exact codes).

    Like FAISS's IVF `add`, extending does NOT retrain the quantizer:
    the centroid sample is fixed at build time, which is what makes a
    probe against an extended index bit-equal to a probe against a
    fresh build over the union UNDER THE SAME CENTROIDS (pinned in
    tests). Rebuild when the corpus distribution drifts.

    SCALE POLICY, now the DEFAULT (verdict item: auto-size the coarse
    quantizer): n_centroids=None sizes the quantizer from one corpus
    count as max(1, ceil(N / target_list_size)) — per-list size stays
    constant as the corpus grows, so probe cost scales with the batch
    (measured at sf1: pinned-8 probe exponent 0.85 vs 0.04 under the
    policy, BENCH_sf1_r08.json). Pass an explicit int to pin (oracle
    fixtures share the n3 oracle's centroid math that way).

    The build COMMITS atomically (segment-manifest commit, _store.py):
    readers never see a half-written segment, and a crashed FIRST build
    leaves only invisible orphans. A crashed REbuild is weaker — _meta
    and _centroids are in-place sidecars, so dying between their
    overwrite and commit_build leaves the previous index DETECTABLY
    torn (probes raise the torn-rebuild error; meta_id is cross-checked
    in both sidecars) rather than readable. Re-run the build to heal.

    Reference parity: the reference persists no state between runs
    (/root/reference/Configurable_ETL_Python.py re-reads every source per
    execution); extension surface, same rationale as the MinHash index."""
    import math

    from .similarity import _hash_order_sample

    modes = {False: "exact", True: "int8", "exact": "exact",
             "int8": "int8", "pq": "pq"}
    mode = modes.get(quantize)
    if mode is None:
        raise ValueError(
            f"quantize must be one of False/'exact', True/'int8', "
            f"'pq'; got {quantize!r}"
        )
    if target_list_size < 1:
        raise ValueError(
            f"target_list_size must be >= 1, got {target_list_size}"
        )
    if corpus.isEmpty():
        raise ValueError(
            "cannot build an embedding index over an EMPTY corpus — "
            "the store would have no quantizer and no readable segment"
        )
    if n_centroids is None:
        n_centroids = max(
            1, math.ceil(corpus.count() / target_list_size)
        )
    if n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1, got {n_centroids}")
    cents = _hash_order_sample(corpus, n_centroids, id_col, vec_col)
    spark = corpus.sparkSession
    seg, meta_id = ST.new_segment_id(), ST.new_meta_id()
    if mode == "pq":
        from .similarity import pq_train

        dim = corpus.select(F.size(vec_col)).first()[0]
        codebooks = pq_train(corpus, int(dim), m_subspaces, n_codes,
                             pq_n_iter, id_col, vec_col)
        rows = _emb_pq_rows(corpus, cents, codebooks, int(dim),
                            id_col, vec_col)
        meta_row = (len(cents), _EMB_PQ_LAYOUT, meta_id,
                    int(target_list_size), int(m_subspaces), int(n_codes),
                    int(dim))
        meta_ddl = ("n_centroids int, layout string, meta_id string, "
                    "target_list_size int, m_subspaces int, n_codes int, "
                    "dim int")
    else:
        rows = _emb_rows(corpus, cents, id_col, vec_col, mode == "int8")
        # target_list_size rides _meta so the extend-time drift warning
        # compares against the bound THIS build was sized for (an
        # explicit n_centroids pin still records the caller's intended
        # list size); additive column — pre-r11 stores read it as absent
        meta_row = (len(cents), mode == "int8", _EMB_LAYOUT, meta_id,
                    int(target_list_size))
        meta_ddl = ("n_centroids int, quantize boolean, layout string, "
                    "meta_id string, target_list_size int")
    ST.write_segment(rows, path, "vectors", seg, "cid")
    ST.write_centroids(spark, path, cents, meta_id)
    if mode == "pq":
        ST.write_codebooks(spark, path, codebooks, meta_id)
    # manifest-carried row count: O(1) reads for the drift policy (one
    # metadata-only footer count of the just-written segment)
    n_rows = ST.read_segment(spark, path, "vectors", seg).count()
    ST.commit_build(spark, path, seg, meta_id, meta_row, meta_ddl,
                    row_count=n_rows)


def embedding_extend_index(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tag: "str | None" = None,
    warn_list_size_factor: "float | None" = 4.0,
) -> bool:
    """Roll the embedding index forward: assign the batch under the
    index's OWN stored centroids and storage layout (exact/int8 vs
    pq, dispatched on the one committed_state read of _meta — callers
    cannot desynchronize either) and commit a new segment.
    Pruning and probe semantics after an extend are identical to a
    fresh build over the union with the original centroid sample
    (pytest-pinned). ATOMIC via the segment-manifest commit
    (_store.py); `tag` gives retry idempotence (returns False if
    already committed).

    DRIFT WARNING: extends never retrain the quantizer (the FAISS
    `add` contract), so per-list size only grows — and probe cost
    grows with it: a pinned-centroid store measured scale exponent
    0.86 vs −0.08 under the auto policy (BENCH_sf1_r10.json). A build
    that was right at 1M vectors silently degrades at 100M. After the
    commit this emits a UserWarning (recommending a rebuild) once
    rows-per-centroid exceeds ``warn_list_size_factor`` × the BUILD's
    own target list size (recorded in _meta since r11; pre-r11 stores
    fall back to the policy default). The total is O(1): per-segment
    row counts ride the manifest's "rows" map (each extend/build
    records its own segment's count — one footer read of the
    just-written dir), and only segments without an entry (a
    compacted segment, or a pre-r11 extend) are counted, which is
    exactly when the store has few segments. Tombstoned-but-unpurged
    rows still count (the heuristic measures list size, which deletes
    don't shrink until compaction). None disables the check."""
    spark = batch.sparkSession
    meta, segs, tags, man = ST.committed_state(
        spark, path, _EMB_LAYOUTS, kind="embedding index"
    )
    if tag is not None and tag in tags:
        return False
    if batch.isEmpty():
        # the delete_from_index discipline: an empty mutation commits
        # nothing (an empty segment would also break the footer count —
        # a 0-row partitioned write emits no parquet files to read)
        return False
    cents = ST.read_centroids(
        spark, path, meta.meta_id, kind="embedding index"
    )
    if meta.layout == _EMB_PQ_LAYOUT:
        codebooks = ST.read_codebooks(
            spark, path, meta.meta_id, kind="embedding index"
        )
        rows = _emb_pq_rows(batch, cents, codebooks, int(meta.dim),
                            id_col, vec_col)
    else:
        rows = _emb_rows(batch, cents, id_col, vec_col,
                         bool(meta.quantize))
    seg = ST.new_segment_id()
    ST.write_segment(rows, path, "vectors", seg, "cid")
    seg_rows = ST.read_segment(spark, path, "vectors", seg).count()
    committed = ST.commit_extend(
        path, seg, meta.meta_id, tag=tag, row_count=seg_rows
    )
    if committed and warn_list_size_factor is not None:
        counts = dict(man.get("rows") or {})
        counts[seg] = seg_rows
        missing = [s for s in segs if s not in counts]
        total = sum(counts.get(s, 0) for s in segs + [seg])
        if missing:
            total += ST.read_committed(
                spark, path, "vectors", missing
            ).count()
        target = getattr(meta, "target_list_size", None)
        target = _EMB_TARGET_LIST_SIZE if target is None else int(target)
        per_list = total / max(int(meta.n_centroids), 1)
        bound = warn_list_size_factor * target
        if per_list > bound:
            import warnings

            warnings.warn(
                f"embedding index at {path}: {total} vectors over "
                f"{meta.n_centroids} fixed centroid(s) = "
                f"{per_list:.0f} rows per IVF list, more than "
                f"{warn_list_size_factor}x the build's target of "
                f"{target} — probe cost scales with list size "
                f"(measured exponent 0.86 pinned vs -0.08 auto, "
                f"BENCH_sf1_r10.json); rebuild the index to re-size "
                f"the quantizer",
                stacklevel=2,
            )
    return committed


def _emb_pq_probe(spark, path, meta, stored, q, threshold,
                  round_digits):
    """Two-stage probe of a quantize='pq' store — the scoring half of
    embedding_against_index (which owns the coarse probe, the cid
    pruning, and the tombstone filter).

    Stage 1, ADC SHORTLIST: candidates (the probed-list cid join, the
    same pair set the int8 probe scores) are scored from CODE LOOKUPS —
    num = Σ_s round(dot(q_s, cw_s), d) against a per-(query, subspace,
    codeword) LUT (|batch| × m·n_codes rows), den read off the stored
    row. Cost per candidate: m lookups, never dim multiply-adds, and
    the scan reads the codes/den/err columns only (parquet column
    pruning). A pair survives iff ascore >= threshold − err − slack,
    where err is the row's stored Cauchy-Schwarz bound — a provable
    SUPERSET of the answer set (see _emb_pq_rows).

    Stage 2, EXACT RERANK: the shortlist joins back to the stored int8
    vectors and keeps exact dequantized cosine >= threshold — the SAME
    final arithmetic as a quantize='int8' store, so the two stores'
    probes are bit-equal (pytest-pinned; catalog d22 replays this
    whole chain in SQL). round_digits governs the query-side LUT and
    both scores; the slack dominates its rounding for any
    round_digits >= 4 (the stored err/den are the build's 6dp
    contract).

    Stage-1 plan shape, deliberately NOT the textbook explode+join:
    a first cut exploded codes to m rows per candidate and shuffled
    them through a (query, subspace, codeword) join + groupBy; a
    second cut joined a per-query LUT ARRAY onto every candidate row.
    Both were measured SLOWER at dim=512 than exact-scoring the int8
    vectors — the first drowns in shuffle machinery, the second
    copies an m·n_codes array onto each of the candidate-many join
    outputs. ADC's promise (an L1-resident table gather per
    candidate) needs a KERNEL, not a join: the per-query LUT tensor
    is built by one Arrow UDF (numpy matmuls per query — batch-sized,
    embarrassingly parallel), and candidates score inside a
    cogroup-by-cid applyInPandas where the whole list's code matrix
    gathers against each probing query's LUT in vectorized numpy —
    measured 4.7x FASTER than the int8 exact scan at dim=512 in the
    dedup regime (ROADMAP r12). Per-list memory is the applyInPandas
    group (the store's own per-list boundedness assumption — the
    auto-sized centroid policy keeps lists near target_list_size).
    The kernel's float sums differ from the exact fold in ulps only —
    irrelevant here because the shortlist needs to be a SUPERSET, not
    exact (_PQ_ERR_SLACK dwarfs ulps); the exact contract lives
    entirely in stage 2, which is pure relational Column math."""
    import numpy as np
    import pandas as pd

    from .similarity import _round_half_away, _sim, _with_norm

    # Enforce the docstring's precondition instead of trusting it: at
    # round_digits < 4 the query-side LUT rounding (m terms at
    # 0.5·10^-d each) is no longer dominated by _PQ_ERR_SLACK, so the
    # ADC shortlist could silently drop a TRUE pair — a false-negative
    # dedup probe with no error. round_digits is a public kwarg of
    # embedding_against_index, so this must be a loud ValueError, not
    # a comment (r12 ADVICE finding).
    if int(round_digits) < 4:
        raise ValueError(
            "a quantize='pq' store probe requires round_digits >= 4: "
            "below that the LUT rounding exceeds the shortlist slack "
            f"and the superset guarantee breaks (got {round_digits})"
        )

    codebooks = ST.read_codebooks(
        spark, path, meta.meta_id, kind="embedding index"
    )
    dim, m = int(meta.dim), int(meta.m_subspaces)
    sd = dim // m
    k = len(codebooks[0])
    # (m, k, sd) codebook tensor + codeword-id -> row-index maps,
    # driver-side constants (m·k rows) captured by both kernels
    Cb = np.stack([
        np.stack([np.asarray(cv, np.float64) for _, cv in book])
        for book in codebooks
    ])
    idx_of = [
        {int(cid): i for i, (cid, _) in enumerate(book)}
        for book in codebooks
    ]
    digits = int(round_digits)

    from pyspark.sql.functions import pandas_udf

    def _lut_fn(s):
        if len(s) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(s.to_numpy()).astype(np.float64)
        terms = np.empty((V.shape[0], m, k))
        for si in range(m):
            terms[:, si, :] = V[:, si * sd:(si + 1) * sd] @ Cb[si].T
        terms = _round_half_away(terms, digits)
        return pd.Series([t.ravel().tolist() for t in terms])

    _lut_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    lut_udf = pandas_udf(_lut_fn, "array<double>")

    qv1 = _with_norm(q.select("id_a", "qv").distinct(), "qv", "nq")
    qlut = q.select("id_a", "cid").join(
        qv1.select(
            "id_a", "nq", lut_udf(F.col("qv")).alias("luts")
        ),
        "id_a",
    )
    codes_rows = stored.select(
        "cid", F.col("id").alias("id_b"), "codes", "den", "err"
    )
    thr, slack = float(threshold), _PQ_ERR_SLACK
    _empty = {"id_a": pd.Series([], dtype="int64"),
              "id_b": pd.Series([], dtype="int64")}

    def _score_list(left: pd.DataFrame, right: pd.DataFrame):
        if left.empty or right.empty:
            return pd.DataFrame(_empty)
        codes = np.stack(left["codes"].to_numpy()).astype(np.int64)
        idx = np.empty_like(codes)
        for si in range(m):
            mp = idx_of[si]
            idx[:, si] = [mp[int(c)] for c in codes[:, si]]
        bound = (thr - slack) - left["err"].to_numpy()
        sq = np.sqrt(left["den"].to_numpy())
        idb = left["id_b"].to_numpy()
        rows_s = np.arange(m)[None, :]
        outa, outb = [], []
        for id_a, nq, flat in zip(right["id_a"].to_numpy(),
                                  right["nq"].to_numpy(),
                                  right["luts"].to_numpy()):
            luts = np.asarray(flat, np.float64).reshape(m, k)
            num = luts[rows_s, idx].sum(axis=1)
            keep = num / (nq * sq) >= bound
            if keep.any():
                outa.append(np.full(int(keep.sum()), id_a, np.int64))
                outb.append(idb[keep])
        if not outa:
            return pd.DataFrame(_empty)
        return pd.DataFrame({
            "id_a": np.concatenate(outa), "id_b": np.concatenate(outb)
        })

    short = (
        codes_rows.groupBy("cid")
        .cogroup(qlut.groupBy("cid"))
        .applyInPandas(_score_list, "id_a long, id_b long")
    )
    rer = stored.select(
        F.col("id").alias("id_b"),
        F.transform(
            "qvec", lambda x: x.cast("double") * F.col("scale")
        ).alias("cv"),
    )
    scored = _with_norm(short.join(rer, "id_b"), "cv", "nc").join(
        qv1, "id_a"
    )
    return (
        scored.withColumn(
            "sim",
            _sim(F.col("qv"), F.col("cv"), F.col("nq"), F.col("nc"),
                 round_digits),
        )
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def embedding_against_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_probe: int = 2,
    round_digits: int = 6,
    as_of_version: "int | None" = None,
) -> DataFrame:
    """Probe a persisted embedding index with a NEW batch: (batch vec,
    indexed vec) pairs with cosine >= threshold, without recomputing
    any corpus-side state — incremental SemDeDup's candidate step, the
    operation a daily multimodal/embedding ingest runs against
    yesterday's corpus.

    Output: (id_a, id_b, sim) where id_a is the BATCH vector and id_b
    the INDEXED one; sim is the exact cosine rounded to round_digits
    (the threshold compares against the rounded value, so the set is
    engine-portable). Recall is the IVF trade: a pair is found iff the
    indexed vector's list is among the batch vector's n_probe nearest
    lists — EXACT duplicates are always found at any n_probe >= 1
    (identical vectors share a top-1 list under the shared
    deterministic tiebreak); n_probe = n_centroids is exhaustive and
    equals the brute-force cross join (pytest-pinned).

    Plan shape, 100 TB posture: the batch pays one Arrow quantizer pass
    (batch-sized; the centroid table is a constant-bounded driver
    list). Its distinct probed cids — at most n_centroids, a constant —
    prune the vectors/ scan at the file listing. Scoring runs in
    per-(cid, salt) cogrouped numpy matrices (similarity.
    cogroup_pair_dots): each vector crosses the scorer once per group
    instead of once per PAIR (the r14 fix — the cid equi-join
    materialized both dim-sized vectors per pair and paid an
    interpreted per-element fold: 1.6s -> 0.5s at sf0.1's 300k pairs,
    value-identical by fold order). The cogroup shuffles the probed
    lists (n_splits-replicated) by (cid, salt); a hot list's task is
    bounded by the build policy's list size plus batch/n_splits, and
    each (batch, indexed) pair is scored exactly once (an indexed
    vector lives in exactly ONE list). Tombstoned ids never appear as
    id_b. The store's layout (exact/int8 vs pq) comes from the one
    committed_state read of _meta; the pq branch is _emb_pq_probe."""
    from .similarity import cogroup_pair_dots, ivf_assignments_arrow

    meta, segs, _, man = ST.committed_state(
        spark, path, _EMB_LAYOUTS, kind="embedding index",
        version=as_of_version,
    )
    if meta.layout == _EMB_PQ_LAYOUT and int(round_digits) < 4:
        # fail BEFORE the coarse-probe job runs — same contract as the
        # defense-in-depth guard inside _emb_pq_probe
        raise ValueError(
            "a quantize='pq' store probe requires round_digits >= 4: "
            "below that the LUT rounding exceeds the shortlist slack "
            f"and the superset guarantee breaks (got {round_digits})"
        )
    cents = ST.read_centroids(
        spark, path, meta.meta_id, kind="embedding index"
    )
    if not (1 <= n_probe <= len(cents)):
        raise ValueError(
            f"n_probe must be in [1, {len(cents)}], got {n_probe}"
        )
    probe = ivf_assignments_arrow(cents, n_best=n_probe)
    q = batch.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("qv"),
        F.explode(probe(F.col(vec_col))).alias("cid"),
    )
    q = _scope_cache(q)
    # constant-bounded probe set (<= n_centroids values): the only
    # data-dependent driver materialization, same trick as the MinHash
    # probe's kb list
    probed = sorted(
        int(r[0]) for r in q.select("cid").distinct().collect()
    )
    stored = ST.apply_deletes(
        ST.read_committed(spark, path, "vectors", segs),
        ST.read_deletes(spark, path, man), "id",
    ).where(F.col("cid").isin(probed))
    if meta.layout == _EMB_PQ_LAYOUT:
        return _emb_pq_probe(
            spark, path, meta, stored, q, threshold, round_digits
        )
    if bool(meta.quantize):
        # int8 store: score in the DEQUANTIZED domain (q_i * scale as
        # double) — deterministic, engine-portable math; the exact-
        # double path below is the quantize=False option
        stored = stored.select(
            "cid",
            F.col("id").alias("id_b"),
            F.transform(
                "qvec", lambda x: x.cast("double") * F.col("scale")
            ).alias("cv"),
        )
    else:
        stored = stored.select(
            "cid", F.col("id").alias("id_b"), F.col("vec").alias("cv")
        )
    return (
        cogroup_pair_dots(q.select("cid", "id_a", "qv"), stored)
        .withColumn(
            "sim",
            F.round(
                F.col("d") / (F.col("nq") * F.col("nc")), round_digits
            ),
        )
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


# ---------------------------------------------------------------------------
# Compaction specs: what _store.compact_index rewrites for each layout
# (every relation here is a PRIMARY rewritten verbatim minus
# tombstoned ids; no derived relations — BM25's df/_stats recompute
# lives in llm/search.py's finalize)
# ---------------------------------------------------------------------------

ST.COMPACT_SPECS[_LAYOUT] = {
    "rels": [("buckets", "kb", "id"), ("arrays", "ab", "id")],
    "derived": [], "finalize": None,
}
ST.COMPACT_SPECS[_SH_LAYOUT] = {
    "rels": [("bands", "kb", "id")], "derived": [], "finalize": None,
}
ST.COMPACT_SPECS[_EMB_LAYOUT] = {
    "rels": [("vectors", "cid", "id")], "derived": [], "finalize": None,
}
# the PQ-coded store rewrites the same single primary relation — codes,
# den, err, scale and qvec all live on the row, and the quantizer
# sidecars (_centroids/_codebooks) are compaction-invariant; one
# registration inherits tombstones/snapshots/compact/vacuum/maintain
# (the n9 precedent)
ST.COMPACT_SPECS[_EMB_PQ_LAYOUT] = {
    "rels": [("vectors", "cid", "id")], "derived": [], "finalize": None,
}
