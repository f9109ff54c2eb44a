"""Incremental cross-corpus MinHash dedup index: probe == one-shot on
the union (cross pairs), partition pruning reaches the file listing,
extend == rebuild, hash-family parameters ride the index."""

import glob
import re

import pytest
from pyspark.sql import functions as F

from configurable_etl_python_repo_spark.llm.dedup import minhash_lsh_pairs
from configurable_etl_python_repo_spark.llm.dedup_index import (
    dedup_against_index,
    minhash_build_index,
    minhash_extend_index,
)

_LSH = dict(n=3, bands=8, rows_per_band=2)
_THRESH = 0.1


def _docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )


def _corpus_and_batch(spark, sf_dir):
    """Index corpus = even ids; batch = odd ids plus exact replicas of
    some even docs (guaranteed cross-corpus near-dups at any
    threshold) under a disjoint id namespace."""
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1).unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return corpus, batch


def _cross_pairs_one_shot(corpus, batch, threshold):
    """The cross-corpus subset of the one-shot LSH pairs on the union,
    normalized to (batch_id, index_id)."""
    union = corpus.unionByName(batch)
    pairs = minhash_lsh_pairs(union, threshold=threshold, **_LSH)
    corpus_ids = {r[0] for r in corpus.select("doc_id").collect()}
    out = set()
    for r in pairs.collect():
        a_in = r.id_a in corpus_ids
        b_in = r.id_b in corpus_ids
        if a_in != b_in:  # exactly one side indexed -> cross pair
            out.add((r.id_b, r.id_a) if a_in else (r.id_a, r.id_b))
    return out


def test_probe_equals_one_shot_cross_pairs(spark, sf_dir, tmp_path):
    corpus, batch = _corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    probed = dedup_against_index(
        spark, idx, batch, threshold=_THRESH
    ).collect()
    got = {(r.id_a, r.id_b) for r in probed}
    want = _cross_pairs_one_shot(corpus, batch, _THRESH)
    assert got == want and got  # non-trivial: replicas guarantee matches
    # every injected exact replica is found against its original
    replicas = {r[0] for r in batch.where(F.col("doc_id") >= 1000000)
                .select("doc_id").collect()}
    assert {(rid, rid - 1000000) for rid in replicas} <= got
    # verify stats are the exact-jaccard integer fields
    one = next(r for r in probed if r.id_a >= 1000000
               and r.id_b == r.id_a - 1000000)
    assert one.inter == one.size_a == one.size_b > 0


def test_probe_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """The probe's distinct kb set must reach the bucket store's file
    listing as a partition filter — un-probed partitions cost zero I/O,
    the property that lets a small batch probe a 100 TB corpus."""
    corpus, _ = _corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, key_buckets=16, **_LSH)
    assert len(glob.glob(f"{idx}/buckets/seg=*/kb=*")) > 1
    tiny = _docs(spark, sf_dir).where(F.col("doc_id") == 1)
    out = dedup_against_index(spark, idx, tiny, verify=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "kb" in m.group(1), plan


def test_extend_matches_full_rebuild(spark, sf_dir, tmp_path):
    """index(A) + extend(B) answers probes identically to index(A ∪ B):
    appended rows land in the same kb layout."""
    docs = _docs(spark, sf_dir)
    part_a = docs.where(F.col("doc_id") % 3 == 0)
    part_b = docs.where(F.col("doc_id") % 3 == 1)
    probe = docs.where(F.col("doc_id") % 3 == 2).unionByName(
        part_b.where(F.col("doc_id") % 30 == 1).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    minhash_build_index(part_a, inc, **_LSH)
    minhash_extend_index(part_b, inc)
    minhash_build_index(part_a.unionByName(part_b), full, **_LSH)
    got = {(r.id_a, r.id_b) for r in
           dedup_against_index(spark, inc, probe, threshold=_THRESH).collect()}
    want = {(r.id_a, r.id_b) for r in
            dedup_against_index(spark, full, probe, threshold=_THRESH).collect()}
    assert got == want and got


def test_meta_rides_the_index(spark, sf_dir, tmp_path):
    """Probe and extend read the hash family from _meta — non-default
    build parameters round-trip without being re-specified."""
    corpus, batch = _corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "mh")
    minhash_build_index(
        corpus, idx, n=2, bands=4, rows_per_band=3, key_buckets=8
    )
    meta = spark.read.parquet(idx + "/_meta").collect()[0]
    assert (meta.n, meta.bands, meta.rows_per_band, meta.key_buckets) == (
        2, 4, 3, 8,
    )
    union = corpus.unionByName(batch)
    corpus_ids = {r[0] for r in corpus.select("doc_id").collect()}
    want = set()
    for r in minhash_lsh_pairs(
        union, n=2, bands=4, rows_per_band=3, threshold=_THRESH
    ).collect():
        a_in, b_in = r.id_a in corpus_ids, r.id_b in corpus_ids
        if a_in != b_in:
            want.add((r.id_b, r.id_a) if a_in else (r.id_a, r.id_b))
    got = {(r.id_a, r.id_b) for r in
           dedup_against_index(spark, idx, batch, threshold=_THRESH).collect()}
    assert got == want and got
    with pytest.raises(ValueError, match="key_buckets"):
        minhash_build_index(corpus, str(tmp_path / "bad"), key_buckets=0)


def test_verify_arrays_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """The verify step's arrays scan must prune to the candidate ids'
    ab partitions — without it every probe full-scanned the
    corpus-sized shingle-array store, breaking the batch-scaling
    contract (the bucket scan's kb pruning alone doesn't cover it)."""
    corpus, _ = _corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, key_buckets=16, **_LSH)
    assert len(glob.glob(f"{idx}/arrays/seg=*/ab=*")) > 1
    tiny = _docs(spark, sf_dir).where(F.col("doc_id") == 2).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    out = dedup_against_index(spark, idx, tiny, threshold=_THRESH)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # identify the arrays scan by its arr column (the plan dump
    # truncates file paths, so matching on '/arrays' is unreliable)
    array_scans = [ln for ln in plan.splitlines()
                   if "FileScan" in ln and "arr#" in ln]
    assert array_scans and all(
        re.search(r"PartitionFilters: \[[^\]]*ab#[^\]]*\]", ln)
        for ln in array_scans
    ), plan
    # and it still finds the replica against its original
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(1000002, 2)}


def test_layout_version_guard(spark, sf_dir, tmp_path):
    """Probe/extend refuse an index whose _meta carries a different
    physical layout instead of mis-reading (or corrupting, via append)
    the tree."""
    corpus, batch = _corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    spark.createDataFrame(
        [(3, 8, 2, 64, "flat-v0")],
        "n int, bands int, rows_per_band int, key_buckets int, "
        "layout string",
    ).coalesce(1).write.mode("overwrite").parquet(idx + "/_meta")
    with pytest.raises(ValueError, match="layout"):
        dedup_against_index(spark, idx, batch).collect()
    with pytest.raises(ValueError, match="layout"):
        minhash_extend_index(batch, idx)


# ---------------------------------------------------------------------------
# SimHash incremental index
# ---------------------------------------------------------------------------

from configurable_etl_python_repo_spark.llm.dedup import (  # noqa: E402
    simhash_pairs,
)
from configurable_etl_python_repo_spark.llm.dedup_index import (  # noqa: E402
    simhash_against_index,
    simhash_build_index,
    simhash_extend_index,
)


def test_simhash_probe_equals_one_shot_cross_pairs(spark, sf_dir, tmp_path):
    """simhash_against_index == the cross-side subset of the one-shot
    simhash_pairs on the union, including the exact hamming values
    (shared simhash64 + band machinery)."""
    corpus, batch = _corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "sh")
    simhash_build_index(corpus, idx, max_hamming=3)
    got = {(r.id_a, r.id_b, r.hamming) for r in
           simhash_against_index(spark, idx, batch).collect()}
    corpus_ids = {r[0] for r in corpus.select("doc_id").collect()}
    want = set()
    for r in simhash_pairs(
        corpus.unionByName(batch), max_hamming=3
    ).collect():
        a_in, b_in = r.id_a in corpus_ids, r.id_b in corpus_ids
        if a_in != b_in:
            want.add((r.id_b, r.id_a, r.hamming) if a_in
                     else (r.id_a, r.id_b, r.hamming))
    assert got == want and got
    # exact replicas have identical fingerprints -> hamming 0
    replicas = {r[0] for r in batch.where(F.col("doc_id") >= 1000000)
                .select("doc_id").collect()}
    assert {(rid, rid - 1000000, 0) for rid in replicas} <= got


def test_simhash_probe_pruned_and_extend(spark, sf_dir, tmp_path):
    """Band-store scan prunes on kb; extend == full rebuild; layout
    guard refuses a foreign tree; max_hamming rides _meta."""
    docs = _docs(spark, sf_dir)
    part_a = docs.where(F.col("doc_id") % 3 == 0)
    part_b = docs.where(F.col("doc_id") % 3 == 1)
    probe = docs.where(F.col("doc_id") % 3 == 2).unionByName(
        part_b.where(F.col("doc_id") % 30 == 1).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    simhash_build_index(part_a, inc, max_hamming=2, key_buckets=16)
    simhash_extend_index(part_b, inc)
    simhash_build_index(part_a.unionByName(part_b), full,
                        max_hamming=2, key_buckets=16)
    got = {(r.id_a, r.id_b) for r in
           simhash_against_index(spark, inc, probe).collect()}
    want = {(r.id_a, r.id_b) for r in
            simhash_against_index(spark, full, probe).collect()}
    assert got == want and got
    assert len(glob.glob(f"{inc}/bands/seg=*/kb=*")) > 1
    tiny = docs.where(F.col("doc_id") == 2).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    plan = simhash_against_index(
        spark, inc, tiny
    )._jdf.queryExecution().executedPlan().toString()
    prunes = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("kb" in p for p in prunes), plan
    # a minhash tree is refused by the simhash probe (layout guard)
    mh = str(tmp_path / "mh")
    minhash_build_index(part_a, mh, **_LSH)
    with pytest.raises(ValueError, match="layout"):
        simhash_against_index(spark, mh, probe).collect()
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_build_index(part_a, str(tmp_path / "bad"),
                            max_hamming=16)


def test_simhash_index_config_ops(spark, sf_dir, tmp_path):
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    corpus, batch = _corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "sh")
    eng = Engine(spark)
    eng.bind("corpus", corpus)
    eng.bind("batch", batch.where(F.col("doc_id") >= 1000000))
    passthru = eng.run_op(OpSpec(
        "SIMHASH BUILD INDEX", "built", ["corpus"],
        {"path": idx, "max_hamming": 3}))
    assert passthru.columns == corpus.columns
    pairs = eng.run_op(OpSpec(
        "SIMHASH AGAINST INDEX", "pairs", ["batch"], {"path": idx}))
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    replicas = {r[0] for r in eng.peek("batch")[0]
                .select("doc_id").collect()}
    assert {(rid, rid - 1000000) for rid in replicas} <= got
    eng.run_op(OpSpec(
        "SIMHASH EXTEND INDEX", "ext", ["batch"], {"path": idx}))
    again = eng.run_op(OpSpec(
        "SIMHASH AGAINST INDEX", "p2", ["batch"], {"path": idx}))
    self_hits = {(r.id_a, r.id_b) for r in again.collect()}
    assert {(rid, rid) for rid in replicas} <= self_hits


# ---------------------------------------------------------------------------
# Embedding (cosine) incremental index
# ---------------------------------------------------------------------------

from configurable_etl_python_repo_spark.llm.dedup_index import (  # noqa: E402
    embedding_against_index,
    embedding_build_index,
    embedding_extend_index,
)
from configurable_etl_python_repo_spark.llm.similarity import (  # noqa: E402
    _sim,
    _with_norm,
)

_EMB_T = 0.2  # low enough that a few non-replica random pairs survive
_EMB_NC = 8


def _vecs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
    )


def _vec_corpus_and_batch(spark, sf_dir):
    """Index corpus = even vec_ids; batch = odd ids plus exact replicas
    of some even vectors (guaranteed cosine-1.0 cross-corpus dups)
    under a disjoint id namespace."""
    vecs = _vecs(spark, sf_dir)
    corpus = vecs.where(F.col("vec_id") % 2 == 0)
    batch = vecs.where(F.col("vec_id") % 2 == 1).unionByName(
        vecs.where(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    return corpus, batch


def _brute_cross_pairs(corpus, batch, threshold):
    """Exact cosine >= threshold over the full (batch x corpus) cross
    join — the recall ceiling every probe is measured against."""
    c = _with_norm(
        corpus.select(F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("cv")),
        "cv", "nc",
    )
    q = _with_norm(
        batch.select(F.col("vec_id").alias("id_a"),
                     F.col("embedding").alias("qv")),
        "qv", "nq",
    )
    rows = (
        c.crossJoin(q)
        .withColumn("sim", _sim(F.col("qv"), F.col("cv"),
                                F.col("nq"), F.col("nc"), 6))
        .where(F.col("sim") >= threshold)
        .collect()
    )
    return {(r.id_a, r.id_b) for r in rows}


def test_embedding_exhaustive_probe_equals_brute_force(
    spark, sf_dir, tmp_path
):
    """n_probe = n_centroids probes every list, so the index answer
    must equal the brute-force cross join exactly — the recall contract
    smaller n_probe trades away is pinned as a SUBSET relation."""
    corpus, batch = _vec_corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "emb")
    embedding_build_index(corpus, idx, n_centroids=_EMB_NC)
    full = embedding_against_index(
        spark, idx, batch, threshold=_EMB_T, n_probe=_EMB_NC
    ).collect()
    got = {(r.id_a, r.id_b) for r in full}
    want = _brute_cross_pairs(corpus, batch, _EMB_T)
    assert got == want and got
    # replicas score exactly 1.0 after 6dp rounding
    assert all(r.sim == 1.0 for r in full
               if r.id_a >= 1000000 and r.id_b == r.id_a - 1000000)
    # a narrower probe returns a subset that still has every exact dup
    # (identical vectors share a top-1 list under the shared tiebreak)
    narrow = embedding_against_index(
        spark, idx, batch, threshold=_EMB_T, n_probe=1
    )
    sub = {(r.id_a, r.id_b) for r in narrow.collect()}
    assert sub <= got
    replicas = {r[0] for r in batch.where(F.col("vec_id") >= 1000000)
                .select("vec_id").collect()}
    assert {(rid, rid - 1000000) for rid in replicas} <= sub


def test_embedding_probe_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """The probed cid set must reach the vectors store's file listing
    as a partition filter — un-probed lists cost zero I/O (the IVF
    property the physical layout exists for)."""
    corpus, _ = _vec_corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "emb")
    embedding_build_index(corpus, idx, n_centroids=_EMB_NC)
    assert len(glob.glob(f"{idx}/vectors/seg=*/cid=*")) > 1
    tiny = _vecs(spark, sf_dir).where(F.col("vec_id") == 1)
    out = embedding_against_index(spark, idx, tiny, threshold=_EMB_T,
                                  n_probe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    vec_scans = [ln for ln in plan.splitlines()
                 if "FileScan" in ln and "vec#" in ln]
    assert vec_scans and all(
        re.search(r"PartitionFilters: \[[^\]]*cid#[^\]]*\]", ln)
        for ln in vec_scans
    ), plan


def test_embedding_extend_and_guards(spark, sf_dir, tmp_path):
    """Extend appends under the index's OWN stored centroids; an
    exhaustive probe after extend equals brute force over the union
    (probing every list makes the answer quantizer-independent — the
    strongest append-correctness pin available without retraining).
    Layout/meta/n_probe guards refuse misuse."""
    vecs = _vecs(spark, sf_dir)
    part_a = vecs.where(F.col("vec_id") % 3 == 0)
    part_b = vecs.where(F.col("vec_id") % 3 == 1)
    probe = vecs.where(F.col("vec_id") % 3 == 2).unionByName(
        part_b.where(F.col("vec_id") % 30 == 1).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    idx = str(tmp_path / "emb")
    embedding_build_index(part_a, idx, n_centroids=_EMB_NC)
    embedding_extend_index(part_b, idx)
    got = {(r.id_a, r.id_b) for r in embedding_against_index(
        spark, idx, probe, threshold=_EMB_T, n_probe=_EMB_NC
    ).collect()}
    want = _brute_cross_pairs(part_a.unionByName(part_b), probe, _EMB_T)
    assert got == want and got
    # replicas of part_b vectors are found even at n_probe=1: the
    # appended twin was assigned under the same quantizer
    sub = {(r.id_a, r.id_b) for r in embedding_against_index(
        spark, idx, probe, threshold=_EMB_T, n_probe=1
    ).collect()}
    replicas = {r[0] for r in probe.where(F.col("vec_id") >= 1000000)
                .select("vec_id").collect()}
    assert replicas and {(rid, rid - 1000000) for rid in replicas} <= sub
    # guards: foreign layout refused by probe AND extend; n_probe range
    mh = str(tmp_path / "mh")
    minhash_build_index(_docs(spark, sf_dir).where(F.col("doc_id") % 3 == 0),
                        mh, **_LSH)
    with pytest.raises(ValueError, match="layout"):
        embedding_against_index(spark, mh, probe).collect()
    with pytest.raises(ValueError, match="layout"):
        embedding_extend_index(probe, mh)
    with pytest.raises(ValueError, match="n_probe"):
        embedding_against_index(spark, idx, probe, n_probe=0)
    with pytest.raises(ValueError, match="n_centroids"):
        embedding_build_index(part_a, str(tmp_path / "bad"), n_centroids=0)


def test_embedding_index_config_ops(spark, sf_dir, tmp_path):
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    corpus, batch = _vec_corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "emb")
    eng = Engine(spark)
    eng.bind("corpus", corpus)
    eng.bind("batch", batch.where(F.col("vec_id") >= 1000000))
    passthru = eng.run_op(OpSpec(
        "EMBEDDING BUILD INDEX", "built", ["corpus"],
        {"path": idx, "n_centroids": _EMB_NC,
         "id_column": "vec_id", "vector_column": "embedding"}))
    assert passthru.columns == corpus.columns
    pairs = eng.run_op(OpSpec(
        "EMBEDDING AGAINST INDEX", "pairs", ["batch"],
        {"path": idx, "threshold": 0.9,
         "id_column": "vec_id", "vector_column": "embedding"}))
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    replicas = {r[0] for r in eng.peek("batch")[0]
                .select("vec_id").collect()}
    assert {(rid, rid - 1000000) for rid in replicas} <= got
    eng.run_op(OpSpec(
        "EMBEDDING EXTEND INDEX", "ext", ["batch"],
        {"path": idx, "id_column": "vec_id",
         "vector_column": "embedding"}))
    again = eng.run_op(OpSpec(
        "EMBEDDING AGAINST INDEX", "p2", ["batch"],
        {"path": idx, "threshold": 0.9,
         "id_column": "vec_id", "vector_column": "embedding"}))
    self_hits = {(r.id_a, r.id_b) for r in again.collect()}
    assert {(rid, rid) for rid in replicas} <= self_hits


def test_embedding_auto_centroids_default_matches_explicit_pin(
    spark, sf_dir, tmp_path
):
    """n_centroids=None (the DEFAULT) sizes the coarse quantizer as
    ceil(N / target_list_size) — per-list size stays constant as the
    corpus grows, the policy that keeps probe cost batch-scaled at
    100 TB. The auto-sized index must be indistinguishable from an
    explicit pin of the same value: same meta, same probe answers."""
    import math

    corpus, batch = _vec_corpus_and_batch(spark, sf_dir)
    n = corpus.count()
    tls = max(1, n // 4)  # force several lists even on the tiny fixture
    want_nc = max(1, math.ceil(n / tls))
    assert want_nc > 1

    auto = str(tmp_path / "emb_auto")
    pinned = str(tmp_path / "emb_pin")
    embedding_build_index(corpus, auto, n_centroids=None,
                          target_list_size=tls)
    embedding_build_index(corpus, pinned, n_centroids=want_nc)

    meta = spark.read.parquet(auto + "/_meta").collect()[0]
    assert meta.n_centroids == want_nc
    got_auto = {
        (r.id_a, r.id_b, r.sim)
        for r in embedding_against_index(
            spark, auto, batch, threshold=_EMB_T, n_probe=want_nc
        ).collect()
    }
    got_pin = {
        (r.id_a, r.id_b, r.sim)
        for r in embedding_against_index(
            spark, pinned, batch, threshold=_EMB_T, n_probe=want_nc
        ).collect()
    }
    assert got_auto == got_pin and got_auto

    with pytest.raises(ValueError, match="target_list_size"):
        embedding_build_index(corpus, str(tmp_path / "bad"),
                              n_centroids=None, target_list_size=0)


def test_embedding_quantized_store_parity_recall_and_size(
    spark, sf_dir, tmp_path
):
    """quantize=True stores int8 codes + per-vector scale and probes in
    the DEQUANTIZED domain (the ivf-index recall pattern applied to
    embedding_against_index): at threshold 0.9 every exact replica is
    still found at sim ~1.0, recall vs the exact store is >= 0.9, sims
    agree within quantization error, and the vectors relation is at
    least 2x smaller on disk."""
    import glob as _glob
    import os as _os

    corpus, batch = _vec_corpus_and_batch(spark, sf_dir)
    exact_idx = str(tmp_path / "emb_exact")
    q_idx = str(tmp_path / "emb_q8")
    embedding_build_index(corpus, exact_idx, n_centroids=_EMB_NC)
    embedding_build_index(corpus, q_idx, n_centroids=_EMB_NC,
                          quantize=True)

    # physical claims: tinyint codes, >= 2x smaller than array<double>
    schema = spark.read.parquet(
        _glob.glob(f"{q_idx}/vectors/seg=*")[0]
    ).schema
    assert schema["qvec"].dataType.elementType.typeName() == "byte"
    sz = lambda p: sum(  # noqa: E731
        _os.path.getsize(f)
        for f in _glob.glob(f"{p}/vectors/seg=*/cid=*/*.parquet")
    )
    assert sz(q_idx) < sz(exact_idx) * 0.5

    kw = dict(threshold=0.9, n_probe=_EMB_NC)
    exact = {(r.id_a, r.id_b): r.sim
             for r in embedding_against_index(
                 spark, exact_idx, batch, **kw).collect()}
    quant = {(r.id_a, r.id_b): r.sim
             for r in embedding_against_index(
                 spark, q_idx, batch, **kw).collect()}
    # every exact replica found, scored within quantization error of 1
    replicas = {r[0] for r in batch.where(F.col("vec_id") >= 1000000)
                .select("vec_id").collect()}
    assert replicas
    for rid in replicas:
        assert quant[(rid, rid - 1000000)] >= 0.999
    # recall + numeric agreement on the shared pairs
    assert len(set(quant) & set(exact)) / len(exact) >= 0.9
    for pair in set(quant) & set(exact):
        assert abs(quant[pair] - exact[pair]) <= 0.005

    # extend inherits the committed quantize mode: rows land as codes
    assert embedding_extend_index(
        batch.where(F.col("vec_id") >= 1000000), q_idx) is True
    import configurable_etl_python_repo_spark.llm._store as ST
    _, man = ST.read_manifest(q_idx)
    newest = man["segments"][-1]
    ext_schema = spark.read.parquet(
        f"{q_idx}/vectors/seg={newest}").schema.names
    assert "qvec" in ext_schema and "vec" not in ext_schema


def test_embedding_extend_warns_on_pinned_centroid_drift(
    spark, sf_dir, tmp_path
):
    """Extends never retrain the quantizer, so a pinned-centroid build
    silently degrades as the corpus grows (measured probe exponent
    0.86 vs -0.08 auto, BENCH_sf1_r10.json): extend must WARN once
    rows-per-centroid exceeds warn_list_size_factor x the auto
    policy's target list size — and stay silent below the bound, on
    retried (already-committed) tags, and when disabled."""
    import warnings

    vecs = _vecs(spark, sf_dir)
    part_a = vecs.where(F.col("vec_id") % 3 == 0)
    part_b = vecs.where(F.col("vec_id") % 3 == 1)
    n_a = part_a.count()
    n_b = part_b.count()
    idx = str(tmp_path / "emb")
    embedding_build_index(part_a, idx, n_centroids=2)

    # factor sized so the bound sits BETWEEN pre- and post-extend
    # rows-per-centroid: the same extend is silent at a loose bound
    # and warns at the drifted one
    from configurable_etl_python_repo_spark.llm.dedup_index import (
        _EMB_TARGET_LIST_SIZE as TL,
    )

    tight = ((n_a + n_b) / 2) / TL * 0.9   # post-extend exceeds this
    loose = ((n_a + n_b) / 2) / TL * 1.1   # post-extend stays under

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        embedding_extend_index(part_b, idx, tag="e1",
                               warn_list_size_factor=loose)
    assert not [w for w in rec if "rows per IVF list" in str(w.message)]

    idx2 = str(tmp_path / "emb2")
    embedding_build_index(part_a, idx2, n_centroids=2)
    with pytest.warns(UserWarning, match="rebuild the index"):
        embedding_extend_index(part_b, idx2, tag="e1",
                               warn_list_size_factor=tight)
    # a retried (tag-committed) extend is a no-op: no warning
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        assert embedding_extend_index(
            part_b, idx2, tag="e1", warn_list_size_factor=tight
        ) is False
    assert not [w for w in rec if "IVF" in str(w.message)]
    # disabled check never counts or warns
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        embedding_extend_index(part_b, idx2, tag="e2",
                               warn_list_size_factor=None)
    assert not [w for w in rec if "IVF" in str(w.message)]


def test_embedding_pq_store_probe_bit_equals_int8(
    spark, sf_dir, tmp_path
):
    """The quantize='pq' two-stage probe (ADC shortlist bounded by the
    stored per-row err, exact int8 rerank on the survivors) is
    BIT-EQUAL to the quantize='int8' store's probe — at a coarse
    fixture code budget (m=4, k=8, where err is so large the shortlist
    barely prunes) AND a realistic one (m=8, k=64, where it prunes
    ~80x on this data), at a high and a low threshold, with every
    exact replica found. This is the exact-threshold contract of
    verdict r11 item 3."""
    corpus, batch = _vec_corpus_and_batch(spark, sf_dir)
    i8 = str(tmp_path / "i8")
    embedding_build_index(corpus, i8, n_centroids=_EMB_NC,
                          quantize=True)
    replicas = {r[0] for r in batch.where(F.col("vec_id") >= 1000000)
                .select("vec_id").collect()}
    assert replicas
    for m, k in ((4, 8), (8, 64)):
        pqp = str(tmp_path / f"pq{m}_{k}")
        embedding_build_index(corpus, pqp, n_centroids=_EMB_NC,
                              quantize="pq", m_subspaces=m, n_codes=k)
        for t in (0.9, _EMB_T):
            kw = dict(threshold=t, n_probe=2)
            a = {tuple(r) for r in embedding_against_index(
                spark, i8, batch, **kw).collect()}
            b = {tuple(r) for r in embedding_against_index(
                spark, pqp, batch, **kw).collect()}
            assert b == a, (m, k, t)
        found = {r.id_a for r in embedding_against_index(
            spark, pqp, batch, threshold=0.9, n_probe=2).collect()}
        assert replicas <= found


def test_embedding_pq_store_err_bound_dominates(spark, sf_dir, tmp_path):
    """The stored err column must dominate the TRUE deviation
    ||dq_n − x̂/sqrt(den)|| for every row — the inequality the
    no-false-negative shortlist proof rests on — recomputed offline
    in float64 numpy from the stored codes, codebooks, and int8
    vectors."""
    import numpy as np

    from configurable_etl_python_repo_spark.llm._store import (
        committed_state,
        read_codebooks,
        read_committed,
    )
    from configurable_etl_python_repo_spark.llm.dedup_index import (
        _EMB_LAYOUTS,
    )

    corpus, _ = _vec_corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "pq")
    embedding_build_index(corpus.limit(300), idx, n_centroids=4,
                          quantize="pq", m_subspaces=8, n_codes=16)
    meta, segs, _, _ = committed_state(spark, idx, _EMB_LAYOUTS)
    books = read_codebooks(spark, idx, meta.meta_id)
    cb = [dict(b) for b in books]
    dim, m = int(meta.dim), int(meta.m_subspaces)
    sd = dim // m
    rows = read_committed(spark, idx, "vectors", segs).collect()
    assert rows
    for r in rows:
        dq = np.array(r.qvec, np.float64) * float(r.scale)
        xhat = np.concatenate([
            np.array(cb[s][r.codes[s]], np.float64) for s in range(m)
        ])
        xt = xhat / np.sqrt(r.den)
        true_dev = float(np.linalg.norm(dq / np.linalg.norm(dq) - xt))
        assert r.err >= true_dev, (r.id, r.err, true_dev)
        # and it is a BOUND, not a fudge: within ~1e-2 of the truth
        assert r.err <= true_dev + 1e-2


def test_embedding_pq_store_extend_lifecycle_and_validation(
    spark, sf_dir, tmp_path
):
    """Extends encode under the STORED codebooks (FAISS-add): probing
    the extended pq store equals probing an extended int8 store over
    the same epochs; the tag is idempotent; deletes + the maintain
    policy ride the shared COMPACT_SPECS registration with answers
    preserved; an unknown quantize mode is refused loudly."""
    corpus, batch = _vec_corpus_and_batch(spark, sf_dir)
    more = batch.where(F.col("vec_id") < 1000000)
    probe_batch = batch.where(F.col("vec_id") >= 1000000)
    i8, pqp = str(tmp_path / "i8"), str(tmp_path / "pq")
    for p, q in ((i8, True), (pqp, "pq")):
        embedding_build_index(corpus, p, n_centroids=_EMB_NC,
                              quantize=q)
        assert embedding_extend_index(more, p, tag="e1") is True
        assert embedding_extend_index(more, p, tag="e1") is False
    kw = dict(threshold=_EMB_T, n_probe=2)
    a = {tuple(r) for r in embedding_against_index(
        spark, i8, probe_batch, **kw).collect()}
    b = {tuple(r) for r in embedding_against_index(
        spark, pqp, probe_batch, **kw).collect()}
    assert a == b and b
    # deletion + maintenance through the generic store protocol
    from configurable_etl_python_repo_spark.llm._store import (
        delete_from_index,
        maintain_index,
    )

    victims = sorted({p[1] for p in b})[:2]
    assert delete_from_index(
        spark.createDataFrame([(v,) for v in victims], "id long"),
        pqp, id_col="id", tag="d1",
    ) is True
    after = {tuple(r) for r in embedding_against_index(
        spark, pqp, probe_batch, **kw).collect()}
    assert after == {p for p in b if p[1] not in victims}
    receipt = maintain_index(spark, pqp, max_segments=1)
    assert receipt["compacted"]
    assert {tuple(r) for r in embedding_against_index(
        spark, pqp, probe_batch, **kw).collect()} == after
    with pytest.raises(ValueError, match="quantize"):
        embedding_build_index(corpus, str(tmp_path / "bad"),
                              quantize="int4")


def test_embedding_pq_probe_rejects_low_round_digits(
    spark, sf_dir, tmp_path
):
    """r12 ADVICE regression (medium): at round_digits < 4 the
    query-side LUT rounding (m terms at 0.5·10^-d) exceeds
    _PQ_ERR_SLACK, so the ADC shortlist's superset guarantee silently
    breaks — the probe must REFUSE loudly instead of returning false
    negatives. Non-pq stores keep accepting any round_digits (the
    precondition is about the pq slack, not the exact scorer)."""
    corpus, batch = _vec_corpus_and_batch(spark, sf_dir)
    pqp, i8 = str(tmp_path / "pq"), str(tmp_path / "i8")
    embedding_build_index(corpus.limit(200), pqp, n_centroids=4,
                          quantize="pq", m_subspaces=4, n_codes=8)
    with pytest.raises(ValueError, match="round_digits >= 4"):
        embedding_against_index(spark, pqp, batch, threshold=0.9,
                                round_digits=3)
    # the boundary value passes and still probes
    ok = embedding_against_index(spark, pqp, batch, threshold=0.9,
                                 round_digits=4)
    assert ok.count() >= 0
    embedding_build_index(corpus.limit(200), i8, n_centroids=4,
                          quantize=True)
    assert embedding_against_index(
        spark, i8, batch, threshold=0.9, round_digits=3
    ).count() >= 0


def test_emb_meta_peek_propagates_transient_errors(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r12 ADVICE regression: a transient IO failure while peeking the
    _meta layout stamp must PROPAGATE (so the caller sees the real
    failure), not be swallowed into the layout fallback where it would
    resurface as the misleading canonical 'wrong layout / rebuild'
    error. Only AnalysisException (missing/unreadable-as-parquet) may
    fall back. The sidecar read seam is pyarrow's read_table on local
    paths (r14: _store.sidecar_rows skips the distributed scan for the
    constant-size metadata); the transient-error contract is the
    same."""
    import pyarrow.parquet as papq

    corpus, batch = _vec_corpus_and_batch(spark, sf_dir)
    idx = str(tmp_path / "emb")
    embedding_build_index(corpus.limit(200), idx, n_centroids=2)
    orig = papq.read_table

    def flaky(path, *a, **kw):
        if str(path).endswith("/_meta"):
            raise OSError("transient read failure")
        return orig(path, *a, **kw)

    monkeypatch.setattr(papq, "read_table", flaky)
    with pytest.raises(OSError, match="transient read failure"):
        embedding_against_index(spark, idx, batch, threshold=0.9)
    monkeypatch.setattr(papq, "read_table", orig)
    # a genuinely missing tree still dies on the canonical message
    with pytest.raises(Exception, match="[Nn]o index|rebuild|exist"):
        embedding_against_index(spark, str(tmp_path / "nope"), batch,
                                threshold=0.9)


def test_embedding_empty_mutations(spark, sf_dir, tmp_path):
    """The delete_from_index discipline applied to the vector store:
    an empty extend commits nothing (and must not crash the new
    footer-count drift check); an empty build is refused loudly."""
    vecs = _vecs(spark, sf_dir)
    part_a = vecs.where(F.col("vec_id") % 3 == 0)
    empty = vecs.where(F.lit(False))
    idx = str(tmp_path / "emb")
    embedding_build_index(part_a, idx, n_centroids=2)
    import configurable_etl_python_repo_spark.llm._store as ST

    before = ST.read_manifest(idx)
    assert embedding_extend_index(empty, idx) is False
    assert ST.read_manifest(idx) == before
    with pytest.raises(ValueError, match="EMPTY corpus"):
        embedding_build_index(empty, str(tmp_path / "bad"))
