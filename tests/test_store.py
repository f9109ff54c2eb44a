"""Durability protocol of the segment-manifest index stores
(llm/_store.py): crash-point invisibility at every write boundary,
two-writer races, tagged-retry idempotence, compaction == fresh
rebuild, vacuum retention, and the torn-sidecar guards — the
tests/test_txlog.py treatment applied to the five index families.

The protocol these tests pin (docstring of llm/_store.py): the
manifest create IS the commit; everything written before it is an
invisible orphan; a crashed REbuild is detectably torn (sidecars are
in-place), never silently probed; compaction that lost its snapshot
refuses to publish instead of doubling rows."""

import ast
import glob
import os
import re

import pytest
from pyspark.sql import functions as F

import configurable_etl_python_repo_spark.llm._store as ST
from configurable_etl_python_repo_spark.llm.dedup_index import (
    dedup_against_index,
    embedding_against_index,
    embedding_build_index,
    embedding_extend_index,
    minhash_build_index,
    minhash_extend_index,
)
from configurable_etl_python_repo_spark.llm.search import (
    bm25_build_index,
    bm25_extend_index,
    bm25_search_index,
)
from configurable_etl_python_repo_spark.sinks import logstore
from configurable_etl_python_repo_spark.sinks.txlog import (
    ConcurrentWriteError,
)

_LSH = dict(n=3, bands=4, rows_per_band=2)
_T = 0.1


class _Crash(RuntimeError):
    """Injected failure standing in for a killed executor/driver."""


def _docs(spark, sf_dir, lo, hi):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    )


def _vecs(spark, sf_dir, lo, hi):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
    )


def _probe_set(spark, idx, batch):
    return {
        (r.id_a, r.id_b)
        for r in dedup_against_index(
            spark, idx, batch, threshold=_T
        ).collect()
    }


def _search_rows(spark, idx, query, k=10):
    return sorted(
        (r.doc_id, r.rank, r.score)
        for r in bm25_search_index(spark, idx, query, k=k).collect()
    )


def _corpus_query(docs):
    """A query of real corpus terms, so searches score non-trivially."""
    words = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).where(F.length("w") > 3).limit(3).collect()
    return " ".join(sorted({r.w for r in words}))


# ---------------------------------------------------------------------------
# Crash points: everything before the manifest commit is invisible
# ---------------------------------------------------------------------------


def test_first_build_crash_before_commit_is_invisible_and_retryable(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A build killed between its segment + _meta writes and the
    manifest publish (inside commit_build) leaves a tree NO reader
    accepts (loud 'no committed segments'), and a straight retry on the
    same path succeeds."""
    corpus = _docs(spark, sf_dir, 0, 30)
    batch = _docs(spark, sf_dir, 0, 10).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "mh")
    real = logstore.publish
    monkeypatch.setattr(logstore, "publish", lambda *a, **k: (_ for _ in ()).throw(_Crash()))
    with pytest.raises(_Crash):
        minhash_build_index(corpus, idx, **_LSH)
    # debris exists, but the store is refused loudly, not misread
    assert glob.glob(f"{idx}/buckets/seg=*")
    with pytest.raises(ValueError, match="no committed segments"):
        dedup_against_index(spark, idx, batch, threshold=_T)
    monkeypatch.setattr(logstore, "publish", real)
    minhash_build_index(corpus, idx, **_LSH)
    got = _probe_set(spark, idx, batch)
    assert {(d + 1000000, d) for d in range(0, 10, 2)} <= got


def test_extend_crash_before_commit_then_retry_minhash(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An extend killed after writing BOTH its relations' segment dirs
    but before commit_extend changes nothing a probe can see; the
    retried extend lands exactly once (probe == fresh rebuild over the
    union)."""
    part_a = _docs(spark, sf_dir, 0, 30)
    part_b = _docs(spark, sf_dir, 30, 50)
    batch = part_a.unionByName(part_b).where(
        F.col("doc_id") % 5 == 0
    ).select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    idx = str(tmp_path / "mh")
    minhash_build_index(part_a, idx, **_LSH)
    before = _probe_set(spark, idx, batch)

    real = ST.commit_extend
    monkeypatch.setattr(ST, "commit_extend", lambda *a, **k: (_ for _ in ()).throw(_Crash()))
    with pytest.raises(_Crash):
        minhash_extend_index(part_b, idx)
    # orphan segment dirs exist in both relations...
    _, man = ST.read_manifest(idx)
    orphans = {
        p.split("seg=")[1].split("/")[0]
        for p in glob.glob(f"{idx}/*/seg=*")
    } - set(man["segments"])
    assert orphans
    # ...and are invisible: the probe answers exactly as before
    assert _probe_set(spark, idx, batch) == before

    monkeypatch.setattr(ST, "commit_extend", real)
    assert minhash_extend_index(part_b, idx) is True
    fresh = str(tmp_path / "mh_union")
    minhash_build_index(part_a.unionByName(part_b), fresh, **_LSH)
    assert _probe_set(spark, idx, batch) == _probe_set(
        spark, fresh, batch
    )


def test_rebuild_crash_after_meta_is_detectably_torn_then_heals(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A REbuild killed between its sidecar (_meta) overwrite and the
    manifest publish (commit_build writes _meta, then publishes) leaves
    the previous index TORN — probes refuse loudly (meta_id
    cross-check) instead of probing new parameters against old
    segments — and re-running the build heals the store."""
    corpus = _docs(spark, sf_dir, 0, 30)
    batch = _docs(spark, sf_dir, 0, 10).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)

    real = logstore.publish
    monkeypatch.setattr(logstore, "publish", lambda *a, **k: (_ for _ in ()).throw(_Crash()))
    with pytest.raises(_Crash):
        minhash_build_index(corpus, idx, **_LSH)  # rebuild, same path
    with pytest.raises(ValueError, match="torn"):
        dedup_against_index(spark, idx, batch, threshold=_T)
    monkeypatch.setattr(logstore, "publish", real)
    minhash_build_index(corpus, idx, **_LSH)
    got = _probe_set(spark, idx, batch)
    assert {(d + 1000000, d) for d in range(0, 10, 2)} <= got


def test_bm25_extend_crash_then_retry_matches_rebuild(
    spark, sf_dir, tmp_path, monkeypatch
):
    """BM25's three-relation extend (postings + df + _stats) is one
    atomic commit: a crash before it changes no score; the retry lands
    once and searches bit-equal a fresh build over the union."""
    part_a = _docs(spark, sf_dir, 0, 30)
    part_b = _docs(spark, sf_dir, 30, 50)
    idx = str(tmp_path / "bm")
    bm25_build_index(part_a, idx, term_buckets=8)
    q = _corpus_query(part_a)
    before = _search_rows(spark, idx, q)

    real = ST.commit_extend
    monkeypatch.setattr(ST, "commit_extend", lambda *a, **k: (_ for _ in ()).throw(_Crash()))
    with pytest.raises(_Crash):
        bm25_extend_index(part_b, idx)
    # the torn extend wrote orphan dirs for ALL THREE relations —
    # none is visible: scores (incl. idf/avgdl, which sum _stats/df
    # across committed segments only) are bit-identical
    assert _search_rows(spark, idx, q) == before

    monkeypatch.setattr(ST, "commit_extend", real)
    assert bm25_extend_index(part_b, idx) is True
    fresh = str(tmp_path / "bm_union")
    bm25_build_index(part_a.unionByName(part_b), fresh, term_buckets=8)
    assert _search_rows(spark, idx, q) == _search_rows(spark, fresh, q)


def test_quantize_rebuild_crash_orphan_cannot_poison_schema(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The ADVICE/verdict hazard: a crashed quantize=True rebuild over
    a quantize=False store leaves orphan segments whose schema
    (scale, qvec) differs from the committed ones (vec). Probes must
    stay bit-identical — read_committed lists only committed seg=
    dirs, so the orphan can neither leak rows nor steer parquet
    schema inference."""
    corpus = _vecs(spark, sf_dir, 0, 60).where(F.col("vec_id") % 2 == 0)
    batch = _vecs(spark, sf_dir, 0, 60).where(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "emb")
    embedding_build_index(corpus, idx, n_centroids=4)
    before = {
        (r.id_a, r.id_b, r.sim)
        for r in embedding_against_index(
            spark, idx, batch, threshold=0.2, n_probe=4
        ).collect()
    }
    assert before

    # rebuild with the OPPOSITE storage mode, killed right after the
    # vectors segment lands (before sidecars + commit)
    real = ST.write_centroids
    monkeypatch.setattr(ST, "write_centroids", lambda *a, **k: (_ for _ in ()).throw(_Crash()))
    with pytest.raises(_Crash):
        embedding_build_index(corpus, idx, n_centroids=4, quantize=True)
    monkeypatch.setattr(ST, "write_centroids", real)

    # the orphan dir exists and carries the conflicting schema
    _, man = ST.read_manifest(idx)
    orphan_dirs = [
        p for p in glob.glob(f"{idx}/vectors/seg=*")
        if p.split("seg=")[1] not in set(man["segments"])
    ]
    assert orphan_dirs
    orphan_schema = spark.read.parquet(orphan_dirs[0]).schema.names
    assert "qvec" in orphan_schema and "vec" not in orphan_schema

    after = {
        (r.id_a, r.id_b, r.sim)
        for r in embedding_against_index(
            spark, idx, batch, threshold=0.2, n_probe=4
        ).collect()
    }
    assert after == before


def test_compact_crash_before_commit_replace_changes_nothing(
    spark, sf_dir, tmp_path, monkeypatch
):
    """compact_index killed after rewriting every relation but before
    commit_replace leaves the manifest — and every search — untouched;
    the retried compaction succeeds."""
    part_a = _docs(spark, sf_dir, 0, 30)
    part_b = _docs(spark, sf_dir, 30, 50)
    idx = str(tmp_path / "bm")
    bm25_build_index(part_a, idx, term_buckets=8)
    bm25_extend_index(part_b, idx)
    q = _corpus_query(part_a)
    before = _search_rows(spark, idx, q)
    v_before, man_before = ST.read_manifest(idx)

    real = ST.commit_replace
    monkeypatch.setattr(ST, "commit_replace", lambda *a, **k: (_ for _ in ()).throw(_Crash()))
    with pytest.raises(_Crash):
        ST.compact_index(spark, idx)
    assert ST.read_manifest(idx) == (v_before, man_before)
    assert _search_rows(spark, idx, q) == before

    monkeypatch.setattr(ST, "commit_replace", real)
    ST.compact_index(spark, idx)
    _, man = ST.read_manifest(idx)
    assert len(man["segments"]) == 1
    assert _search_rows(spark, idx, q) == before


# ---------------------------------------------------------------------------
# Races and idempotence
# ---------------------------------------------------------------------------


def test_two_writer_extend_race_both_segments_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Two concurrent extends: the loser of the manifest create re-reads
    the winner's snapshot and re-publishes — BOTH segments end up
    committed, and the probe sees both batches' docs."""
    part_a = _docs(spark, sf_dir, 0, 30)
    part_b = _docs(spark, sf_dir, 30, 40)
    part_c = _docs(spark, sf_dir, 40, 50)
    idx = str(tmp_path / "mh")
    minhash_build_index(part_a, idx, **_LSH)

    # pre-write the competitor's segment (writer C), to be committed by
    # a racing publish injected UNDER writer B's first commit attempt
    meta = spark.read.parquet(idx + "/_meta").collect()[0]
    from configurable_etl_python_repo_spark.llm.dedup_index import (
        _ab_col,
        _batch_buckets,
    )

    sig_c, buckets_c = _batch_buckets(part_c, "doc_id", "text", meta)

    seg_c = ST.new_segment_id()
    ST.write_segment(buckets_c, idx, "buckets", seg_c, "kb")
    ST.write_segment(
        sig_c.select("id", "arr",
                     _ab_col(F.col("id"), int(meta.key_buckets))),
        idx, "arrays", seg_c, "ab",
    )

    real_publish = logstore.publish
    state = {"raced": False}

    def racy_publish(st, base, payload):
        if not state["raced"]:
            state["raced"] = True
            _, man = ST.read_manifest(idx)
            real_publish(st, base, {
                "version": base + 1,
                "segments": man["segments"] + [seg_c],
                "tags": dict(man.get("tags") or {}),
                "meta_id": man["meta_id"],
            })  # competitor wins v(base+1)...
            return real_publish(st, base, payload)  # ...B loses, raises
        return real_publish(st, base, payload)

    monkeypatch.setattr(logstore, "publish", racy_publish)
    assert minhash_extend_index(part_b, idx) is True
    monkeypatch.setattr(logstore, "publish", real_publish)

    version, man = ST.read_manifest(idx)
    assert version == 3 and len(man["segments"]) == 3  # build + C + B
    batch = part_b.unionByName(part_c).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    got = _probe_set(spark, idx, batch)
    want_ids = {r.doc_id for r in batch.collect()}
    assert {(i, i - 1000000) for i in want_ids} <= got


def test_tagged_extend_retry_is_noop(spark, sf_dir, tmp_path):
    """The streaming-batch idempotence contract: a retried extend with
    the same tag returns False, appends no segment, and leaves the
    probe bit-identical — its freshly written data stays an orphan."""
    part_a = _docs(spark, sf_dir, 0, 30)
    part_b = _docs(spark, sf_dir, 30, 50)
    batch = _docs(spark, sf_dir, 30, 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "mh")
    minhash_build_index(part_a, idx, **_LSH)
    assert minhash_extend_index(part_b, idx, tag="batch-0007") is True
    after_first = _probe_set(spark, idx, batch)
    v1, man1 = ST.read_manifest(idx)
    assert man1["tags"] == {"batch-0007": man1["segments"][-1]}

    assert minhash_extend_index(part_b, idx, tag="batch-0007") is False
    v2, man2 = ST.read_manifest(idx)
    assert (v2, man2["segments"]) == (v1, man1["segments"])
    assert _probe_set(spark, idx, batch) == after_first
    # a DIFFERENT tag still extends
    assert minhash_extend_index(part_b.limit(0), idx,
                                tag="batch-0008") is True
    assert ST.read_manifest(idx)[0] == v1 + 1


def test_rebuild_resets_tags(spark, sf_dir, tmp_path):
    """A rebuild is a new corpus generation: old idempotence markers
    must not suppress re-admission into it."""
    part_a = _docs(spark, sf_dir, 0, 30)
    part_b = _docs(spark, sf_dir, 30, 50)
    idx = str(tmp_path / "mh")
    minhash_build_index(part_a, idx, **_LSH)
    assert minhash_extend_index(part_b, idx, tag="day-1") is True
    minhash_build_index(part_a, idx, **_LSH)  # rebuild
    assert ST.read_manifest(idx)[1]["tags"] == {}
    assert minhash_extend_index(part_b, idx, tag="day-1") is True


def test_extend_during_rebuild_refuses_stale_generation(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An extend whose index was REBUILT underneath (meta_id changed
    between its read and its commit) must refuse — its segment was
    computed under dead parameters."""
    part_a = _docs(spark, sf_dir, 0, 30)
    part_b = _docs(spark, sf_dir, 30, 50)
    idx = str(tmp_path / "mh")
    minhash_build_index(part_a, idx, **_LSH)
    meta = spark.read.parquet(idx + "/_meta").collect()[0]

    seg = ST.new_segment_id()  # stand-in for the extend's written data
    with pytest.raises(ConcurrentWriteError, match="rebuilt"):
        ST.commit_extend(idx, seg, "not-the-live-generation")
    # the real generation still commits
    assert ST.commit_extend(idx, seg, meta.meta_id) is True


def test_compaction_loser_refuses_to_double_rows(
    spark, sf_dir, tmp_path
):
    """ADVICE r10 (medium): two concurrent compactions fold the same
    snapshot; the winner swaps [a, b] for X. The loser's commit_replace
    must raise instead of publishing [Y, X] — both contain the folded
    rows, and every compacted row would become visible twice (duplicate
    candidate pairs, doubled BM25 df/n_docs), silently."""
    part_a = _docs(spark, sf_dir, 0, 30)
    part_b = _docs(spark, sf_dir, 30, 50)
    idx = str(tmp_path / "bm")
    bm25_build_index(part_a, idx, term_buckets=8)
    bm25_extend_index(part_b, idx)
    _, man = ST.read_manifest(idx)
    snapshot = list(man["segments"])
    meta_id = man["meta_id"]

    ST.compact_index(spark, idx)  # compactor X wins
    with pytest.raises(ConcurrentWriteError, match="double"):
        ST.commit_replace(idx, "s" + "f" * 32, snapshot, meta_id)
    # and the index still answers exactly one copy of each doc
    q = _corpus_query(part_a)
    fresh = str(tmp_path / "bm_fresh")
    bm25_build_index(part_a.unionByName(part_b), fresh, term_buckets=8)
    assert _search_rows(spark, idx, q) == _search_rows(spark, fresh, q)


def test_torn_centroids_detected(spark, sf_dir, tmp_path):
    """ADVICE r10 (low): _centroids is an in-place sidecar; a probe
    that reads a mid-rebuild-swapped (or torn) centroid table must fail
    loudly via the meta_id stamp, like _meta does — never silently
    assign the batch under new centroids against old segments."""
    corpus = _vecs(spark, sf_dir, 0, 40)
    batch = _vecs(spark, sf_dir, 40, 50)
    idx = str(tmp_path / "emb")
    embedding_build_index(corpus, idx, n_centroids=4)
    # simulate the racing rebuild's centroid overwrite
    cents = ST.read_centroids(
        spark, idx, spark.read.parquet(idx + "/_meta").collect()[0].meta_id
    )
    ST.write_centroids(spark, idx, cents, "a-newer-generation")
    with pytest.raises(ValueError, match="torn"):
        embedding_against_index(spark, idx, batch, threshold=0.2)
    with pytest.raises(ValueError, match="torn"):
        embedding_extend_index(batch, idx)


# ---------------------------------------------------------------------------
# Compaction == fresh rebuild; vacuum retention
# ---------------------------------------------------------------------------


def test_compact_minhash_equals_rebuild_and_probe_unchanged(
    spark, sf_dir, tmp_path
):
    """build + extend x3, then compact: ONE committed segment whose
    probe answers are bit-equal both to the pre-compaction index and to
    a fresh build over the union."""
    docs = _docs(spark, sf_dir, 0, 60)
    parts = [docs.where(F.col("doc_id") % 4 == i) for i in range(4)]
    batch = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "mh")
    minhash_build_index(parts[0], idx, **_LSH)
    for p in parts[1:]:
        minhash_extend_index(p, idx)
    before = _probe_set(spark, idx, batch)
    assert len(ST.read_manifest(idx)[1]["segments"]) == 4

    ST.compact_index(spark, idx)
    _, man = ST.read_manifest(idx)
    assert len(man["segments"]) == 1
    assert _probe_set(spark, idx, batch) == before
    fresh = str(tmp_path / "mh_fresh")
    minhash_build_index(docs, fresh, **_LSH)
    assert _probe_set(spark, idx, batch) == _probe_set(
        spark, fresh, batch
    )
    # compacting a single-segment index is a no-op, not an error
    v = ST.read_manifest(idx)[0]
    assert ST.compact_index(spark, idx) == v


def test_compact_bm25_folds_df_and_stats_exactly(
    spark, sf_dir, tmp_path
):
    """BM25 is the store with ADDITIVE relations: compaction must SUM
    per-segment df/_stats rows, not concatenate them — scores after
    compaction are bit-equal to the pre-compaction index and to a
    fresh build over the union."""
    docs = _docs(spark, sf_dir, 0, 60)
    parts = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    idx = str(tmp_path / "bm")
    bm25_build_index(parts[0], idx, term_buckets=8)
    for p in parts[1:]:
        bm25_extend_index(p, idx)
    q = _corpus_query(docs)
    before = _search_rows(spark, idx, q)

    ST.compact_index(spark, idx)
    _, man = ST.read_manifest(idx)
    assert len(man["segments"]) == 1
    # exactly one folded stats row whose sums cover every doc
    stats = ST.read_committed(
        spark, idx, "_stats", man["segments"]
    ).collect()
    assert len(stats) == 1 and stats[0].n_docs == docs.count()
    assert _search_rows(spark, idx, q) == before
    fresh = str(tmp_path / "bm_fresh")
    bm25_build_index(docs, fresh, term_buckets=8)
    assert _search_rows(spark, idx, q) == _search_rows(spark, fresh, q)


def test_vacuum_removes_only_expired_unreferenced_dirs(
    spark, sf_dir, tmp_path
):
    """vacuum_index deletes exactly the unreferenced segment dirs older
    than retention: compacted-away segments go (retention 0), a FRESH
    orphan survives the default retention (it may belong to a writer
    mid-commit), and committed reads are untouched throughout."""
    part_a = _docs(spark, sf_dir, 0, 30)
    part_b = _docs(spark, sf_dir, 30, 50)
    batch = _docs(spark, sf_dir, 0, 50).where(
        F.col("doc_id") % 6 == 0
    ).select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    idx = str(tmp_path / "mh")
    minhash_build_index(part_a, idx, **_LSH)
    minhash_extend_index(part_b, idx)
    old_segs = set(ST.read_manifest(idx)[1]["segments"])
    ST.compact_index(spark, idx)
    live = set(ST.read_manifest(idx)[1]["segments"])
    before = _probe_set(spark, idx, batch)

    # a fresh orphan: a concurrent writer's not-yet-committed segment
    fresh_orphan = os.path.join(idx, "buckets", "seg=sfreshorphan")
    os.makedirs(fresh_orphan)

    # default retention spares EVERYTHING younger than 24h — including
    # the just-compacted-away segments
    assert ST.vacuum_index(idx) == []

    removed = ST.vacuum_index(idx, retention_s=0.0)
    removed_segs = {p.split("seg=")[1] for p in removed}
    assert removed_segs == old_segs | {"sfreshorphan"}
    on_disk = {
        p.split("seg=")[1] for p in glob.glob(f"{idx}/*/seg=*")
    }
    assert on_disk == live
    assert _probe_set(spark, idx, batch) == before


def test_compact_and_vacuum_config_ops(spark, sf_dir, tmp_path):
    """COMPACT INDEX / VACUUM INDEX as registered config op types, so a
    scheduled ingest program can fold its own segments: pass-through
    with an input (chains after the EXTEND stage), one-row receipt
    without; searches bit-identical across the maintenance pass."""
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    part_a = _docs(spark, sf_dir, 0, 30)
    part_b = _docs(spark, sf_dir, 30, 50)
    idx = str(tmp_path / "bm")
    q = _corpus_query(part_a)

    eng = Engine(spark)
    eng.bind("corpus", part_a)
    eng.bind("batch", part_b)
    eng.run_op(OpSpec("BM25 BUILD INDEX", "built", ["corpus"],
                      {"path": idx, "term_buckets": 8}))
    eng.run_op(OpSpec("BM25 EXTEND INDEX", "ext", ["batch"],
                      {"path": idx}))
    before = _search_rows(spark, idx, q)
    old_segs = set(ST.read_manifest(idx)[1]["segments"])

    passthru = eng.run_op(OpSpec("COMPACT INDEX", "cmp", ["batch"],
                                 {"path": idx}))
    assert passthru.columns == ["doc_id", "text"]  # pass-through
    assert len(ST.read_manifest(idx)[1]["segments"]) == 1
    assert _search_rows(spark, idx, q) == before

    receipt = eng.run_op(OpSpec(
        "VACUUM INDEX", "vac", [],
        {"path": idx, "retention_seconds": 0,
         "manifest_keep_last": 1}))
    row = receipt.collect()[0]
    # 4 BM25 relation seg dirs per old segment + the 2 pruned
    # manifests (v1 build, v2 extend; v3 = the compaction survives)
    assert row.path == idx
    assert row.removed_dirs == len(old_segs) * 4 + 2
    assert _search_rows(spark, idx, q) == before
    assert ST.read_manifest(idx)[0] == 3  # current manifest retained

    cmp_receipt = eng.run_op(OpSpec("COMPACT INDEX", "cmp2", [],
                                    {"path": idx}))
    assert cmp_receipt.collect()[0].path == idx  # no-op receipt

    import pytest as _pytest
    with _pytest.raises(ValueError, match="path"):
        eng.run_op(OpSpec("COMPACT INDEX", "bad", [], {}))
    with _pytest.raises(ValueError, match="unknown args"):
        eng.run_op(OpSpec("VACUUM INDEX", "bad2", [],
                          {"path": idx, "nope": 1}))


def test_vacuum_refuses_store_with_no_committed_manifest(tmp_path):
    """A wrong path (or a non-default LogStore not passed through)
    yields an empty live set — vacuuming would classify every
    committed segment as an orphan and mass-delete the index; refuse
    loudly instead."""
    bogus = str(tmp_path / "not_an_index")
    os.makedirs(os.path.join(bogus, "buckets", "seg=sdead"))
    with pytest.raises(ValueError, match="refusing to vacuum"):
        ST.vacuum_index(bogus, retention_s=0.0)
    assert os.path.isdir(os.path.join(bogus, "buckets", "seg=sdead"))


_S3_INDEX = "s3a://idx-bucket/stores/mh"


def _s3_index_log():
    """A build, an extend and a compaction committed on an object-store
    manifest log (the tests/test_txlog.py S3 stub): three manifests,
    and no local directory anywhere."""
    from test_txlog import _StubS3Client

    client = _StubS3Client()
    st = logstore.S3LogStore("idx-bucket", "stores/mh/_segments",
                             client=client)
    logstore.publish(st, 0, {"version": 1, "segments": ["sa"],
                             "tags": {}, "meta_id": "m",
                             "tombstones": []})
    assert ST.commit_extend(_S3_INDEX, "sb", "m", store=st)
    assert ST.commit_replace(_S3_INDEX, "sc", ["sa", "sb"], "m",
                             store=st) == 3
    return st, client


def test_vacuum_and_maintain_refuse_object_store_paths():
    """vacuum_index walks local segment dirs: on an object-store path it
    would find no orphan yet still prune the manifest log and report
    success. It refuses instead, and maintain_index refuses before it
    compacts (it would vacuum next)."""
    st, _ = _s3_index_log()
    with pytest.raises(NotImplementedError):
        ST.vacuum_index(_S3_INDEX, retention_s=0.0, store=st,
                        manifest_keep_last=1)
    with pytest.raises(NotImplementedError):
        ST.maintain_index(None, _S3_INDEX, max_segments=1, store=st)


def test_refused_object_store_vacuum_keeps_every_manifest():
    st, client = _s3_index_log()
    before = dict(client.blobs)
    try:
        ST.vacuum_index(_S3_INDEX, retention_s=0.0, store=st,
                        manifest_keep_last=1)
    except NotImplementedError:
        pass
    assert client.blobs == before
    for v in (1, 2, 3):
        assert ST.read_manifest(_S3_INDEX, st, version=v)[0] == v


def test_probe_and_search_read_meta_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """committed_state reads _meta once and the caller dispatches on
    meta.layout: a two-layout family (embedding int8/pq, pq/residual)
    pays no second layout-peek read."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        pq_build_index,
        pq_search_index,
    )

    corpus = _vecs(spark, sf_dir, 0, 60)
    batch = _vecs(spark, sf_dir, 60, 70)
    emb, pq = str(tmp_path / "emb"), str(tmp_path / "pq")
    embedding_build_index(corpus, emb, n_centroids=2, quantize="pq",
                          m_subspaces=4, n_codes=4)
    pq_build_index(corpus, pq, dim=64, m_subspaces=4, n_codes=4,
                   n_centroids=2)
    real, reads = ST.sidecar_rows, []

    def counting(spark_, path):
        reads.append(path)
        return real(spark_, path)

    monkeypatch.setattr(ST, "sidecar_rows", counting)
    embedding_against_index(spark, emb, batch, threshold=0.5).collect()
    assert sum(p.endswith("/_meta") for p in reads) == 1
    reads.clear()
    pq_search_index(spark, pq, batch, k=3, n_probe=2).collect()
    assert sum(p.endswith("/_meta") for p in reads) == 1


PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "configurable_etl_python_repo_spark",
)
_STORE_PATH = re.compile(r"/_meta|/_centroids|/_codebooks|seg=")


def _store_path_literals(path: str) -> "set[str]":
    """The string constants (f-string parts included) of a module that
    spell a sidecar path or the segment directory name. Docstrings and
    comments do not count."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    docs = {
        id(n.body[0].value) for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                          ast.AsyncFunctionDef))
        and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    return {
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
        and id(n) not in docs and _STORE_PATH.search(n.value)
    }


def test_store_paths_spelled_in_one_module():
    """Sidecar paths and `seg=` directories live in llm/_store.py only:
    a family that formats its own is a second storage layout that can
    drift from the protocol's."""
    where = sorted(
        os.path.relpath(path, PKG)
        for path in glob.glob(os.path.join(PKG, "**", "*.py"),
                              recursive=True)
        if _store_path_literals(path)
    )
    assert where == [os.path.join("llm", "_store.py")]


def test_store_path_literal_detector(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        '"""Module doc naming <path>/_meta and seg=<id>."""\n'
        "def f(path, seg):\n"
        '    """Reads path + "/_codebooks"."""\n'
        '    a = path + "/_meta"\n'
        '    return f"{path}/vectors/seg={seg}"\n'
    )
    assert _store_path_literals(str(src)) == {"/_meta", "/vectors/seg="}
    src.write_text('x = "p/_centroids"\n# "/_meta"\ny = "_meta"\n')
    assert _store_path_literals(str(src)) == {"p/_centroids"}


# ---------------------------------------------------------------------------
# Tombstone deletes (right-to-be-forgotten; Lucene delete-until-merge)
# ---------------------------------------------------------------------------


def _ids_df(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids], "id long")


def test_delete_hides_ids_from_minhash_probe_and_is_idempotent(
    spark, sf_dir, tmp_path
):
    """delete_from_index: tombstoned ids vanish from probe results
    immediately; every other pair is untouched; a tagged retry is a
    no-op."""
    corpus = _docs(spark, sf_dir, 0, 40)
    batch = corpus.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    before = _probe_set(spark, idx, batch)
    victims = sorted({b for _, b in before})[:2]
    assert victims

    assert ST.delete_from_index(
        _ids_df(spark, victims), idx, tag="takedown-1") is True
    after = _probe_set(spark, idx, batch)
    assert after == {p for p in before if p[1] not in set(victims)}
    # tagged retry: no second tombstone segment, result stable
    v1 = ST.read_manifest(idx)[0]
    assert ST.delete_from_index(
        _ids_df(spark, victims), idx, tag="takedown-1") is False
    assert ST.read_manifest(idx)[0] == v1
    assert _probe_set(spark, idx, batch) == after


def test_bm25_delete_lucene_stats_until_compact(
    spark, sf_dir, tmp_path
):
    """The Lucene contract, pinned end-to-end: a deleted doc vanishes
    from RESULTS immediately while every surviving doc's SCORE is
    bit-unchanged (df/n_docs/avgdl still include it); after
    compact_index the index is bit-equal to a fresh build over
    corpus-minus-deleted (stats reclaimed exactly — doclens makes the
    n_docs/total_dl subtraction exact even for zero-word docs)."""
    docs = _docs(spark, sf_dir, 0, 40)
    # a zero-word doc: the n_docs contribution postings cannot see
    docs = docs.unionByName(spark.createDataFrame(
        [(999, "   ")], ["doc_id", "text"]))
    idx = str(tmp_path / "bm")
    bm25_build_index(docs, idx, term_buckets=8)
    q = _corpus_query(docs)
    before = {r[0]: r[2] for r in _search_rows(spark, idx, q, k=50)}
    victim = sorted(before)[0]

    ST.delete_from_index(_ids_df(spark, [victim, 999]), idx)
    mid = {r[0]: r[2] for r in _search_rows(spark, idx, q, k=50)}
    assert victim not in mid
    # Lucene semantics: survivors' scores unchanged pre-compaction
    assert mid == {d: s for d, s in before.items() if d != victim}

    ST.compact_index(spark, idx)
    fresh = str(tmp_path / "bm_fresh")
    bm25_build_index(
        docs.where(~F.col("doc_id").isin([victim, 999])), fresh,
        term_buckets=8,
    )
    assert _search_rows(spark, idx, q, k=50) == _search_rows(
        spark, fresh, q, k=50
    )


def test_compact_purges_rows_and_tombstones_id_identity(
    spark, sf_dir, tmp_path
):
    """An id is an identity: rows re-added AFTER the delete stay
    suppressed until a compaction purges rows + tombstones; after that
    compaction a re-added id is visible again."""
    corpus = _docs(spark, sf_dir, 0, 30)
    victim = 6
    victim_docs = corpus.where(F.col("doc_id") == victim)
    batch = victim_docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    hit = (victim + 1000000, victim)
    assert hit in _probe_set(spark, idx, batch)

    ST.delete_from_index(_ids_df(spark, [victim]), idx)
    assert hit not in _probe_set(spark, idx, batch)
    # re-add the same id BEFORE compaction: still suppressed
    minhash_extend_index(victim_docs, idx)
    assert hit not in _probe_set(spark, idx, batch)

    ST.compact_index(spark, idx)
    # tombstones purged with the rows: nothing suppressed any more...
    assert ST.read_deletes(spark, idx, ST.read_manifest(idx)[1]) is None
    assert hit not in _probe_set(spark, idx, batch)  # rows are GONE
    # ...so a fresh extend of the same id is visible again
    minhash_extend_index(victim_docs, idx)
    assert hit in _probe_set(spark, idx, batch)


def test_delete_embedding_and_compact_all_deleted_refused(
    spark, sf_dir, tmp_path
):
    """Deletes work on the embedding store (id_b excluded); compacting
    a store whose every row is tombstoned refuses loudly instead of
    writing an unreadable empty tree."""
    corpus = _vecs(spark, sf_dir, 0, 40).where(F.col("vec_id") % 2 == 0)
    batch = corpus.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    idx = str(tmp_path / "emb")
    embedding_build_index(corpus, idx, n_centroids=4)
    before = {
        (r.id_a, r.id_b)
        for r in embedding_against_index(
            spark, idx, batch, threshold=0.99, n_probe=4
        ).collect()
    }
    assert before
    victim = sorted(before)[0][1]
    ST.delete_from_index(
        _ids_df(spark, [victim]), idx, id_col="id")
    after = {
        (r.id_a, r.id_b)
        for r in embedding_against_index(
            spark, idx, batch, threshold=0.99, n_probe=4
        ).collect()
    }
    assert after == {p for p in before if p[1] != victim}

    all_ids = [r.vec_id for r in corpus.select("vec_id").collect()]
    ST.delete_from_index(_ids_df(spark, all_ids), idx)
    with pytest.raises(ValueError, match="would leave relation"):
        ST.compact_index(spark, idx)


def test_delete_config_op_chain(spark, sf_dir, tmp_path):
    """DELETE FROM INDEX as a config op, chained with COMPACT INDEX —
    the takedown pipeline a 100 TB operator schedules."""
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    corpus = _docs(spark, sf_dir, 0, 30)
    batch = corpus.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    before = _probe_set(spark, idx, batch)
    victims = sorted({b for _, b in before})[:3]

    eng = Engine(spark)
    eng.bind("takedown", spark.createDataFrame(
        [(int(v),) for v in victims], ["doc_id"]))
    passthru = eng.run_op(OpSpec(
        "DELETE FROM INDEX", "del", ["takedown"],
        {"path": idx, "id_column": "doc_id", "tag": "req-42"}))
    assert passthru.columns == ["doc_id"]
    assert _probe_set(spark, idx, batch) == {
        p for p in before if p[1] not in set(victims)
    }
    eng.run_op(OpSpec("COMPACT INDEX", "cmp", [], {"path": idx}))
    fresh = str(tmp_path / "mh_fresh")
    minhash_build_index(
        corpus.where(~F.col("doc_id").isin([int(v) for v in victims])),
        fresh, **_LSH,
    )
    assert _probe_set(spark, idx, batch) == _probe_set(
        spark, fresh, batch
    )
    with pytest.raises(ValueError, match="path"):
        eng.run_op(OpSpec("DELETE FROM INDEX", "bad", ["takedown"], {}))


def test_concurrent_extend_during_compaction_keeps_tombstone(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The delete/extend/compact race (r10 review): a data segment
    committed AFTER the compactor's snapshot may carry rows for a
    tombstoned id. Dropping the tombstone with the snapshot would
    silently resurrect them — commit_replace must keep the snapshotted
    tombstone live whenever concurrent data segments exist; the NEXT
    compaction retires it."""
    corpus = _docs(spark, sf_dir, 0, 30)
    victim = 6
    victim_docs = corpus.where(F.col("doc_id") == victim)
    batch = victim_docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    hit = (victim + 1000000, victim)
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    ST.delete_from_index(_ids_df(spark, [victim]), idx)
    assert hit not in _probe_set(spark, idx, batch)

    real_replace = ST.commit_replace
    state = {"raced": False}

    def racing_replace(path, new_seg, replaced, meta_id, store=None):
        if not state["raced"]:
            state["raced"] = True
            # a concurrent extend re-adds the deleted id's doc between
            # the compactor's snapshot and its commit
            minhash_extend_index(victim_docs, idx)
        return real_replace(path, new_seg, replaced, meta_id,
                            store=store)

    monkeypatch.setattr(ST, "commit_replace", racing_replace)
    ST.compact_index(spark, idx)
    monkeypatch.setattr(ST, "commit_replace", real_replace)

    # the tombstone survived the swap: the concurrent segment's rows
    # for the deleted id stay suppressed
    _, man = ST.read_manifest(idx)
    assert man["tombstones"]
    assert hit not in _probe_set(spark, idx, batch)
    # the NEXT compaction's snapshot covers the concurrent segment:
    # rows purged, tombstone retired
    ST.compact_index(spark, idx)
    _, man2 = ST.read_manifest(idx)
    assert man2["tombstones"] == []
    assert hit not in _probe_set(spark, idx, batch)


def test_empty_delete_is_a_noop(spark, sf_dir, tmp_path):
    """A takedown filter that matched nothing must not commit a
    tombstone segment (every future probe would pay the anti-join for
    nothing)."""
    corpus = _docs(spark, sf_dir, 0, 20)
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    v1 = ST.read_manifest(idx)[0]
    assert ST.delete_from_index(
        _ids_df(spark, []), idx, tag="empty-1") is False
    assert ST.read_manifest(idx)[0] == v1
    assert ST.read_deletes(spark, idx, ST.read_manifest(idx)[1]) is None


def test_ivf_delete_and_compact_with_extra_corpus_columns(
    spark, sf_dir, tmp_path
):
    """quantize=False IVF stores keep EVERY corpus column; the
    tombstone filter resolves the id column from _meta (stamped at
    build), so delete + compact work on a store with extra non-vector
    columns (r10 review finding)."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        ivf_build_index,
        ivf_search_index,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .withColumn("src_domain", (F.col("vec_id") % 3).cast("string"))
    )
    queries = emb.where(F.col("vec_id") < 8)
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb, idx, n_centroids=4)
    before = {(r.query_id, r.neighbor_id)
              for r in ivf_search_index(spark, idx, queries, k=3,
                                        n_probe=4).collect()}
    victim = sorted({n for _, n in before})[0]
    ST.delete_from_index(_ids_df(spark, [victim]), idx)
    after = {(r.query_id, r.neighbor_id)
             for r in ivf_search_index(spark, idx, queries, k=3,
                                       n_probe=4).collect()}
    assert victim not in {n for _, n in after}
    ST.compact_index(spark, idx)  # resolves id col from meta.id_col
    assert ST.read_manifest(idx)[1]["tombstones"] == []
    again = {(r.query_id, r.neighbor_id)
             for r in ivf_search_index(spark, idx, queries, k=3,
                                       n_probe=4).collect()}
    assert again == after


def test_compact_refuses_when_any_relation_would_empty(
    spark, sf_dir, tmp_path
):
    """BM25 with only zero-word docs surviving: postings would be
    empty (unreadable) even though doclens survives — refuse, naming
    the relation."""
    docs = _docs(spark, sf_dir, 0, 10).unionByName(
        spark.createDataFrame([(901, " "), (902, "  ")],
                              ["doc_id", "text"]))
    idx = str(tmp_path / "bm")
    bm25_build_index(docs, idx, term_buckets=4)
    wordful = [r.doc_id for r in docs.where(
        F.col("doc_id") < 900).select("doc_id").collect()]
    ST.delete_from_index(_ids_df(spark, wordful), idx)
    with pytest.raises(ValueError, match="postings"):
        ST.compact_index(spark, idx)


# ---------------------------------------------------------------------------
# Snapshot reads (as_of_version): Delta-style time travel on the
# manifest log, within one build generation, until vacuum
# ---------------------------------------------------------------------------


def test_as_of_version_probe_is_the_historical_answer(
    spark, sf_dir, tmp_path
):
    """Every manifest version stays queryable: probe(as_of_version=N)
    == the probe taken when vN WAS latest, across a delete (v2) and an
    extend (v3) — and as_of the newest version == the plain probe."""
    corpus = _docs(spark, sf_dir, 0, 30)
    batch = _docs(spark, sf_dir, 0, 10).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    victim = 6
    idx = str(tmp_path / "mh")

    minhash_build_index(corpus, idx, **_LSH)            # v1
    p1 = _probe_set(spark, idx, batch)
    assert (1000000 + victim, victim) in p1

    ST.delete_from_index(_ids_df(spark, [victim]), idx)  # v2
    p2 = _probe_set(spark, idx, batch)
    assert p2 == p1 - {(1000000 + victim, victim)}

    # v3: replicas of the batch's own targets under a third namespace
    minhash_extend_index(
        _docs(spark, sf_dir, 0, 10).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        ),
        idx,
    )
    p3 = _probe_set(spark, idx, batch)
    assert {(d + 1000000, d + 2000000) for d in range(0, 10)
            if d != victim} <= p3 - p2

    def asof(v):
        return {
            (r.id_a, r.id_b)
            for r in dedup_against_index(
                spark, idx, batch, threshold=_T, as_of_version=v
            ).collect()
        }

    assert asof(1) == p1   # pre-delete snapshot: victim visible again
    assert asof(2) == p2   # post-delete, pre-extend
    assert asof(3) == p3   # newest version == plain probe


def test_as_of_version_bounds(spark, sf_dir, tmp_path):
    corpus = _docs(spark, sf_dir, 0, 20)
    batch = corpus.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    with pytest.raises(ValueError, match="start at 1"):
        dedup_against_index(
            spark, idx, batch, threshold=_T, as_of_version=0
        )
    with pytest.raises(ValueError, match="no committed manifest"):
        dedup_against_index(
            spark, idx, batch, threshold=_T, as_of_version=99
        )


def test_as_of_version_across_rebuild_refused(spark, sf_dir, tmp_path):
    """A rebuild overwrites the _meta/_centroids sidecars in place, so
    an older generation's snapshot is gone — the meta_id cross-check
    refuses the read with the time-travel message instead of probing
    new parameters against old segments."""
    corpus = _docs(spark, sf_dir, 0, 20)
    batch = corpus.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)             # v1, gen A
    minhash_build_index(corpus, idx, **_LSH)             # v2, gen B
    with pytest.raises(ValueError, match="time travel does not span"):
        dedup_against_index(
            spark, idx, batch, threshold=_T, as_of_version=1
        )
    # the current version is unaffected
    assert _probe_set(spark, idx, batch)


def test_as_of_version_survives_compaction_until_vacuum(
    spark, sf_dir, tmp_path
):
    """Compaction supersedes segments but does not remove them, so the
    pre-compaction snapshot keeps answering (bit-equal); vacuum is the
    time-travel horizon — after it, the snapshot read fails loudly on
    the missing directory rather than returning partial rows."""
    part_a = _docs(spark, sf_dir, 0, 30)
    part_b = _docs(spark, sf_dir, 30, 50)
    batch = part_a.unionByName(part_b).where(
        F.col("doc_id") % 5 == 0
    ).select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    idx = str(tmp_path / "mh")
    minhash_build_index(part_a, idx, **_LSH)             # v1
    minhash_extend_index(part_b, idx)                    # v2
    p2 = _probe_set(spark, idx, batch)
    ST.compact_index(spark, idx)                         # v3

    def asof(v):
        return {
            (r.id_a, r.id_b)
            for r in dedup_against_index(
                spark, idx, batch, threshold=_T, as_of_version=v
            ).collect()
        }

    assert asof(2) == p2                 # superseded segs still on disk
    assert ST.vacuum_index(idx, retention_s=0.0)
    with pytest.raises(Exception, match="(?i)path|exist"):
        asof(2)                          # horizon: vacuumed snapshot
    assert _probe_set(spark, idx, batch) == p2   # latest unaffected


def test_as_of_version_bm25_scores_use_the_snapshot_stats(
    spark, sf_dir, tmp_path
):
    """BM25's df/n_docs/avgdl aggregate over the SNAPSHOT's segments,
    so an as-of search is bit-equal to the search run before the
    extend — global stats time-travel with the data."""
    part_a = _docs(spark, sf_dir, 0, 25)
    part_b = _docs(spark, sf_dir, 25, 60)
    idx = str(tmp_path / "bm")
    bm25_build_index(part_a, idx, term_buckets=4)        # v1
    q = _corpus_query(part_a)
    before = _search_rows(spark, idx, q)
    bm25_extend_index(part_b, idx)                       # v2
    after = _search_rows(spark, idx, q)
    asof1 = sorted(
        (r.doc_id, r.rank, r.score)
        for r in bm25_search_index(
            spark, idx, q, k=10, as_of_version=1
        ).collect()
    )
    assert asof1 == before
    assert after != before  # the extend really changed stats/results


# ---------------------------------------------------------------------------
# Manifest-log retention (vacuum manifest_keep_last): bounded metadata
# after years of commits. Pruning OVERWRITES old manifests with a tiny
# marker — names survive forever (no put_if_absent slot is ever
# recycled, so a stale writer cannot fork the log), and a lost LATEST
# hint recovers by LISTING the log, never by probing from v1.
# ---------------------------------------------------------------------------


def _mh_versions(spark, sf_dir, tmp_path, n_extends=4):
    corpus = _docs(spark, sf_dir, 0, 30)
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)               # v1
    for i in range(n_extends):                             # v2..v(1+n)
        minhash_extend_index(
            _docs(spark, sf_dir, 30 + 5 * i, 35 + 5 * i), idx
        )
    return idx


def test_manifest_retention_prunes_old_keeps_current(
    spark, sf_dir, tmp_path
):
    idx = _mh_versions(spark, sf_dir, tmp_path)            # v1..v5
    batch = _docs(spark, sf_dir, 0, 10).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    p5 = _probe_set(spark, idx, batch)
    removed = ST.vacuum_index(idx, manifest_keep_last=2)
    names = {os.path.basename(r) for r in removed}
    assert names == {"v00000001.json", "v00000002.json",
                     "v00000003.json"}
    # latest unaffected; retained snapshot still answers
    assert ST.read_manifest(idx)[0] == 5
    assert _probe_set(spark, idx, batch) == p5
    assert {
        (r.id_a, r.id_b)
        for r in dedup_against_index(
            spark, idx, batch, threshold=_T, as_of_version=4
        ).collect()
    }
    # pruned snapshot fails with the PRUNED message, never
    # 'never committed'
    with pytest.raises(ValueError, match="pruned by vacuum"):
        dedup_against_index(
            spark, idx, batch, threshold=_T, as_of_version=2
        )
    # the pruned NAME survives as a marker, so the slot can never be
    # re-won by a stale writer's put_if_absent — THE fork guard
    st = ST._seg_store(idx)
    assert st.exists("v00000001.json")
    assert st.put_if_absent("v00000001.json", b'{"forged": 1}') is False
    # re-vacuum: markers are already pruned, nothing re-reported
    assert ST.vacuum_index(idx, manifest_keep_last=2) == []
    # keep_last larger than the log: no-op
    assert ST.vacuum_index(idx, manifest_keep_last=10) == []
    with pytest.raises(ValueError, match="must be >= 1"):
        ST.vacuum_index(idx, manifest_keep_last=0)


def test_manifest_retention_survives_torn_latest_hint(
    spark, sf_dir, tmp_path
):
    """The degraded LATEST recovery must not depend on low manifests
    carrying payloads (retention markers them): a torn/dangling/lost
    hint falls back to LISTING the manifest log — and then REPAIRS the
    hint, so the next read is O(1) again. A commit in that state lands
    at v6 on the true chain."""
    idx = _mh_versions(spark, sf_dir, tmp_path)            # v1..v5
    ST.vacuum_index(idx, manifest_keep_last=2)             # keep v4,v5
    seg_dir = os.path.join(idx, "_segments")
    os.remove(os.path.join(seg_dir, "LATEST"))             # lost hint
    assert ST.read_manifest(idx)[0] == 5
    # ...and the recovery repaired the hint
    with open(os.path.join(seg_dir, "LATEST")) as f:
        assert f.read().strip() == "5"
    # dangling hint (points past the end) also recovers
    with open(os.path.join(seg_dir, "LATEST"), "w") as f:
        f.write("99")
    assert ST.read_manifest(idx)[0] == 5
    # garbled hint too
    with open(os.path.join(seg_dir, "LATEST"), "w") as f:
        f.write("not-a-version")
    assert ST.read_manifest(idx)[0] == 5
    # a later vacuum with a LARGER keep_last prunes nothing extra
    assert ST.vacuum_index(idx, manifest_keep_last=4) == []
    # extend with the hint LOST commits v6 on the true chain
    os.remove(os.path.join(seg_dir, "LATEST"))
    minhash_extend_index(_docs(spark, sf_dir, 50, 55), idx)
    version, man = ST.read_manifest(idx)
    assert version == 6
    assert len(man["segments"]) == 6


def test_manifest_retention_crash_mid_prune_then_retry(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A vacuum killed halfway through its marker writes leaves a
    fully READABLE store: latest resolves, retained snapshots answer,
    un-markered old versions still answer, and the retried vacuum
    prunes exactly the remainder (marker writes are idempotent)."""
    idx = _mh_versions(spark, sf_dir, tmp_path)            # v1..v5
    real_write = ST.LocalLogStore.write
    state = {"n": 0}

    def crash_after_one(self, name, data):
        state["n"] += 1
        if state["n"] > 1:
            raise _Crash()
        real_write(self, name, data)

    monkeypatch.setattr(ST.LocalLogStore, "write", crash_after_one)
    with pytest.raises(_Crash):
        ST.vacuum_index(idx, manifest_keep_last=2)
    monkeypatch.setattr(ST.LocalLogStore, "write", real_write)
    # v1 markered, v2..v5 intact: everything still works
    assert ST.read_manifest(idx)[0] == 5
    assert ST.read_manifest(idx, version=2)[0] == 2
    with pytest.raises(ValueError, match="pruned by vacuum"):
        ST.read_manifest(idx, version=1)
    removed = ST.vacuum_index(idx, manifest_keep_last=2)   # retry
    assert sorted(removed) == ["v00000002.json", "v00000003.json"]
    assert ST.read_manifest(idx)[0] == 5


# ---------------------------------------------------------------------------
# MAINTAIN INDEX: the automatic maintenance policy (llm/_store.
# maintain_index) — manifest-only triggers, no-trigger no-op,
# compact+vacuum on fire, race behavior, the config op
# ---------------------------------------------------------------------------


def test_maintain_no_trigger_is_full_noop(spark, sf_dir, tmp_path):
    """Below both bounds the policy touches NOTHING — calling it every
    epoch must converge, not thrash."""
    corpus = _docs(spark, sf_dir, 0, 30)
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    minhash_extend_index(_docs(spark, sf_dir, 30, 40), idx)
    before = ST.read_manifest(idx)
    r = ST.maintain_index(spark, idx)  # 2 segments < 16, 0 tombstones
    assert r == {"compacted": False, "version": before[0],
                 "vacuumed_dirs": 0, "segments": 2, "tombstones": 0}
    assert ST.read_manifest(idx) == before
    # idempotent: a second tick is the same no-op
    assert ST.maintain_index(spark, idx)["compacted"] is False


def test_maintain_segment_trigger_boundary(spark, sf_dir, tmp_path):
    """Fires at n_data_segments >= max_segments, not one sooner; the
    probe answer is bit-stable across the compaction."""
    corpus = _docs(spark, sf_dir, 0, 30)
    batch = _docs(spark, sf_dir, 30, 35).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    minhash_extend_index(_docs(spark, sf_dir, 30, 40), idx)
    minhash_extend_index(_docs(spark, sf_dir, 40, 50), idx)
    before = _probe_set(spark, idx, batch)

    r = ST.maintain_index(spark, idx, max_segments=4)  # 3 < 4
    assert r["compacted"] is False and r["segments"] == 3
    r = ST.maintain_index(spark, idx, max_segments=3)  # 3 >= 3: fire
    assert r["compacted"] is True and r["segments"] == 1
    assert _probe_set(spark, idx, batch) == before
    # disabled trigger never fires
    for _ in range(2):
        minhash_extend_index(_docs(spark, sf_dir, 50, 55), idx)
    r = ST.maintain_index(spark, idx, max_segments=None,
                          max_tombstone_share=None)
    assert r["compacted"] is False and r["segments"] == 3


def test_maintain_tombstone_share_trigger_and_vacuum(
    spark, sf_dir, tmp_path
):
    """Tombstone-share trigger: build + delete = 1 tombstone of 2
    segments (share 0.5) — fires at bound 0.5, not at 0.6; the
    compaction purges the tombstone and vacuum (retention 0) reclaims
    the replaced segment dirs in the same call."""
    corpus = _docs(spark, sf_dir, 0, 30)
    victim = 6
    batch = corpus.where(F.col("doc_id") == victim).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    ST.delete_from_index(_ids_df(spark, [victim]), idx)
    assert not _probe_set(spark, idx, batch)

    r = ST.maintain_index(spark, idx, max_segments=16,
                          max_tombstone_share=0.6)
    assert r["compacted"] is False and r["tombstones"] == 1
    r = ST.maintain_index(spark, idx, max_segments=16,
                          max_tombstone_share=0.5, retention_s=0.0)
    assert r["compacted"] is True
    assert r["segments"] == 1 and r["tombstones"] == 0
    assert r["vacuumed_dirs"] > 0  # the replaced dirs, reclaimed
    assert not _probe_set(spark, idx, batch)  # still deleted (purged)
    # an all-clean store never re-fires on the share trigger (0/1)
    assert ST.maintain_index(
        spark, idx, max_tombstone_share=0.0)["compacted"] is False


def test_maintain_manifest_keep_last_passthrough(
    spark, sf_dir, tmp_path
):
    corpus = _docs(spark, sf_dir, 0, 30)
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    minhash_extend_index(_docs(spark, sf_dir, 30, 40), idx)
    r = ST.maintain_index(spark, idx, max_segments=2,
                          retention_s=0.0, manifest_keep_last=1)
    assert r["compacted"] is True
    with pytest.raises(ValueError, match="pruned by vacuum"):
        ST.read_manifest(idx, version=1)


def test_maintain_refuses_uncommitted_store(spark, tmp_path):
    bogus = str(tmp_path / "not_an_index")
    os.makedirs(bogus)
    with pytest.raises(ValueError, match="refusing to maintain"):
        ST.maintain_index(spark, bogus)


def test_maintain_losing_compaction_race_skips_tick(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A concurrent compaction winning the commit_replace race makes
    this tick's compaction stale: maintain propagates
    ConcurrentWriteError (the admission stream swallows it and the
    next n-th epoch re-decides); the store is untouched by the loser
    and the retry tick succeeds."""
    corpus = _docs(spark, sf_dir, 0, 30)
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    minhash_extend_index(_docs(spark, sf_dir, 30, 40), idx)

    real_replace = ST.commit_replace
    state = {"raced": False}

    def racing_replace(path, new_seg, replaced, meta_id, store=None):
        if not state["raced"]:
            state["raced"] = True
            ST.compact_index(spark, idx)  # the concurrent winner
        return real_replace(path, new_seg, replaced, meta_id,
                            store=store)

    monkeypatch.setattr(ST, "commit_replace", racing_replace)
    with pytest.raises(ConcurrentWriteError):
        ST.maintain_index(spark, idx, max_segments=2)
    monkeypatch.setattr(ST, "commit_replace", real_replace)
    # the winner's compaction stands; the loser published nothing
    _, man = ST.read_manifest(idx)
    assert len(man["segments"]) == 1
    # the retry tick sees 1 segment < 2 and is a clean no-op
    assert ST.maintain_index(
        spark, idx, max_segments=2)["compacted"] is False


def test_maintain_config_op_and_receipt(spark, sf_dir, tmp_path):
    """MAINTAIN INDEX as a registered config op: pass-through with an
    input, (path, compacted, vacuumed_dirs) receipt without."""
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    corpus = _docs(spark, sf_dir, 0, 30)
    batch = _docs(spark, sf_dir, 30, 40)
    idx = str(tmp_path / "mh")
    eng = Engine(spark)
    eng.bind("corpus", corpus)
    eng.bind("batch", batch)
    minhash_build_index(corpus, idx, **_LSH)
    minhash_extend_index(batch, idx)

    passthru = eng.run_op(OpSpec(
        "MAINTAIN INDEX", "m1", ["batch"],
        {"path": idx, "max_segments": 2, "retention_seconds": 0}))
    assert passthru.columns == ["doc_id", "text"]
    assert len(ST.read_manifest(idx)[1]["segments"]) == 1

    receipt = eng.run_op(OpSpec("MAINTAIN INDEX", "m2", [],
                                {"path": idx}))
    row = receipt.collect()[0]
    assert (row.path, row.compacted, row.vacuumed_dirs) == (idx, False, 0)


def test_maintenance_args_validated_before_destructive_run(
    spark, sf_dir, tmp_path
):
    """The r11 ADVICE regression: a maintenance op with a typo'd arg
    (retention_secs) must raise BEFORE any destructive work — vacuum
    deletes segment dirs and compact rewrites-and-commits, so a
    rejected config that already mutated the store would be a silent
    data hazard."""
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    corpus = _docs(spark, sf_dir, 0, 30)
    idx = str(tmp_path / "mh")
    minhash_build_index(corpus, idx, **_LSH)
    minhash_extend_index(_docs(spark, sf_dir, 30, 40), idx)
    ST.compact_index(spark, idx)  # leaves reclaimable orphan dirs
    orphans = [
        d for d in glob.glob(idx + "/*/seg=*")
        if d.split("seg=")[1] not in ST.read_manifest(idx)[1]["segments"]
    ]
    assert orphans
    before = ST.read_manifest(idx)

    eng = Engine(spark)
    for op, bad in [
        ("VACUUM INDEX", {"path": idx, "retention_secs": 0}),
        ("MAINTAIN INDEX", {"path": idx, "max_segs": 1,
                            "retention_seconds": 0}),
    ]:
        with pytest.raises(ValueError, match="unknown args"):
            eng.run_op(OpSpec(op, "bad", [], bad))
        assert all(os.path.isdir(d) for d in orphans)  # nothing deleted
        assert ST.read_manifest(idx) == before         # nothing committed
    # the correctly-spelled op then does the work
    eng.run_op(OpSpec("VACUUM INDEX", "ok", [],
                      {"path": idx, "retention_seconds": 0}))
    assert not any(os.path.isdir(d) for d in orphans)


def test_sidecar_rows_matches_spark_reader_bit_for_bit(
    spark, sf_dir, tmp_path
):
    """r14 optimization seam: local-path sidecars (_meta/_centroids)
    are read driver-side with pyarrow instead of a distributed scan.
    The values must be EXACTLY what the Spark row path decoded —
    every cell of every sidecar of a real embedding store compared
    against spark.read, plus the missing-tree error contract."""
    from pyspark.errors import AnalysisException

    corpus = _vecs(spark, sf_dir, 0, 200)
    idx = str(tmp_path / "emb")
    embedding_build_index(corpus, idx, n_centroids=2)

    for rel in ("_meta", "_centroids"):
        fast = ST.sidecar_rows(spark, f"{idx}/{rel}")
        slow = spark.read.parquet(f"{idx}/{rel}").collect()
        assert len(fast) == len(slow)
        for srow in slow:
            d = srow.asDict()
            match = [
                f for f in fast
                if all(getattr(f, k) == v for k, v in d.items())
            ]
            assert match, f"{rel} row {d} missing from sidecar_rows"
    # missing tree raises AnalysisException exactly like spark.read
    with pytest.raises(AnalysisException):
        ST.sidecar_rows(spark, str(tmp_path / "nope" / "_meta"))
    # non-local URIs fall back to the Spark scan (s3 would need a fs;
    # the dispatch itself is what we pin)
    assert ST._local_fs_path("s3://bucket/k") is None
    assert ST._local_fs_path("file:///x/y") == "/x/y"
    assert ST._local_fs_path("/x/y") == "/x/y"
