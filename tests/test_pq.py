"""Product quantization (llm/similarity.pq_train/pq_encode/pq_topk):
recall on clusterable data, partition-invariant codes, the ADC score
contract, validation, and the config-op registration."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from configurable_etl_python_repo_spark.llm.similarity import (
    brute_force_topk,
    pq_encode,
    pq_topk,
    pq_train,
)

_DIM = 32


def _clustered(spark, n_clusters=6, per_cluster=40, noise=0.08, seed=3):
    """Vectors tightly grouped around unit-norm cluster centers — the
    regime PQ is built for (real embedding corpora cluster; uniform
    random vectors are its worst case and carry no retrievable
    structure anyway)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, _DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + rng.normal(scale=noise, size=_DIM)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, cluster int, embedding array<float>"
    )


def test_pq_recall_and_cluster_purity(spark):
    """The honest PQ quality claim at this code budget (4 subspaces ×
    8 codewords = 12 bits): same-cluster vectors collapse to the SAME
    reconstruction, so exact-top-5 overlap is tie-luck by design — the
    measurable property is CLUSTER recall: every retrieved neighbor
    comes from the query's own cluster (random retrieval would cross
    clusters ~5/6 of the time), and every query's top-k is full."""
    emb = _clustered(spark)
    queries = emb.where(F.col("vec_id") % 40 == 0)  # one per cluster
    out = pq_topk(emb, queries, k=5, dim=_DIM, m_subspaces=4,
                  n_codes=8, n_iter=2)
    got = out.collect()
    assert len(got) == 6 * 5
    cl = {r.vec_id: r.cluster for r in emb.select("vec_id", "cluster").collect()}
    assert all(cl[r.query_id] == cl[r.neighbor_id] for r in got)
    # and the collapsed reconstruction still ranks same-cluster above
    # cross-cluster: the exact top-1 neighbor's cluster == PQ top-1's
    exact1 = {r.query_id: r.neighbor_id
              for r in brute_force_topk(emb, queries, k=1).collect()}
    pq1 = {r.query_id: r.neighbor_id for r in got if r.rank == 1}
    assert all(cl[exact1[q]] == cl[n] for q, n in pq1.items())


def test_pq_codes_are_partition_invariant_and_bounded(spark):
    emb = _clustered(spark, n_clusters=4, per_cluster=25)
    books = pq_train(emb, dim=_DIM, m_subspaces=4, n_codes=8, n_iter=1)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    # codeword ids are the SAME hash-order sample in every subspace
    ids = [sorted(cid for cid, _ in b) for b in books]
    assert all(x == ids[0] for x in ids)
    a = {r.id: r.codes for r in
         pq_encode(emb, books, dim=_DIM).collect()}
    b = {r.id: r.codes for r in
         pq_encode(emb.repartition(7), books, dim=_DIM).collect()}
    assert a == b
    valid = set(ids[0])
    assert all(len(c) == 4 and set(c) <= valid for c in a.values())


def test_pq_score_contract(spark):
    """ascore is the rounded cosine between the query and the
    codeword reconstruction — recompute one row offline."""
    emb = _clustered(spark, n_clusters=3, per_cluster=20, seed=11)
    queries = emb.where(F.col("vec_id") == 0)
    books = pq_train(emb, dim=_DIM, m_subspaces=4, n_codes=8, n_iter=1)
    codes = {r.id: r.codes for r in
             pq_encode(emb, books, dim=_DIM).collect()}
    out = pq_topk(emb, queries, k=3, dim=_DIM, m_subspaces=4,
                  n_codes=8, n_iter=1).collect()
    qv = np.array(
        emb.where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    sd = _DIM // 4
    for r in out:
        assert r.query_id == 0 and r.neighbor_id != 0
        num = den = 0.0
        for s, cid in enumerate(codes[r.neighbor_id]):
            cw = np.array(dict(books[s])[cid], dtype=np.float64)
            num += round(float(qv[s * sd:(s + 1) * sd] @ cw), 6)
            den += round(float(cw @ cw), 6)
        want = round(num / (float(np.linalg.norm(qv)) * float(np.sqrt(den))), 6)
        assert r.ascore == pytest.approx(want, abs=1e-9)
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3]


def test_round_digits_threads_through_every_pq_stage(spark, tmp_path):
    """One precision per caller (ADVICE r11): a non-default
    round_digits reaches training, the codebook norms, code
    assignment, the LUT, and the score — not just the last two. Pinned
    by (a) recomputing one neighbor's ADC score ENTIRELY at 3dp and
    matching ascore exactly, (b) codes at digits=3 equal a manual
    3dp assignment, and (c) pq_search_index honoring the query-side
    precision against a stock 6dp-built index."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        ivf_assignments_arrow,
        ivf_pq_topk,
        pq_build_index,
        pq_search_index,
    )

    emb = _clustered(spark, n_clusters=3, per_cluster=20, seed=7)
    queries = emb.where(F.col("vec_id") == 0)
    d = 3
    books = pq_train(emb, dim=_DIM, m_subspaces=4, n_codes=8, n_iter=1,
                     round_digits=d)
    # training honored: every codeword coordinate is a 3dp value
    for book in books:
        for _, cv in book:
            assert all(round(x, d) == x for x in cv)
    # encoding honored: codes equal a manual digits=3 assignment
    codes = {r.id: list(r.codes) for r in
             pq_encode(emb, books, dim=_DIM, round_digits=d).collect()}
    sd = _DIM // 4
    manual = emb.select(
        "vec_id",
        *[ivf_assignments_arrow(books[s], n_best=1, digits=d)(
            F.slice(F.col("embedding"), s * sd + 1, sd))[0].alias(f"c{s}")
          for s in range(4)],
    )
    for r in manual.collect():
        assert codes[r.vec_id] == [r.c0, r.c1, r.c2, r.c3]
    # end to end: one retrieved row's ascore recomputed offline at 3dp
    out = pq_topk(emb, queries, k=3, dim=_DIM, m_subspaces=4,
                  n_codes=8, n_iter=1, round_digits=d).collect()
    qv = np.array(queries.select("embedding").first()[0], np.float64)
    for r in out:
        num = den = 0.0
        for s, cid in enumerate(codes[r.neighbor_id]):
            cw = np.array(dict(books[s])[cid], np.float64)
            num += round(float(qv[s * sd:(s + 1) * sd] @ cw), d)
            den += round(float(cw @ cw), d)
        want = round(num / (float(np.linalg.norm(qv))
                            * float(np.sqrt(den))), d)
        assert r.ascore == pytest.approx(want, abs=1e-9)
    # the composed paths accept and apply it (scores are 3dp values)
    ivf = ivf_pq_topk(emb, queries, k=3, dim=_DIM, m_subspaces=4,
                      n_codes=8, n_iter=1, n_centroids=3, n_probe=3,
                      round_digits=d).collect()
    assert ivf and all(round(r.ascore, d) == r.ascore for r in ivf)
    p = str(tmp_path / "pqidx")
    pq_build_index(emb, p, dim=_DIM, m_subspaces=4, n_codes=8,
                   n_centroids=3)
    got = pq_search_index(spark, p, queries, k=3, n_probe=3,
                          round_digits=d).collect()
    assert got and all(round(r.ascore, d) == r.ascore for r in got)


def test_pq_validation_and_config_op(spark):
    emb = _clustered(spark, n_clusters=2, per_cluster=10)
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, dim=_DIM, m_subspaces=5)
    from configurable_etl_python_repo_spark.operators.llm_ops import (
        LLM_OP_COMPILERS,
    )

    assert "ANN TOPK PQ" in LLM_OP_COMPILERS


def test_ivf_pq_degenerates_to_flat_adc_at_full_probe(spark):
    """n_probe == n_centroids makes the candidate set the whole corpus
    — IVF-PQ must then equal pq_topk row for row (same codebooks, same
    ADC contract; the coarse stage is pure pruning)."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        ivf_pq_topk,
    )

    emb = _clustered(spark, n_clusters=4, per_cluster=30)
    queries = emb.where(F.col("vec_id") % 30 == 0)
    kw = dict(k=4, dim=_DIM, m_subspaces=4, n_codes=8, n_iter=1)
    full = {tuple(r) for r in
            ivf_pq_topk(emb, queries, n_centroids=6, n_probe=6,
                        **kw).collect()}
    flat = {tuple(r) for r in pq_topk(emb, queries, **kw).collect()}
    assert full == flat


def test_residual_ivf_pq_score_contract_and_determinism(spark):
    """n10's ascore is cos(q, c + r̂) with every term 6dp-rounded and
    DECIMAL-summed — recompute one query's scores ENTIRELY offline
    from the L2-trained codebooks and match exactly. Codes are
    partition-invariant, including the EXACTLY-ZERO residuals of the
    coarse-centroid rows (under L2 they assign to the smallest-norm
    codeword deterministically — the divergence the rn2>0 training
    filter plus l2 assignment exist to prevent)."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        _dot,
        _hash_order_sample,
        ivf_assignments_arrow,
        ivf_pq_residual_topk,
        l2_assignments_arrow,
    )

    emb = _clustered(spark, n_clusters=3, per_cluster=20, seed=11)
    queries = emb.where(F.col("vec_id") == 0)
    kw = dict(k=4, dim=_DIM, m_subspaces=4, n_codes=8, n_iter=2,
              n_centroids=3, n_probe=3)
    out = ivf_pq_residual_topk(emb, queries, **kw).collect()
    out2 = ivf_pq_residual_topk(emb.repartition(7), queries,
                                **kw).collect()
    assert {tuple(r) for r in out} == {tuple(r) for r in out2}

    # offline replication
    coarse = _hash_order_sample(emb, 3, "vec_id", "embedding")
    cmap = {cid: np.array(cv, np.float64) for cid, cv in coarse}
    a1 = ivf_assignments_arrow(coarse, n_best=1)
    centdf = F.broadcast(spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in coarse],
        "cid long, ccv array<double>"))
    res = (emb.select(
            F.col("vec_id").alias("id"),
            F.transform("embedding", lambda x: x.cast("double"))
            .alias("v"))
        .withColumn("cid", a1(F.col("v"))[0])
        .join(centdf, "cid")
        .select("id", "cid",
                F.zip_with("v", "ccv", lambda a, b: a - b).alias("rv"))
        .withColumn("rn2", _dot(F.col("rv"), F.col("rv"))))
    books = pq_train(res.where("rn2 > 0"), dim=_DIM, m_subspaces=4,
                     n_codes=8, n_iter=2, id_col="id", vec_col="rv",
                     metric="l2")
    sd = _DIM // 4
    renc = {r.id: (r.cid, list(r.codes)) for r in res.select(
        "id", "cid",
        F.array(*[
            l2_assignments_arrow(books[s], n_best=1)(
                F.slice(F.col("rv"), s * sd + 1, sd))[0]
            for s in range(4)
        ]).alias("codes")).collect()}
    rb = [dict(b) for b in books]
    qv = np.array(queries.select("embedding").first()[0], np.float64)
    nq = float(np.linalg.norm(qv))
    for r in out:
        cid, codes = renc[r.neighbor_id]
        c = cmap[cid]
        qc = round(float(qv @ c), 6)
        numr = den = 0.0
        ncsq = round(float(c @ c), 6)
        for s, code in enumerate(codes):
            rw = np.array(rb[s][code], np.float64)
            numr += round(float(qv[s * sd:(s + 1) * sd] @ rw), 6)
            den += 2.0 * round(float(c[s * sd:(s + 1) * sd] @ rw), 6) \
                + round(float(rw @ rw), 6)
        want = round((qc + numr)
                     / (nq * np.sqrt(max(ncsq + den, 1e-30))), 6)
        assert r.ascore == pytest.approx(want, abs=1e-9), r


def test_residual_beats_global_books_at_equal_code_budget(spark):
    """The n10 claim, pinned at an EQUAL code budget: m=8 subspaces of
    n_codes=128 (7-bit codes — one notch under the byte-exact
    m=8/k=256 production configuration, which ROADMAP records as the
    measured 0.675-vs-0.550 point) on clustered data, residual-L2
    codebooks retrieve strictly more of the exact top-5 than global
    codebooks at the SAME budget. (At the 12-bit fixture budget both
    sit in the tie-luck regime — that regime is documented, not
    asserted.)"""
    from configurable_etl_python_repo_spark.llm.similarity import (
        brute_force_topk,
        ivf_pq_residual_topk,
        ivf_pq_topk,
    )

    emb = _clustered(spark, n_clusters=8, per_cluster=100, noise=0.15,
                     seed=3)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    kw = dict(k=5, dim=_DIM, m_subspaces=8, n_codes=128, n_iter=2,
              n_centroids=8, n_probe=3)
    bf = {(r.query_id, r.neighbor_id)
          for r in brute_force_topk(emb, queries, k=5).collect()}
    g = {(r.query_id, r.neighbor_id)
         for r in ivf_pq_topk(emb, queries, **kw).collect()}
    rq = {(r.query_id, r.neighbor_id)
          for r in ivf_pq_residual_topk(emb, queries, **kw).collect()}
    recall_g = len(g & bf) / len(bf)
    recall_r = len(rq & bf) / len(bf)
    assert recall_r > recall_g, (recall_r, recall_g)


def test_ivf_pq_prunes_and_stays_cluster_pure(spark):
    """At n_probe < n_centroids every returned neighbor still comes
    from the query's probed lists (a candidate outside them is
    impossible by construction), and on clustered data the results
    stay same-cluster."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        ivf_pq_topk,
    )

    emb = _clustered(spark)
    queries = emb.where(F.col("vec_id") % 40 == 0)
    out = ivf_pq_topk(emb, queries, k=5, dim=_DIM, m_subspaces=4,
                      n_codes=8, n_iter=1, n_centroids=8,
                      n_probe=2).collect()
    assert len(out) == 6 * 5
    cl = {r.vec_id: r.cluster
          for r in emb.select("vec_id", "cluster").collect()}
    assert all(cl[r.query_id] == cl[r.neighbor_id] for r in out)
    from configurable_etl_python_repo_spark.operators.llm_ops import (
        LLM_OP_COMPILERS,
    )

    assert "ANN TOPK IVF PQ" in LLM_OP_COMPILERS


def test_pq_index_full_build_parity_and_store_protocol(spark, tmp_path):
    """The persisted PQ index inherits the whole segment-manifest
    protocol: (a) a full build searches identically to the one-shot
    ivf_pq_topk; (b) extends are tag-idempotent and FAISS-add (the
    stored quantizers encode the batch — nothing retrains); (c)
    tombstoned ids vanish from results; (d) as_of time-travels to the
    pre-delete answer; (e) compact + vacuum preserve the post-delete
    answer; (f) a mismatched layout is refused."""
    from configurable_etl_python_repo_spark.llm import _store as ST
    from configurable_etl_python_repo_spark.llm.similarity import (
        ivf_pq_topk,
        pq_build_index,
        pq_extend_index,
        pq_search_index,
    )

    emb = _clustered(spark, n_clusters=4, per_cluster=25)
    q = emb.where(F.col("vec_id") < 8)
    kw = dict(dim=_DIM, m_subspaces=4, n_codes=8, n_iter=1)

    p1 = str(tmp_path / "full")
    pq_build_index(emb, p1, n_centroids=6, **kw)
    a = {tuple(r) for r in
         pq_search_index(spark, p1, q, k=4, n_probe=2).collect()}
    b = {tuple(r) for r in
         ivf_pq_topk(emb, q, k=4, n_centroids=6, n_probe=2,
                     **kw).collect()}
    assert a == b and a

    p2 = str(tmp_path / "grow")
    ev = emb.where(F.col("vec_id") % 2 == 0)
    od = emb.where(F.col("vec_id") % 2 == 1)
    pq_build_index(ev, p2, n_centroids=6, **kw)
    assert pq_extend_index(od, p2, tag="b1")
    assert not pq_extend_index(od, p2, tag="b1")  # idempotent retry
    r = pq_search_index(spark, p2, q, k=4, n_probe=6).collect()
    assert any(x.neighbor_id % 2 == 1 for x in r)  # extends searchable

    victim = r[0].neighbor_id
    assert ST.delete_from_index(
        spark.createDataFrame([(victim,)], "id long"), p2
    )
    r2 = pq_search_index(spark, p2, q, k=4, n_probe=6).collect()
    assert all(x.neighbor_id != victim for x in r2)
    r3 = pq_search_index(spark, p2, q, k=4, n_probe=6,
                         as_of_version=2).collect()
    assert any(x.neighbor_id == victim for x in r3)

    ST.compact_index(spark, p2)
    r4 = {tuple(x) for x in
          pq_search_index(spark, p2, q, k=4, n_probe=6).collect()}
    assert r4 == {tuple(x) for x in r2}
    ST.vacuum_index(p2, retention_s=0.0)
    r5 = {tuple(x) for x in
          pq_search_index(spark, p2, q, k=4, n_probe=6).collect()}
    assert r5 == r4

    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        pq_search_index(spark, str(tmp_path / "nothere"), q).collect()
    # cross-store layout guard: an IVF probe refuses a PQ tree loudly
    from configurable_etl_python_repo_spark.llm.similarity import (
        ivf_search_index,
    )

    with pytest.raises(ValueError, match="layout|expected"):
        ivf_search_index(spark, p1, q).collect()


def test_pq_index_config_ops(spark, tmp_path):
    from configurable_etl_python_repo_spark.plans import (
        AnalytePlan,
        Engine,
        OpSpec,
        ScanSpec,
    )

    emb = _clustered(spark, n_clusters=3, per_cluster=15)
    src = str(tmp_path / "emb")
    emb.write.parquet(src)
    idx = str(tmp_path / "pqidx")
    eng = Engine(spark)
    eng.run_analyte(AnalytePlan(
        name="build",
        scans=[ScanSpec("vecs", "parquet", src)],
        ops=[OpSpec("PQ BUILD INDEX", "build", ["vecs"],
                    {"path": idx, "dim": _DIM, "m_subspaces": 4,
                     "n_codes": 8, "n_centroids": 5})],
    )).count()
    out = Engine(spark).run_analyte(AnalytePlan(
        name="hits",
        scans=[ScanSpec("qs", "parquet", src)],
        ops=[
            OpSpec("FILTER", "qs", ["qs"],
                   {"condition": "vec_id < NUMBER(5)"}),
            OpSpec("PQ SEARCH INDEX", "hits", ["qs"],
                   {"path": idx, "k": 3, "n_probe": 5}),
        ],
    ))
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3, 4}
    assert all(r.rank <= 3 for r in rows)


def test_pq_index_op_arg_validation(spark, tmp_path):
    """Program typos die as op-level ValueErrors naming the op and
    key, never as raw TypeErrors from the target signature (ADVICE
    r11): a PQ BUILD INDEX missing 'dim', an unknown arg on build, and
    an unknown arg on search."""
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    emb = _clustered(spark, n_clusters=2, per_cluster=10)
    eng = Engine(spark)
    eng.bind("vecs", emb)
    idx = str(tmp_path / "pqidx")
    with pytest.raises(ValueError, match=r"PQ BUILD INDEX.*'dim'"):
        eng.run_op(OpSpec("PQ BUILD INDEX", "b", ["vecs"],
                          {"path": idx, "n_codes": 8}))
    with pytest.raises(ValueError, match=r"PQ BUILD INDEX.*'dims'"):
        eng.run_op(OpSpec("PQ BUILD INDEX", "b", ["vecs"],
                          {"path": idx, "dims": _DIM}))
    from configurable_etl_python_repo_spark.llm.similarity import (
        pq_build_index,
    )

    pq_build_index(emb, idx, dim=_DIM, m_subspaces=4, n_codes=8,
                   n_centroids=2)
    with pytest.raises(ValueError, match=r"PQ SEARCH INDEX.*'topk'"):
        eng.run_op(OpSpec("PQ SEARCH INDEX", "h", ["vecs"],
                          {"path": idx, "topk": 3}))
    with pytest.raises(ValueError, match=r"PQ EXTEND INDEX.*'dim'"):
        eng.run_op(OpSpec("PQ EXTEND INDEX", "e", ["vecs"],
                          {"path": idx, "dim": _DIM}))


def test_pq_index_maintain_policy(spark, tmp_path):
    """maintain_index (the generic manifest-only policy) drives the PQ
    layout like every other store: segment sprawl past max_segments
    triggers a compaction down to one segment, search answers
    unchanged; under the thresholds it is a no-op."""
    from configurable_etl_python_repo_spark.llm import _store as ST
    from configurable_etl_python_repo_spark.llm.similarity import (
        _PQ_LAYOUTS,
        pq_build_index,
        pq_extend_index,
        pq_search_index,
    )

    emb = _clustered(spark, n_clusters=3, per_cluster=20)
    q = emb.where(F.col("vec_id") < 6)
    p = str(tmp_path / "pqm")
    pq_build_index(emb.where("vec_id % 4 = 0"), p, dim=_DIM,
                   m_subspaces=4, n_codes=8, n_centroids=4)
    for r in (1, 2, 3):
        pq_extend_index(emb.where(f"vec_id % 4 = {r}"), p, tag=f"e{r}")
    before = {tuple(x) for x in
              pq_search_index(spark, p, q, k=3, n_probe=4).collect()}
    _, segs, _, _ = ST.committed_state(spark, p, _PQ_LAYOUTS)
    assert len(segs) == 4
    # below threshold: no-op
    ST.maintain_index(spark, p, max_segments=16, retention_s=0.0)
    _, segs2, _, _ = ST.committed_state(spark, p, _PQ_LAYOUTS)
    assert len(segs2) == 4
    # over threshold: compacts to one segment, answers unchanged
    ST.maintain_index(spark, p, max_segments=3, retention_s=0.0)
    _, segs3, _, _ = ST.committed_state(spark, p, _PQ_LAYOUTS)
    assert len(segs3) == 1
    after = {tuple(x) for x in
             pq_search_index(spark, p, q, k=3, n_probe=4).collect()}
    assert after == before


def test_round_away_col_rounds_the_binary_double(spark):
    """Regression for the n11 Lloyd-mean divergence: 3.029388/24 has
    shortest decimal repr exactly 0.1262245 while its binary value
    sits an ulp BELOW the half — DuckDB round(), numpy, and Python all
    produce 0.126224, but Spark's F.round (shortest-repr HALF_UP via
    BigDecimal.valueOf) says 0.126225. The Lloyd means must use
    _round_away_col, which matches everyone else; this pins both
    behaviors so the divergence can never silently come back."""
    import duckdb

    from configurable_etl_python_repo_spark.llm.similarity import (
        _round_away_col,
    )

    df = spark.createDataFrame(
        [(3.029388, 24), (-3.029388, 24), (1.25, 1), (2.675, 1)],
        "num double, den int",
    ).select(
        (F.col("num") / F.col("den")).alias("x"),
        _round_away_col(F.col("num") / F.col("den"), 6).alias("away"),
        F.round(F.col("num") / F.col("den"), 6).alias("fround"),
    )
    rows = {round(r.x, 7): r for r in df.collect()}
    con = duckdb.connect()
    for r in rows.values():
        duck = con.execute(
            "SELECT round(CAST(? AS DOUBLE) / 1, 6)", [r.x]
        ).fetchone()[0]
        assert r.away == duck, (r.x, r.away, duck)
    # the documented divergence point: F.round disagrees here
    boundary = rows[round(3.029388 / 24, 7)]
    assert boundary.away == 0.126224 and boundary.fround == 0.126225
    neg = rows[round(-3.029388 / 24, 7)]
    assert neg.away == -0.126224  # away-from-zero is symmetric
    # non-boundary values: both functions agree
    assert rows[1.25].away == rows[1.25].fround == 1.25
    assert rows[2.675].away == rows[2.675].fround == 2.675


def test_residual_pq_index_equals_one_shot_and_lifecycle(
    spark, tmp_path
):
    """The persisted residual-PQ index (n11): (a) a full-corpus build's
    search is BIT-EQUAL to the one-shot ivf_pq_residual_topk (same
    quantizers, same _pq_res_score); (b) FAISS-add extends encode
    batch residuals under the STORED quantizers with tagged
    idempotence; (c) tombstones + compaction preserve answers through
    the shared COMPACT_SPECS registration; (d) the layout dispatch
    keeps global-PQ trees on the ADC path (their results are
    unchanged by this feature existing)."""
    from configurable_etl_python_repo_spark.llm import _store as ST
    from configurable_etl_python_repo_spark.llm.similarity import (
        ivf_pq_residual_topk,
        pq_build_index,
        pq_extend_index,
        pq_search_index,
    )

    emb = _clustered(spark, n_clusters=4, per_cluster=25)
    q = emb.where(F.col("vec_id") < 8)
    kw = dict(dim=_DIM, m_subspaces=4, n_codes=8, n_iter=1)

    p1 = str(tmp_path / "resfull")
    pq_build_index(emb, p1, n_centroids=6, residual=True, **kw)
    a = {tuple(r) for r in
         pq_search_index(spark, p1, q, k=4, n_probe=2).collect()}
    b = {tuple(r) for r in
         ivf_pq_residual_topk(emb, q, k=4, n_centroids=6, n_probe=2,
                              **kw).collect()}
    assert a == b and a

    p2 = str(tmp_path / "resgrow")
    ev = emb.where(F.col("vec_id") % 2 == 0)
    od = emb.where(F.col("vec_id") % 2 == 1)
    pq_build_index(ev, p2, n_centroids=6, residual=True, **kw)
    assert pq_extend_index(od, p2, tag="r1")
    assert not pq_extend_index(od, p2, tag="r1")
    r = pq_search_index(spark, p2, q, k=4, n_probe=6).collect()
    assert any(x.neighbor_id % 2 == 1 for x in r)

    victim = r[0].neighbor_id
    assert ST.delete_from_index(
        spark.createDataFrame([(victim,)], "id long"), p2
    )
    r2 = pq_search_index(spark, p2, q, k=4, n_probe=6).collect()
    assert all(x.neighbor_id != victim for x in r2)
    receipt = ST.maintain_index(spark, p2, max_segments=1)
    assert receipt["compacted"]
    r3 = {tuple(x) for x in
          pq_search_index(spark, p2, q, k=4, n_probe=6).collect()}
    assert r3 == {tuple(x) for x in r2}

    # a global tree is untouched by the dispatch (same fixture params)
    p3 = str(tmp_path / "globalfull")
    pq_build_index(emb, p3, n_centroids=6, **kw)
    from configurable_etl_python_repo_spark.llm.similarity import (
        ivf_pq_topk,
    )

    g = {tuple(r) for r in
         pq_search_index(spark, p3, q, k=4, n_probe=2).collect()}
    assert g == {tuple(r) for r in
                 ivf_pq_topk(emb, q, k=4, n_centroids=6, n_probe=2,
                             **kw).collect()}


def test_ivf_pq_refine_exact_order_and_coverage(spark):
    """The refine contract: (a) with refine_factor covering the whole
    probed candidate set, refined IVF-PQ == ivf_topk's EXACT scoring
    of the same probed lists (same coarse sample, same tiebreaks) —
    quantization fully cancelled; (b) refined recall vs brute force
    is >= the unrefined ADC ranking's on clustered data; (c)
    refine_factor < 1 is refused."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        ivf_pq_topk,
        ivf_topk,
    )

    emb = _clustered(spark, n_clusters=6, per_cluster=40)
    queries = emb.where(F.col("vec_id") % 40 == 0)
    kw = dict(dim=_DIM, m_subspaces=4, n_codes=8, n_iter=1,
              n_centroids=6, n_probe=2)
    # (a) covering refine == exact scoring of the probed lists
    cover = ivf_pq_topk(emb, queries, k=5, refine_factor=100, **kw)
    exact_ivf = ivf_topk(emb, queries, k=5, n_centroids=6, n_probe=2)
    got = {(r.query_id, r.neighbor_id, r.rank, r.sim)
           for r in cover.collect()}
    want = {(r.query_id, r.neighbor_id, r.rank, r.sim)
            for r in exact_ivf.collect()}
    assert got == want and got
    # (b) refined recall >= unrefined at a small factor
    bf = {(r.query_id, r.neighbor_id)
          for r in brute_force_topk(emb, queries, k=5).collect()}
    adc = {(r.query_id, r.neighbor_id)
           for r in ivf_pq_topk(emb, queries, k=5, **kw).collect()}
    ref = {(r.query_id, r.neighbor_id)
           for r in ivf_pq_topk(emb, queries, k=5, refine_factor=3,
                                **kw).collect()}
    assert len(ref & bf) >= len(adc & bf)
    # (c) validation
    with pytest.raises(ValueError, match="refine_factor"):
        ivf_pq_topk(emb, queries, k=5, refine_factor=0, **kw)
