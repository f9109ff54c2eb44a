"""Deterministic (content-hash) sampling for reproducible curation."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from configurable_etl_python_repo_spark.llm.sampling import (
    hash_sample,
    stratified_sample,
)


def test_hash_sample_partitioning_invariant(spark, sf_dir):
    """The keep/drop decision is a pure function of (key, seed): any
    repartitioning returns the identical sample — the property df.sample
    lacks and the one that makes a 100 TB curation run reproducible."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = {r.doc_id for r in hash_sample(docs, 0.3).select("doc_id").collect()}
    shuffled = {
        r.doc_id
        for r in hash_sample(docs.repartition(7, "text"), 0.3)
        .select("doc_id").collect()
    }
    assert base == shuffled and 0 < len(base) < docs.count()


def test_hash_sample_fraction_and_nesting(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    k = hash_sample(docs, 0.5).count()
    assert abs(k / n - 0.5) < 0.15  # md5 is uniform enough at fixture size
    # a smaller fraction with the same seed is a SUBSET (nested samples)
    small = {r.doc_id for r in hash_sample(docs, 0.2).select("doc_id").collect()}
    big = {r.doc_id for r in hash_sample(docs, 0.6).select("doc_id").collect()}
    assert small <= big
    # different seed → different (but same-law) sample
    other = {r.doc_id
             for r in hash_sample(docs, 0.6, seed="v2").select("doc_id").collect()}
    assert other != big


def test_stratified_sample_per_stratum(spark):
    rows = [Row(doc_id=i, lang="en" if i % 2 else "de") for i in range(400)]
    df = spark.createDataFrame(rows)
    out = stratified_sample(df, "lang", {"de": 1.0, "en": 0.0},
                            default_fraction=0.5)
    got = out.groupBy("lang").count().collect()
    by_lang = {r.lang: r["count"] for r in got}
    assert by_lang.get("de") == 200  # fraction 1.0 keeps everything
    assert "en" not in by_lang       # fraction 0.0 drops everything


def test_sampling_plan_is_scan_filter(spark, sf_dir):
    """Zero shuffles: sampling must stay inside the scan stage."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (stratified_sample(docs, "lang", {"en": 0.5})
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sampling_engine_ops(spark):
    from configurable_etl_python_repo_spark.plans import Engine
    from configurable_etl_python_repo_spark.plans.spec import OpSpec

    df = spark.createDataFrame([Row(doc_id=i, lang="en") for i in range(50)])
    eng = Engine(spark)
    eng.bind("d", df)
    eng.run_op(OpSpec(op="SAMPLE HASH", target="s", inputs=["d"],
                      args={"fraction": 0.5, "key_column": "doc_id"}))
    n = eng.resolve("s").count()
    assert 0 < n < 50
    eng.run_op(OpSpec(op="SAMPLE STRATIFIED", target="t", inputs=["d"],
                      args={"strata_column": "lang",
                            "fractions": {"en": 1.0}}))
    assert eng.resolve("t").count() == 50


def test_split_assign_is_leakage_free_by_group(spark):
    """Every member of a group gets the SAME split (the property that
    keeps near-duplicates from straddling train/test), fractions are
    approximately respected over many groups, and the assignment is
    partitioning-invariant."""
    from configurable_etl_python_repo_spark.llm.sampling import split_assign

    rows = [(i, i // 3) for i in range(900)]  # 300 groups of 3
    df = spark.createDataFrame(rows, ["doc_id", "cluster_id"])
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = split_assign(df, splits, group_col="cluster_id").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())  # no straddling
    from collections import Counter

    per_group = Counter(next(iter(s)) for s in by_group.values())
    assert abs(per_group["train"] / 300 - 0.8) < 0.1
    assert set(per_group) == {"train", "val", "test"}  # full coverage

    again = split_assign(
        df.repartition(7, "doc_id"), splits, group_col="cluster_id"
    ).collect()
    assert {(r["doc_id"], r["split"]) for r in again} == {
        (r["doc_id"], r["split"]) for r in out
    }


def test_cluster_splits_invariant_under_degree_cap(spark):
    """x16's scale lever (degree-capped two-phase CC) must leave split
    assignments BIT-IDENTICAL — near-dup cluster atoms are the leakage
    guarantee, so an approximate thinning would silently re-introduce
    train/test straddling. Graph includes a clique (boilerplate shape),
    a chain, and a bridge the capped subgraph alone would drop."""
    from pyspark.sql import Row

    from configurable_etl_python_repo_spark.llm.clusters import dedup_clusters
    from configurable_etl_python_repo_spark.llm.sampling import split_assign

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(40)])
    clique = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    chain = [(i, i + 1) for i in range(10, 18)]
    bridge = [(20, 30), (21, 31), (30, 31)]  # 30/31 prefer 20/21 under cap=1
    pairs = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in clique + chain + bridge]
    )
    splits = {"train": 0.6, "val": 0.2, "test": 0.2}

    def assignments(cap):
        comp = dedup_clusters(docs, pairs, degree_cap=cap).select(
            "doc_id", "cluster_id"
        )
        return {
            (r["doc_id"], r["cluster_id"], r["split"])
            for r in split_assign(
                comp, splits, group_col="cluster_id"
            ).collect()
        }

    uncapped = assignments(None)
    assert assignments(1) == uncapped
    assert assignments(8) == uncapped


def test_split_assign_remainder_and_validation(spark):
    import pytest

    from configurable_etl_python_repo_spark.llm.sampling import split_assign

    df = spark.createDataFrame([(i,) for i in range(400)], ["doc_id"])
    # fractions below 1: the remainder is explicitly unassigned (NULL)
    out = split_assign(df, {"train": 0.5}).collect()
    n_null = sum(1 for r in out if r["split"] is None)
    assert 0 < n_null < 400
    with pytest.raises(ValueError, match="sum"):
        split_assign(df, {"a": 0.7, "b": 0.7})
    with pytest.raises(ValueError, match="fraction"):
        split_assign(df, {"a": 0.0})
    with pytest.raises(ValueError, match="non-empty"):
        split_assign(df, {})


def test_split_assign_as_config_op(spark):
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    eng = Engine(spark)
    eng.bind("docs", spark.createDataFrame(
        [(i, i % 5) for i in range(50)], ["doc_id", "cluster_id"]))
    out = eng.run_op(OpSpec(
        "SPLIT ASSIGN", "s", ["docs"],
        {"splits": {"train": 0.9, "test": 0.1},
         "group_column": "cluster_id"},
    ))
    assert "split" in out.columns and out.count() == 50


def test_top_k_sample_exact_nested_invariant(spark, sf_dir):
    """Exactly min(k, stratum) rows per stratum; top-k' is a PREFIX of
    top-k for k' < k (nested); repartitioning never changes the sample;
    and the plan keeps the WindowGroupLimit map-side prune (the shape
    that stops a hot stratum shipping its population to one reducer)."""
    from configurable_etl_python_repo_spark.llm.sampling import top_k_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    out = top_k_sample(docs, 5, strata_col="source")
    sizes = {r["source"]: r["n"] for r in
             out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    base = {r["source"]: r["n"] for r in
            docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert sizes == {s: min(5, n) for s, n in base.items()}

    small = {r["doc_id"] for r in top_k_sample(docs, 2, strata_col="source").collect()}
    big = {r["doc_id"] for r in out.collect()}
    assert small <= big  # nested

    shuffled = {r["doc_id"] for r in top_k_sample(
        docs.repartition(7, "doc_id"), 5, strata_col="source").collect()}
    assert shuffled == big  # partitioning-invariant

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan

    # global mode + validation
    assert top_k_sample(docs, 3).count() == 3
    import pytest
    with pytest.raises(ValueError, match="k must be"):
        top_k_sample(docs, 0)


def test_top_k_sample_as_config_op(spark):
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    eng = Engine(spark)
    eng.bind("docs", spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)], ["doc_id", "source"]))
    out = eng.run_op(OpSpec(
        "SAMPLE TOP K", "t", ["docs"],
        {"k": 4, "strata_column": "source"},
    ))
    assert out.count() == 12


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.data())
    def test_split_ranges_partition_the_hash_space_property(data):
        """Pure-math property of the split cutoffs: for ANY fraction set
        summing to <= 1 and ANY bucket value, at most one range claims
        the bucket, ranges are contiguous in sorted-name order, and
        fractions summing to exactly 1 leave no bucket unassigned."""
        n = data.draw(st.integers(1, 5))
        fracs = [data.draw(st.floats(0.01, 1.0)) for _ in range(n)]
        total = sum(fracs)
        fracs = [f / total for f in fracs]  # normalize to sum 1 exactly-ish
        names = [f"s{i}" for i in range(n)]
        scale = 1 << 32
        cum, cuts = 0.0, []
        for name in sorted(names):
            cum += fracs[names.index(name)]
            cuts.append((name, int(round(cum * scale))))
        bucket = data.draw(st.integers(0, scale - 1))
        claims = [nm for (nm, hi), lo in zip(
            cuts, [0] + [h for _, h in cuts[:-1]]) if lo <= bucket < hi]
        assert len(claims) <= 1
        # sum == 1 (within float round): the last cutoff covers the space
        assert cuts[-1][1] >= scale - 1
except ImportError:  # pragma: no cover
    pass


def _dsir_docs(spark):
    # two clearly separated vocabularies: "code-like" target domain vs
    # "prose" background, plus mixed docs in between
    rows = []
    for i in range(20):
        rows.append(Row(doc_id=i, source="code",
                        text="def foo return lambda class import yield"))
    for i in range(20, 80):
        rows.append(Row(doc_id=i, source="prose",
                        text="the cat sat on the warm mat all day long"))
    for i in range(80, 90):
        rows.append(Row(doc_id=i, source="mixed",
                        text="the cat import lambda on the mat return"))
    return spark.createDataFrame(rows)


def test_dsir_selects_target_like_docs(spark):
    """Importance resampling must overwhelmingly pick docs resembling
    the target distribution: with a code-vocabulary target, code docs
    carry the mass and prose docs score far below."""
    from configurable_etl_python_repo_spark.llm.sampling import (
        dsir_select,
        dsir_weights,
    )

    docs = _dsir_docs(spark)
    target = docs.where("source = 'code'").select("doc_id", "text")
    w = {r.id: float(r.logw)
         for r in dsir_weights(docs, target, buckets=256).collect()}
    code_w = [w[i] for i in range(20)]
    prose_w = [w[i] for i in range(20, 80)]
    assert min(code_w) > max(prose_w)
    sel = dsir_select(docs, target, k=25, buckets=256)
    picked = {r.doc_id for r in sel.collect()}
    assert len(picked) == 25
    # all 20 code docs make the cut; the rest come from mixed before prose
    assert set(range(20)) <= picked


def test_dsir_partitioning_invariant_and_k_overflow(spark):
    from configurable_etl_python_repo_spark.llm.sampling import dsir_select

    docs = _dsir_docs(spark)
    target = docs.where("source = 'code'").select("doc_id", "text")
    a = sorted((r.doc_id, str(r.sel_key))
               for r in dsir_select(docs, target, k=30, buckets=256).collect())
    b = sorted((r.doc_id, str(r.sel_key))
               for r in dsir_select(docs.repartition(7, "text"), target,
                                    k=30, buckets=256).collect())
    assert a == b
    # k beyond the corpus: every doc with >= 1 gram comes back, no error
    assert dsir_select(docs, target, k=10_000, buckets=256).count() == 90


def test_dsir_as_config_ops(spark):
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    eng = Engine(spark)
    docs = _dsir_docs(spark)
    eng.bind("docs", docs)
    eng.bind("tgt", docs.where("source = 'code'").select("doc_id", "text"))
    w = eng.run_op(OpSpec("DSIR WEIGHTS", "w", ["docs", "tgt"],
                          {"buckets": 256}))
    assert {"id", "n_grams", "logw"} <= set(w.columns)
    sel = eng.run_op(OpSpec("DSIR SELECT", "s", ["docs", "tgt"],
                            {"k": 10, "buckets": 256}))
    assert sel.count() == 10


def test_dsir_validation(spark):
    import pytest

    from configurable_etl_python_repo_spark.llm.sampling import (
        dsir_select,
        dsir_weights,
    )

    docs = _dsir_docs(spark)
    with pytest.raises(ValueError, match="buckets"):
        dsir_weights(docs, docs, buckets=1).collect()
    with pytest.raises(ValueError, match="k"):
        dsir_select(docs, docs, k=0).collect()


def test_dsir_refuses_buckets_above_broadcast_bound(spark):
    """dsir_weights force-broadcasts its <= buckets-row lambda table, so
    `buckets` is capped by a documented constant."""
    import pytest

    from configurable_etl_python_repo_spark.llm.sampling import (
        DSIR_MAX_BUCKETS,
        dsir_select,
        dsir_weights,
    )

    docs = _dsir_docs(spark)
    dsir_weights(docs, docs, buckets=DSIR_MAX_BUCKETS)  # the bound itself
    with pytest.raises(ValueError, match=str(DSIR_MAX_BUCKETS)):
        dsir_weights(docs, docs, buckets=DSIR_MAX_BUCKETS + 1)
    with pytest.raises(ValueError, match=str(DSIR_MAX_BUCKETS)):
        dsir_select(docs, docs, k=5, buckets=DSIR_MAX_BUCKETS + 1)


def test_mixture_upsample_epochs_and_cap(spark):
    """Full copies are exact (floor(q/n) whole passes of every row),
    the remainder is a deterministic md5 subset at the next epoch, the
    max_epochs cap binds with exactly cap*n rows (honest undershoot),
    and (key, epoch) is unique."""
    from configurable_etl_python_repo_spark.llm.sampling import (
        mixture_upsample,
    )

    # scarce: 10 rows, weight 3; plenty: 40 rows, weight 1. W=4.
    rows = [(i, "scarce") for i in range(10)] + [
        (100 + i, "plenty") for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = mixture_upsample(
        df, {"scarce": 3, "plenty": 1}, total_rows=100, max_epochs=4,
        key_col="doc_id",
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    # scarce: q = 3*100//4 = 75 -> 75//10 = 7 full epochs > cap 4
    # -> cap binds: exactly 4 full copies, no remainder epoch
    sc = by_src["scarce"]
    assert len(sc) == 40
    assert {r.epoch for r in sc} == {0, 1, 2, 3}
    for ep in range(4):
        assert sorted(r.doc_id for r in sc if r.epoch == ep) == list(
            range(10)
        )
    # plenty: q = 25 -> 0 full copies + md5 remainder at epoch 0 with
    # cutoff (25<<20)//40 — a strict deterministic subset
    pl = by_src["plenty"]
    assert {r.epoch for r in pl} == {0} and 0 < len(pl) < 40
    again = mixture_upsample(
        df, {"scarce": 3, "plenty": 1}, total_rows=100, max_epochs=4,
        key_col="doc_id",
    ).collect()
    assert sorted((r.doc_id, r.epoch) for r in again) == sorted(
        (r.doc_id, r.epoch) for r in out
    )
    # (key, epoch) unique
    assert len({(r.doc_id, r.epoch) for r in out}) == len(out)
    # raising the cap releases the bind: scarce reaches its 75-row q
    hi = mixture_upsample(
        df, {"scarce": 3, "plenty": 1}, total_rows=100, max_epochs=10,
        key_col="doc_id",
    ).where("source = 'scarce'").collect()
    # q = 75 -> 7 exact full copies (epochs 0-6, 70 rows) + an
    # md5-bucket remainder at epoch 7 (approximately 5 of 10 rows —
    # bucket admission is the documented mixture approximation)
    for ep in range(7):
        assert sorted(r.doc_id for r in hi if r.epoch == ep) == list(
            range(10)
        )
    rem = [r.doc_id for r in hi if r.epoch == 7]
    assert 0 < len(rem) < 10 and max(r.epoch for r in hi) == 7
    import pytest

    with pytest.raises(ValueError, match="max_epochs"):
        mixture_upsample(df, {"scarce": 1}, total_rows=10, max_epochs=0)
    with pytest.raises(ValueError, match="total_rows"):
        mixture_upsample(df, {"scarce": 1}, total_rows=0)


def test_mixture_upsample_as_config_op(spark):
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    eng = Engine(spark)
    eng.bind("docs", spark.createDataFrame(
        [(i, "a") for i in range(5)], ["doc_id", "source"]))
    out = eng.run_op(OpSpec(
        "UPSAMPLE MIXTURE", "u", ["docs"],
        {"weights": {"a": 1}, "total_rows": 10, "max_epochs": 3,
         "key_column": "doc_id"}))
    rows = out.collect()
    # q = 10 -> 2 full copies of 5 rows, no remainder
    assert len(rows) == 10 and {r.epoch for r in rows} == {0, 1}
