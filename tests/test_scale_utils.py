"""Scale machinery: salted joins, bucketed shuffle-free joins, SQL-view
addressability of registry bindings."""

import os

from pyspark.sql import functions as F

from configurable_etl_python_repo_spark.operators.skew import (
    salted_left_join,
    top_keys,
)
from configurable_etl_python_repo_spark.sinks.tables import (
    bucketed_join_is_shuffle_free,
    write_bucketed,
)


def test_salted_join_same_result_as_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    right = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_orderkey as l_orderkey", "o_totalprice")
    )
    plain = li.join(right, on=["l_orderkey"], how="left")
    salted = salted_left_join(li, right, on=["l_orderkey"], salt=8)
    key = lambda t: [(v is None, v) for v in t]  # noqa: E731
    a = sorted(map(tuple, plain.collect()), key=key)
    b = sorted(map(tuple, salted.collect()), key=key)
    assert a == b


def test_top_keys_diagnostic(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys = top_keys(li, "l_returnflag", n=2)
    assert len(keys) == 2 and keys[0][1] >= keys[1][1]


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    # warehouse dir is a static conf — managed tables land in the session
    # default and are dropped (with files) in the finally block
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_orderkey as l_orderkey", "o_totalprice"
    )
    write_bucketed(li, "b_li", ["l_orderkey"], num_buckets=8)
    write_bucketed(o, "b_o", ["l_orderkey"], num_buckets=8)
    try:
        assert bucketed_join_is_shuffle_free(spark, "b_li", "b_o", ["l_orderkey"])
        # and the join is still correct
        n = spark.table("b_li").join(spark.table("b_o"), "l_orderkey").count()
        assert n == li.join(o, "l_orderkey").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_o")


def test_salt_as_join_op_arg(spark):
    """`salt: N` on a join OpSpec routes through key salting: identical
    rows to the plain join on a synthetically skewed key, with the salt
    column inside the shuffle keys (so one hot key spreads over N
    reducers)."""
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    import pytest as _pytest

    eng = Engine(spark)
    # skewed left: 50k rows on key 1, a handful elsewhere; right: 100 keys
    left = spark.range(0, 50_000).selectExpr(
        "CASE WHEN id < 49000 THEN 1 ELSE id % 100 END AS k", "id AS v"
    )
    right = spark.range(0, 100).selectExpr("id AS k", "id * 10 AS w")
    eng.bind("l", left)
    eng.bind("r", right)
    plain = eng.run_op(OpSpec("LEFT JOIN", "p", ["l", "r"], {"on": ["k"]}))
    salted = eng.run_op(
        OpSpec("LEFT JOIN", "s", ["l", "r"], {"on": ["k"], "salt": 8})
    )
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__cetl_salt__" in plan  # shuffle keys carry the salt
    assert plain.count() == salted.count() == 50_000
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b
    # outer variants are rejected (salt replication would duplicate
    # unmatched right rows)
    with _pytest.raises(Exception, match="left.*inner"):
        eng.run_op(OpSpec("OUTER JOIN", "o", ["l", "r"],
                          {"on": ["k"], "salt": 8}))
    with _pytest.raises(Exception, match="mutually exclusive"):
        eng.run_op(OpSpec("LEFT JOIN", "x", ["l", "r"],
                          {"on": ["k"], "salt": 8, "broadcast": True}))


def test_salting_bounds_reducer_load_where_aqe_declines(spark):
    """The measured skew demonstration, timing-insensitive throughout.

    (a) A hot-keyed SMJ *alone* is exactly what AQE skew-split handles:
        with thresholds scaled to the data, the final adaptive plan marks
        the join ``skew=true``.
    (b) The SAME join feeding a groupBy on the join key is the documented
        AQE limitation: splitting the skewed partition would break the
        aggregation's required distribution, so (with the default
        forceOptimizeSkewedJoin=false) AQE declines — no ``skew=true`` —
        and one reducer carries the whole hot key.
    (c) ``salt: N`` fixes shape (b): the shuffle key becomes (key, salt),
        and the max per-partition row count of the salted join output is
        bounded by ~2·hot/N vs ~hot for the plain join (measured via
        spark_partition_id() with AQE's own mitigations disabled — at toy
        scale AQE coalescing would merge the tiny uniform partitions and
        obscure the reducer assignment; at 100 TB the hot partition
        exceeds any advisory size, which is what disabling emulates)."""
    saved = {}

    def setconf(k, v):
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)

    hot, total, nsalt = 180_000, 200_000, 16
    left = spark.range(0, total).selectExpr(
        f"CASE WHEN id < {hot} THEN 777 ELSE id % 64 END AS k",
        "md5(CAST(id AS STRING)) AS pad",   # incompressible payload: shuffle
        "id AS v",                          # bytes reflect row counts
    )
    right = spark.range(0, 64).selectExpr(
        "id AS k", "id * 10 AS w"
    ).unionByName(spark.sql("SELECT 777L AS k, 7770L AS w"))

    def partition_loads(df):
        # groupBy(spark_partition_id) counts rows per join-output task;
        # max(length(pad)) keeps the payload in the plan (column pruning
        # would otherwise shrink the shuffle and change what's measured)
        sizes = df.groupBy(F.spark_partition_id().alias("pid")).agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.length("pad")).alias("keep"),
        )
        return sorted(r["n"] for r in sizes.collect())

    try:
        setconf("spark.sql.autoBroadcastJoinThreshold", "-1")
        setconf("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        setconf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
        setconf("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "262144")
        setconf("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

        # (a) bare join: AQE splits the skewed partition
        bare = left.join(right, "k")
        bare.collect()
        plan = bare._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan

        # (b) join under a same-key aggregate: AQE declines the split
        agg = left.join(right, "k").groupBy("k").agg(F.sum("v").alias("s"))
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "skew=true" not in plan

        # (c) reducer loads with AQE's own mitigations off (the declined
        # case / the 100 TB shape): salt bounds what AQE could not
        setconf("spark.sql.adaptive.skewJoin.enabled", "false")
        setconf("spark.sql.adaptive.coalescePartitions.enabled", "false")
        plain_loads = partition_loads(left.join(right, "k"))
        assert plain_loads[-1] >= hot            # one reducer owns the key
        salted = salted_left_join(left, right, ["k"], salt=nsalt, how="inner")
        salted_loads = partition_loads(salted)
        # The exact bound is partitioning MATH, not chance: sub-key s of
        # the hot key lands on reducer pmod(hash(777L, s), P) — compute
        # the worst collision count with Spark's own hash, then bound the
        # max load by collisions·(hot/nsalt) (+20% rand-salt wobble) plus
        # every non-hot row in the worst case.
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        collisions = max(
            r["n"]
            for r in spark.range(nsalt)
            .select(F.pmod(F.hash(F.lit(777).cast("long"),
                                  F.col("id").cast("int")),
                           F.lit(nparts)).alias("p"))
            .groupBy("p").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        assert collisions < nsalt                # the salt does spread
        bound = collisions * (hot // nsalt) * 1.2 + (total - hot)
        assert salted_loads[-1] <= bound
        assert salted_loads[-1] * 2 <= plain_loads[-1]
        # same join, different physical distribution only
        assert sum(salted_loads) == sum(plain_loads)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_study_spine_zero_exchanges(spark, sf_dir):
    """run_study(spine_buckets=N): every analyte materializes bucketed on
    the spine key and the spine accumulates via bucket-aligned SMJ — the
    executed plan must contain NO exchange of any kind."""
    from configurable_etl_python_repo_spark.plans import (
        AnalytePlan, Engine, OpSpec, ScanSpec, StudyPlan,
    )

    def mk_study():
        spine = AnalytePlan(
            name="subjects",
            scans=[ScanSpec("subjects", "parquet", f"{sf_dir}/customer.parquet",
                            columns=["c_custkey", "c_name"])],
            ops=[OpSpec("RENAME COLUMN", "subjects", ["subjects"],
                        {"renames": {"c_custkey": "subject"}})],
        )
        spend = AnalytePlan(
            name="spend",
            scans=[ScanSpec("o", "parquet", f"{sf_dir}/orders.parquet")],
            ops=[
                OpSpec("GROUPBY SUMMARISE", "spend", ["o"],
                       {"group_by": ["o_custkey"],
                        "aggs": [("o_totalprice", "sum", "total_spend")]}),
                OpSpec("RENAME COLUMN", "spend", ["spend"],
                       {"renames": {"o_custkey": "subject"}}),
            ],
        )
        return StudyPlan(study_code="BKT", analytes=[spine, spend],
                         spine_key="subject")

    try:
        bucketed = Engine(spark).run_study(mk_study(), spine_buckets=8)
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # neither hash/range nor broadcast
        # and values match the broadcast path
        broadcast = Engine(spark).run_study(mk_study())
        a = sorted(map(tuple, bucketed.collect()))
        b = sorted(map(tuple, broadcast.collect()))
        assert a == b and len(a) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS cetl_bkt_subjects_b")
        spark.sql("DROP TABLE IF EXISTS cetl_bkt_spend_b")


def test_scale_replication_measures_linear_work(spark, sf_dir, tmp_path):
    """scripts/scale_smoke.replicate must grow WORK linearly, or the
    scaling exponents it reports are artifacts. Naive copying fails this:
    every doc/vector would be an exact dup of its N-1 replica siblings, so
    near-dup pair output (d2/d3/d5) grows O(N²) regardless of the
    algorithm. The content transforms (per-replica alphabet rotation for
    text, circular rotation for embeddings, user_id shift for events) make
    replicas disjoint; pin that at factor 2 on sf0.001."""
    import importlib
    import sys as _sys

    scripts_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    _sys.path.insert(0, scripts_dir)
    try:
        sm = importlib.import_module("scale_smoke")
    finally:
        _sys.path.remove(scripts_dir)
    from configurable_etl_python_repo_spark.catalog import QUERIES

    big = str(tmp_path / "x2")
    os.makedirs(big)
    sm.replicate(spark, sf_dir, big, 2)

    # d2: pair count exactly doubles, and no pair crosses replicas
    base_pairs = QUERIES["d2_ngram_jaccard_pairs"](spark, sf_dir).collect()
    big_pairs = QUERIES["d2_ngram_jaccard_pairs"](spark, big).collect()
    assert len(big_pairs) == 2 * len(base_pairs)
    assert all(
        (r["id_a"] < sm.SHIFT) == (r["id_b"] < sm.SHIFT) for r in big_pairs
    )

    # d1: rotation keeps replicas textually distinct -> fingerprint groups
    # double (a copied corpus would keep the SAME group count with doubled
    # n_copies)
    base_fp = QUERIES["d1_dedup_exact"](spark, sf_dir).count()
    assert QUERIES["d1_dedup_exact"](spark, big).count() == 2 * base_fp

    # e2: shifted user_ids -> sessions double
    base_sess = QUERIES["e2_sessionize_gap30m"](spark, sf_dir).count()
    assert QUERIES["e2_sessionize_gap30m"](spark, big).count() == 2 * base_sess


def test_registry_bindings_sql_addressable(spark, sf_dir):
    from configurable_etl_python_repo_spark.plans import Engine, ScanSpec

    eng = Engine(spark)
    eng.run_scan(ScanSpec("li_view", "parquet", f"{sf_dir}/lineitem.parquet"))
    # bindings are mirrored on demand (the SQL op does it before every
    # statement); outside an op, register_views does the same
    eng.registry.register_views()
    got = spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM li_view GROUP BY 1"
    ).count()
    assert got == 3
