"""Driver-side scan resolution: parquet schemas come from the footer
(`sources.files.footer_schema`), so building a query launches no Spark
job; registry bindings reach SQL only when an SQL op runs."""

import ast
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMALL

from configurable_etl_python_repo_spark.sources.files import (
    footer_schema,
    read_events,
    read_parquet,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "configurable_etl_python_repo_spark",
)
#: every fixture table at every scale (sf0.001, sf0.01, sf0.1)
FIXTURES = os.path.dirname(SF_SMALL)
TESTDATA = sorted(glob.glob(os.path.join(FIXTURES, "sf0.*", "*.parquet")))
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize(
    "path", TESTDATA, ids=lambda p: os.path.relpath(p, FIXTURES)
)
def test_footer_schema_equals_spark_inference(spark, path):
    got = footer_schema(spark, path)
    assert got is not None
    assert got == spark.read.parquet(path).schema


def test_footer_schema_store_segment_with_partition_columns(spark, tmp_path):
    """A Spark-written store segment sub-partitioned by kb: the footer
    path (Spark's row-metadata key) plus Spark's driver-side partition
    inference gives the inferred schema, seg and kb included."""
    from configurable_etl_python_repo_spark.llm import _store

    path = str(tmp_path / "idx")
    df = spark.range(40).selectExpr(
        "id", "cast(id % 5 as int) AS kb", "array(cast(id AS double)) AS v",
        "named_struct('a', id, 'b', cast(id AS string)) AS st",
        "timestamp'2024-01-01 00:00:00' AS ts",
    )
    segs = [_store.new_segment_id(), _store.new_segment_id()]
    for seg in segs:
        _store.write_segment(df, path, "rel", seg, "kb")
    root = f"{path}/rel"
    dirs = [f"{root}/seg={s}" for s in segs]
    assert footer_schema(spark, *dirs, options={"basePath": root}) is not None
    want = spark.read.option("basePath", root).parquet(*dirs).schema
    got = read_parquet(spark, *dirs, options={"basePath": root}).schema
    assert got == want
    assert [f.name for f in got.fields][-2:] == ["seg", "kb"]
    assert _store.read_committed(spark, path, "rel", segs).schema == (
        spark.read.option("basePath", root).parquet(*dirs).drop("seg").schema
    )


def test_footer_schema_falls_back(spark, tmp_path):
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), nanos)
    empty = tmp_path / "empty"
    empty.mkdir()
    assert footer_schema(spark, nanos) is None
    assert footer_schema(spark, str(empty)) is None
    assert footer_schema(spark, TESTDATA[0], options={"mergeSchema": "true"}) is None


def test_read_events_micros_leaves_session_conf_untouched(spark, sf_dir):
    before = spark.conf.get(NANOS_CONF, None)
    spark.conf.unset(NANOS_CONF)
    try:
        ev = read_events(spark, f"{sf_dir}/events.parquet")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        assert spark.conf.get(NANOS_CONF, None) is None
    finally:
        if before is not None:
            spark.conf.set(NANOS_CONF, before)


def test_read_events_nanos_file_micro_truncates(spark, tmp_path):
    path = str(tmp_path / "events_ns.parquet")
    ns = 1_700_000_000_123_456_789
    pq.write_table(pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([ns], pa.timestamp("ns")),
    }), path)
    before = spark.conf.get(NANOS_CONF, None)
    try:
        ev = read_events(spark, path)
        assert dict(ev.dtypes)["ts"] == "timestamp"
        assert ev.selectExpr("unix_micros(ts)").first()[0] == ns // 1000
    finally:
        if before is None:
            spark.conf.unset(NANOS_CONF)
        else:
            spark.conf.set(NANOS_CONF, before)


@pytest.mark.parametrize(
    "query", ["flagship_earliest_event", "tpch_q3_shaped", "j3_spine_study"]
)
def test_building_a_reference_query_launches_no_job(spark, sf_dir, query):
    from configurable_etl_python_repo_spark.catalog import QUERIES

    sc = spark.sparkContext
    group = f"construct-probe-{query}"
    sc.setJobGroup(group, "query construction")
    try:
        QUERIES[query](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_sql_op_sees_latest_binding(spark):
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    eng = Engine(spark)
    eng.bind("lazy_sql_t", spark.range(3))
    # binding alone registers nothing in the session catalog
    assert not spark.catalog.tableExists("lazy_sql_t")
    q = {"query": "SELECT count(*) AS n FROM lazy_sql_t"}
    assert eng.run_op(OpSpec("SQL", "n1", [], q)).first().n == 3
    eng.bind("lazy_sql_t", spark.range(7))
    assert eng.run_op(OpSpec("SQL", "n2", [], q)).first().n == 7


def _direct_parquet_reads(path: str) -> "list[int]":
    """Lines calling `<...>.read<...>.parquet(` (a batch reader whose
    schema Spark would infer with a job)."""
    def reads(node) -> bool:
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute):
                if node.attr == "read":
                    return True
                node = node.value
            else:
                node = node.func
        return False

    with open(path) as f:
        tree = ast.parse(f.read(), path)
    return [
        n.lineno for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == "parquet" and reads(n.func.value)
    ]


def test_catalog_and_plans_scan_parquet_through_the_helper():
    files = [os.path.join(PKG, "catalog.py"), os.path.join(PKG, "catalog_llm.py")]
    files += glob.glob(os.path.join(PKG, "plans", "*.py"))
    offenders = {
        os.path.relpath(f, PKG): lines
        for f in files if (lines := _direct_parquet_reads(f))
    }
    assert offenders == {}, (
        f"use sources.files.read_parquet instead of spark.read...parquet( "
        f"(schema inference launches a job per scan): {offenders}"
    )


def test_direct_read_detector_flags_reader_chains(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "a = spark.read.parquet(p)\n"
        "b = spark.read.options(**o).parquet(p)\n"
        "c = spark.readStream.schema(s).parquet(p)\n"
        "df.write.parquet(p)\n"
    )
    assert _direct_parquet_reads(str(src)) == [1, 2]
