"""LLM ops as config-pipeline op types + the batched KV sink."""

import json
import os

import pytest
from pyspark.sql import functions as F

from configurable_etl_python_repo_spark.plans import (
    AnalytePlan,
    Engine,
    OpSpec,
    ScanSpec,
)
from configurable_etl_python_repo_spark.sinks.kv import (
    DirectoryJsonWriter,
    write_kv_batched,
)


def test_llm_ops_in_config_pipeline(spark, sf_dir):
    """A declarative program that fingerprints, dedups, and text-profiles
    documents — extension ops compose with reference ops in one plan."""
    plan = AnalytePlan(
        name="doc_profile",
        scans=[ScanSpec("docs", "parquet", f"{sf_dir}/documents.parquet")],
        ops=[
            OpSpec("TEXT STATS", "docs", ["docs"], {}),
            OpSpec("LANGUAGE ID", "docs", ["docs"], {}),
            OpSpec("FILTER", "docs", ["docs"], {"condition": "n_words >= NUMBER(5)"}),
            OpSpec("SELECT COLUMNS", "doc_profile", ["docs"],
                   {"columns": ["doc_id", "n_words", "stopword_ratio",
                                "lang_pred"]}),
        ],
    )
    out = Engine(spark).run_analyte(plan)
    assert out.columns == ["doc_id", "n_words", "stopword_ratio", "lang_pred"]
    assert out.count() > 0


def test_dedup_op_in_pipeline(spark, sf_dir):
    plan = AnalytePlan(
        name="dups",
        scans=[ScanSpec("docs", "parquet", f"{sf_dir}/documents.parquet")],
        ops=[OpSpec("DEDUP EXACT", "dups", ["docs"],
                    {"id_column": "doc_id", "text_column": "text"})],
    )
    out = Engine(spark).run_analyte(plan)
    assert set(out.columns) == {"doc_fp", "keeper_id", "n_copies"}
    assert out.count() == 500  # fixture texts are all distinct


def test_dedup_clusters_two_input_op(spark, sf_dir):
    """MINHASH LSH -> DEDUP CLUSTERS chained declaratively: the pairs
    binding feeds the two-input cluster op alongside the original docs."""
    eng = Engine(spark)
    eng.run_scan(ScanSpec("docs", "parquet", f"{sf_dir}/documents.parquet"))
    eng.bind("pairs", eng.run_op(OpSpec(
        "MINHASH LSH", "pairs", ["docs"],
        {"id_column": "doc_id", "text_column": "text",
         "bands": 8, "rows_per_band": 2, "threshold": 0.1})))
    out = eng.run_op(OpSpec("DEDUP CLUSTERS", "clusters", ["docs", "pairs"],
                            {"id_column": "doc_id"}))
    rows = out.collect()
    assert len(rows) == 500  # every doc labeled, singletons included
    keepers = [r for r in rows if r.is_keeper]
    assert len(keepers) == len({r.cluster_id for r in rows})
    assert all(r.cluster_id <= r.doc_id for r in rows)


def test_ann_topk_two_input_op(spark, sf_dir):
    eng = Engine(spark)
    eng.run_scan(ScanSpec("corpus", "parquet", f"{sf_dir}/embeddings.parquet"))
    eng.bind("queries", eng.peek("corpus")[0].where(F.col("vec_id") < 3))
    out = eng.run_op(OpSpec("ANN TOPK", "nn", ["corpus", "queries"], {"k": 2}))
    assert out.count() == 6


def test_ann_topk_ops_match_direct_calls(spark, sf_dir):
    """ANN TOPK with a single input (corpus queries itself) and ANN TOPK
    LSH return exactly the rows of brute_force_topk / lsh_bucketed_topk
    called directly."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        brute_force_topk, lsh_bucketed_topk,
    )

    eng = Engine(spark)
    eng.run_scan(ScanSpec("corpus", "parquet", f"{sf_dir}/embeddings.parquet"))
    emb = eng.peek("corpus")[0].where(F.col("vec_id") < 60)
    eng.bind("small", emb)
    dim = len(emb.first()["embedding"])
    brute = eng.run_op(OpSpec("ANN TOPK", "nn", ["small"], {"k": 3}))
    assert sorted(brute.collect()) == sorted(
        brute_force_topk(emb, emb, k=3).collect())
    lsh = eng.run_op(OpSpec(
        "ANN TOPK LSH", "nn", ["small", "small"],
        {"dim": dim, "k": 3, "planes": 4, "tables": 2}))
    assert sorted(lsh.collect()) == sorted(
        lsh_bucketed_topk(emb, emb, dim, k=3, planes=4, tables=2).collect())


def test_write_kv_batched(spark, tmp_path):
    out_dir = str(tmp_path / "kv")
    df = spark.range(103).selectExpr("id", "concat('u', id) AS name").repartition(4)
    write_kv_batched(df, lambda: DirectoryJsonWriter(out_dir), batch_size=25)
    items = []
    import glob

    for p in glob.glob(f"{out_dir}/*.jsonl"):
        with open(p) as f:
            items += [json.loads(line) for line in f]
    assert len(items) == 103
    assert {i["name"] for i in items} == {f"u{i}" for i in range(103)}
    assert len(glob.glob(f"{out_dir}/*.jsonl")) <= 4  # one writer per partition


def test_minhash_index_ops_in_pipeline(spark, sf_dir, tmp_path):
    """Declarative daily-ingest shape: MINHASH BUILD INDEX on yesterday's
    corpus (pass-through write stage), DEDUP AGAINST INDEX on today's
    batch, MINHASH EXTEND INDEX to roll forward — hash family parameters
    travel via the index's _meta, never the program."""
    idx = str(tmp_path / "mh")
    eng = Engine(spark)
    eng.run_scan(ScanSpec("docs", "parquet", f"{sf_dir}/documents.parquet"))
    docs, _ = eng.peek("docs")
    eng.bind("corpus", docs.where(F.col("doc_id") % 2 == 0))
    eng.bind("batch", docs.where(F.col("doc_id") % 2 == 1).unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            *[c for c in docs.columns if c != "doc_id"],
        )
    ))
    passthru = eng.run_op(OpSpec(
        "MINHASH BUILD INDEX", "built", ["corpus"],
        {"path": idx, "id_column": "doc_id", "text_column": "text",
         "bands": 8, "rows_per_band": 2}))
    assert passthru.columns == eng.peek("corpus")[0].columns  # forwards input
    pairs = eng.run_op(OpSpec(
        "DEDUP AGAINST INDEX", "pairs", ["batch"],
        {"path": idx, "id_column": "doc_id", "text_column": "text",
         "threshold": 0.1}))
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    replicas = {r[0] for r in eng.peek("batch")[0]
                .where(F.col("doc_id") >= 1000000).select("doc_id").collect()}
    assert {(rid, rid - 1000000) for rid in replicas} <= got
    eng.run_op(OpSpec(
        "MINHASH EXTEND INDEX", "ext", ["batch"],
        {"path": idx, "id_column": "doc_id", "text_column": "text"}))
    # after the roll-forward the batch finds itself in the index
    again = eng.run_op(OpSpec(
        "DEDUP AGAINST INDEX", "pairs2", ["batch"],
        {"path": idx, "id_column": "doc_id", "text_column": "text",
         "threshold": 0.1}))
    self_hits = {(r.id_a, r.id_b) for r in again.collect()}
    assert {(rid, rid) for rid in replicas} <= self_hits


def test_minhash_lsh_group_columns_op(spark, sf_dir):
    """The config surface threads group_columns -> group_cols: the op's
    within-lang pairs equal the function's (the d19 catalog fixture)."""
    from configurable_etl_python_repo_spark.llm.dedup import (
        minhash_lsh_pairs,
    )

    eng = Engine(spark)
    eng.run_scan(ScanSpec("docs", "parquet", f"{sf_dir}/documents.parquet"))
    out = eng.run_op(OpSpec(
        "MINHASH LSH", "pairs", ["docs"],
        {"id_column": "doc_id", "text_column": "text",
         "bands": 8, "rows_per_band": 2, "threshold": 0.1,
         "group_columns": ["lang"]}))
    direct = minhash_lsh_pairs(
        eng.peek("docs")[0], bands=8, rows_per_band=2, threshold=0.1,
        group_cols=["lang"],
    )
    assert {tuple(r) for r in out.collect()} == {
        tuple(r) for r in direct.collect()
    }


def test_multimodal_feature_ops_in_pipeline(spark, tmp_path):
    """MEDIA FEATURES / AUDIO FEATURES / FRAME STATS as declarative op
    types: a config program decodes REAL payload bytes (stdlib codecs)
    straight from a parquet scan — no library code in the program."""
    import numpy as np
    from pyspark.sql import Row

    from configurable_etl_python_repo_spark.llm import png, wavcodec, y4m

    img = png.encode_png("RGB", (6, 4), bytes((10, 20, 30)) * 24)
    x = np.where((np.arange(100) // 5) % 2 == 0, 1500, -1500)
    wav = wavcodec.encode_wav(8000, x.astype(np.int32))
    clip = y4m.encode_y4m(
        (8, 4),
        [(np.full((4, 8), 42, np.uint8), None, None) for _ in range(3)],
        fps=(25, 1), colorspace="mono",
    )
    src = str(tmp_path / "media")
    spark.createDataFrame(
        [Row(doc_id=1, payload=img)]
    ).write.parquet(src + "/img")
    spark.createDataFrame(
        [Row(doc_id=1, payload=wav)]
    ).write.parquet(src + "/wav")
    spark.createDataFrame(
        [Row(doc_id=1, payload=clip)]
    ).write.parquet(src + "/clip")

    eng = Engine(spark)
    feats = eng.run_analyte(AnalytePlan(
        name="img_feats",
        scans=[ScanSpec("m", "parquet", src + "/img")],
        ops=[OpSpec("MEDIA FEATURES", "img_feats", ["m"],
                    {"id_column": "doc_id", "fake_decode": False,
                     "codec": "stdlib"})],
    )).collect()[0]
    assert (feats.features[1], feats.features[2]) == (6.0, 4.0)

    audio = eng.run_analyte(AnalytePlan(
        name="wav_feats",
        scans=[ScanSpec("m", "parquet", src + "/wav")],
        ops=[OpSpec("AUDIO FEATURES", "wav_feats", ["m"],
                    {"id_column": "doc_id", "fake_decode": False})],
    )).collect()[0]
    assert (audio.sample_rate, audio.rms, audio.zero_crossings) == (
        8000, 1500.0, 19,
    )

    frames = eng.run_analyte(AnalytePlan(
        name="clip_stats",
        scans=[ScanSpec("m", "parquet", src + "/clip")],
        ops=[OpSpec("FRAME STATS", "clip_stats", ["m"],
                    {"id_column": "doc_id", "every_ms": 80,
                     "codec": "y4m_stdlib"})],
    )).collect()
    assert sorted((r.frame_idx, r.frame_ms, r.mean_luma) for r in frames) \
        == [(0, 0, 42), (1, 80, 42)]


def _ops():
    from configurable_etl_python_repo_spark.operators.llm_ops import (
        LLM_OP_COMPILERS,
    )

    return LLM_OP_COMPILERS


@pytest.mark.parametrize("op", sorted(_ops()))
def test_every_op_refuses_a_typo(spark, tmp_path, op):
    """A typo'd arg dies as a ValueError naming the op and the key
    before the target runs — for every registered LLM op, not only the
    index ops. An index build leaves no store behind."""
    eng = Engine(spark)
    rel = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    eng.bind("a", rel)
    eng.bind("b", rel)
    path = str(tmp_path / "idx")
    args = {"__typo__": 1, **({"path": path} if "INDEX" in op else {})}
    with pytest.raises(ValueError, match=rf"{op}\b.*'__typo__'"):
        eng.run_op(OpSpec(op, "out", ["a", "b"], args))
    if op == "MINHASH BUILD INDEX":
        assert not os.path.exists(path)


class _Touched(Exception):
    pass


class _Probe:
    """Stands in for a relation and for the session: any use raises, so
    reaching a target's body shows the adapter accepted the args."""

    def __getattr__(self, name):
        raise _Touched(name)


class _ProbeEngine:
    spark = _Probe()

    def peek(self, name):
        return _Probe(), None


def _column_spellings(param: str) -> list[str]:
    stem, _, col = param.rpartition("_")
    column = col.replace("col", "column")
    stems = [stem] + [k for k, v in {"vector": "vec", "output": "out",
                                     "timestamp": "ts"}.items() if v == stem]
    return [f"{s}_{column}" if s else column for s in stems]


def _rejected(op: str, key: str) -> bool:
    try:
        _ops()[op](_ProbeEngine(), OpSpec(op, "t", ["a", "b"], {key: "c"}))
    except (TypeError, ValueError) as e:
        # the target's own TypeError names the key; the op's check
        # lists its renamed form under "unknown args"
        return repr(key) in str(e) or "unknown args ['" in str(e)
    except Exception:  # raised inside the target: the key was accepted
        return False
    return False


@pytest.mark.parametrize("op", sorted(_ops()))
def test_every_col_param_reachable_from_column_spelling(op):
    """Spark-free: every `*_col`/`*_cols` parameter of an op's target
    is reachable from the config spelling `*_column`/`*_columns` (or
    its long stem: `vector_column` for `vec_col`)."""
    import inspect
    import re

    from configurable_etl_python_repo_spark.operators import llm_ops

    fn = llm_ops._target(_ops()[op].target)
    cols = [p for p in inspect.signature(fn).parameters
            if re.fullmatch(r"(\w+_)?cols?", p)]
    for p in cols:
        spellings = _column_spellings(p)
        assert not all(_rejected(op, s) for s in spellings), (op, p)


def test_column_spelling_detector_sees_a_rejection():
    """Self-test of the probe: a spelling no target takes is rejected,
    and a real one is not."""
    assert _rejected("DEDUP EXACT", "nope_column")
    assert not _rejected("DEDUP EXACT", "text_column")


def _rows(df):
    return sorted(str(r) for r in df.collect())


def test_unexercised_ops_match_direct_calls(spark, sf_dir):
    """The ops no other test or catalog query runs by name: each op's
    rows equal the library function's, called directly with the
    renamed args."""
    from pyspark.sql import Row

    from configurable_etl_python_repo_spark.llm import clusters as C
    from configurable_etl_python_repo_spark.llm import dedup as D
    from configurable_etl_python_repo_spark.llm import multimodal as MM
    from configurable_etl_python_repo_spark.llm import similarity as S
    from configurable_etl_python_repo_spark.llm import text as T
    from configurable_etl_python_repo_spark.sources.files import read_events
    from configurable_etl_python_repo_spark.streaming import windows as W

    eng = Engine(spark)
    eng.run_scan(ScanSpec("d", "parquet", f"{sf_dir}/documents.parquet"))
    docs = eng.peek("d")[0].where(F.col("doc_id") < 40)
    eng.run_scan(ScanSpec("e", "parquet", f"{sf_dir}/embeddings.parquet"))
    emb = eng.peek("e")[0].where(F.col("vec_id") < 40)
    dim = len(emb.first()["embedding"])
    events = read_events(spark, f"{sf_dir}/events.parquet")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], "src long, dst long")
    media = spark.createDataFrame(
        [Row(doc_id=i, payload=bytes([i]) * 64) for i in range(3)])
    ids = {"id_column": "doc_id", "text_column": "text"}
    vecs = {"id_column": "vec_id", "vector_column": "embedding"}
    vec_kw = {"id_col": "vec_id", "vec_col": "embedding"}
    cases = [
        ("NGRAM JACCARD", docs, {**ids, "n": 2, "threshold": 0.3},
         lambda: D.ngram_jaccard_pairs(docs, n=2, threshold=0.3)),
        ("SIMHASH", docs, {"text_column": "text"},
         lambda: D.simhash32(docs)),
        ("SIMHASH PAIRS", docs, {**ids, "max_hamming": 6},
         lambda: D.simhash_pairs(docs, max_hamming=6)),
        ("LANGUAGE ID NGRAM", docs, ids,
         lambda: T.language_id_ngram(docs)),
        ("FINGERPRINT", docs, {"text_column": "text"},
         lambda: T.fingerprint(docs)),
        ("TOP NGRAMS", docs, {"n": 2, "k": 7, "text_column": "text"},
         lambda: T.top_ngrams(docs, n=2, k=7)),
        ("WINNOW FINGERPRINT", docs, {**ids, "k": 3, "window": 4},
         lambda: T.winnowing_fingerprints(docs, k=3, window=4)),
        ("COSINE PAIRS", emb, {**vecs, "threshold": 0.0, "planes": 0},
         lambda: S.embedding_cosine_pairs(emb, 0.0, planes=0, **vec_kw)),
        ("CHUNK DOCUMENTS", docs, {**ids, "max_words": 20},
         lambda: T.chunk_documents(docs, 20)),
        ("TUMBLING WINDOW", events,
         {"window": "2 hours", "timestamp_column": "ts"},
         lambda: W.tumbling_rollup(events, window="2 hours")),
        ("SLIDING WINDOW", events,
         {"window": "1 hour", "slide": "30 minutes",
          "timestamp_column": "ts"},
         lambda: W.sliding_rollup(events, window="1 hour",
                                  slide="30 minutes")),
        ("CONNECTED COMPONENTS", pairs,
         {"src_column": "src", "dst_column": "dst"},
         lambda: C.connected_components(pairs, "src", "dst")),
        ("ANN TOPK IVF", emb, {**vecs, "k": 3, "n_centroids": 4},
         lambda: S.ivf_topk(emb, emb, k=3, n_centroids=4)),
        ("ANN TOPK IVF KMEANS", emb, {**vecs, "k": 3, "n_centroids": 4},
         lambda: S.ivf_topk_kmeans(emb, emb, k=3, n_centroids=4)),
        ("ANN TOPK IVF PQ RESIDUAL", emb,
         {**vecs, "k": 3, "dim": dim, "n_centroids": 4},
         lambda: S.ivf_pq_residual_topk(emb, emb, k=3, dim=dim,
                                        n_centroids=4)),
        ("IMAGE RESIZE", media, {"id_column": "doc_id", "max_side": 64},
         lambda: MM.resize_images(media, max_side=64)),
        ("FRAME SAMPLE", media,
         {"payload_column": "payload", "every_ms": 500, "max_frames": 4},
         lambda: MM.sample_frames(media, every_ms=500, max_frames=4)),
    ]
    for op, rel, args, direct in cases:
        eng.bind("in", rel)
        got = _rows(eng.run_op(OpSpec(op, "out", ["in"], args)))
        assert got == _rows(direct()), op
        assert got, op  # a non-empty comparison
