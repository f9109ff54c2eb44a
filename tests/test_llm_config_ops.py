"""LLM ops as config-pipeline op types + the batched KV sink."""

import json

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
