"""LLM-data-pipeline operator tests: dedup family, similarity, text,
multimodal plumbing."""

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from configurable_etl_python_repo_spark.llm import (
    brute_force_topk,
    dedup_exact,
    lsh_bucketed_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash32,
)
from configurable_etl_python_repo_spark.llm.dedup import hamming32
from configurable_etl_python_repo_spark.llm.multimodal import extract_features
from configurable_etl_python_repo_spark.llm.text import language_id, text_stats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
        Row(doc_id=3, text="The  quick brown fox jumps over the lazy dog"),
        Row(doc_id=4, text="completely different content about spark engines"),
        Row(doc_id=5, text="the quick brown fox jumps over the lazy dog"),
    ]
    return spark.createDataFrame(rows)


def test_dedup_exact_normalizes_whitespace_and_case(docs):
    out = dedup_exact(docs).collect()
    by_keeper = {r.keeper_id: r.n_copies for r in out}
    # 1, 3 (case/space variants) and 5 (identical) collapse to keeper 1
    assert by_keeper[1] == 3
    assert by_keeper[2] == 1 and by_keeper[4] == 1


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert (1, 3) in pairs and (1, 5) in pairs and (3, 5) in pairs
    assert (1, 2) in pairs  # one-word difference, jaccard 5/9 > 0.5
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_auto_routing(docs, spark, sf_dir):
    """prefix_filter='auto' is a physical-plan routing rule only: below
    PREFIX_FILTER_MIN_THRESHOLD it picks the direct inverted-index join
    (no rarity-ranking Window), at/above it the PPJoin prefix path — and
    both strategies return IDENTICAL pairs at any threshold."""
    from configurable_etl_python_repo_spark.llm.dedup import (
        PREFIX_FILTER_MIN_THRESHOLD,
    )

    real = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for thr in (0.2, 0.6):
        key = lambda r: (r.id_a, r.id_b, r.inter, r.size_a, r.size_b)
        pp = sorted(map(key, ngram_jaccard_pairs(
            real, n=3, threshold=thr, prefix_filter=True).collect()))
        direct = sorted(map(key, ngram_jaccard_pairs(
            real, n=3, threshold=thr, prefix_filter=False).collect()))
        assert pp == direct and pp  # identical, non-empty

    def plan(thr):
        return (ngram_jaccard_pairs(docs, n=3, threshold=thr)
                ._jdf.queryExecution().executedPlan().toString())

    low = PREFIX_FILTER_MIN_THRESHOLD - 0.1
    high = PREFIX_FILTER_MIN_THRESHOLD
    # the ppjoin path ranks shingles by rarity with row_number; the direct
    # join has no ranking (the shingle builder's lead()-window appears in
    # BOTH plans, so row_number is the discriminating marker)
    assert "row_number" not in plan(low)
    assert "row_number" in plan(high)


def test_ngram_jaccard_matches_python_model(spark):
    """Model check: both physical strategies must equal a pure-Python
    shingle-set jaccard on seeded-random word soup — exactness is the
    operator's contract, the join strategy is only a plan choice."""
    import random
    from itertools import combinations

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(12)]  # small vocab → real overlaps
    rows = [
        Row(doc_id=i, text=" ".join(rng.choices(vocab, k=rng.randint(0, 18))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows)

    def shingles(text, n=3):
        ws = text.split()
        return {" ".join(ws[i:i + n]) for i in range(max(len(ws) - n + 1, 0))}

    for thr in (0.2, 0.6):
        model = set()
        sh = {r.doc_id: shingles(r.text) for r in rows}
        for a, b in combinations(sorted(sh), 2):
            inter = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            if union and inter / union >= thr:
                model.add((a, b, inter, len(sh[a]), len(sh[b])))
        for pf in (True, False):
            got = {(r.id_a, r.id_b, r.inter, r.size_a, r.size_b)
                   for r in ngram_jaccard_pairs(
                       df, n=3, threshold=thr, prefix_filter=pf).collect()}
            assert got == model, f"threshold={thr} prefix_filter={pf}"


def test_minhash_lsh_subset_of_exact(docs):
    exact = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           minhash_lsh_pairs(docs, n=3, bands=8, rows_per_band=2,
                             threshold=0.3).collect()}
    assert lsh <= exact
    # identical docs always collide in every band
    assert (1, 5) in lsh


def test_simhash_identical_and_near(docs, spark):
    fp = {r.id: r.simhash for r in simhash32(docs).collect()}
    assert fp[1] == fp[3] == fp[5]  # same word set
    pairs = spark.createDataFrame([Row(a=fp[1], b=fp[2]), Row(a=fp[1], b=fp[4])])
    d12, d14 = [r.d for r in pairs.select(hamming32("a", "b").alias("d")).collect()]
    assert d12 < d14  # near-dup is closer than unrelated


def test_brute_force_topk_self_similarity(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    out = brute_force_topk(emb, queries, k=3)
    rows = out.collect()
    assert len(rows) == 15
    for r in rows:
        assert r.neighbor_id != r.query_id
        assert -1.000001 <= r.sim <= 1.000001


def test_zero_vector_scores_cosine_zero_in_both_engines(spark, sf_dir):
    """r12 ADVICE regression: an all-zero vector must score cosine 0 —
    not NaN (which Spark ORDER BY sorts LARGEST, ranking garbage
    first) and not NULL (which DuckDB sorts last) — in the engine's
    norm-floored scorer AND in the SQL oracles' greatest(sqrt, 1e-150)
    mirror, so ranking paths cannot diverge if a zero vector ever
    enters a corpus."""
    import math

    import duckdb

    from configurable_etl_python_repo_spark import catalog  # noqa: F401 — registers before catalog_llm (import order)
    from configurable_etl_python_repo_spark.catalog_llm import _cos_sql
    from configurable_etl_python_repo_spark.llm.similarity import (
        cosine,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # derive the zero row FROM the table so dtypes match exactly
    zero = emb.limit(1).select(
        (F.col("vec_id") * 0 + 9_999_999).alias("vec_id"),
        F.transform("embedding", lambda x: x - x).alias("embedding"),
    )
    corpus = emb.limit(3).unionByName(zero)
    # engine: exact scorer on (zero, nonzero) and (zero, zero) pairs
    scored = (
        corpus.alias("a").crossJoin(corpus.alias("b"))
        .select(
            F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"),
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")),
                    6).alias("sim"),
        )
        .where((F.col("ia") == 9_999_999) | (F.col("ib") == 9_999_999))
        .collect()
    )
    assert scored
    for r in scored:
        assert r.sim is not None and not math.isnan(r.sim), r
        assert r.sim == 0.0, r
    # oracle: the same pairs through _cos_sql give the same 0.0
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {_cos_sql('a', 'b')} FROM (VALUES "
        f"([0.0, 0.0], [1.0, 2.0]), ([0.0, 0.0], [0.0, 0.0])) t(a, b)"
    ).fetchall()
    assert [g[0] for g in got] == [0.0, 0.0]
    # and brute-force top-k with a zero QUERY returns sims of 0, so the
    # ranking tiebreak (neighbor_id) is deterministic in both engines
    out = brute_force_topk(
        corpus, zero, k=2
    ).collect()
    assert len(out) == 2
    assert all(r.sim == 0.0 for r in out)


def test_lsh_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in lsh_bucketed_topk(emb, queries, dim=64, k=5,
                                         planes=4, tables=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # multi-table SRP: recall must be well off the floor


def test_shingle_cache_bounded_across_jobs(spark, docs):
    """Repeated dedup calls in one session must not accumulate cached
    relations without bound: the scope holds at most _SCOPE_CAPACITY,
    oldest evicted first (capacity > 1 so lazily-composed pipelines
    keep their not-yet-materialized relations)."""
    from configurable_etl_python_repo_spark.llm.dedup import (
        _SCOPE_CAPACITY, clear_shingle_cache,
    )

    clear_shingle_cache()

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_cached()
    for _ in range(4):  # 8 cache registrations > capacity
        ngram_jaccard_pairs(docs, n=3, threshold=0.5).count()
        minhash_lsh_pairs(docs, n=3, bands=8, rows_per_band=2,
                          threshold=0.3).count()
    assert n_cached() <= base + _SCOPE_CAPACITY
    clear_shingle_cache()
    assert n_cached() <= base


def test_scope_cache_plan_aware_reinvocation(spark, docs):
    """Re-invoking the same query must NOT register a twin entry whose
    eviction would unpersist the shared InMemoryRelation mid-plan, and
    must NOT wipe the warm run's cached data (the pre-r7 clear+append in
    minhash did both — warm re-runs recomputed heavy relations once per
    consumer)."""
    from pyspark.sql import functions as F

    from configurable_etl_python_repo_spark.llm.dedup import (
        _CACHED_SHINGLES, _scope_cache, clear_shingle_cache,
    )

    clear_shingle_cache()
    try:
        first = docs.select("doc_id", F.length("text").alias("n"))
        first = _scope_cache(first)
        first.count()  # materialize the cache
        # plan-identical twin: same source, same projection
        twin = docs.select("doc_id", F.length("text").alias("n"))
        twin = _scope_cache(twin)
        assert len(_CACHED_SHINGLES) == 1  # refreshed, not re-registered
        assert first.storageLevel.useMemory  # warm data survived
        # a genuinely different plan still registers
        other = _scope_cache(docs.select("doc_id"))
        assert len(_CACHED_SHINGLES) == 2
        # minhash no longer clears the scope at plan-construction time
        minhash_lsh_pairs(docs, n=3, bands=8, rows_per_band=2,
                          threshold=0.3)
        assert len(_CACHED_SHINGLES) >= 2
    finally:
        clear_shingle_cache()


def test_cosine_pairs_planes_is_explicit(spark, sf_dir):
    """planes has no silent default: all-pairs (planes=0) must be an
    explicit opt-in, and the SRP path's output is a subset of exact."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        embedding_cosine_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="planes"):
        embedding_cosine_pairs(emb, threshold=0.4)
    exact = {(r.id_a, r.id_b): r.sim
             for r in embedding_cosine_pairs(emb, threshold=0.4, planes=0).collect()}
    srp = {(r.id_a, r.id_b): r.sim
           for r in embedding_cosine_pairs(emb, threshold=0.4, planes=8,
                                           dim=64, tables=4).collect()}
    assert set(srp) <= set(exact)
    for k, v in srp.items():
        assert v == exact[k]  # identical sims on the pairs it keeps


def test_top_ngrams(spark):
    """Bigram frequencies count per-occurrence (duplicates included),
    ranked (count desc, ngram asc), and compile to a heap top-k — no
    global sort shuffle."""
    from configurable_etl_python_repo_spark.llm.text import top_ngrams

    df = spark.createDataFrame([
        Row(text="a b a b a b"),   # "a b" x3, "b a" x2
        Row(text="a b c"),         # "a b", "b c"
    ])
    got = [(r.ngram, r.n_occurrences) for r in top_ngrams(df, n=2, k=3).collect()]
    assert got == [("a b", 4), ("b a", 2), ("b c", 1)]

    plan = (top_ngrams(df, n=2, k=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort

    uni = [(r.ngram, r.n_occurrences) for r in top_ngrams(df, n=1, k=2).collect()]
    assert uni == [("a", 4), ("b", 4)]  # tie → alphabetical


def test_quantized_ann_recall(spark, sf_dir):
    """int8 round-trip: reconstruction error bounded by scale/2 per
    component, and brute-force top-5 on dequantized vectors keeps high
    recall vs full-precision — the 4x-storage trade is quantified."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    deq = dequantize_embeddings(quantize_embeddings(emb))

    # per-component error <= scale/2 (+ float32 eps)
    err = (
        emb.join(deq.withColumnsRenamed({"embedding": "emb_q"}), "vec_id")
        .select(
            F.array_max(F.zip_with(
                "embedding", "emb_q",
                lambda a, b: F.abs(a.cast("double") - b.cast("double")),
            )).alias("max_err"),
            F.array_max(F.transform(
                "embedding", lambda x: F.abs(x.cast("double"))
            )).alias("absmax"),
        )
        .where(F.col("max_err") > F.col("absmax") / 127.0 / 2.0 + 1e-6)
        .count()
    )
    assert err == 0

    queries = emb.where(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, queries, k=5).collect()}
    quant = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(
                 deq, dequantize_embeddings(quantize_embeddings(queries)),
                 k=5).collect()}
    assert len(exact & quant) / len(exact) >= 0.9


def test_ivf_topk_recall_rises_with_probes(spark, sf_dir):
    """IVF: probing more inverted lists must not lower recall, and even
    few probes beat the floor."""
    from configurable_etl_python_repo_spark.llm.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, queries, k=5).collect()}

    def recall(n_probe):
        approx = {(r.query_id, r.neighbor_id)
                  for r in ivf_topk(emb, queries, k=5, n_centroids=8,
                                    n_probe=n_probe).collect()}
        return len(exact & approx) / len(exact)

    r2, r4 = recall(2), recall(4)
    assert r4 >= r2 >= 0.3
    assert r4 >= 0.5


def test_ivf_kmeans_recall(spark, sf_dir):
    """Data-adaptive (KMeans-centroid) IVF: same monotone recall-vs-probes
    contract as the sampled-centroid variant, and probing every list is
    exhaustive (recall 1.0) — the plumbing loses nothing."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        ivf_topk_kmeans,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, queries, k=5).collect()}

    def recall(n_probe):
        approx = {(r.query_id, r.neighbor_id)
                  for r in ivf_topk_kmeans(emb, queries, k=5, n_centroids=8,
                                           n_probe=n_probe).collect()}
        return len(exact & approx) / len(exact)

    r2, r8 = recall(2), recall(8)
    assert r8 >= r2 >= 0.3
    assert r8 == 1.0  # all lists probed == brute force


def test_srp_arrow_matches_column_math(spark, sf_dir):
    """The vectorized (numpy matmul) SRP hash must agree bucket-for-bucket
    with the Column-math spec the SQL oracles mirror."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        srp_bucket,
        srp_buckets_arrow,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fold = F.array(*[srp_bucket(F.col("embedding"), 64, 8, seed=f"srp{t}")
                     for t in range(4)])
    arrow = srp_buckets_arrow(64, 8, 4)(F.col("embedding"))
    bad = emb.select(fold.alias("f"), arrow.alias("a")).where(
        F.col("f") != F.col("a")
    )
    assert bad.count() == 0


def test_text_stats_edges(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text="   "),
         Row(doc_id=3, text="the cat!")]
    )
    out = {r.doc_id: r for r in text_stats(df).collect()}
    assert out[1].n_words == 0 and out[2].n_words == 0
    assert out[3].n_words == 2
    assert out[3].stopword_ratio == 0.5
    assert out[1].punct_ratio == 0.0


def test_language_id(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="the cat and the dog of the house"),
         Row(doc_id=2, text="der hund und die katze ist nicht da"),
         Row(doc_id=3, text="zzz qqq xxx")]
    )
    out = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_language_id_without_id_column_falls_back(spark):
    """A frame lacking `id_col` takes the stateless formulation instead of
    failing analysis on the score join — identical predictions (both
    variants); regression for the batch-path id requirement."""
    from configurable_etl_python_repo_spark.llm.text import language_id_ngram

    rows = ["the cat and the dog of the house",
            "der hund und die katze ist nicht da",
            "zzz qqq xxx"]
    noid = spark.createDataFrame([Row(text=t) for t in rows])
    got = {r.text: r.lang_pred for r in language_id(noid).collect()}
    assert got == {rows[0]: "en", rows[1]: "de", rows[2]: "und"}
    got_ng = {r.text: r.lang_pred for r in language_id_ngram(noid).collect()}
    withid = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(rows)]
    )
    batch_ng = {r.text: r.lang_pred for r in language_id_ngram(withid).collect()}
    assert got_ng == batch_ng


def test_language_id_ngram(spark):
    """Trigram profiles classify real sentences per language and beat the
    stopword heuristic on short function-word-free text."""
    from configurable_etl_python_repo_spark.llm.text import language_id_ngram

    df = spark.createDataFrame(
        [Row(doc_id=1, text="the thing is that the most interesting question"),
         Row(doc_id=2, text="ich dachte das wunderschoene lied und der wald"),
         Row(doc_id=3, text="les questions que nous passons et ensuite"),
         Row(doc_id=4, text="interesting"),  # no stopword hits, 'ing' scores
         Row(doc_id=5, text="")]
    )
    out = {r.doc_id: r for r in language_id_ngram(df).collect()}
    assert out[1].lang_pred == "en"
    assert out[2].lang_pred == "de"
    assert out[3].lang_pred == "fr"
    assert out[4].lang_pred == "en" and out[4].lang_pred_score > 0
    assert out[5].lang_pred == "und" and out[5].lang_pred_score == 0

    from configurable_etl_python_repo_spark.llm.text import language_id

    stopword = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    assert stopword[4] == "und"  # what the upgrade fixes


def test_winnowing_shared_run_overlaps(spark):
    """Docs sharing a long word run share winnowing fingerprints; unrelated
    docs (almost surely) don't. Whole-doc md5 can't detect the former."""
    from configurable_etl_python_repo_spark.llm.text import (
        winnowing_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame([
        Row(doc_id=1, text=f"intro words {shared} closing remark"),
        Row(doc_id=2, text=f"different opening {shared} other ending"),
        Row(doc_id=3, text="completely unrelated content about engines and "
                           "pipelines running at scale tonight"),
        Row(doc_id=4, text="ab"),  # fewer than k words -> no fingerprints
    ])
    out = winnowing_fingerprints(df, k=3, window=4)
    fps = {}
    for r in out.collect():
        fps.setdefault(r.id, set()).add(r.fp)
    assert fps[1] & fps[2]          # shared run -> shared fingerprints
    assert not (fps[1] & fps[3])    # unrelated -> disjoint
    assert 4 not in fps             # too short -> empty


def test_quality_filter_flags(spark):
    from configurable_etl_python_repo_spark.llm.text import quality_filter

    good = ("the quick brown fox jumps over the lazy dog and then the fox "
            "rests in the shade of a tall tree for a while")
    df = spark.createDataFrame([
        Row(doc_id=1, text=good),
        Row(doc_id=2, text="short text"),                       # too few words
        Row(doc_id=3, text="!!!! ???? **** ((()))) [[[]]] " + good),  # punct-heavy
        Row(doc_id=4, text="zz qq xx ww vv rr tt yy uu ii oo"), # no stopwords
    ])
    out = {r.doc_id: r for r in quality_filter(df).collect()}
    assert out[1].keep is True
    assert out[2].keep is False and out[2].ok_word_count is False
    assert out[3].keep is False and out[3].ok_punct is False
    assert out[4].keep is False and out[4].ok_stopwords is False


def test_multimodal_feature_plumbing(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, payload=b"hello world"), Row(doc_id=2, payload=b"")]
    )
    out = {r.doc_id: r for r in extract_features(df, fake_decode=True).collect()}
    assert out[1].n_bytes == 11
    import hashlib

    assert out[1].payload_md5 == hashlib.md5(b"hello world").hexdigest()
    assert len(out[1].features) == 8
    assert out[2].n_bytes == 0


def test_multimodal_strict_decode_matches_codec_availability(spark):
    """Strict mode rides the import-try seam: without Pillow it raises
    NotImplementedError naming the codec; with Pillow installed it
    decodes for real (zero-diff swap — same call, new behavior)."""
    from configurable_etl_python_repo_spark.llm.multimodal import (
        _image_codec,
    )

    Image = _image_codec()
    if Image is None:
        df = spark.createDataFrame([Row(doc_id=1, payload=b"x")])
        with pytest.raises(Exception, match="Pillow"):
            extract_features(df, fake_decode=False).collect()
    else:
        import io

        buf = io.BytesIO()
        Image.new("L", (64, 32), color=128).save(buf, format="PNG")
        df = spark.createDataFrame([Row(doc_id=1, payload=buf.getvalue())])
        out = extract_features(df, fake_decode=False).collect()[0]
        assert out.features[1] == 64.0 and out.features[2] == 32.0


def _stub_pil(payloads_are="dims"):
    """A PIL.Image-shaped module built from closures (cloudpickle ships
    it by value into the Python workers — a monkeypatch of the module
    attribute would NOT survive the worker boundary). Payloads are
    'W|H' byte strings; save() writes 'STUB:WxH' so the strict path's
    re-encode md5 is predictable."""
    from types import SimpleNamespace

    def make_img(w, h):
        img = SimpleNamespace()
        img.size = (w, h)
        img.format = "PNG"
        img.convert = lambda mode: img
        img.resize = lambda wh: make_img(*wh)
        img.getdata = lambda: [51] * (img.size[0] * img.size[1])
        img.save = lambda buf, format=None: buf.write(
            f"STUB:{img.size[0]}x{img.size[1]}".encode()
        )
        return img

    def open_(bio):
        w, h = bio.read().decode().split("|")
        return make_img(int(w), int(h))

    return SimpleNamespace(open=open_)


def test_strict_resize_wiring_with_injected_codec(spark):
    """The REAL-decode path (fake_decode=False) runs end-to-end in CI via
    an injected PIL-shaped codec: source dims come from the decode, the
    clamp math matches the fake-path contract, and the resized md5 is
    the re-encoded payload's. This pins the wiring so installing Pillow
    only swaps the codec, not the code path."""
    import hashlib

    from configurable_etl_python_repo_spark.llm.multimodal import (
        resize_images,
    )

    df = spark.createDataFrame([
        Row(doc_id=1, payload=b"2048|512"),   # landscape, downscale
        Row(doc_id=2, payload=b"100|80"),     # under max_side, untouched
        Row(doc_id=3, payload=b"10000|3"),    # extreme aspect: clamp to >=1
    ])
    out = {r.doc_id: r for r in
           resize_images(df, max_side=512, fake_decode=False,
                         codec=_stub_pil()).collect()}
    assert (out[1].src_width, out[1].src_height) == (2048, 512)
    assert (out[1].out_width, out[1].out_height) == (512, 128)
    assert out[1].resized_md5 == hashlib.md5(b"STUB:512x128").hexdigest()
    assert (out[2].out_width, out[2].out_height) == (100, 80)
    assert (out[3].out_width, out[3].out_height) == (512, 1)  # clamped

    from configurable_etl_python_repo_spark.llm.multimodal import (
        extract_features,
    )

    feats = extract_features(
        spark.createDataFrame([Row(doc_id=7, payload=b"64|32")]),
        fake_decode=False, codec=_stub_pil(),
    ).collect()[0]
    assert feats.features[1] == 64.0 and feats.features[2] == 32.0
    # 2x2 thumbnail px (float32 storage -> approx)
    assert feats.features[4:] == pytest.approx([51.0 / 255.0] * 4, abs=1e-6)


def test_strict_resize_with_real_pillow(spark):
    """When Pillow IS importable (optional-PIL environment), the genuine
    decode runs and the resize metadata obeys the same contract the
    fake path and the stub-codec test pin. Skips in codec-free CI."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import hashlib
    import io

    from configurable_etl_python_repo_spark.llm.multimodal import (
        resize_images,
    )

    def png(w, h):
        buf = io.BytesIO()
        PIL_Image.new("RGB", (w, h), color=(10, 20, 30)).save(
            buf, format="PNG"
        )
        return buf.getvalue()

    df = spark.createDataFrame([
        Row(doc_id=1, payload=png(1024, 256)),
        Row(doc_id=2, payload=png(64, 48)),
    ])
    out = {r.doc_id: r for r in
           resize_images(df, max_side=512, fake_decode=False).collect()}
    assert (out[1].src_width, out[1].src_height) == (1024, 256)
    assert (out[1].out_width, out[1].out_height) == (512, 128)
    assert (out[2].out_width, out[2].out_height) == (64, 48)
    # the md5 tags the actually re-encoded image deterministically
    img = PIL_Image.open(io.BytesIO(png(1024, 256)))
    buf = io.BytesIO()
    img.resize((512, 128)).save(buf, format="PNG")
    assert out[1].resized_md5 == hashlib.md5(buf.getvalue()).hexdigest()


def test_resize_preserves_aspect_and_caps_side(spark):
    from configurable_etl_python_repo_spark.llm.multimodal import resize_images

    df = spark.createDataFrame(
        [Row(doc_id=i, payload=f"img{i}".encode()) for i in range(50)]
    )
    out = resize_images(df, max_side=512).collect()
    assert len(out) == 50
    for r in out:
        assert max(r.out_width, r.out_height) <= 512
        assert r.out_width <= r.src_width and r.out_height <= r.src_height
        if max(r.src_width, r.src_height) <= 512:
            assert (r.out_width, r.out_height) == (r.src_width, r.src_height)
        else:  # integer aspect: floor(src_w * 512 / max_side) both axes
            side = max(r.src_width, r.src_height)
            assert r.out_width == r.src_width * 512 // side
            assert r.out_height == r.src_height * 512 // side


def test_sample_frames_shape_and_cap(spark):
    from configurable_etl_python_repo_spark.llm.multimodal import sample_frames

    df = spark.createDataFrame(
        [Row(doc_id=i, payload=f"vid{i}".encode()) for i in range(20)]
    )
    out = sample_frames(df, every_ms=1000, max_frames=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(20))
    for doc_id, frames in by_doc.items():
        assert 1 <= len(frames) <= 8
        idxs = sorted(f.frame_idx for f in frames)
        assert idxs == list(range(len(frames)))  # dense 0..n-1
        for f in frames:
            assert f.frame_ms == f.frame_idx * 1000
    from configurable_etl_python_repo_spark.llm.multimodal import (
        _video_codec,
    )

    if _video_codec() is None:  # no PyAV in this container
        with pytest.raises(Exception, match="PyAV"):
            sample_frames(df, fake_decode=False).collect()


def test_semantic_dedup_clusters_bound_pairwise_and_keep_first(spark):
    """SemDeDup: identical vectors in one cluster dedup to the lowest
    id; near-orthogonal vectors all survive; vectors in DIFFERENT
    clusters are never compared (the scale contract)."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        semantic_dedup,
    )

    dim = 8
    def v(i, scale=1.0):
        vec = [0.0] * dim
        vec[i % dim] = float(scale)
        return vec

    rows = [
        (1, v(0)), (2, v(0, 0.99)),   # near-identical pair -> keep 1
        (3, v(1)), (4, v(2)),         # orthogonal -> kept
        (5, v(0, 1.01)),              # third member of the dup group
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in
           semantic_dedup(df, threshold=0.95, n_centroids=3,
                          n_iter=1).collect()}
    assert out[1]["kept"] is True and out[1]["dup_of"] is None
    assert out[2]["kept"] is False and out[2]["dup_of"] == 1
    assert out[5]["kept"] is False and out[5]["dup_of"] == 1
    assert out[3]["kept"] is True and out[4]["kept"] is True

    # determinism: repartitioning changes nothing (Lloyd + assignment +
    # pairwise are all partition-invariant by construction)
    again = {r["vec_id"]: (r["kept"], r["dup_of"]) for r in semantic_dedup(
        df.repartition(5), threshold=0.95, n_centroids=3, n_iter=1
    ).collect()}
    assert again == {k: (r["kept"], r["dup_of"]) for k, r in out.items()}


def test_semantic_dedup_as_config_op(spark, sf_dir):
    from configurable_etl_python_repo_spark.plans import (
        Engine, OpSpec, ScanSpec,
    )

    eng = Engine(spark)
    eng.run_scan(ScanSpec("emb", "parquet", f"{sf_dir}/embeddings.parquet"))
    out = eng.run_op(OpSpec(
        "SEMANTIC DEDUP", "d", ["emb"],
        {"threshold": 0.4, "n_centroids": 4, "id_column": "vec_id"},
    ))
    rows = out.collect()
    assert {"vec_id", "cid", "dup_of", "kept"} <= set(out.columns)
    assert len(rows) == spark.read.parquet(
        f"{sf_dir}/embeddings.parquet").count()


def test_semantic_dedup_auto_centroids_scale_policy(spark, sf_dir):
    """n_centroids=None derives ceil(N / target_cluster_size): constant
    expected cluster size as the corpus grows — the SemDeDup scale
    policy as the DEFAULT, with the driver-state cap applied."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    out = semantic_dedup(emb, threshold=0.4, target_cluster_size=50,
                         n_iter=1)
    n_clusters = out.select("cid").distinct().count()
    assert n_clusters <= -(-n // 50)  # at most the derived centroid count
    assert out.count() == n
    # the cap clamps a tiny target
    capped = semantic_dedup(emb, threshold=0.4, target_cluster_size=1,
                            n_iter=1, max_centroids=4)
    assert capped.select("cid").distinct().count() <= 4


def test_semantic_dedup_round_digits_forwarded_to_clustering(spark, sf_dir):
    """With a NON-default round_digits the whole pipeline — Lloyd means
    included — must round consistently: semantic_dedup passes it through
    as lloyd_centroids' mean_digits, so its clusters are exactly those of
    lloyd_centroids(mean_digits=3) + the digits=3 quantizer (the
    documented end-to-end determinism/SQL-replay contract). On the
    fixture, 6-digit means move some vectors to another cluster."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        ivf_assignments_arrow, lloyd_centroids, semantic_dedup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign = ivf_assignments_arrow(
        lloyd_centroids(emb, 6, 2, mean_digits=3), n_best=1, digits=3
    )
    want = {r[0]: r[1] for r in emb.select(
        "vec_id", assign(F.col("embedding"))[0]).collect()}
    got = {r["vec_id"]: r["cid"] for r in semantic_dedup(
        emb, threshold=0.4, n_centroids=6, n_iter=2,
        round_digits=3).collect()}
    assert got == want


def test_simhash_pairs_matches_brute_force(spark, sf_dir):
    """The pigeonhole band join is EXACT for the fingerprint metric:
    identical pair set (with distances) as brute-force all-pairs
    hamming over the same 64-bit (hi/lo) fingerprints, at several k
    (including k=7, where bands span 2 nibbles)."""
    from itertools import combinations

    from configurable_etl_python_repo_spark.llm.dedup import (
        simhash64,
        simhash_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    fp = {r.id: (r.sh_hi, r.sh_lo) for r in simhash64(docs).collect()}

    def ham(a, b):
        return (bin(fp[a][0] ^ fp[b][0]).count("1")
                + bin(fp[a][1] ^ fp[b][1]).count("1"))

    for k in (0, 3, 7):
        brute = {
            (a, b, ham(a, b))
            for a, b in combinations(sorted(fp), 2)
            if ham(a, b) <= k
        }
        got = {(r.id_a, r.id_b, r.hamming)
               for r in simhash_pairs(docs, max_hamming=k).collect()}
        assert got == brute, f"k={k}"
    # near-identical docs (one-word delta) land within a small radius
    near = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog "
                           "again and again in the morning light"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat "
                           "again and again in the morning light"),
    ])
    pairs = simhash_pairs(near, max_hamming=15).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]

    import pytest

    with pytest.raises(ValueError, match="max_hamming"):
        simhash_pairs(near, max_hamming=16).collect()
    # caller-supplied fingerprints keyed by the caller's id_col (the
    # natural shape) are normalized — and a wrong-shape frame errors
    fps = simhash64(near).withColumnRenamed("id", "doc_id")
    reused = simhash_pairs(near, id_col="doc_id", fingerprints=fps,
                           max_hamming=15)
    assert [(r.id_a, r.id_b) for r in reused.collect()] == [(1, 2)]
    with pytest.raises(ValueError, match="sh_hi"):
        simhash_pairs(near, fingerprints=fps.drop("sh_hi"))


def test_minhash_grouped_equals_same_group_subset(spark):
    """group_cols pins (memory of the grouped-op recipe): grouped ==
    ungrouped ∩ same-group (null-safe: NULL is a real group), and
    grouped == union of per-group ungrouped runs — the two identities
    the band-key fold must preserve."""
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog", g="en"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat", g="en"),
        Row(doc_id=3, text="the quick brown fox jumps over the lazy dog", g="fr"),
        Row(doc_id=4, text="the quick brown fox jumps over the lazy dog", g=None),
        Row(doc_id=5, text="the quick brown fox jumps over the lazy dog", g=None),
        Row(doc_id=6, text="completely different content about spark engines", g="en"),
    ]
    df = spark.createDataFrame(rows)
    kw = dict(n=3, bands=8, rows_per_band=2, threshold=0.3)

    def pairs(frame, **extra):
        return {(r.id_a, r.id_b, r.inter, r.size_a, r.size_b)
                for r in minhash_lsh_pairs(frame, **kw, **extra).collect()}

    ungrouped = pairs(df)
    grouped = pairs(df, group_cols=["g"])
    # identity 1: ungrouped ∩ same-group (None == None pairs up)
    gmap = {r.doc_id: r.g for r in rows}
    assert grouped == {p for p in ungrouped if gmap[p[0]] == gmap[p[1]]}
    # the cross-group near-dups really existed (the test isn't vacuous)
    assert (1, 3) in {(a, b) for a, b, *_ in ungrouped}
    assert (1, 3) not in {(a, b) for a, b, *_ in grouped}
    # NULL group pairs within itself, never with a real group
    flat = {(a, b) for a, b, *_ in grouped}
    assert (4, 5) in flat
    assert not {(1, 4), (3, 4)} & flat
    # identity 2: grouped == union of per-group ungrouped runs
    per_group = set()
    for g in {"en", "fr", None}:
        sub = df.where(F.col("g").eqNullSafe(F.lit(g)))
        per_group |= pairs(sub)
    assert grouped == per_group
    # string form of group_cols and the config op spell it the same
    assert pairs(df, group_cols="g") == grouped


def test_simhash_grouped_equals_same_group_subset(spark):
    """d20's identity, same pins as the minhash variant (shared
    _fold_group_keys): grouped == ungrouped ∩ same-group with NULL a
    real group, and == union of per-group runs."""
    from configurable_etl_python_repo_spark.llm.dedup import (
        simhash_pairs,
    )

    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog", g="a"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat", g="a"),
        Row(doc_id=3, text="the quick brown fox jumps over the lazy dog", g="b"),
        Row(doc_id=4, text="the quick brown fox jumps over the lazy dog", g=None),
        Row(doc_id=5, text="the quick brown fox jumps over the lazy dog", g=None),
    ]
    df = spark.createDataFrame(rows)

    def pairs(frame, **extra):
        return {(r.id_a, r.id_b, r.hamming)
                for r in simhash_pairs(frame, max_hamming=3,
                                       **extra).collect()}

    ungrouped = pairs(df)
    grouped = pairs(df, group_cols="g")
    gmap = {r.doc_id: r.g for r in rows}
    assert grouped == {p for p in ungrouped if gmap[p[0]] == gmap[p[1]]}
    flat = {(a, b) for a, b, _ in grouped}
    assert (1, 3) not in flat and (4, 5) in flat  # cross-group out, NULL pairs
    per_group = set()
    for g in {"a", "b", None}:
        per_group |= pairs(df.where(F.col("g").eqNullSafe(F.lit(g))))
    assert grouped == per_group


def test_fold_group_keys_adversarial_bytes_cannot_conflate_groups(
    spark,
):
    """The r11 ADVICE regression: the band-key fold md5-digests each
    group value, so in-band bytes can't forge group equality —
    a value that IS the old NULL sentinel ('\\x00') stays distinct
    from genuine NULL, and a '\\x1f' inside a value can't shift the
    multi-column boundary (('a\\x1fb','c') vs ('a','b\\x1fc')).
    Grouping is enforced only inside the band key (no post-filter),
    so any conflation would emit cross-group pairs silently."""
    text = "the quick brown fox jumps over the lazy dog"
    rows = [
        # boundary-shift attack on a two-column group
        Row(doc_id=1, text=text, g1="a\x1fb", g2="c"),
        Row(doc_id=2, text=text, g1="a", g2="b\x1fc"),
        # sentinel forgery: literal '\x00' vs real NULL
        Row(doc_id=3, text=text, g1="\x00", g2="z"),
        Row(doc_id=4, text=text, g1=None, g2="z"),
        # and genuine same-group pairs still pair (not vacuous)
        Row(doc_id=5, text=text, g1="a\x1fb", g2="c"),
        Row(doc_id=6, text=text, g1=None, g2="z"),
    ]
    df = spark.createDataFrame(rows)
    kw = dict(n=3, bands=8, rows_per_band=2, threshold=0.3,
              group_cols=["g1", "g2"])
    got = {(r.id_a, r.id_b)
           for r in minhash_lsh_pairs(df, **kw).collect()}
    assert got == {(1, 5), (4, 6)}

    from configurable_etl_python_repo_spark.llm.dedup import (
        simhash_pairs,
    )

    sh = {(r.id_a, r.id_b)
          for r in simhash_pairs(df, max_hamming=3,
                                 group_cols=["g1", "g2"]).collect()}
    assert sh == {(1, 5), (4, 6)}


def test_maxsim_topk_exact_contract(spark, sf_dir):
    """MaxSim == hand-computed sum-of-max-cosines: fold embeddings
    into 4-token docs, recompute one query's scores offline in
    float64, and pin self-exclusion + the smaller-doc-id tiebreak."""
    import numpy as np

    from configurable_etl_python_repo_spark.llm.similarity import (
        maxsim_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mv = emb.select(
        F.expr("vec_id div 4").alias("doc_id"),
        (F.col("vec_id") % 4).alias("token_id"),
        "embedding",
    )
    q = mv.where(F.col("doc_id") == 0)
    out = maxsim_topk(mv, q, k=3).collect()
    assert len(out) == 3
    assert all(r.query_id == 0 and r.doc_id != 0 for r in out)
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3]
    vecs = {
        (r.doc_id, r.token_id): np.array(r.embedding, np.float64)
        for r in mv.where(F.col("doc_id") < 40).collect()
    }
    docs = {}
    for (d, t), v in vecs.items():
        docs.setdefault(d, []).append(v)

    def cos(a, b):
        return round(float(a @ b)
                     / (np.linalg.norm(a) * np.linalg.norm(b)), 6)

    qtoks = docs[0]
    want = {}
    for d, toks in docs.items():
        if d == 0:
            continue
        want[d] = sum(max(cos(qt, ct) for ct in toks) for qt in qtoks)
    for r in out:
        if r.doc_id in want:
            assert r.score == pytest.approx(want[r.doc_id], abs=1e-9)
    # the engine's top-1 is the true argmax over the offline scores
    # (query 0's neighbors all live inside the first 40 docs here)
    best = min(sorted(want, key=lambda d: (-want[d], d))[:1])
    assert out[0].doc_id == best or any(
        r.doc_id == best and r.rank == 1 for r in out)


def test_maxsim_srp_candidates_recall_and_validation(spark, sf_dir):
    """The planes>0 scale path: SRP token buckets generate doc
    candidates, exact MaxSim prices them — recall vs the exact path
    must be well off the floor (multi-table SRP), and every returned
    pair must also exist in the exact ranking universe. planes without
    dim is refused."""
    from configurable_etl_python_repo_spark.llm.similarity import (
        maxsim_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mv = emb.select(
        F.expr("vec_id div 4").alias("doc_id"),
        (F.col("vec_id") % 4).alias("token_id"),
        "embedding",
    )
    q = mv.where(F.col("doc_id") < 6)
    exact = {(r.query_id, r.doc_id)
             for r in maxsim_topk(mv, q, k=5).collect()}
    approx = {(r.query_id, r.doc_id)
              for r in maxsim_topk(mv, q, k=5, planes=4, tables=8,
                                   dim=64).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    with pytest.raises(ValueError, match="dim"):
        maxsim_topk(mv, q, k=5, planes=4)


def test_maxsim_config_op(spark, sf_dir):
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mv = emb.select(
        F.expr("vec_id div 4").alias("doc_id"),
        (F.col("vec_id") % 4).alias("token_id"),
        "embedding",
    )
    eng = Engine(spark)
    eng.bind("corpus", mv)
    eng.bind("queries", mv.where(F.col("doc_id") < 3))
    out = eng.run_op(OpSpec("MAXSIM TOPK", "o", ["corpus", "queries"],
                            {"k": 4}))
    rows = out.collect()
    assert len(rows) == 12
    assert set(out.columns) == {"query_id", "doc_id", "rank", "score"}


def test_cogroup_pair_dots_bit_identical(spark, sf_dir):
    """r14 optimization seam: the cogrouped matrix scorer must produce
    the EXACT doubles of the Column formulation (_with_norm + _dot) for
    every pair — same left-to-right fold order, same norm floor — on
    real fixture vectors grouped by a hash key, including a key-dtype
    mismatch (int vs long) and the string-id path."""
    from pyspark.sql import functions as F

    from configurable_etl_python_repo_spark.llm.similarity import (
        _dot,
        _norm,
        cogroup_pair_dots,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    # int key on one side, long on the other — the silent-misalignment
    # hazard the helper normalizes away
    q = emb.select(
        F.pmod("vec_id", F.lit(5)).cast("int").alias("cid"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("qv"),
    )
    c = emb.select(
        F.pmod("vec_id", F.lit(5)).cast("long").alias("cid"),
        F.concat(F.lit("d"), F.col("vec_id")).alias("id_b"),
        F.col("embedding").alias("cv"),
    )
    fast = cogroup_pair_dots(q, c)
    slow = (
        q.withColumn("cid", F.col("cid").cast("long"))
        .join(c, "cid")
        .select(
            "id_a", "id_b",
            _dot(F.col("qv"), F.col("cv")).alias("d"),
            _norm(F.col("qv")).alias("nq"),
            _norm(F.col("cv")).alias("nc"),
        )
    )
    j = fast.withColumnsRenamed(
        {"d": "d1", "nq": "nq1", "nc": "nc1"}
    ).join(slow, ["id_a", "id_b"], "full_outer")
    assert j.count() == slow.count() == 300 * 60  # 5 groups of 60x60
    bad = j.where(
        F.col("d").isNull() | F.col("d1").isNull()
        | (F.col("d") != F.col("d1"))
        | (F.col("nq") != F.col("nq1")) | (F.col("nc") != F.col("nc1"))
    ).count()
    assert bad == 0
