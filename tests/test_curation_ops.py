"""Round-4 curation operators: PII scrubbing, repetition quality,
sub-document span dedup, domain-mixture resampling — semantics pinned
against hand-computed / pure-Python models (the catalog oracles cover the
DuckDB parity; these cover the edge semantics oracles can't isolate)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from configurable_etl_python_repo_spark.llm.dedup import dedup_spans
from configurable_etl_python_repo_spark.llm.sampling import mixture_sample
from configurable_etl_python_repo_spark.llm.scrub import pii_scrub
from configurable_etl_python_repo_spark.llm.text import repetition_stats
from configurable_etl_python_repo_spark.plans import Engine, OpSpec, ScanSpec


def test_pii_scrub_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "contact a@b.co or c.d@e.org, ssn 123-45-6789, "
                "ip 1.2.3.4, call 555-123-4567 or 555.123.4567"),
            (2, "clean text with no identifiers at all"),
            (3, ""),
        ],
        ["id", "text"],
    )
    rows = {r["id"]: r for r in pii_scrub(df).collect()}
    r1 = rows[1]
    assert (r1["pii_email"], r1["pii_ssn"], r1["pii_ipv4"], r1["pii_phone"]) \
        == (2, 1, 1, 2)
    assert r1["pii_total"] == 6
    assert r1["text_scrubbed"] == (
        "contact <EMAIL> or <EMAIL>, ssn <SSN>, "
        "ip <IP>, call <PHONE> or <PHONE>"
    )
    assert rows[2]["pii_total"] == 0
    assert rows[2]["text_scrubbed"] == rows[2]["text"]
    assert rows[3]["pii_total"] == 0


def test_pii_patterns_do_not_cross_match(spark):
    """An SSN is not a phone, a phone is not an IP, and vice versa."""
    df = spark.createDataFrame(
        [(1, "123-45-6789"), (2, "555-123-4567"), (3, "10.0.0.1")],
        ["id", "text"],
    )
    rows = {r["id"]: r for r in pii_scrub(df).collect()}
    assert rows[1]["pii_ssn"] == 1 and rows[1]["pii_phone"] == 0
    assert rows[2]["pii_phone"] == 1 and rows[2]["pii_ssn"] == 0 \
        and rows[2]["pii_ipv4"] == 0
    assert rows[3]["pii_ipv4"] == 1 and rows[3]["pii_phone"] == 0


def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),        # 4 words, 1 distinct; 3 grams all "a a"
            (2, "a b c"),          # all distinct; grams "a b", "b c"
            (3, "x"),              # single word -> no grams
            (4, "go go stop go go"),  # grams: "go go" x2, "go stop",
                                      # "stop go" -> top 2/4, dup 1/4
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["dup_word_frac"] == 0.75
    assert rows[1]["top_ngram_frac"] == 1.0
    assert rows[1]["dup_ngram_frac"] == 2 / 3
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["top_ngram_frac"] == 0.5
    assert rows[2]["dup_ngram_frac"] == 0.0
    assert rows[3]["n_words"] == 1
    assert rows[3]["top_ngram_frac"] == 0.0  # no grams -> coalesced 0
    assert rows[4]["dup_word_frac"] == 3 / 5
    assert rows[4]["top_ngram_frac"] == 0.5
    assert rows[4]["dup_ngram_frac"] == 0.25


def test_dedup_spans_keep_first_and_reassembly(spark):
    w20 = " ".join(f"w{i}" for i in range(20))
    first5 = " ".join(f"w{i}" for i in range(5))
    df = spark.createDataFrame(
        [
            (1, w20),                          # 4 spans at k=5, all novel
            (2, w20),                          # exact dup -> vanishes
            (3, first5 + " x1 x2 x3 x4 x5"),   # span 1 dups doc 1's
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_spans(df, k=5).collect()}
    assert set(out) == {1, 3}
    assert out[1]["text_deduped"] == w20
    assert (out[1]["n_spans"], out[1]["n_spans_kept"]) == (4, 4)
    assert out[3]["text_deduped"] == "x1 x2 x3 x4 x5"
    assert (out[3]["n_spans"], out[3]["n_spans_kept"]) == (2, 1)


def test_dedup_spans_order_within_doc_preserved(spark):
    # shared boilerplate span occurs at DIFFERENT span indexes: kept only
    # where it appears first (doc order), removed from the later doc
    boiler = " ".join(f"b{i}" for i in range(5))
    df = spark.createDataFrame(
        [
            (1, boiler + " m0 m1 m2 m3 m4"),
            (2, "z0 z1 z2 z3 z4 " + boiler),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_spans(df, k=5).collect()}
    assert out[1]["text_deduped"] == boiler + " m0 m1 m2 m3 m4"
    assert out[2]["text_deduped"] == "z0 z1 z2 z3 z4"


def test_dedup_lines_boilerplate_removed_everywhere(spark):
    """A line in >= min_docs distinct docs is dropped from ALL docs
    (RefinedWeb drop-everywhere, not keep-first); matching is
    case-insensitive on trimmed lines, output preserves original case;
    blank lines are neither counted nor rebuilt; docs that are all
    boilerplate vanish; per-doc repetition alone never triggers."""
    import pytest

    from configurable_etl_python_repo_spark.llm.dedup import dedup_lines

    df = spark.createDataFrame(
        [
            (1, "Unique opening line.\n  Subscribe NOW  \n\nBody one."),
            (2, "Another story.\nsubscribe now\nBody two."),
            (3, "SUBSCRIBE NOW"),                 # all boilerplate
            (4, "repeat me\nrepeat me\nrepeat me"),  # one doc only
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["text_deduped"] == "Unique opening line.\nBody one."
    assert (out[1]["n_lines"], out[1]["n_lines_kept"]) == (3, 2)
    assert out[2]["text_deduped"] == "Another story.\nBody two."
    # within-doc repetition is NOT corpus boilerplate (1 distinct doc)
    assert out[4]["text_deduped"] == "repeat me\nrepeat me\nrepeat me"
    assert (out[4]["n_lines"], out[4]["n_lines_kept"]) == (3, 3)
    # min_docs=4: nothing reaches 4 distinct docs, everything survives
    all_kept = {r["doc_id"]: r
                for r in dedup_lines(df, min_docs=4).collect()}
    assert set(all_kept) == {1, 2, 3, 4}
    assert all_kept[3]["text_deduped"] == "SUBSCRIBE NOW"
    with pytest.raises(ValueError, match="min_docs"):
        dedup_lines(df, min_docs=1)


def test_dedup_lines_as_config_op(spark):
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    eng = Engine(spark)
    eng.bind("docs", spark.createDataFrame(
        [(1, "keep\nshared"), (2, "also\nshared")], ["doc_id", "text"]))
    out = eng.run_op(OpSpec("DEDUP LINES", "d", ["docs"], {}))
    got = {r["doc_id"]: r["text_deduped"] for r in out.collect()}
    assert got == {1: "keep", 2: "also"}


def test_dedup_repeated_lines_keep_first_within_doc(spark):
    """Within-doc repeats keep ONLY the first occurrence (its original
    case), matching is case-insensitive on trimmed lines, blank lines
    are neither counted nor rebuilt, cross-doc sharing alone never
    triggers, and a doc of only blank lines vanishes."""
    from configurable_etl_python_repo_spark.llm.dedup import (
        dedup_repeated_lines,
    )

    df = spark.createDataFrame(
        [
            (1, "Menu Home\nStory begins.\n  menu home \n\nMENU HOME"),
            (2, "Menu Home\nDifferent doc."),   # cross-doc only: kept
            (3, "solo line"),
            (4, "\n  \n"),                      # all blank -> vanishes
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_repeated_lines(df).collect()}
    assert set(out) == {1, 2, 3}
    # first occurrence's case wins; repeats (any case/padding) dropped
    assert out[1]["text_deduped"] == "Menu Home\nStory begins."
    assert (out[1]["n_lines"], out[1]["n_lines_kept"]) == (4, 2)
    # the same line in another doc is untouched (intra-doc scope)
    assert out[2]["text_deduped"] == "Menu Home\nDifferent doc."
    assert (out[2]["n_lines"], out[2]["n_lines_kept"]) == (2, 2)
    assert out[3]["text_deduped"] == "solo line"


def test_dedup_repeated_lines_as_config_op(spark):
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    eng = Engine(spark)
    eng.bind("docs", spark.createDataFrame(
        [(1, "twice\nbody\ntwice")], ["doc_id", "text"]))
    out = eng.run_op(OpSpec("DEDUP REPEATED LINES", "d", ["docs"], {}))
    got = {r["doc_id"]: r["text_deduped"] for r in out.collect()}
    assert got == {1: "twice\nbody"}


def test_dedup_substrings_catches_shifted_duplicates(spark):
    """The aligned d8 pass misses a duplicated passage off the k-word
    alignment; dedup_substrings catches it at ANY shift and removes
    EXACTLY the duplicated words (boundary grams differ in context)."""
    from configurable_etl_python_repo_spark.llm.dedup import (
        dedup_substrings,
    )

    passage = " ".join(f"p{i}" for i in range(12))
    df = spark.createDataFrame(
        [
            (1, passage),                       # canonical copy
            (2, "zzz " + passage),              # one-word shift
            (3, "a0 a1 a2 " + passage + " t0"),  # mid-doc, 3-word shift
            (4, passage),                       # exact dup -> disappears
            (5, "short doc"),                   # < k words: untouched
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_substrings(df, k=10).collect()}
    assert set(out) == {1, 2, 3, 5}
    assert out[1]["text_deduped"] == passage
    assert (out[1]["n_words"], out[1]["n_words_kept"]) == (12, 12)
    assert out[2]["text_deduped"] == "zzz"
    assert (out[2]["n_words"], out[2]["n_words_kept"]) == (13, 1)
    assert out[3]["text_deduped"] == "a0 a1 a2 t0"
    assert out[5]["text_deduped"] == "short doc"
    # the aligned pass keeps BOTH shifted copies whole (the gap d10 closes)
    aligned = {r["doc_id"]: r for r in dedup_spans(df, k=10).collect()}
    assert aligned[2]["text_deduped"] == "zzz " + passage


def test_dedup_substrings_cost_bound_k_times_aligned(spark, sf_dir):
    """Stated cost bound: the every-position gram relation has one row
    per word — at most k x the aligned pass's span rows (dedup_spans
    builds ceil(n/k) spans per doc), and no stage downstream exceeds
    it. Verified by counting both intermediate relations."""
    from pyspark.sql import Window
    from configurable_etl_python_repo_spark.llm.dedup import _words

    k = 10
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        F.col("doc_id"), F.posexplode(_words(F.col("text"))).alias("pos", "w")
    )
    gram_rows = words.count()  # d10's per-position relation, 1 row/word
    span_rows = words.where(F.col("pos") % k == 0).count()  # d8's spans
    assert gram_rows <= k * span_rows


def test_dedup_substrings_as_config_op(spark):
    eng = Engine(spark)
    df = spark.createDataFrame(
        [(1, " ".join(f"x{i}" for i in range(10))),
         (2, " ".join(f"x{i}" for i in range(10)))],
        ["doc_id", "text"],
    )
    eng.bind("docs", df)
    out = eng.run_op(OpSpec("DEDUP SUBSTRINGS", "d", ["docs"],
                            {"id_column": "doc_id", "k": 10}))
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [1]  # exact dup vanished


def test_surprisal_score_hand_computed(spark):
    """Self-scored unigram surprisal: counts a=3, b=1 -> N=4; doc 1 =
    'a a a' scores ln(4/3), doc 2 = 'b' scores ln(4/1) (rounded to 6
    decimals per word before the exact decimal sum)."""
    import math

    from configurable_etl_python_repo_spark.llm.text import surprisal_score

    df = spark.createDataFrame(
        [(1, "a a a"), (2, "b"), (3, "   ")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in surprisal_score(df).collect()}
    assert set(out) == {1, 2}  # wordless doc absent, documented
    assert out[1]["n_words"] == 3
    assert out[1]["avg_surprisal"] == round(round(math.log(4 / 3), 6), 6)
    assert out[2]["avg_surprisal"] == round(math.log(4.0), 6)
    # rare-word docs score strictly higher than common-word docs
    assert out[2]["avg_surprisal"] > out[1]["avg_surprisal"]


def test_surprisal_score_reference_corpus_smoothed(spark):
    """Scoring against a SEPARATE reference LM: OOV words get the finite
    Laplace-maximal surprisal, in-vocab common words score low."""
    import math

    from configurable_etl_python_repo_spark.llm.text import surprisal_score

    lm = spark.createDataFrame(
        [(1, "the the the cat")], ["doc_id", "text"]
    )  # counts: the=3, cat=1; N=4, V=2
    score = spark.createDataFrame(
        [(10, "the"), (11, "zzzz")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["avg_surprisal"]
        for r in surprisal_score(score, lm_df=lm, alpha=1.0).collect()
    }
    denom = 4 + 1.0 * (2 + 1)
    assert out[10] == round(math.log(denom / (3 + 1.0)), 6)
    assert out[11] == round(math.log(denom / (0 + 1.0)), 6)  # OOV max
    assert out[11] > out[10]


def test_surprisal_empty_reference_lm_matches_stream_dual(spark):
    """An EMPTY reference lm_df: every word is OOV, surprisal is the
    finite Laplace maximum ln((0 + a*(0+1)) / a) = ln(1) = 0 with
    alpha=1 and N=V=0 — NOT NULL (the zero-row SUM must coalesce to 0
    exactly as surprisal_lm_table's streaming dual does)."""
    import math

    from configurable_etl_python_repo_spark.llm.text import (
        surprisal_lm_table,
        surprisal_score,
    )

    empty_lm = spark.createDataFrame([], schema="doc_id long, text string")
    docs = spark.createDataFrame([(1, "any words here")], ["doc_id", "text"])
    (row,) = surprisal_score(docs, lm_df=empty_lm, alpha=2.0).collect()
    expected = round(math.log((0 + 2.0 * 1) / 2.0), 6)  # = 0.0
    assert row["avg_surprisal"] == expected
    assert row["avg_surprisal"] is not None
    # the streaming dual's OOV surprisal agrees (micro-nats)
    vocab, _, oov = surprisal_lm_table(empty_lm, alpha=2.0)
    assert vocab == [] and oov == round(expected * 1_000_000)


def test_surprisal_as_config_op_two_inputs(spark):
    eng = Engine(spark)
    eng.bind("lm", spark.createDataFrame([(1, "x x y")], ["doc_id", "text"]))
    eng.bind("docs", spark.createDataFrame([(5, "x q")], ["doc_id", "text"]))
    out = eng.run_op(OpSpec("SURPRISAL SCORE", "s", ["docs", "lm"],
                            {"id_column": "doc_id"}))
    (row,) = out.collect()
    assert row["n_words"] == 2 and row["avg_surprisal"] > 0


def test_classifier_score_hand_computed(spark):
    """Logistic layer over text_stats features, reproduced in pure
    Python with the same sorted-weight accumulation order."""
    import math

    from configurable_etl_python_repo_spark.llm.text import (
        DEFAULT_CLASSIFIER_BIAS,
        DEFAULT_CLASSIFIER_WEIGHTS,
        classifier_score,
        text_stats,
    )

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat with a hat"),
         (2, "!!! ??? ### $$$ %%%")],
        ["doc_id", "text"],
    )
    feats = {r["doc_id"]: r for r in text_stats(df).collect()}
    out = {r["doc_id"]: r for r in classifier_score(df).collect()}
    for i in (1, 2):
        f = {
            "log_n_words": math.log(1.0 + feats[i]["n_words"]),
            "mean_word_len": feats[i]["mean_word_len"],
            "punct_ratio": feats[i]["punct_ratio"],
            "stopword_ratio": feats[i]["stopword_ratio"],
        }
        z = float(DEFAULT_CLASSIFIER_BIAS)
        for name in sorted(DEFAULT_CLASSIFIER_WEIGHTS):
            z += DEFAULT_CLASSIFIER_WEIGHTS[name] * f[name]
        assert out[i]["quality_score"] == round(1.0 / (1.0 + math.exp(-z)), 6)
    # fluent text beats punctuation soup
    assert out[1]["quality_score"] > out[2]["quality_score"]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown classifier features"):
        classifier_score(df, weights={"nope": 1.0})

    eng = Engine(spark)
    eng.bind("docs", df)
    op = eng.run_op(OpSpec("CLASSIFIER SCORE", "c", ["docs"],
                           {"threshold": 0.9}))
    assert "quality_keep" in op.columns


def test_url_blocklist_flag_and_drop(spark):
    from configurable_etl_python_repo_spark.llm.scrub import (
        url_blocklist_filter,
    )

    df = spark.createDataFrame([
        (1, "see https://spam.example/a and https://ok.org/b"),
        (2, "visit http://www.SPAM.example/page twice http://spam.example/z"),
        (3, "clean text, no urls"),
        (4, "https://docs.example.org only"),
        (5, None),  # NULL text: zero URLs, never size(NULL) = -1
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           url_blocklist_filter(df, ["spam.example"]).collect()}
    assert (out[1]["n_urls"], out[1]["n_blocked_domains"],
            out[1]["blocked"]) == (2, 1, True)
    # www. + case normalization collapse to ONE distinct blocked domain
    assert (out[2]["n_urls"], out[2]["n_blocked_domains"],
            out[2]["blocked"]) == (2, 1, True)
    assert out[3]["blocked"] is False and out[3]["n_urls"] == 0
    assert out[4]["blocked"] is False and out[4]["n_urls"] == 1
    assert (out[5]["n_urls"], out[5]["n_blocked_domains"],
            out[5]["blocked"]) == (0, 0, False)

    kept = {r["doc_id"] for r in
            url_blocklist_filter(df, ["spam.example"], mode="drop").collect()}
    assert kept == {3, 4, 5}
    # blocklist entries are normalized like extracted hosts
    kept2 = {r["doc_id"] for r in url_blocklist_filter(
        df, ["WWW.Spam.Example"], mode="drop").collect()}
    assert kept2 == {3, 4, 5}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="mode"):
        url_blocklist_filter(df, ["x.com"], mode="bogus")


def test_url_blocklist_as_config_op(spark):
    eng = Engine(spark)
    eng.bind("docs", spark.createDataFrame(
        [(1, "https://bad.net/x"), (2, "nope")], ["doc_id", "text"]))
    out = eng.run_op(OpSpec(
        "URL BLOCKLIST", "u", ["docs"],
        {"blocked_domains": ["bad.net"], "mode": "drop"},
    ))
    assert [r["doc_id"] for r in out.collect()] == [2]


def _mixture_model(rows, weights, seed="mix"):
    """Pure-Python replica of mixture_sample's integer math."""
    from collections import Counter

    n = Counter(s for _, s in rows if s in weights)
    if not n:  # no listed stratum present -> empty sample
        return set()
    wtot = sum(weights[s] for s in n)
    tstar = min(n[s] * wtot // weights[s] for s in n)
    kept = set()
    for key, s in rows:
        if s not in n:
            continue
        q = weights[s] * tstar // wtot
        cutoff = (q << 20) // n[s]
        bucket = int(
            hashlib.md5(f"{seed}|{key}".encode()).hexdigest()[:5], 16
        )
        if bucket < cutoff:
            kept.add(key)
    return kept


def test_mixture_sample_matches_python_model_exactly(spark):
    rows = [(i, f"dom{i % 4}") for i in range(400)]
    weights = {"dom0": 3, "dom1": 1, "dom2": 2}  # dom3 dropped
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = {r["doc_id"] for r in mixture_sample(df, weights).collect()}
    assert got == _mixture_model(rows, weights)
    assert not any(i % 4 == 3 for i in got)  # unlisted stratum dropped
    # binding stratum (the one with min n*W/w — here dom0, the largest
    # weight at equal counts) keeps ~100%
    assert sum(1 for i in got if i % 4 == 0) == 100


def test_mixture_sample_rejects_bad_weights(spark):
    import pytest

    df = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    with pytest.raises(ValueError, match="non-empty"):
        mixture_sample(df, {})
    with pytest.raises(ValueError, match="positive int"):
        mixture_sample(df, {"a": 0})
    with pytest.raises(ValueError, match="positive int"):
        mixture_sample(df, {"a": 1.5})


def test_curation_ops_registered_as_config_ops(spark, sf_dir):
    """The four round-4 ops dispatch from declarative OpSpecs."""
    eng = Engine(spark)
    eng.run_scan(ScanSpec("docs", "parquet", f"{sf_dir}/documents.parquet"))
    scrubbed = eng.run_op(OpSpec("PII SCRUB", "s", ["docs"], {}))
    assert "pii_total" in scrubbed.columns
    rep = eng.run_op(OpSpec("REPETITION STATS", "r", ["docs"],
                            {"id_column": "doc_id"}))
    assert "top_ngram_frac" in rep.columns
    spans = eng.run_op(OpSpec("DEDUP SPANS", "d", ["docs"],
                              {"id_column": "doc_id", "k": 10}))
    assert "text_deduped" in spans.columns
    mix = eng.run_op(OpSpec(
        "SAMPLE MIXTURE", "m", ["docs"],
        {"strata_column": "source", "key_column": "doc_id",
         "weights": {"src0": 1, "src1": 2}},
    ))
    assert mix.count() > 0


def test_decontaminate_flag_and_drop(spark):
    from configurable_etl_python_repo_spark.llm.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),      # shares "beta gamma delta"
            (2, "epsilon zeta eta theta"),      # clean
            (3, "beta gamma delta epsilon x"),  # shares 2 eval 3-grams
            (4, "al be"),                       # < n words: never flagged
        ],
        ["doc_id", "text"],
    )
    evalset = spark.createDataFrame(
        [(100, "zz beta gamma delta epsilon qq")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r
           for r in decontaminate(corpus, evalset, n=3).collect()}
    # eval grams: {zz beta gamma, beta gamma delta, gamma delta epsilon,
    # delta epsilon qq}; doc1 shares only "beta gamma delta", doc3 shares
    # that plus "gamma delta epsilon"
    assert out[1]["contaminated"] and out[1]["n_contaminated_grams"] == 1
    assert not out[2]["contaminated"] and out[2]["n_contaminated_grams"] == 0
    assert out[3]["contaminated"] and out[3]["n_contaminated_grams"] == 2
    assert not out[4]["contaminated"]

    clean = decontaminate(corpus, evalset, n=3, mode="drop")
    assert {r["doc_id"] for r in clean.collect()} == {2, 4}
    assert "contaminated" not in clean.columns


def test_decontaminate_duplicate_eval_texts_do_not_corrupt_grams(spark):
    """Two identical eval rows must not interleave the shingle window
    (the content-hash id merges them; distinct() dedupes the rows)."""
    from configurable_etl_python_repo_spark.llm.dedup import decontaminate

    corpus = spark.createDataFrame(
        [(1, "a a b c"), (2, "x y z w")], ["doc_id", "text"]
    )
    evalset = spark.createDataFrame(
        [(100, "q a b c q2"), (101, "q a b c q2")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r
           for r in decontaminate(corpus, evalset, n=3).collect()}
    assert out[1]["contaminated"] and out[1]["n_contaminated_grams"] == 1
    assert not out[2]["contaminated"]


def test_decontaminate_as_config_op(spark, sf_dir):
    from configurable_etl_python_repo_spark.plans import ScanSpec

    eng = Engine(spark)
    eng.run_scan(ScanSpec("docs", "parquet", f"{sf_dir}/documents.parquet"))
    eng.bind("evalset", eng.peek("docs")[0].limit(5))
    out = eng.run_op(OpSpec(
        "DECONTAMINATE", "d", ["docs", "evalset"],
        {"id_column": "doc_id", "text_column": "text", "n": 5},
    ))
    assert "contaminated" in out.columns
    # the eval docs themselves are verbatim in the corpus -> flagged
    assert out.where("contaminated").count() >= 5


def test_pack_sequences_boundaries(spark):
    from configurable_etl_python_repo_spark.llm.text import pack_sequences

    # shard A: token counts 3, 4, 5 at seq_len 6 ->
    #   doc 1: before 0 -> seq 0 off 0
    #   doc 2: before 3 -> seq 0 off 3 (straddles into seq 1)
    #   doc 3: before 7 -> seq 1 off 1
    df = spark.createDataFrame(
        [
            (1, "A", "a b c"),
            (2, "A", "a b c d"),
            (3, "A", "a b c d e"),
            (9, "B", "x y"),        # other shard packs independently
        ],
        ["doc_id", "source", "text"],
    )
    out = {r["doc_id"]: r for r in pack_sequences(df, seq_len=6).collect()}
    assert (out[1]["seq_id"], out[1]["seq_offset"]) == (0, 0)
    assert (out[2]["seq_id"], out[2]["seq_offset"]) == (0, 3)
    assert (out[3]["seq_id"], out[3]["seq_offset"]) == (1, 1)
    assert (out[9]["seq_id"], out[9]["seq_offset"]) == (0, 0)
    assert out[2]["n_tokens"] == 4


def test_pack_sequences_conservation(spark, sf_dir):
    """Offsets are consistent with a continuous token stream per shard:
    each doc's offset equals (previous doc's offset + tokens) mod
    seq_len, carried across sequence boundaries."""
    from configurable_etl_python_repo_spark.llm.text import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = sorted(
        pack_sequences(docs, seq_len=128).collect(),
        key=lambda r: (r["source"], r["doc_id"]),
    )
    stream = {}
    for r in rows:
        expect = stream.get(r["source"], 0)
        assert r["seq_id"] * 128 + r["seq_offset"] == expect
        stream[r["source"]] = expect + r["n_tokens"]


def test_pack_sequences_as_config_op(spark, sf_dir):
    eng = Engine(spark)
    eng.run_scan(ScanSpec("docs", "parquet", f"{sf_dir}/documents.parquet"))
    out = eng.run_op(OpSpec(
        "PACK SEQUENCES", "p", ["docs"],
        {"seq_len": 256, "shard_column": "source", "id_column": "doc_id"},
    ))
    assert {"seq_id", "seq_offset", "n_tokens"} <= set(out.columns)


def test_x14_pipeline_is_fully_serializable_as_json_program(
    spark, sf_dir, tmp_path
):
    """The ENTIRE x14 curation pipeline ships as a plain JSON config
    file — a user writes no Python: PII injection via COMPUTE COLUMN,
    scrub, quality + repetition gates, the eval-set derivation, 13-gram
    decontamination, and the domain mixture are all declarative ops.
    Output matches the catalog query row-for-row."""
    import json

    from configurable_etl_python_repo_spark.catalog import QUERIES
    from configurable_etl_python_repo_spark.catalog_llm import (
        _DECONTAM_N, _MIX_SEED, _MIX_WEIGHTS, _PII_INJ, _PIPE_REP_MAX,
    )
    from configurable_etl_python_repo_spark.config.program import (
        analyte_from_json,
    )

    program = {
        "analyte": "pipeline",
        "scans": [{"name": "docs_raw", "source": "parquet",
                   "path": f"{sf_dir}/documents.parquet",
                   "columns": ["doc_id", "source", "lang", "text"]}],
        "ops": [
            {"op": "COMPUTE COLUMN", "target": "docs", "inputs": ["docs_raw"],
             "args": {"column": "text", "expr": _PII_INJ}},
            {"op": "PII SCRUB", "target": "scrub", "inputs": ["docs"],
             "args": {}},
            {"op": "QUALITY FILTER", "target": "qual", "inputs": ["scrub"],
             "args": {"text_column": "text_scrubbed"}},
            {"op": "REPETITION STATS", "target": "rep", "inputs": ["scrub"],
             "args": {"id_column": "doc_id",
                      "text_column": "text_scrubbed"}},
            {"op": "REMOVE COLUMN", "target": "rep2", "inputs": ["rep"],
             "args": {"columns": ["n_words", "dup_word_frac",
                                  "dup_ngram_frac"]}},
            {"op": "LEFT JOIN", "target": "joined",
             "inputs": ["qual", "rep2"], "args": {"on": ["doc_id"]}},
            {"op": "FILTER", "target": "gated", "inputs": ["joined"],
             "args": {"condition": "keep = BOOLEAN(TRUE)"
                      f" & top_ngram_frac <= NUMBER({_PIPE_REP_MAX})"}},
            {"op": "COMPUTE COLUMN", "target": "ev0", "inputs": ["scrub"],
             "args": {"column": "__m", "expr": "doc_id % 17"}},
            {"op": "FILTER", "target": "ev1", "inputs": ["ev0"],
             "args": {"condition": "__m = NUMBER(0)"}},
            {"op": "SELECT COLUMNS", "target": "evalset", "inputs": ["ev1"],
             "args": {"columns": ["doc_id", "text_scrubbed"]}},
            {"op": "DECONTAMINATE", "target": "clean",
             "inputs": ["gated", "evalset"],
             "args": {"id_column": "doc_id", "text_column": "text_scrubbed",
                      "eval_text_col": "text_scrubbed", "n": _DECONTAM_N,
                      "mode": "drop"}},
            {"op": "SAMPLE MIXTURE", "target": "mixed", "inputs": ["clean"],
             "args": {"strata_column": "source", "key_column": "doc_id",
                      "weights": _MIX_WEIGHTS, "seed": _MIX_SEED}},
            {"op": "SELECT COLUMNS", "target": "pipeline",
             "inputs": ["mixed"],
             "args": {"columns": ["doc_id", "source", "lang", "n_words",
                                  "pii_total", "top_ngram_frac",
                                  "text_scrubbed"]}},
        ],
    }
    path = tmp_path / "pipeline.json"
    path.write_text(json.dumps(program))

    got = Engine(spark).run_analyte(analyte_from_json(str(path)))
    want = QUERIES["x14_pretraining_pipeline"](spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_x15_pipeline_is_fully_serializable_as_json_program(
    spark, sf_dir, tmp_path
):
    """The round-5 web-curation chain ships as a plain JSON config file
    too: URL injection via COMPUTE COLUMN, blocklist drop, surprisal
    gate, substring dedup, BPE token counts, and packing are all
    declarative ops. Output matches the catalog query row-for-row."""
    import json

    from configurable_etl_python_repo_spark.catalog import QUERIES
    from configurable_etl_python_repo_spark.catalog_llm import (
        _BLOCKED_DOMAINS, _SPAN_K, _URL_INJ, _X15_SEQ_LEN, _X15_SUP_MAX,
    )
    from configurable_etl_python_repo_spark.config.program import (
        analyte_from_json,
    )

    program = {
        "analyte": "webpipe",
        "scans": [{"name": "docs_raw", "source": "parquet",
                   "path": f"{sf_dir}/documents.parquet",
                   "columns": ["doc_id", "source", "text"]}],
        "ops": [
            {"op": "COMPUTE COLUMN", "target": "docs",
             "inputs": ["docs_raw"],
             "args": {"column": "text", "expr": _URL_INJ}},
            {"op": "URL BLOCKLIST", "target": "urlkept",
             "inputs": ["docs"],
             "args": {"blocked_domains": list(_BLOCKED_DOMAINS),
                      "mode": "drop"}},
            {"op": "SURPRISAL SCORE", "target": "sup",
             "inputs": ["urlkept"], "args": {"id_column": "doc_id"}},
            {"op": "REMOVE COLUMN", "target": "sup2", "inputs": ["sup"],
             "args": {"columns": ["n_words"]}},
            {"op": "INNER JOIN", "target": "joined",
             "inputs": ["urlkept", "sup2"], "args": {"on": ["doc_id"]}},
            {"op": "FILTER", "target": "gated", "inputs": ["joined"],
             "args": {"condition":
                      f"avg_surprisal <= NUMBER({_X15_SUP_MAX})"}},
            {"op": "DEDUP SUBSTRINGS", "target": "dd", "inputs": ["gated"],
             "args": {"id_column": "doc_id", "k": _SPAN_K}},
            {"op": "REMOVE COLUMN", "target": "dd2", "inputs": ["dd"],
             "args": {"columns": ["n_words"]}},
            {"op": "SELECT COLUMNS", "target": "src_map",
             "inputs": ["gated"], "args": {"columns": ["doc_id", "source"]}},
            {"op": "INNER JOIN", "target": "withsrc",
             "inputs": ["dd2", "src_map"], "args": {"on": ["doc_id"]}},
            {"op": "TOKEN COUNT BPE", "target": "tok",
             "inputs": ["withsrc"],
             "args": {"text_column": "text_deduped"}},
            {"op": "PACK SEQUENCES", "target": "packed", "inputs": ["tok"],
             "args": {"seq_len": _X15_SEQ_LEN, "shard_column": "source",
                      "tokens_col": "n_tokens"}},
            {"op": "SELECT COLUMNS", "target": "webpipe",
             "inputs": ["packed"],
             "args": {"columns": ["doc_id", "source", "n_tokens",
                                  "seq_id", "seq_offset"]}},
        ],
    }
    path = tmp_path / "webpipe.json"
    path.write_text(json.dumps(program))

    got = Engine(spark).run_analyte(analyte_from_json(str(path)))
    want = QUERIES["x15_web_curation_pipeline"](spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_pack_sequences_precomputed_tokens_col(spark):
    """tokens_col names a real-tokenizer length column: the regexp proxy
    is skipped and the packing math uses it verbatim."""
    from configurable_etl_python_repo_spark.llm.text import pack_sequences

    df = spark.createDataFrame(
        [(1, "A", "ignored words here", 4), (2, "A", "x", 5)],
        ["doc_id", "source", "text", "real_len"],
    )
    out = {r["doc_id"]: r
           for r in pack_sequences(df, seq_len=6,
                                   tokens_col="real_len").collect()}
    assert out[1]["n_tokens"] == 4            # not the 3 whitespace words
    assert (out[2]["seq_id"], out[2]["seq_offset"]) == (0, 4)


def test_derive_shard_key_size_targets_and_invariance(spark, sf_dir):
    """Hash-split shards track the token target: every base shard with
    more than target tokens splits into ceil(total/target) buckets,
    subshard totals land near the target (hash-uniform), tiny shards
    stay whole, and the keying is partitioning-invariant."""
    from configurable_etl_python_repo_spark.llm.text import derive_shard_key

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    target = 2000
    out = derive_shard_key(docs, target_tokens=target)
    stats = out.groupBy("source", "shard").agg(
        F.sum("n_tokens").alias("t")).collect()
    per_base = {}
    for r in stats:
        per_base.setdefault(r["source"], []).append(r["t"])
    totals = {s: sum(ts) for s, ts in per_base.items()}
    for s, ts in per_base.items():
        assert len(ts) == max(1, -(-totals[s] // target)), s
        # hash-uniform: no subshard wildly above 3x target
        assert max(ts) <= 3 * target

    again = derive_shard_key(docs.repartition(7, "text"),
                             target_tokens=target)
    assert {(r["doc_id"], r["shard"]) for r in again.collect()} == \
        {(r["doc_id"], r["shard"]) for r in out.collect()}

    import pytest
    with pytest.raises(ValueError, match="target_tokens"):
        derive_shard_key(docs, target_tokens=0)


def test_derive_shard_key_byte_targets_on_skewed_fixture(spark):
    """target_bytes: output-file-size targeting — on a skewed corpus
    (one source holds ~100x the bytes of the others, with one giant doc)
    no subshard exceeds 3x the byte target, bucket counts are
    ceil(total_bytes/target), small sources stay whole, and the keying
    is partitioning-invariant. Validation: the two targets are mutually
    exclusive and the weight-column overrides are mode-checked."""
    import pytest
    from pyspark.sql import Row

    from configurable_etl_python_repo_spark.llm.text import derive_shard_key

    rows = [Row(doc_id=i, source="hot", text="x" * 400) for i in range(200)]
    rows += [Row(doc_id=1000, source="hot", text="y" * 3000)]  # giant doc
    rows += [Row(doc_id=2000 + i, source=f"cold{i}", text="tiny doc")
             for i in range(3)]
    docs = spark.createDataFrame(rows)
    target = 4000
    out = derive_shard_key(docs, target_bytes=target)
    stats = out.groupBy("source", "shard").agg(
        F.sum("n_bytes").alias("b")).collect()
    per_base = {}
    for r in stats:
        per_base.setdefault(r["source"], []).append(r["b"])
    totals = {s: sum(bs) for s, bs in per_base.items()}
    for s, bs in per_base.items():
        assert len(bs) == max(1, -(-totals[s] // target)), s
        assert max(bs) <= 3 * target, (s, bs)
    assert all(len(per_base[f"cold{i}"]) == 1 for i in range(3))

    again = derive_shard_key(docs.repartition(5, "text"),
                             target_bytes=target)
    assert {(r["doc_id"], r["shard"]) for r in again.collect()} == \
        {(r["doc_id"], r["shard"]) for r in out.collect()}

    with pytest.raises(ValueError, match="exactly one"):
        derive_shard_key(docs, target_tokens=100, target_bytes=100)
    with pytest.raises(ValueError, match="exactly one"):
        derive_shard_key(docs)
    with pytest.raises(ValueError, match="tokens_col"):
        derive_shard_key(docs, target_bytes=100, tokens_col="n")
    with pytest.raises(ValueError, match="bytes_col"):
        derive_shard_key(docs, target_tokens=100, bytes_col="n")


def test_derive_shard_key_as_config_op_feeds_packing(spark, sf_dir):
    eng = Engine(spark)
    eng.run_scan(ScanSpec("docs", "parquet", f"{sf_dir}/documents.parquet",
                          columns=["doc_id", "source", "text"]))
    keyed = eng.run_op(OpSpec(
        "DERIVE SHARD KEY", "k", ["docs"], {"target_tokens": 2000},
    ))
    assert "shard" in keyed.columns
    packed = eng.run_op(OpSpec(
        "PACK SEQUENCES", "p", ["k"],
        {"seq_len": 512, "shard_column": "shard",
         "tokens_col": "n_tokens"},
    ))
    assert packed.count() == keyed.count()


def test_backoff_surprisal_hand_computed(spark):
    """Pin the Stupid-Backoff cases against hand math: seen bigram
    (MLE), unseen bigram over seen words (backoff * Laplace unigram),
    OOV word (backoff * OOV Laplace), first word (Laplace unigram)."""
    import math

    from pyspark.sql import Row

    from configurable_etl_python_repo_spark.llm.text import backoff_surprisal

    lm = spark.createDataFrame([
        Row(doc_id=1, text="a b a b"),
        Row(doc_id=2, text="a c"),
    ])
    # LM: N=6, V=3; cu: a=3, b=2, c=1; cb: (a,b)=2, (b,a)=1, (a,c)=1
    scored = spark.createDataFrame([
        Row(doc_id=10, text="a b"),    # first: uni(a); then seen bigram
        Row(doc_id=11, text="b c"),    # (b,c) unseen -> backoff*uni(c)
        Row(doc_id=12, text="a z"),    # z OOV -> backoff*laplace-OOV
    ])
    out = {r.doc_id: r for r in backoff_surprisal(scored, lm).collect()}

    def uni(c):
        return (c + 1.0) / (6 + 1.0 * (3 + 1))

    def r6(x):
        return round(round(-math.log(x), 6) * 1e6) / 1e6

    exp10 = round((r6(uni(3)) + r6(2 / 3)) / 2, 6)
    exp11 = round((r6(uni(2)) + r6(0.4 * uni(1))) / 2, 6)
    exp12 = round((r6(uni(3)) + r6(0.4 * uni(0))) / 2, 6)
    assert out[10].n_words == 2 and abs(out[10].avg_surprisal - exp10) < 1e-9
    assert abs(out[11].avg_surprisal - exp11) < 1e-9
    assert abs(out[12].avg_surprisal - exp12) < 1e-9
    # contextual signal: common words in implausible order score higher
    # than the same words in corpus order
    docs = spark.createDataFrame([
        Row(doc_id=20, text="a b a b"),
        Row(doc_id=21, text="b b a a"),
    ])
    got = {r.doc_id: r.avg_surprisal
           for r in backoff_surprisal(docs, lm).collect()}
    assert got[21] > got[20]


def test_backoff_surprisal_as_config_op(spark):
    from pyspark.sql import Row

    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    eng = Engine(spark)
    eng.bind("docs", spark.createDataFrame([Row(doc_id=1, text="a b")]))
    eng.bind("lm", spark.createDataFrame([Row(doc_id=2, text="a b a")]))
    out = eng.run_op(OpSpec("SURPRISAL BACKOFF", "s", ["docs", "lm"], {}))
    assert set(out.columns) == {"doc_id", "n_words", "avg_surprisal"}
    assert out.count() == 1
    import pytest

    with pytest.raises(ValueError, match="lm"):
        eng.run_op(OpSpec("SURPRISAL BACKOFF", "s2", ["docs"], {}))


def test_x19_pipeline_is_fully_serializable_as_json_program(
    spark, sf_dir, tmp_path
):
    """The round-7 targeted-selection chain ships as a plain JSON config
    file too: DSIR selection, the backoff-fluency gate, 13-gram
    decontamination, token counts, and packing are all declarative ops —
    including the target/evalset derivations (FILTER grammar + COMPUTE
    COLUMN). Output matches the catalog query row-for-row."""
    import json

    from configurable_etl_python_repo_spark.catalog import QUERIES
    from configurable_etl_python_repo_spark.catalog_llm import (
        _DECONTAM_N, _DSIR_BUCKETS, _DSIR_K, _DSIR_TARGET_SRC,
        _X19_SEQ_LEN, _X19_SUP_MAX,
    )
    from configurable_etl_python_repo_spark.config.program import (
        analyte_from_json,
    )

    program = {
        "analyte": "targeted",
        "scans": [{"name": "docs_raw", "source": "parquet",
                   "path": f"{sf_dir}/documents.parquet",
                   "columns": ["doc_id", "source", "text"]}],
        "ops": [
            {"op": "FILTER", "target": "tgt_rows", "inputs": ["docs_raw"],
             "args": {"condition": f"source = {_DSIR_TARGET_SRC}"}},
            {"op": "SELECT COLUMNS", "target": "tgt",
             "inputs": ["tgt_rows"], "args": {"columns": ["doc_id", "text"]}},
            {"op": "DSIR SELECT", "target": "sel_raw",
             "inputs": ["docs_raw", "tgt"],
             "args": {"k": _DSIR_K, "buckets": _DSIR_BUCKETS}},
            {"op": "SELECT COLUMNS", "target": "sel", "inputs": ["sel_raw"],
             "args": {"columns": ["doc_id", "source", "text"]}},
            {"op": "SURPRISAL BACKOFF", "target": "bs",
             "inputs": ["sel", "tgt"], "args": {}},
            {"op": "REMOVE COLUMN", "target": "bs2", "inputs": ["bs"],
             "args": {"columns": ["n_words"]}},
            {"op": "INNER JOIN", "target": "joined",
             "inputs": ["sel", "bs2"], "args": {"on": ["doc_id"]}},
            {"op": "FILTER", "target": "gated", "inputs": ["joined"],
             "args": {"condition":
                      f"avg_surprisal <= NUMBER({_X19_SUP_MAX})"}},
            {"op": "COMPUTE COLUMN", "target": "ev0", "inputs": ["docs_raw"],
             "args": {"column": "ev", "expr": "doc_id % 17"}},
            {"op": "FILTER", "target": "ev1", "inputs": ["ev0"],
             "args": {"condition": "ev = NUMBER(0)"}},
            {"op": "COMPUTE COLUMN", "target": "ev2", "inputs": ["ev1"],
             "args": {"column": "doc_id", "expr": "doc_id + 500000"}},
            {"op": "SELECT COLUMNS", "target": "evalset", "inputs": ["ev2"],
             "args": {"columns": ["doc_id", "text"]}},
            {"op": "DECONTAMINATE", "target": "clean",
             "inputs": ["gated", "evalset"],
             "args": {"n": _DECONTAM_N, "mode": "drop"}},
            {"op": "TOKEN COUNT", "target": "tok", "inputs": ["clean"],
             "args": {}},
            {"op": "PACK SEQUENCES", "target": "packed", "inputs": ["tok"],
             "args": {"seq_len": _X19_SEQ_LEN, "shard_column": "source",
                      "tokens_col": "n_tokens"}},
            {"op": "SELECT COLUMNS", "target": "targeted",
             "inputs": ["packed"],
             "args": {"columns": ["doc_id", "source", "n_tokens",
                                  "seq_id", "seq_offset"]}},
        ],
    }
    path = tmp_path / "targeted.json"
    path.write_text(json.dumps(program))

    got = Engine(spark).run_analyte(analyte_from_json(str(path)))
    want = QUERIES["x19_targeted_pipeline"](spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_perplexity_partition_exact_terciles(spark):
    """Rank-based buckets: exact equal counts per stratum, ties broken
    by id, head = lowest scores; labels=None keeps integers; validation
    errors on bad bucket/label counts."""
    import pytest
    from pyspark.sql import Row

    from configurable_etl_python_repo_spark.llm.text import (
        perplexity_partition,
    )

    rows = [Row(doc_id=i, lang="en", avg_surprisal=float(i % 4))
            for i in range(9)]
    rows += [Row(doc_id=100 + i, lang="de", avg_surprisal=1.0)
             for i in range(6)]
    df = spark.createDataFrame(rows)
    out = {r.doc_id: r.ppl_bucket
           for r in perplexity_partition(df, strata_col="lang").collect()}
    from collections import Counter

    en = Counter(out[i] for i in range(9))
    de = Counter(out[100 + i] for i in range(6))
    assert en == {"head": 3, "middle": 3, "tail": 3}
    assert de == {"head": 2, "middle": 2, "tail": 2}
    # en scores: ids 0,4,8 score 0/1/... sorted by (score, id):
    # score0: 0,4,8 -> head; all-ties de: pure id order
    assert out[0] == "head" and out[100] == "head" and out[105] == "tail"
    ints = {r.doc_id: r.ppl_bucket
            for r in perplexity_partition(
                df, strata_col="lang", labels=None).collect()}
    assert ints[0] == 1 and ints[105] == 3
    with pytest.raises(ValueError, match="n_buckets"):
        perplexity_partition(df, n_buckets=1).collect()
    with pytest.raises(ValueError, match="labels"):
        perplexity_partition(df, n_buckets=4).collect()
    # NULL scores (stream scorers keep wordless docs with NULL
    # avg_surprisal) rank LAST — unscorable docs go to the tail, never
    # head, matching ANSI/DuckDB ASC NULLS LAST (not Spark nulls-first)
    nulled = spark.createDataFrame(
        [Row(doc_id=i, lang="en",
             avg_surprisal=None if i >= 6 else float(i))
         for i in range(9)],
        "doc_id long, lang string, avg_surprisal double",
    )
    got = {r.doc_id: r.ppl_bucket
           for r in perplexity_partition(nulled, strata_col="lang")
           .collect()}
    assert all(got[i] == "tail" for i in (6, 7, 8))
    assert got[0] == "head" and got[5] == "middle"


def test_perplexity_partition_as_config_op(spark):
    from pyspark.sql import Row

    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    eng = Engine(spark)
    eng.bind("scored", spark.createDataFrame(
        [Row(doc_id=i, avg_surprisal=float(i)) for i in range(6)]))
    out = eng.run_op(OpSpec(
        "PERPLEXITY PARTITION", "p", ["scored"],
        {"n_buckets": 2, "labels": ["keep", "drop"]},
    ))
    got = {r.doc_id: r.ppl_bucket for r in out.collect()}
    assert got == {0: "keep", 1: "keep", 2: "keep",
                   3: "drop", 4: "drop", 5: "drop"}


def test_gopher_line_rules_hand_computed(spark):
    """Each Gopher line/symbol rule fires on a crafted violator and
    passes on clean prose; ratios are exact small-integer divisions."""
    from pyspark.sql import Row

    from configurable_etl_python_repo_spark.llm.text import (
        gopher_line_rules,
    )

    rows = [
        Row(doc_id=1, text="the cat and that dog have fun with all of it"),
        Row(doc_id=2, text="# # # # #"),                     # symbols, no alpha
        Row(doc_id=3, text="- a\n- b\n- c\n- d"),            # all bullet lines
        Row(doc_id=4, text="wait...\nmore...\nok"),          # 2/3 ellipsis ends
        Row(doc_id=5, text="1 2 3 4 5 the be"),              # low alpha frac
    ]
    out = {r.doc_id: r
           for r in gopher_line_rules(spark.createDataFrame(rows)).collect()}
    assert out[1].keep_lines
    assert out[1].n_required_stopwords >= 5
    assert not out[2].ok_symbols and out[2].symbol_word_ratio == 1.0
    assert not out[2].ok_alpha and out[2].alpha_word_frac == 0.0
    assert not out[3].ok_bullets and out[3].bullet_line_frac == 1.0
    assert not out[4].ok_ellipsis
    assert abs(out[4].ellipsis_line_frac - 2 / 3) < 1e-12
    assert not out[5].ok_alpha  # 2 alpha words of 7
    assert not out[2].keep_lines and not out[3].keep_lines


def test_gopher_line_rules_as_config_op(spark):
    from pyspark.sql import Row

    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    eng = Engine(spark)
    eng.bind("docs", spark.createDataFrame(
        [Row(doc_id=1, text="the cat and that dog have fun with it")]))
    out = eng.run_op(OpSpec("GOPHER LINE RULES", "g", ["docs"], {}))
    assert "keep_lines" in out.columns and out.count() == 1


def test_chunk_documents_boundaries_and_reassembly(spark):
    """Chunks cover the doc exactly in order (reassembly == normalized
    text), the last chunk is the remainder, wordless docs vanish, and a
    chunked-then-packed chain works (the chunk rows feed pack_sequences
    via tokens_col=n_chunk_words)."""
    import pytest
    from pyspark.sql import Row

    from configurable_etl_python_repo_spark.llm.text import (
        chunk_documents,
        pack_sequences,
    )

    docs = spark.createDataFrame([
        Row(doc_id=1, text=" ".join(f"w{i}" for i in range(10))),
        Row(doc_id=2, text="a b c"),
        Row(doc_id=3, text="   "),
        Row(doc_id=4, text="  Hello   World.\tUSA GDP  rose. "),
    ])
    out = sorted(((r.doc_id, r.chunk_idx, r.chunk_text, r.n_chunk_words)
                  for r in chunk_documents(docs, max_words=4).collect()))
    assert [x[:2] for x in out] == [(1, 0), (1, 1), (1, 2), (2, 0), (4, 0),
                                    (4, 1)]
    assert out[0][2] == "w0 w1 w2 w3" and out[2][2] == "w8 w9"
    assert [x[3] for x in out] == [4, 4, 2, 3, 4, 1]
    # chunk_text RETURNS training text: case preserved, whitespace runs
    # (tab, doubled spaces) normalized to single spaces
    assert out[4][2] == "Hello World. USA GDP"
    assert out[5][2] == "rose."
    rebuilt = " ".join(x[2] for x in out if x[0] == 1)
    assert rebuilt == " ".join(f"w{i}" for i in range(10))
    # chunk -> pack chain: 4+4+2+3 words into seq_len=8 per one shard
    chunks = chunk_documents(docs, max_words=4).withColumn(
        "src", F.lit("s")
    )
    packed = pack_sequences(chunks, seq_len=8, shard_col="src",
                            id_col="chunk_text",
                            tokens_col="n_chunk_words")
    assert packed.count() == 6
    with pytest.raises(ValueError, match="max_words"):
        chunk_documents(docs, max_words=0).collect()


def test_dedup_lines_crlf_corpus(spark):
    """CRLF corpora: lines split on \\r?\\n so 'subscribe now\\r' and
    'subscribe now' share one match key — mixed-line-ending boilerplate
    must not escape the >= min_docs bar (web corpora mix endings)."""
    from configurable_etl_python_repo_spark.llm.dedup import dedup_lines

    df = spark.createDataFrame(
        [
            (1, "Unique A.\r\nSubscribe now\r\nBody A."),
            (2, "Unique B.\nsubscribe now\nBody B."),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    assert out[1]["text_deduped"] == "Unique A.\nBody A."
    assert out[2]["text_deduped"] == "Unique B.\nBody B."
    assert (out[1]["n_lines"], out[1]["n_lines_kept"]) == (3, 2)


def test_dedup_substrings_min_match_words_runs(spark):
    """ExactSubstr semantics (Lee et al. 2022): only duplicated runs
    >= min_match_words are dropped — a short quoted phrase (>= k but
    < threshold) survives, a lifted passage is removed; adjacent
    covered stretches merge into ONE run before thresholding;
    min_match_words=k reproduces the default output exactly."""
    from configurable_etl_python_repo_spark.llm.dedup import (
        dedup_substrings,
    )

    long_p = " ".join(f"lp{i}" for i in range(30))   # >= 25-word run
    short_p = " ".join(f"sp{i}" for i in range(12))  # >= k, < 25
    df = spark.createDataFrame(
        [
            (1, long_p + " mid0 mid1 " + short_p),   # canonical copies
            (2, "b0 b1 " + long_p + " b2"),          # long run -> dropped
            (3, "c0 c1 " + short_p + " c2"),         # short run -> KEPT
            (4, "d0 " + long_p + " " + short_p),     # adjacent runs MERGE
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           dedup_substrings(df, k=10, min_match_words=25).collect()}
    assert out[1]["text_deduped"] == (long_p + " mid0 mid1 " + short_p)
    assert out[2]["text_deduped"] == "b0 b1 b2"
    # short duplicated phrase survives the 25-word bar
    assert out[3]["text_deduped"] == "c0 c1 " + short_p + " c2"
    # doc 4: long passage directly followed by short phrase -> one
    # merged 42-word covered run >= 25, BOTH dropped
    assert out[4]["text_deduped"] == "d0"
    # under the default (no threshold) the short phrase is dropped too
    plain = {r["doc_id"]: r for r in dedup_substrings(df, k=10).collect()}
    assert plain[3]["text_deduped"] == "c0 c1 c2"
    # min_match_words=k is EXACTLY the default output (every covered
    # run is >= k by construction)
    pinned = {r["doc_id"]: tuple(r) for r in
              dedup_substrings(df, k=10, min_match_words=10).collect()}
    assert pinned == {r["doc_id"]: tuple(r) for r in plain.values()}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_match_words"):
        dedup_substrings(df, k=10, min_match_words=5)


@pytest.mark.parametrize("id_type", ["string", "double", "decimal(10,2)"])
def test_dedup_substrings_refuses_non_integral_ids(spark, id_type):
    """The packed DECIMAL keep-first key is order-isomorphic to (id, pos)
    for integral ids only: a string id would cast to NULL (or fail) and
    a fractional one would round, so both are refused up front."""
    from configurable_etl_python_repo_spark.llm.dedup import (
        dedup_substrings,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]
    ).withColumn("doc_id", F.col("doc_id").cast(id_type))
    with pytest.raises(ValueError, match="integral id_col"):
        dedup_substrings(df, k=2)


def _ppl_scored(spark, n=300, strata=("en", "de", "fr")):
    """Deterministic distinct scores across a few strata."""
    import random

    rng = random.Random(18)
    rows = [(i, strata[i % len(strata)],
             round(rng.uniform(1.0, 20.0), 6) + i * 1e-9)
            for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id long, lang string, avg_surprisal double"
    )


def test_perplexity_stream_full_sample_is_exact(spark):
    """With a FULL sample and distinct scores, cutoff assignment equals
    the exact-rank batch partition row-for-row (tile max == upper
    cutoff); the agreement degrades only with the sample rate."""
    from configurable_etl_python_repo_spark.llm.text import (
        perplexity_cutoffs,
        perplexity_partition,
        perplexity_partition_stream,
    )

    df = _ppl_scored(spark)
    batch = {r.doc_id: r.ppl_bucket for r in
             perplexity_partition(df, strata_col="lang").collect()}
    cuts = perplexity_cutoffs(df, strata_col="lang")
    stream_like = {r.doc_id: r.ppl_bucket for r in
                   perplexity_partition_stream(
                       df, cuts, strata_col="lang").collect()}
    assert stream_like == batch
    # half-rate hash sample: boundary rows may move one bucket; pin a
    # >= 90% agreement tolerance on this fixture
    half = perplexity_cutoffs(df, strata_col="lang",
                              sample_num=1, sample_denom=2)
    sampled = {r.doc_id: r.ppl_bucket for r in
               perplexity_partition_stream(
                   df, half, strata_col="lang").collect()}
    agree = sum(sampled[d] == batch[d] for d in batch) / len(batch)
    assert agree >= 0.9, agree


def test_perplexity_stream_under_readstream(spark, tmp_path):
    """The assignment is stream-legal: identical answers under
    readStream append mode; NULL scores and strata missing from the
    cutoff table land in the LAST bucket."""
    from configurable_etl_python_repo_spark.llm.text import (
        perplexity_cutoffs,
        perplexity_partition_stream,
    )

    df = _ppl_scored(spark, n=90)
    cuts = perplexity_cutoffs(df, strata_col="lang")
    probe = df.unionByName(spark.createDataFrame(
        [(9001, "en", None), (9002, "zz", 5.0)],
        "doc_id long, lang string, avg_surprisal double",
    ))
    static = {(r.doc_id, r.ppl_bucket) for r in
              perplexity_partition_stream(
                  probe, cuts, strata_col="lang").collect()}
    assert (9001, "tail") in static and (9002, "tail") in static
    src = str(tmp_path / "ppl_src")
    probe.write.parquet(src)
    out = perplexity_partition_stream(
        spark.readStream.format("parquet").schema(probe.schema).load(src),
        cuts, strata_col="lang",
    )
    assert out.isStreaming
    q = (out.select("doc_id", "ppl_bucket")
         .writeStream.format("memory").queryName("ppl_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_ppl"))
         .trigger(availableNow=True)
         .start())
    assert q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("ppl_stream").collect()}
    want = {(d, b) for d, b in static}
    assert got == want


def test_perplexity_stream_empty_cutoffs_assigns_tail(spark):
    """An EMPTY cutoff table (empty calibration sample / all-NULL
    scores) must degrade to the documented NULL-cuts path — every row
    to the LAST bucket — on BOTH the stratified and unstratified paths.
    Regression: the unstratified path used a crossJoin, which silently
    dropped every stream row against an empty table."""
    from configurable_etl_python_repo_spark.llm.text import (
        perplexity_cutoffs,
        perplexity_partition_stream,
    )

    df = _ppl_scored(spark, n=30)
    empty = perplexity_cutoffs(df.where(F.lit(False)))
    out = perplexity_partition_stream(df, empty).collect()
    assert len(out) == df.count()
    assert {r.ppl_bucket for r in out} == {"tail"}
    empty_s = perplexity_cutoffs(
        df.where(F.lit(False)), strata_col="lang"
    )
    out_s = perplexity_partition_stream(
        df, empty_s, strata_col="lang"
    ).collect()
    assert len(out_s) == df.count()
    assert {r.ppl_bucket for r in out_s} == {"tail"}


def test_perplexity_stream_config_ops_and_validation(spark):
    from configurable_etl_python_repo_spark.llm.text import (
        perplexity_cutoffs,
        perplexity_partition_stream,
    )
    from configurable_etl_python_repo_spark.plans import Engine, OpSpec

    import pytest

    df = _ppl_scored(spark, n=60)
    eng = Engine(spark)
    eng.bind("scored", df)
    cuts = eng.run_op(OpSpec(
        "PERPLEXITY CUTOFFS", "cuts", ["scored"],
        {"strata_column": "lang"}))
    eng.bind("cuts", cuts)
    out = eng.run_op(OpSpec(
        "PERPLEXITY PARTITION STREAM", "p", ["scored", "cuts"],
        {"strata_column": "lang", "labels": ["head", "middle", "tail"]}))
    assert set(r.ppl_bucket for r in out.collect()) == {
        "head", "middle", "tail"}
    with pytest.raises(ValueError, match="second input"):
        eng.run_op(OpSpec(
            "PERPLEXITY PARTITION STREAM", "p2", ["scored"], {}))
    with pytest.raises(ValueError, match="n_buckets"):
        perplexity_cutoffs(df, n_buckets=1)
    with pytest.raises(ValueError, match="sample fraction"):
        perplexity_cutoffs(df, sample_num=3, sample_denom=2)
    with pytest.raises(ValueError, match="labels"):
        perplexity_partition_stream(df, cuts, n_buckets=4)


def test_perplexity_stream_tolerates_cuts_column(spark):
    """An input frame that already carries its own 'cuts' column must
    join cleanly (the cutoff side renames to an internal __ppl_cuts)
    and keep its column."""
    from pyspark.sql import functions as F

    from configurable_etl_python_repo_spark.llm.text import (
        perplexity_cutoffs,
        perplexity_partition_stream,
    )

    df = _ppl_scored(spark, n=60).withColumn("cuts", F.lit("mine"))
    cutoffs = perplexity_cutoffs(df, strata_col="lang")
    out = perplexity_partition_stream(df, cutoffs, strata_col="lang")
    rows = out.collect()
    assert all(r.cuts == "mine" for r in rows)
    assert {r.ppl_bucket for r in rows} == {"head", "middle", "tail"}


def test_decontaminate_bloom_is_bit_identical_and_actually_prunes(spark):
    """The Bloom prefilter changes economics, never answers: flag and
    drop modes match decontaminate() row-for-row on the sf fixture —
    even at a deliberately tiny bitmap (2^12 bits for ~29k grams, FPR
    near 1) where the verify join does ALL the work, and at a roomy
    one where the bloom does. Also pins the no-false-negatives
    property the equivalence rests on, and argument validation."""
    import pytest as _pytest

    from configurable_etl_python_repo_spark.llm.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    evalset = docs.where("doc_id % 17 = 0").select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    cols = ["doc_id", "contaminated", "n_contaminated_grams"]
    exact = {tuple(r) for r in
             decontaminate(docs, evalset, n=13).select(*cols).collect()}
    for bits in (1 << 12, 1 << 20):
        bloom = {tuple(r) for r in
                 decontaminate_bloom(docs, evalset, n=13, bloom_bits=bits)
                 .select(*cols).collect()}
        assert bloom == exact, f"bloom_bits={bits}"
    drop_exact = {r.doc_id for r in
                  decontaminate(docs, evalset, n=13, mode="drop").collect()}
    drop_bloom = {r.doc_id for r in
                  decontaminate_bloom(docs, evalset, n=13, mode="drop",
                                      bloom_bits=1 << 16).collect()}
    assert drop_bloom == drop_exact

    with _pytest.raises(ValueError, match="power of two"):
        decontaminate_bloom(docs, evalset, bloom_bits=1000)
    with _pytest.raises(ValueError, match="bloom_hashes"):
        decontaminate_bloom(docs, evalset, bloom_hashes=0)
    with _pytest.raises(ValueError, match="mode"):
        decontaminate_bloom(docs, evalset, mode="quarantine")


def test_decontaminate_bloom_empty_eval_grams(spark):
    """Zero eval grams — an empty eval set, or one whose every text is
    shorter than the n-gram window — must keep the bit-identical
    contract, not crash. AQE collapses the empty gram relation to a
    0-partition RDD, where treeReduce raised 'Cannot reduce empty RDD'
    (ADVICE r11); the zero-seeded treeAggregate returns the all-zero
    bitmap and the result matches decontaminate(): every row
    uncontaminated, counts 0."""
    from configurable_etl_python_repo_spark.llm.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(20)
    )
    cols = ["doc_id", "contaminated", "n_contaminated_grams"]
    for evalset in (
        docs.select("doc_id", "text").where(F.lit(False)),  # empty
        spark.createDataFrame(
            [(1, "too short for thirteen grams")], "doc_id long, text string"
        ),  # every text below the n-gram window
    ):
        exact = {tuple(r) for r in
                 decontaminate(docs, evalset, n=13).select(*cols).collect()}
        bloom = {tuple(r) for r in
                 decontaminate_bloom(docs, evalset, n=13)
                 .select(*cols).collect()}
        assert bloom == exact
        assert all(not c and n == 0 for _, c, n in bloom)
        drop = decontaminate_bloom(docs, evalset, n=13, mode="drop")
        assert drop.count() == 20


def test_decontaminate_bloom_as_config_op(spark, sf_dir):
    from configurable_etl_python_repo_spark.plans import ScanSpec

    eng = Engine(spark)
    eng.run_scan(ScanSpec("docs", "parquet", f"{sf_dir}/documents.parquet"))
    eng.bind("evalset", eng.peek("docs")[0].limit(5))
    out = eng.run_op(OpSpec(
        "DECONTAMINATE BLOOM", "d", ["docs", "evalset"],
        {"id_column": "doc_id", "text_column": "text", "n": 5,
         "bloom_bits": 1 << 16},
    ))
    assert "contaminated" in out.columns
    assert out.where("contaminated").count() >= 5
