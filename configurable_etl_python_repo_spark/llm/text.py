"""Text analysis operators: language ID, quality stats, token counting,
document fingerprinting.

All pure Column expressions (JVM-side, codegen'd) — at 100 TB these run
inside the scan stage with zero shuffles; nothing here touches Python
per-row.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _words

# Tiny per-language function-word lists for the n-gram/stopword heuristic.
# Deliberately small + hardcoded so the DuckDB oracle can replicate exactly.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "une"),
    "es": ("el", "la", "los", "que", "es", "por", "con", "una"),
    "it": ("il", "che", "di", "per", "non", "sono", "della", "anche"),
    "pt": ("os", "que", "para", "com", "uma", "mais", "como", "dos"),
    "nl": ("de", "het", "een", "en", "van", "niet", "ook", "maar"),
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]

#: BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _token_pattern(tokens: "tuple[str, ...]") -> str:
    """Regex matching a whole whitespace-delimited token equal to any of
    `tokens` — the regexp_count twin of `words.isin(...)` filters: the
    token must start at ^ or after whitespace and end at $ or before
    whitespace, so 'in' never matches inside 'inside' and 'to,' never
    counts as 'to' (exactly the array filter's equality semantics).
    Tokens are escaped so a future list entry containing a regex
    metacharacter matches literally instead of corrupting the pattern."""
    alt = "|".join(re.escape(t) for t in tokens)
    return rf"(?:^|(?<=\s))(?:{alt})(?:$|(?=\s))"


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring feature columns: length, word count, punctuation
    ratio, stopword ratio, mean word length. Used to filter low-quality
    documents before training-data export.

    Everything compiles to JVM regexp/length expressions — no array
    materialization, no interpreted lambda HOFs (the previous filter/
    aggregate-over-split formulation ran interpreted; same values, these
    shapes whole-stage-codegen): word count is regexp_count(\\S+), the
    stopword count is a token-boundary alternation, and the token-length
    sum is length(text minus whitespace)."""
    c = F.col(text_col)
    lt = F.lower(F.trim(c))
    n_words = F.regexp_count(lt, F.lit(r"\S+"))
    n_stop = F.regexp_count(lt, F.lit(_token_pattern(ENGLISH_STOPWORDS)))
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    n_chars = F.length(c)
    word_chars = F.length(F.regexp_replace(lt, r"\s+", ""))
    return df.withColumns(
        {
            "n_chars_measured": n_chars.cast("long"),
            "n_words": n_words.cast("long"),
            "punct_ratio": (n_punct.cast("double") / F.greatest(n_chars, F.lit(1))),
            "stopword_ratio": (
                n_stop.cast("double") / F.greatest(n_words, F.lit(1))
            ),
            "mean_word_len": (
                word_chars.cast("double") / F.greatest(n_words, F.lit(1))
            ),
        }
    )


def _language_id_stateless(df: DataFrame, text_col: str) -> DataFrame:
    """Per-row (stateless) formulation of language_id: seven
    token-boundary regexp_counts — pure codegen'd JVM regex, no array
    build, no interpreted lambda filters (which the previous
    filter-over-split shape paid ~7 interpreted array passes per doc
    for). No aggregation, so it runs under readStream append mode
    unchanged; the stream-vs-batch parity test proves both formulations
    agree. coalesce(.., 0) keeps NULL text scoring 'und' like the batch
    path's left join does."""
    lt = F.lower(F.trim(F.col(text_col)))
    scores = {
        lang: F.coalesce(
            F.regexp_count(lt, F.lit(_token_pattern(sw))), F.lit(0)
        )
        for lang, sw in LANG_STOPWORDS.items()
    }
    # argmax by (score desc, lang asc) = least() over (neg, lang) structs
    # (lexicographic struct comparison — no array, no lambda comparator)
    best = F.least(
        *[
            F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang"))
            for lang in sorted(LANG_STOPWORDS)
        ]
    )
    return df.withColumn(
        "lang_pred",
        F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und")),
    ).withColumn("lang_pred_hits", (-best["neg"]).cast("long"))


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-hit language heuristic: score each language by function-word
    hits; argmax wins, ties broken alphabetically, zero hits → 'und'
    (undetermined). Deterministic so the SQL oracle can reproduce it.

    Batch plans stream words as rows (bound-array explode) with seven
    InSet conditional counts on one groupBy — whole-stage codegen, same
    rewrite as language_id_ngram. Streaming inputs take the stateless
    per-row formulation instead (aggregations would demand a watermark);
    both produce identical results (parity-tested).

    The batch shape joins scores back on `id_col`, which must uniquely
    identify rows (duplicate ids would fan the join out). A frame
    WITHOUT that column falls back to the stateless formulation — same
    results, so ad-hoc frames (including the LANGUAGE ID engine op on
    id-less inputs) keep working."""
    if df.isStreaming or id_col not in df.columns:
        return _language_id_stateless(df, text_col)
    arr = df.select(
        F.col(id_col).alias("__lid"),
        _words(F.col(text_col)).alias("__arr"),
    )
    w = arr.select("__lid", F.explode("__arr").alias("__w"))
    langs = sorted(LANG_STOPWORDS)
    scored = w.groupBy("__lid").agg(
        *[
            F.sum(
                F.when(F.col("__w").isin(*LANG_STOPWORDS[lg]), 1).otherwise(0)
            ).alias(f"__sw_{lg}")
            for lg in langs
        ]
    )
    # argmax by (score desc, lang asc) = least() over (neg, lang) structs
    best = F.least(
        *[
            F.struct(
                (-F.coalesce(F.col(f"__sw_{lg}"), F.lit(0))).alias("neg"),
                F.lit(lg).alias("lang"),
            )
            for lg in langs
        ]
    )
    out = (
        df.join(scored, df[id_col] == scored["__lid"], "left")
        .withColumn(
            "lang_pred",
            F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und")),
        )
        .withColumn("lang_pred_hits", (-best["neg"]).cast("long"))
    )
    return out.drop("__lid", *[f"__sw_{lg}" for lg in langs])


# Character-trigram profiles (space-padded word boundaries, ASCII-only so
# Spark and the SQL oracle agree byte-for-byte regardless of unicode
# collation). Hand-curated most-characteristic trigrams per language —
# the classic Cavnar-Trenkle n-gram profile approach, truncated to a
# static table. Deliberately overlapping across languages (realistic);
# frequency-weighted counting disambiguates.
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", " an", "and", "nd ", "ing", "ng ", " of",
           "of ", " to", "to ", " in", "in ", "ion", "ed ", " is", "is ",
           "at ", "tio"),
    "de": (" de", "der", "er ", "die", "ie ", "und", " un", "nd ", "ich",
           "ch ", "sch", " sc", "ein", " ei", "ung", "gen", "ten", "cht",
           "das", "en "),
    "fr": (" de", "de ", " le", "le ", "es ", "ent", "nt ", " la", "la ",
           "ion", "que", " qu", "ue ", "les", " et", "et ", "re ", "ons",
           " pa", "ait"),
    "es": (" de", "de ", " la", "la ", " el", "el ", "que", " qu", "ue ",
           "os ", "ado", " co", "con", "ent", " en", "en ", "cio", "ion",
           "es ", "ar "),
    "it": (" di", "di ", "che", " ch", "he ", "to ", "la ", "re ", "ion",
           "zio", "one", " co", "per", " pe", "er ", "ell", "lla", "are",
           "ta ", "no "),
    "pt": (" de", "de ", "que", " qu", "ue ", "os ", "ar ", "do ", "da ",
           " pa", "par", "ra ", "nte", "ent", " co", "com", "uma", " um",
           "ma ", "as "),
    "nl": (" de", "de ", "en ", "het", " he", "et ", "van", " va", "an ",
           "een", " ee", "er ", "ijn", "ij ", "aar", " ni", "nie", "iet",
           "oor", " da"),
}


def _language_id_ngram_stateless(df: DataFrame, text_col: str) -> DataFrame:
    """Per-row (stateless) trigram formulation, as seven zero-width
    lookahead regexp_counts: `(?=(?:tri1|tri2|...))` matches at every
    POSITION where a profile trigram starts, so overlapping trigrams all
    count — exactly the per-position semantics of the previous
    trigram-array + lambda-filter shape, without materializing a len-2
    array per doc or running interpreted HOFs (a plain alternation
    without the lookahead would undercount: regex matches don't overlap).
    Only the streaming path uses this (no aggregation → append-mode
    legal); parity-tested equal to the batch explode+aggregate."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    scores = {
        lang: F.coalesce(
            F.regexp_count(
                padded,
                F.lit("(?=(?:"
                      + "|".join(re.escape(t) for t in prof)
                      + "))"),
            ),
            F.lit(0),
        )
        for lang, prof in LANG_TRIGRAMS.items()
    }
    best = F.least(
        *[
            F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang"))
            for lang in sorted(LANG_TRIGRAMS)
        ]
    )
    return df.withColumn(
        "lang_pred",
        F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und")),
    ).withColumn("lang_pred_score", (-best["neg"]).cast("long"))


def language_id_ngram(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-trigram language ID (Cavnar-Trenkle-style profiles).

    Scores each language by the FREQUENCY of its profile trigrams in the
    space-padded, whitespace-normalized lowercase text — robust on short
    or function-word-poor text where the stopword heuristic
    (`language_id`) sees zero hits. Argmax wins, ties break
    alphabetically, zero score → 'und'.

    Trigrams stream as rows: each character posexplodes, two window
    LEADs assemble the trigram, and seven InSet conditional counts ride
    one groupBy — all whole-stage codegen, one shuffle on the doc id,
    scores joined back to the input. The previous formulation built a
    per-doc trigram ARRAY and ran 7 interpreted lambda filters over it:
    a giant single expression that Catalyst cannot codegen (measured
    154s for 5k×300-char docs at sf0.1; this shape runs in ~1s,
    identical results). Streaming inputs take the stateless per-row
    formulation (aggregations would demand a watermark); parity-tested
    equal.

    `id_col` must uniquely identify rows (the scores join back on it);
    a frame without that column falls back to the stateless formulation
    — identical results."""
    from pyspark.sql import Window

    if df.isStreaming or id_col not in df.columns:
        return _language_id_ngram_stateless(df, text_col)
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    # bind the char array to a column BEFORE the generate: a generator fed
    # a raw expression alongside other non-trivial projections drops out
    # of codegen and re-evaluates the expression per OUTPUT row — O(len²)
    # per doc (measured 11s vs 0.4s at sf0.1 for this one line)
    arr = df.select(
        F.col(id_col).alias("__lid"), F.split(padded, "").alias("__arr")
    )
    chars = arr.select(
        "__lid",
        F.size("__arr").alias("__plen"),
        F.posexplode("__arr").alias("__pos", "__c"),
    )
    win = Window.partitionBy("__lid").orderBy("__pos")
    tg = F.concat(
        F.col("__c"), F.lead("__c", 1).over(win), F.lead("__c", 2).over(win)
    )
    grams = chars.withColumn("__tg", tg).where(
        F.col("__pos") <= F.col("__plen") - 3
    )
    langs = sorted(LANG_TRIGRAMS)
    scored = grams.groupBy("__lid").agg(
        *[
            F.sum(
                F.when(F.col("__tg").isin(*LANG_TRIGRAMS[lg]), 1).otherwise(0)
            ).alias(f"__sc_{lg}")
            for lg in langs
        ]
    )
    best = F.least(
        *[
            F.struct(
                (-F.coalesce(F.col(f"__sc_{lg}"), F.lit(0))).alias("neg"),
                F.lit(lg).alias("lang"),
            )
            for lg in langs
        ]
    )
    out = (
        df.join(scored, df[id_col] == scored["__lid"], "left")
        .withColumn(
            "lang_pred",
            F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und")),
        )
        .withColumn("lang_pred_score", (-best["neg"]).cast("long"))
    )
    return out.drop("__lid", *[f"__sc_{lg}" for lg in langs])


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of the whitespace-normalized,
    lowercased text. Stable across engines (the DuckDB oracle computes the
    identical digest), used as the exact-dedup key."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn("doc_fp", F.md5(norm))


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints — Schleimer et al., SIGMOD'03:
    hash every word k-gram in document order, slide a window of `window`
    consecutive hashes, keep each window's minimum; the distinct kept
    hashes are the document's fingerprint set (guaranteed to overlap for
    any shared run of >= k+window-1 words — the local-similarity detector
    whole-doc md5 can't be).

    Output: (id, fp) exploded, one row per fingerprint. The k-grams and
    rolling minima compile to posexplode + window LEADs/ROWS-frame min —
    all whole-stage codegen, one hash shuffle on the doc id (the same
    rewrite that took the shingle builder off the interpreted-HOF path);
    the hash is an md5 window, so the SQL oracle reproduces it exactly."""
    from pyspark.sql import Window

    w0 = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_words(F.col(text_col))).alias("pos", "w"),
    )
    win = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, k)]
    grams = (
        w0.withColumn("gram", F.concat_ws(" ", *leads))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("id")))
        .where(F.col("pos") <= F.col("__n") - k)  # no rows when n < k
        .select(
            "id", "pos",
            F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10)
            .cast("long").alias("h"),
        )
    )
    # rolling minimum over `window` consecutive hashes (frame caps at the
    # partition end, mirroring slice() at the array end); window start
    # positions run 0..max(n_grams - window, 0)
    fp = F.min("h").over(win.rowsBetween(0, window - 1))
    rn0 = F.row_number().over(win) - 1
    n_grams = F.count(F.lit(1)).over(Window.partitionBy("id"))
    mins = (
        grams.withColumn("fp", fp)
        .withColumn("__rn0", rn0)
        .withColumn("__ng", n_grams)
        .where(F.col("__rn0") <= F.greatest(F.col("__ng") - window, F.lit(0)))
        .select("id", "fp")
    )
    # distinct per doc without another exchange (id-partitioned already)
    return mins.groupBy("id").agg(F.collect_set("fp").alias("__fps")).select(
        "id", F.explode("__fps").alias("fp")
    )


#: quality-rule thresholds (gopher-style repetition/format heuristics,
#: shared with the SQL oracle)
QUALITY_RULES = {
    "min_words": 10,
    "max_words": 100_000,
    "max_punct_ratio": 0.10,
    "min_stopword_ratio": 0.01,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
}


def quality_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rule-based quality flags over the text_stats features (the
    gopher-style pre-training filter shape): one boolean per rule plus the
    conjunction `keep`. Pure Column — composes with FILTER in a config
    program to drop low-quality docs before export."""
    r = QUALITY_RULES
    out = text_stats(df, text_col)
    flags = {
        "ok_word_count": (F.col("n_words") >= r["min_words"])
        & (F.col("n_words") <= r["max_words"]),
        "ok_punct": F.col("punct_ratio") <= r["max_punct_ratio"],
        "ok_stopwords": F.col("stopword_ratio") >= r["min_stopword_ratio"],
        "ok_word_len": (F.col("mean_word_len") >= r["min_mean_word_len"])
        & (F.col("mean_word_len") <= r["max_mean_word_len"]),
    }
    out = out.withColumns(flags)
    keep = None
    for name in flags:
        keep = F.col(name) if keep is None else (keep & F.col(name))
    return out.withColumn("keep", keep)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    n: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Repetition-based quality features (the Gopher/MassiveText rule
    family — Rae et al. 2021 §A1.1): per document,

      - ``dup_word_frac``   — fraction of word occurrences that are
        repeats of an earlier word (1 - distinct/total);
      - ``top_ngram_frac``  — fraction of word n-gram occurrences taken
        by the single most frequent n-gram;
      - ``dup_ngram_frac``  — fraction of n-gram occurrences that are
        repeats (1 - distinct/total).

    High values flag boilerplate/spam docs for curation filters. ONE
    corpus scan, no joins: posexplode_outer keeps a placeholder row even
    for empty/short docs, word-level features (count / collect_set size)
    ride the same per-doc window the gram LEADs use, and gram-less docs
    survive the aggregation via a synthetic NULL-gram row — so the plan
    is scan → window(id) → two map-side-combinable aggregations, where
    the previous formulation scanned the corpus twice (word branch +
    gram branch) and paid a join to stitch them. No interpreted HOFs,
    no all-pairs anything, linear at any corpus size. Fractions are
    plain long/long divisions in a fixed order so the DuckDB oracle
    reproduces them bit-for-bit; docs with < n words get 0.0 (no grams
    to repeat).
    """
    from pyspark.sql import Window

    words = _words(F.col(text_col))
    w0 = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(words).alias("pos", "w"),
    )
    win = Window.partitionBy("id").orderBy("pos")
    full = Window.partitionBy("id")
    leads = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, n)]
    enriched = (
        w0.withColumn("__nw", F.count("w").over(full))
        .withColumn("__nd", F.size(F.collect_set("w").over(full)).cast("long"))
        .withColumn(
            "gram",
            F.when(F.col("pos") <= F.col("__nw") - n,
                   F.concat_ws(" ", *leads)),
        )
        # keep real gram rows, plus ONE synthetic NULL-gram row (the
        # first/placeholder row) for docs too short to have any gram
        .where(
            F.col("gram").isNotNull()
            | ((F.coalesce(F.col("pos"), F.lit(0)) == 0)
               & (F.col("__nw") < n))
        )
    )
    per_gram = enriched.groupBy("id", "gram").agg(
        F.count(F.lit(1)).alias("c"),
        F.max("__nw").alias("__nw"),
        F.max("__nd").alias("__nd"),
    )
    real = F.col("gram").isNotNull()
    per_doc = per_gram.groupBy("id").agg(
        F.sum(F.when(real, F.col("c"))).alias("__total"),
        F.max(F.when(real, F.col("c"))).alias("__mx"),
        F.count(F.when(real, F.lit(1))).alias("__distinct"),
        F.max("__nw").alias("n_words"),
        F.max("__nd").alias("__nd"),
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_words",
        F.when(F.col("n_words") > 0,
               (F.col("n_words") - F.col("__nd"))
               / F.col("n_words")).otherwise(F.lit(0.0))
        .alias("dup_word_frac"),
        F.coalesce(F.col("__mx") / F.col("__total"), F.lit(0.0))
        .alias("top_ngram_frac"),
        F.coalesce(
            (F.col("__total") - F.col("__distinct")) / F.col("__total"),
            F.lit(0.0),
        ).alias("dup_ngram_frac"),
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-k word n-grams by total occurrence count (WITH
    per-doc duplicates — frequency, not document frequency): the
    vocabulary-seeding shape for tokenizer training and collocation
    mining. Output (ngram, n_occurrences), count desc / ngram asc.

    One explode + one count shuffle + TakeOrderedAndProject (a per-
    partition heap + single merge — no global sort): at 100 TB the only
    full-data pass is the map-side partial count."""
    from pyspark.sql import Window

    words = _words(F.col(text_col))
    if n == 1:
        grams = df.select(F.explode(words).alias("ngram"))
    else:
        # doc id binds BEFORE the explode: evaluated next to a generator,
        # monotonically_increasing_id would get a fresh value per OUTPUT
        # row, splitting every doc into single-word "docs"
        base = df.select(
            F.monotonically_increasing_id().alias("__doc"),
            words.alias("__w"),
        )
        w0 = base.select("__doc", F.posexplode("__w").alias("pos", "w"))
        win = Window.partitionBy("__doc").orderBy("pos")
        leads = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, n)]
        grams = (
            w0.withColumn("ngram", F.concat_ws(" ", *leads))
            .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("__doc")))
            .where(F.col("pos") <= F.col("__n") - n)
            .select("ngram")
        )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Greedy sequence packing — assign every document its position in
    the fixed-length training sequences a data loader would emit
    (GPT-style continuous packing: documents are concatenated in order
    and split every `seq_len` tokens; a doc can straddle a boundary).
    Per shard: docs in deterministic `id_col` order, `seq_id` = (tokens
    before this doc) div seq_len and `seq_offset` the position within
    that sequence; (shard, seq_id, seq_offset) tells the loader exactly
    where each doc's tokens land without materializing token ids.

    Packing is PER SHARD (`shard_col`) because a single global running
    sum is a total order — one task at any scale. A shard is the packing
    atom (one output file / loader stream): within it the running sum is
    one window over one partition, and shards pack in parallel. Token
    counts default to the BPE-ish regexp proxy (token_count_bpe_ish);
    pass `tokens_col` naming a precomputed REAL-tokenizer length column
    and the proxy is skipped entirely — the packing math is
    tokenizer-agnostic.

    Output: (id, shard, n_tokens, seq_id, seq_offset); pure window math,
    one shuffle on the shard key, SQL-replayable exactly.
    """
    from pyspark.sql import Window

    if tokens_col is not None:
        counted = df.withColumn(
            "n_tokens", F.col(tokens_col).cast("long")
        )
    else:
        counted = token_count_bpe_ish(df, text_col)
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    # BIGINT div, not float-divide-and-truncate: exact past 2^53 tokens
    return counted.withColumn("__before", before).select(
        id_col,
        shard_col,
        "n_tokens",
        F.expr(f"__before div {seq_len}").alias("seq_id"),
        (F.col("__before") % seq_len).alias("seq_offset"),
    )


#: classifier feature -> weight; the model is a plain logistic layer
#: over the text_stats features (the fasttext-classifier SHAPE used for
#: pretraining-quality gating, with engineered features standing in for
#: learned n-gram embeddings — swap the weights for a trained set)
DEFAULT_CLASSIFIER_WEIGHTS: "dict[str, float]" = {
    "log_n_words": 0.35,
    "mean_word_len": 0.15,
    "punct_ratio": -3.0,
    "stopword_ratio": 2.0,
}
DEFAULT_CLASSIFIER_BIAS = -2.0


def classifier_score(
    df: DataFrame,
    weights: "dict[str, float] | None" = None,
    bias: float = DEFAULT_CLASSIFIER_BIAS,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Logistic quality classifier over the text_stats features:
    quality_score = sigmoid(bias + Σ w_f · f), quality_keep = score >=
    threshold. Pure Column on top of the codegen feature expressions —
    zero shuffles; the weights fold into the plan as literals.

    Determinism: the linear term accumulates in SORTED feature-name
    order on both engines, so the float expression trees are identical;
    the score rounds to 6 decimals (the similarity-score convention).

    Features: log_n_words = ln(1 + n_words), mean_word_len,
    punct_ratio, stopword_ratio. Unknown weight keys raise."""
    w = dict(DEFAULT_CLASSIFIER_WEIGHTS if weights is None else weights)
    feats = {
        "log_n_words": F.log(F.lit(1.0) + F.col("n_words").cast("double")),
        "mean_word_len": F.col("mean_word_len"),
        "punct_ratio": F.col("punct_ratio"),
        "stopword_ratio": F.col("stopword_ratio"),
    }
    unknown = set(w) - set(feats)
    if unknown:
        raise ValueError(
            f"unknown classifier features {sorted(unknown)}; "
            f"available: {sorted(feats)}"
        )
    out = text_stats(df, text_col)
    z = F.lit(float(bias))
    for name in sorted(w):
        z = z + F.lit(float(w[name])) * feats[name]
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return out.withColumn("quality_score", score).withColumn(
        "quality_keep", F.col("quality_score") >= F.lit(float(threshold))
    )


def surprisal_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm_df: "DataFrame | None" = None,
    lm_text_col: str | None = None,
    alpha: float = 1.0,
) -> DataFrame:
    """Unigram language-model surprisal per document — the CCNet-style
    quality/fluency signal (Wenzek et al. 2020 score with a KenLM;
    unigram here, in-engine, no model artifact): documents full of rare
    or garbage tokens score HIGH, fluent common-word text scores LOW.
    Per doc: avg over word occurrences of -ln p(w), where p comes from
    the reference corpus `lm_df` (default: the scored corpus itself).

    Determinism across engines (the oracle convention): each word's
    surprisal ln(N/c) is rounded to 6 decimals FIRST, the per-doc sum
    runs in DECIMAL (exact, order-independent), and only the final
    average casts back to double — accumulation order can't flip bits.

    Scoring against a separate reference corpus uses Laplace smoothing:
    p(w) = (c(w) + alpha) / (N + alpha * (V + 1)), so out-of-vocabulary
    words get the finite maximal surprisal instead of infinity. With
    lm_df=None (self-scoring) every scored word was counted, alpha is
    irrelevant, and the un-smoothed MLE keeps the oracle SQL simple.

    Plan: one explode + word-count shuffle for the LM, the corpus total
    as a broadcast crossJoin scalar (the c6 ATTACH SUMEQ shape), then
    one equi-join words->counts (AQE splits the hot stopword keys) and
    a per-doc aggregation. Docs with zero words are absent from the
    output (nothing to average), documented.

    Output: (id, n_words, avg_surprisal) — avg_surprisal in nats,
    rounded to 6 decimals.
    """
    src_lm = lm_df if lm_df is not None else df
    lm_text = lm_text_col if lm_text_col is not None else text_col
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(_words(F.col(text_col))).alias("w"),
    )
    counts = (
        src_lm.select(F.explode(_words(F.col(lm_text))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    if lm_df is None:
        total = counts.agg(F.sum("__c").alias("__n"))
        joined = words.join(counts, on="w").crossJoin(F.broadcast(total))
        sup = F.log(F.col("__n").cast("double") / F.col("__c").cast("double"))
    else:
        # coalesce the zero-row SUM to 0 (an EMPTY reference LM must
        # yield the finite Laplace OOV surprisal, matching the
        # surprisal_lm_table streaming dual — not NULL everywhere)
        vocab = counts.agg(
            F.coalesce(F.sum("__c"), F.lit(0)).alias("__n"),
            F.count(F.lit(1)).alias("__v"),
        )
        joined = (
            words.join(counts, on="w", how="left")
            .crossJoin(F.broadcast(vocab))
        )
        denom = F.col("__n").cast("double") + F.lit(alpha) * (
            F.col("__v").cast("double") + 1.0
        )
        num = F.coalesce(F.col("__c"), F.lit(0)).cast("double") + F.lit(alpha)
        sup = F.log(denom / num)
    scored = joined.withColumn(
        "__s", F.round(sup, 6).cast("decimal(18,6)")
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__s").alias("__sum"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_words",
            # exact decimal sum -> ONE double division (IEEE-identical
            # in both engines), then round: no decimal-scale divergence
            F.round(
                F.col("__sum").cast("double") / F.col("n_words"), 6
            ).alias("avg_surprisal"),
        )
    )


def surprisal_lm_table(
    lm_df: DataFrame,
    text_col: str = "text",
    alpha: float = 1.0,
    max_vocab: int = 1_000_000,
) -> "tuple[list[str], list[int], int]":
    """Driver-side unigram LM for the streaming scorer: (vocab words,
    per-word surprisal in integer MICRO-NATS, OOV surprisal). The
    surprisals are computed IN SPARK with the exact expressions the
    batch scorer uses (round(log(...), 6)), so stream == batch holds
    bit-for-bit — precomputing with Python's math.log could differ by
    an ulp and flip the 6th decimal. Bounded by max_vocab (the
    eval_gram_set budget); compute once per LM release, reuse across
    streams."""
    counts = (
        lm_df.select(F.explode(_words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    vocab = counts.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).alias("__n"),  # empty LM -> 0
        F.count(F.lit(1)).alias("__v"),
    )
    denom = F.col("__n").cast("double") + F.lit(alpha) * (
        F.col("__v").cast("double") + 1.0
    )
    # re-round after the 1e6 scale-up: the 6dp double is not exactly
    # binary-representable, so *1e6 can sit an ulp BELOW the integer and
    # a bare long cast would truncate it off by one
    s6 = F.round(
        F.round(F.log(denom / (F.col("__c").cast("double") + F.lit(alpha))), 6)
        * 1_000_000,
        0,
    ).cast("long")
    rows = (
        counts.crossJoin(F.broadcast(vocab))
        .select("w", s6.alias("s6"))
        .collect()
    )
    if len(rows) > max_vocab:
        raise ValueError(
            f"LM vocabulary {len(rows)} exceeds max_vocab={max_vocab}; "
            f"a literal that large would bloat every task — shrink the "
            f"LM corpus or run batch surprisal_score()"
        )
    (oov_row,) = (
        vocab.select(
            F.round(
                F.round(F.log(denom / F.lit(alpha)), 6) * 1_000_000, 0
            ).cast("long").alias("s6")
        ).collect()
    )
    rows.sort(key=lambda r: r["w"])
    return (
        [r["w"] for r in rows],
        [r["s6"] for r in rows],
        oov_row["s6"],
    )


def surprisal_score_stream(
    df: DataFrame,
    lm: "tuple[list[str], list[int], int]",
    text_col: str = "text",
) -> DataFrame:
    """Streaming-legal surprisal: the batch operator's corpus-wide count
    shuffle and per-doc aggregation are illegal under readStream append
    mode, so this variant is PURE per-row Column math — the LM rides the
    plan as a constant-folded map literal (map_from_arrays of two array
    literals), each word looks up its micro-nat surprisal (OOV → the
    Laplace-maximal value), and the per-doc sum is an exact integer fold.
    Same (n_words, avg_surprisal) as surprisal_score(lm_df=...) with the
    same alpha — parity pytest-pinned stream-vs-batch. Wordless docs
    keep their row with NULL avg_surprisal (a stream must not drop rows
    silently); the batch scorer omits them, stated there.

    Trade-offs, stated plainly: the lambda HOFs run interpreted (fine at
    stream arrival rates, NOT the batch path) and the vocab is bounded
    by surprisal_lm_table's max_vocab."""
    words_v, s6_v, oov_s6 = lm
    words = _words(F.col(text_col))
    if words_v:
        m = F.map_from_arrays(
            F.lit(words_v),
            F.lit(s6_v).cast("array<long>"),
        )
        sup = F.transform(
            words, lambda w: F.coalesce(
                F.element_at(m, w), F.lit(oov_s6).cast("long")
            )
        )
    else:  # empty LM: everything is OOV
        sup = F.transform(words, lambda w: F.lit(oov_s6).cast("long"))
    total = F.aggregate(
        sup, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    n = F.size(words).cast("long")
    return df.withColumn("n_words", n).withColumn(
        "avg_surprisal",
        F.when(
            n > 0,
            F.round(total.cast("double") / 1_000_000.0 / n, 6),
        ),
    )


def derive_shard_key(
    df: DataFrame,
    target_tokens: "int | None" = None,
    base_shard_col: str = "source",
    tokens_col: "str | None" = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "shard",
    out_col: str = "shard",
    target_bytes: "int | None" = None,
    bytes_col: "str | None" = None,
) -> DataFrame:
    """Size-targeted shard keys for pack_sequences / the shard writer:
    split every base shard into ceil(total_weight / target) hash-buckets,
    so one hot domain can never produce a single monster shard (a shard
    is one packing window partition AND one output file — its size
    bounds both the window's task and the file).

    The target is EITHER token-based (target_tokens; weight defaults to
    the BPE-ish proxy, pass tokens_col for real counts — the
    pack_sequences seam) OR byte-based (target_bytes; weight defaults
    to octet_length(text_col), the serialized-size estimate that makes
    OUTPUT FILES hit a size target — pass bytes_col when rows carry a
    fuller estimate, e.g. text + metadata + parquet overhead). Exactly
    one of the two targets must be set.

    One counting pass collects per-base totals (bounded by the number
    of base shards, the mixture-op budget); the subshard counts fold
    into a literal CASE, and the bucket is the md5 content hash of the
    doc id — deterministic, partitioning-invariant, engine-portable
    (the sampling-family _bucket). Output shard names are
    '<base>#<bucket>'. Expected subshard size ~= the target
    (hash-uniform across docs; exact balance would need a running-sum
    shuffle per base — the approximation is the point)."""
    if (target_tokens is None) == (target_bytes is None):
        raise ValueError(
            "exactly one of target_tokens / target_bytes must be set"
        )
    target = target_tokens if target_tokens is not None else target_bytes
    if target < 1:
        raise ValueError(
            f"target_tokens/target_bytes must be >= 1, got {target}"
        )
    from .sampling import _bucket

    if target_bytes is not None:
        if tokens_col is not None:
            raise ValueError("tokens_col only applies to target_tokens")
        if bytes_col is None:
            if "n_bytes" in df.columns:
                # silently overwriting a caller's (likely fuller) size
                # estimate with bare octet_length would corrupt the
                # totals invisibly — make them choose
                raise ValueError(
                    "input already has an n_bytes column; pass "
                    "bytes_col='n_bytes' to use it as the weight"
                )
            counted = df.withColumn(
                "n_bytes", F.octet_length(F.col(text_col)).cast("long")
            )
            weight_col = "n_bytes"
        else:
            counted = df
            weight_col = bytes_col
    else:
        if bytes_col is not None:
            raise ValueError("bytes_col only applies to target_bytes")
        if tokens_col is None:
            if "n_tokens" in df.columns:
                raise ValueError(
                    "input already has an n_tokens column; pass "
                    "tokens_col='n_tokens' to use it as the weight"
                )
            counted = token_count_bpe_ish(df, text_col)
            weight_col = "n_tokens"
        else:
            counted = df
            weight_col = tokens_col
    totals = (
        counted.groupBy(base_shard_col)
        .agg(F.sum(F.col(weight_col).cast("long")).alias("__t"))
        .collect()  # bounded: one row per base shard
    )
    n_sub = {
        str(r[base_shard_col]): max(
            1, -(-int(r["__t"] or 0) // target)
        )
        for r in totals
    }
    case = None
    for base, n in sorted(n_sub.items()):
        cond = F.col(base_shard_col).cast("string") == base
        case = (
            F.when(cond, F.lit(n)) if case is None
            else case.when(cond, F.lit(n))
        )
    n_col = case.otherwise(F.lit(1)) if case is not None else F.lit(1)
    bucket = _bucket(F.col(id_col), seed) % n_col
    return counted.withColumn(
        out_col,
        F.concat_ws("#", F.col(base_shard_col).cast("string"),
                    bucket.cast("string")),
    )


def token_count_bpe_ish(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Approximate LLM token count: BPE-ish pre-tokenization (word / number /
    symbol pieces) — the standard cheap proxy when the real tokenizer isn't
    on the cluster."""
    return df.withColumn(
        "n_tokens",
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)).cast(
            "long"
        ),
    )


def backoff_surprisal(
    df: DataFrame,
    lm_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm_text_col: "str | None" = None,
    backoff: float = 0.4,
    alpha: float = 1.0,
) -> DataFrame:
    """Bigram Stupid-Backoff surprisal per document (Brants et al. 2007,
    "Large Language Models in Machine Translation") — the contextual
    step past surprisal_score's unigram LM: a doc full of individually
    common words in IMPLAUSIBLE ORDER now scores high.

    Per word position i: S(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})
    when the reference corpus saw the bigram, else backoff * S_uni(w_i);
    the first word and the unigram base case use the Laplace-smoothed
    S_uni(w) = (c(w) + alpha) / (N + alpha * (V + 1)) so out-of-vocab
    words stay finite (the surprisal_score reference-LM convention).
    Surprisal is -ln S, averaged per doc.

    The reference LM is a REQUIRED second relation: self-scoring is
    pointless here (every adjacent pair of the scored corpus occurs in
    itself, so backoff would never fire).

    Determinism: per-position surprisal rounds to 6 decimals FIRST,
    per-doc sums run in DECIMAL, one final double division (the t10
    oracle convention — accumulation order can't flip bits).

    100 TB shape: one posexplode + lag window (hash shuffle on doc id),
    two corpus-wide count aggregations on the LM side (map-side
    partial), then three hash joins on content keys — bigram, word,
    context word — all AQE-skew-splittable (stopword keys are hot by
    nature, the d9/t10 documented path); per-doc aggregation reuses the
    window's id partitioning. No collect, no window over the LM.

    Output: (id_col, n_words, avg_surprisal) — wordless docs absent."""
    from pyspark.sql import Window

    lm_text = lm_text_col if lm_text_col is not None else text_col
    w0 = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_words(F.col(text_col))).alias("pos", "w"),
    )
    win = Window.partitionBy("id").orderBy("pos")
    positions = w0.withColumn("pw", F.lag("w").over(win))

    lm_words = lm_df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_words(F.col(lm_text))).alias("pos", "w"),
    )
    uni = lm_words.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    vocab = uni.agg(
        F.coalesce(F.sum("cu"), F.lit(0)).alias("n"),
        F.count(F.lit(1)).alias("v"),
    )
    lm_win = Window.partitionBy("id").orderBy("pos")
    bi = (
        lm_words.withColumn("pw", F.lag("w").over(lm_win))
        .where(F.col("pw").isNotNull())
        .groupBy("pw", "w")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    joined = (
        positions
        .join(bi, ["pw", "w"], "left")
        .join(uni.withColumnsRenamed({"w": "pw", "cu": "cupw"}), "pw", "left")
        .join(uni, "w", "left")
        .crossJoin(F.broadcast(vocab))
    )
    s_uni = (
        (F.coalesce(F.col("cu"), F.lit(0)).cast("double") + F.lit(alpha))
        / (F.col("n").cast("double")
           + F.lit(alpha) * (F.col("v").cast("double") + F.lit(1.0)))
    )
    s = (
        F.when(
            F.col("pw").isNotNull() & F.col("cb").isNotNull(),
            F.col("cb").cast("double") / F.col("cupw").cast("double"),
        )
        .when(F.col("pw").isNotNull(), F.lit(backoff) * s_uni)
        .otherwise(s_uni)
    )
    scored = joined.withColumn(
        "__s", F.round(-F.log(s), 6).cast("decimal(18,6)")
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__s").alias("__sum"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_words",
            F.round(
                F.col("__sum").cast("double") / F.col("n_words"), 6
            ).alias("avg_surprisal"),
        )
    )


def backoff_lm_table(
    lm_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff: float = 0.4,
    alpha: float = 1.0,
    max_vocab: int = 1_000_000,
) -> "tuple[list[str], list[int], list[int], list[str], list[int], int, int]":
    """Driver-side bigram Stupid-Backoff LM for the streaming scorer:
    (uni words, first-word s6, backed-off s6, bigram keys 'pw w',
    bigram s6, first-word OOV s6, backed-off OOV s6), surprisals in
    integer MICRO-NATS. Each s6 vector is computed IN SPARK with the
    exact single-rounding expressions the batch scorer uses — in
    particular round(-ln(backoff * S_uni), 6) is ONE rounding, not
    round(-ln backoff) + round(-ln S_uni), which can differ in the 6th
    decimal — so stream == batch holds bit-for-bit. Bounded by
    max_vocab across unigrams + bigrams (the eval_gram_set budget);
    compute once per LM release, reuse across streams."""
    # per-doc id from the caller, NOT monotonically_increasing_id: an id
    # expression next to a generator re-evaluates per output row (the
    # d9 hazard) and would interleave docs inside the lag window
    words = lm_df.select(
        F.col(id_col).alias("__rid"),
        F.posexplode(_words(F.col(text_col))).alias("pos", "w"),
    )
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    vocab = uni.agg(
        F.coalesce(F.sum("cu"), F.lit(0)).alias("n"),
        F.count(F.lit(1)).alias("v"),
    )
    denom = F.col("n").cast("double") + F.lit(alpha) * (
        F.col("v").cast("double") + 1.0
    )

    def s6(expr):
        # re-round after the 1e6 scale-up (see surprisal_lm_table)
        return F.round(F.round(expr, 6) * 1_000_000, 0).cast("long")

    s_uni = (F.col("cu").cast("double") + F.lit(alpha)) / denom
    uni_rows = (
        uni.crossJoin(F.broadcast(vocab))
        .select(
            "w",
            s6(-F.log(s_uni)).alias("first6"),
            s6(-F.log(F.lit(backoff) * s_uni)).alias("back6"),
        )
        .collect()
    )
    from pyspark.sql import Window

    lm_win = Window.partitionBy("__rid").orderBy("pos")
    bi = (
        words.withColumn("pw", F.lag("w").over(lm_win))
        .where(F.col("pw").isNotNull())
        .groupBy("pw", "w")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    bi_rows = (
        bi.join(uni.withColumnsRenamed({"w": "pw", "cu": "cupw"}), "pw")
        .select(
            F.concat_ws(" ", "pw", "w").alias("k"),
            s6(-F.log(
                F.col("cb").cast("double") / F.col("cupw").cast("double")
            )).alias("s6"),
        )
        .collect()
    )
    if len(uni_rows) + len(bi_rows) > max_vocab:
        raise ValueError(
            f"LM size {len(uni_rows)}+{len(bi_rows)} exceeds "
            f"max_vocab={max_vocab}; a literal that large would bloat "
            f"every task — shrink the LM corpus or run batch "
            f"backoff_surprisal()"
        )
    s_oov = F.lit(alpha) / denom
    (oov_row,) = (
        vocab.select(
            s6(-F.log(s_oov)).alias("first6"),
            s6(-F.log(F.lit(backoff) * s_oov)).alias("back6"),
        ).collect()
    )
    uni_rows.sort(key=lambda r: r["w"])
    bi_rows.sort(key=lambda r: r["k"])
    return (
        [r["w"] for r in uni_rows],
        [r["first6"] for r in uni_rows],
        [r["back6"] for r in uni_rows],
        [r["k"] for r in bi_rows],
        [r["s6"] for r in bi_rows],
        oov_row["first6"],
        oov_row["back6"],
    )


def backoff_surprisal_stream(
    df: DataFrame,
    lm: "tuple[list[str], list[int], list[int], list[str], list[int], int, int]",
    text_col: str = "text",
) -> DataFrame:
    """Streaming-legal bigram Stupid-Backoff surprisal: the batch
    operator's LM count shuffles, lag window, and per-doc aggregation
    are all illegal under readStream append mode, so this variant is
    PURE per-row Column math — the LM rides the plan as constant-folded
    map literals (first-word / backed-off unigram maps + the bigram
    map), each position looks up its micro-nat surprisal, and the
    per-doc sum is an exact integer fold. Same (n_words, avg_surprisal)
    as backoff_surprisal(lm_df) with the same backoff/alpha — parity
    pytest-pinned stream-vs-batch. Wordless docs keep their row with
    NULL avg_surprisal (a stream must not drop rows silently); the
    batch scorer omits them, stated there.

    Trade-offs as surprisal_score_stream: interpreted lambda HOFs (fine
    at stream arrival rates, NOT the batch path), vocab bounded by
    backoff_lm_table's max_vocab."""
    uni_w, first6, back6, bi_k, bi_s6, oov_first, oov_back = lm
    words = _words(F.col(text_col))

    def lookup(keys, vals, key_col, default):
        if not keys:
            return F.lit(default).cast("long")
        m = F.map_from_arrays(F.lit(keys), F.lit(vals).cast("array<long>"))
        return F.coalesce(F.element_at(m, key_col), F.lit(default).cast("long"))

    # size=0 must yield [] — sequence(0, -1) DESCENDS to [0, -1] and
    # element_at(words, 0) then throws, aborting a whole streaming query
    # on one blank row; guard explicitly rather than relying on the
    # n > 0 mask below lazily skipping the branch (the dedup.py
    # _shingles convention)
    idx = F.when(
        F.size(words) > 0, F.sequence(F.lit(0), F.size(words) - 1)
    ).otherwise(F.array().cast("array<int>"))
    sup = F.transform(
        idx,
        lambda i: F.when(
            i == 0,
            lookup(uni_w, first6, F.element_at(words, i + 1), oov_first),
        ).otherwise(
            F.coalesce(
                # seen bigram: exact MLE surprisal
                (F.element_at(
                    F.map_from_arrays(
                        F.lit(bi_k), F.lit(bi_s6).cast("array<long>")
                    ),
                    F.concat_ws(
                        " ", F.element_at(words, i), F.element_at(words, i + 1)
                    ),
                ) if bi_k else F.lit(None).cast("long")),
                # unseen bigram: backed-off unigram surprisal
                lookup(uni_w, back6, F.element_at(words, i + 1), oov_back),
            )
        ),
    )
    total = F.aggregate(sup, F.lit(0).cast("long"), lambda acc, x: acc + x)
    n = F.size(words).cast("long")
    return df.withColumn("n_words", n).withColumn(
        "avg_surprisal",
        F.when(n > 0, F.round(total.cast("double") / 1_000_000.0 / n, 6)),
    )


def perplexity_partition(
    scored: DataFrame,
    score_col: str = "avg_surprisal",
    id_col: str = "doc_id",
    strata_col: "str | None" = None,
    n_buckets: int = 3,
    labels: "tuple[str, ...] | None" = ("head", "middle", "tail"),
    out_col: str = "ppl_bucket",
) -> DataFrame:
    """CCNet-style head/middle/tail partition (Wenzek et al. 2020): rank
    every document by its LM score within its stratum (per language in
    CCNet) and split into n_buckets equal-count groups — head = most
    fluent, tail = least. Downstream pipelines keep head+middle, or
    sample tail at a reduced rate.

    Rank-based (ntile over a TOTAL order: score asc NULLS LAST, id
    asc), not threshold-based: exact equal-count buckets, deterministic
    under ties, and bit-identical in any engine — no float cutoff to
    disagree on. NULL scores (the stream scorers keep wordless docs
    with NULL avg_surprisal) rank LAST — unscorable docs land in the
    tail, never in head, and the order matches ANSI/DuckDB's
    ASC-defaults-NULLS-LAST rather than Spark's nulls-first default.
    Labels map bucket 1..n; labels=None keeps the integer.

    100 TB shape: one window sort per stratum — a full shuffle+sort of
    the (id, score) projection, the honest cost of exact global ranks.
    CCNet's strata are languages (dozens), so each sort is corpus/|langs|
    and AQE splits any dominant language; for cutoff-based streaming
    admission precompute the cutoffs from a sample instead
    (perplexity_cutoffs + perplexity_partition_stream below)."""
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if labels is not None and len(labels) != n_buckets:
        raise ValueError(
            f"labels must have n_buckets={n_buckets} entries, got "
            f"{len(labels)}"
        )
    part = [F.col(strata_col)] if strata_col is not None else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy(
        F.col(score_col).asc_nulls_last(), F.col(id_col).asc()
    )
    b = F.ntile(n_buckets).over(w)
    if labels is not None:
        expr = F.lit(None).cast("string")
        for i, name in reversed(list(enumerate(labels, start=1))):
            expr = F.when(b == F.lit(i), F.lit(name)).otherwise(expr)
        b = expr
    return scored.withColumn(out_col, b)


def perplexity_cutoffs(
    scored: DataFrame,
    score_col: str = "avg_surprisal",
    id_col: str = "doc_id",
    strata_col: "str | None" = None,
    n_buckets: int = 3,
    sample_num: int = 1,
    sample_denom: int = 1,
    seed: str = "pplcut",
) -> DataFrame:
    """Per-stratum score cutoffs for STREAMING perplexity admission:
    the sample-based-cutoff trade perplexity_partition's docstring
    documents. A deterministic md5 hash-sample of the scored corpus
    (sample_num/sample_denom of rows by id — partitioning-invariant,
    replayable) is exact-ranked per stratum, and each of the first
    n_buckets-1 ntiles contributes its max score as that bucket's
    upper cutoff. The result is a TINY static table — one row per
    stratum, (strata?, cuts array<double>) — that a stream joins
    against; only the sample pays the sort.

    NULL scores are excluded from cutoff estimation (stream assignment
    sends unscorable docs to the last bucket unconditionally, matching
    the batch partition's NULLS LAST)."""
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if not (1 <= sample_num <= sample_denom):
        raise ValueError(
            f"sample fraction must satisfy 1 <= num <= denom, got "
            f"{sample_num}/{sample_denom}"
        )
    from .sampling import _bucket

    strata = (
        [F.col(strata_col).alias("__st")]
        if strata_col is not None
        else [F.lit(1).alias("__st")]
    )
    # the repo's seeded hash-sample key (sampling._bucket), mod denom
    bucket = F.pmod(
        _bucket(F.col(id_col), seed), F.lit(sample_denom)
    )
    sample = scored.select(
        *strata,
        F.col(score_col).alias("__score"),
        F.col(id_col).alias("__id"),
    ).where(F.col("__score").isNotNull() & (bucket < sample_num))
    w = Window.partitionBy("__st").orderBy(
        F.col("__score").asc(), F.col("__id").asc()
    )
    tiled = sample.withColumn("__tile", F.ntile(n_buckets).over(w))
    cuts = (
        tiled.where(F.col("__tile") < n_buckets)
        .groupBy("__st", "__tile")
        .agg(F.max("__score").alias("__cut"))
        .groupBy("__st")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("__tile", "__cut"))
                ),
                lambda x: x["__cut"].cast("double"),
            ).alias("cuts")
        )
    )
    if strata_col is not None:
        return cuts.select(F.col("__st").alias(strata_col), "cuts")
    return cuts.select("cuts")


def perplexity_partition_stream(
    df: DataFrame,
    cutoffs: DataFrame,
    score_col: str = "avg_surprisal",
    strata_col: "str | None" = None,
    n_buckets: int = 3,
    labels: "tuple[str, ...] | None" = ("head", "middle", "tail"),
    out_col: str = "ppl_bucket",
) -> DataFrame:
    """STREAM-LEGAL perplexity bucket assignment from precomputed
    cutoffs (perplexity_cutoffs): a stream-static left join pulls each
    row's stratum cutoffs in (broadcast — the table is one row per
    stratum), and the bucket is 1 + |{cutoffs below the score}| as a
    per-row expression. No window, no global sort, no state — legal
    under readStream append mode, and usable in batch too (same
    assignment, pinned against the exact-rank batch partition in
    tests; agreement is exact at full sample on distinct scores and
    degrades gracefully with the sample rate — boundary rows may land
    one bucket off, which is the documented trade vs t18's exact
    equal-count ranks).

    Ties sit at or below their cutoff (score <= cut -> lower bucket).
    NULL scores and strata missing from the cutoff table assign to the
    LAST bucket (unscorable/unseen -> tail, the conservative choice,
    matching batch NULLS LAST)."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if labels is not None and len(labels) != n_buckets:
        raise ValueError(
            f"labels must have n_buckets={n_buckets} entries, got "
            f"{len(labels)}"
        )
    # the join side's 'cuts' is renamed to a __-prefixed internal so an
    # input frame that already carries a 'cuts' column of its own never
    # hits AMBIGUOUS_REFERENCE (and never loses its column to the drop)
    cut_side = F.broadcast(
        cutoffs.withColumnsRenamed({"cuts": "__ppl_cuts"})
    )
    if strata_col is not None:
        joined = df.join(cut_side, [strata_col], "left")
    else:
        # LEFT join on a constant key, not a crossJoin: an EMPTY cutoff
        # table (empty calibration sample, all-NULL scores) must degrade
        # to the documented NULL-cuts path — every row to the last
        # bucket — not silently drop the whole stream
        joined = (
            df.withColumn("__ppl_one", F.lit(1))
            .join(
                cut_side.withColumn("__ppl_one", F.lit(1)),
                ["__ppl_one"],
                "left",
            )
            .drop("__ppl_one")
        )
    score = F.col(score_col)
    b = (
        F.when(
            score.isNull() | F.col("__ppl_cuts").isNull(),
            F.lit(n_buckets),
        )
        .otherwise(
            F.lit(1)
            + F.aggregate(
                "__ppl_cuts",
                F.lit(0),
                lambda acc, c: acc
                + F.when(score > c, F.lit(1)).otherwise(F.lit(0)),
            )
        )
    )
    if labels is not None:
        expr = F.lit(None).cast("string")
        for i, name in reversed(list(enumerate(labels, start=1))):
            expr = F.when(b == F.lit(i), F.lit(name)).otherwise(expr)
        b = expr
    return joined.withColumn(out_col, b).drop("__ppl_cuts")


#: the Gopher/MassiveText line-and-symbol rule thresholds (Rae et al.
#: 2021 §A1.1) not already covered by quality_filter (word counts,
#: ratios) and repetition_stats (dup fractions)
GOPHER_LINE_RULES = {
    "max_symbol_word_ratio": 0.1,   # '#' or '...' per word
    "max_bullet_line_frac": 0.9,    # lines starting with a bullet
    "max_ellipsis_line_frac": 0.3,  # lines ending with an ellipsis
    "min_alpha_word_frac": 0.8,     # words containing >= 1 alphabetic
    "min_required_stopwords": 2,    # distinct hits in the 8-word list
}

#: Gopher's required-stopword list (distinct-membership rule)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_line_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The Gopher line/symbol quality rules (Rae et al. 2021 §A1.1) that
    complement quality_filter's word-count/ratio rules and
    repetition_stats' duplicate fractions: symbol-to-word ratio ('#' and
    '...'/ellipsis per word), bullet-started line fraction,
    ellipsis-ended line fraction, fraction of words containing an
    alphabetic character, and the distinct required-stopword count
    (>= 2 of Gopher's 8-word list). One boolean per rule plus the
    conjunction `keep_lines`.

    Pure Column regexp/length math — zero shuffles, composes with
    FILTER in a config program; ratios are exact small-integer
    divisions, so both engines agree bit-for-bit. NOTE: the alpha-word
    and stopword counts use Java lookarounds ((?<=\\s)/(?=\\s)), which
    RE2 does NOT support — these patterns are Spark/Java-only; the SQL
    oracle mirrors the semantics with list-based word membership
    instead of porting the patterns verbatim."""
    c = F.col(text_col)
    lt = F.lower(F.trim(c))
    r = GOPHER_LINE_RULES
    n_words = F.regexp_count(lt, F.lit(r"\S+"))
    nw1 = F.greatest(n_words, F.lit(1))
    n_symbols = F.regexp_count(c, F.lit(r"#|\.\.\.|…"))
    n_lines = F.greatest(
        F.size(F.split(c, "\n", -1)).cast("long"), F.lit(1)
    )
    n_bullet = F.regexp_count(
        c, F.lit(r"(?:^|\n)\s*(?:[-*•‣◦])")
    )
    n_ellipsis_end = F.regexp_count(
        c, F.lit(r"(?:\.\.\.|…)\s*(?:\n|$)")
    )
    n_alpha_words = F.regexp_count(
        lt, F.lit(r"(?:^|(?<=\s))\S*[a-z]\S*(?:$|(?=\s))")
    )
    n_req_stop = None
    for wd in GOPHER_STOPWORDS:
        hit = F.when(
            F.regexp_count(lt, F.lit(_token_pattern((wd,)))) > 0, 1
        ).otherwise(0)
        n_req_stop = hit if n_req_stop is None else n_req_stop + hit
    out = df.withColumns({
        "symbol_word_ratio": n_symbols.cast("double") / nw1,
        "bullet_line_frac": n_bullet.cast("double") / n_lines,
        "ellipsis_line_frac": n_ellipsis_end.cast("double") / n_lines,
        "alpha_word_frac": n_alpha_words.cast("double") / nw1,
        "n_required_stopwords": n_req_stop.cast("long"),
    })
    flags = {
        "ok_symbols": F.col("symbol_word_ratio")
        <= r["max_symbol_word_ratio"],
        "ok_bullets": F.col("bullet_line_frac")
        <= r["max_bullet_line_frac"],
        "ok_ellipsis": F.col("ellipsis_line_frac")
        <= r["max_ellipsis_line_frac"],
        "ok_alpha": F.col("alpha_word_frac") >= r["min_alpha_word_frac"],
        "ok_req_stopwords": F.col("n_required_stopwords")
        >= r["min_required_stopwords"],
    }
    out = out.withColumns(flags)
    keep = None
    for name in flags:
        keep = F.col(name) if keep is None else (keep & F.col(name))
    return out.withColumn("keep_lines", keep)


def chunk_documents(
    df: DataFrame,
    max_words: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split long documents into consecutive <= max_words-word chunks —
    the context-window dual of pack_sequences (which packs SHORT docs
    into fixed-length sequences; real pipelines chunk first, then pack):
    every document becomes ceil(n_words / max_words) rows carrying
    (chunk_idx, chunk_text, n_chunk_words). Unlike the word-level
    ANALYSIS ops (which lowercase because they only measure), this op
    RETURNS derived text for downstream training data, so the split is
    case-PRESERVING — only whitespace runs are normalized to single
    spaces. Wordless docs are absent (nothing to chunk), documented
    like surprisal.

    Plan shape: ONE projection builds the per-doc word array (bounded by
    document length — the jaccard_for_pairs array-size argument), one
    generator explodes chunk indices, and each chunk is a slice +
    concat_ws — no shuffle at all; the array is built once per doc and
    sliced per chunk (the bind-before-explode rule: feeding the
    generator a raw expression would re-evaluate it per output row)."""
    if max_words < 1:
        raise ValueError(f"max_words must be >= 1, got {max_words}")
    cased = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != F.lit("")
    )
    words = df.select(
        F.col(id_col).alias("id"), cased.alias("__w")
    ).where(F.size("__w") > 0)
    n_chunks = F.ceil(F.size("__w") / F.lit(max_words)).cast("int")
    out = words.select(
        "id",
        "__w",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    piece = F.slice(
        F.col("__w"), F.col("chunk_idx") * max_words + 1, max_words
    )
    return out.select(
        F.col("id").alias(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_chunk_words"),
    )
