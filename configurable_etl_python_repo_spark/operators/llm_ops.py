"""LLM-data-pipeline operators as config-pipeline op types.

Registers the llm/ module's operators in the same OP_COMPILERS registry the
reference vocabulary uses, so a YAML/JSON (or extended-Excel) program can
pipeline them declaratively:

    {"op": "DEDUP EXACT",       "args": {"id_column": ..., "text_column": ...}}
    {"op": "NGRAM JACCARD",     "args": {"n": 3, "threshold": 0.6, ...}}
    {"op": "MINHASH LSH",       "args": {"bands": 8, "rows_per_band": 2, ...}}
    {"op": "SIMHASH",           "args": {...}}
    {"op": "TEXT STATS" | "LANGUAGE ID" | "FINGERPRINT" | "TOKEN COUNT", ...}
    {"op": "COSINE PAIRS",      "args": {"threshold": 0.9, "planes": 0, ...}}
    {"op": "ANN TOPK",          "inputs": [corpus, queries], "args": {"k": 5}}

This is the engine's own extension point mirroring the reference's
data-driven extensibility (decision tables): new capability arrives as a
registry entry, not an interpreter change (SURVEY §2.10).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from ..llm import dedup as D
from ..llm import scrub as SC
from ..llm import similarity as S
from ..llm import text as T
from ..plans.spec import OpSpec

if TYPE_CHECKING:  # pragma: no cover
    from ..plans.compiler import Engine


def _rename_args(kwargs: dict, renames: dict) -> dict:
    """Rename config-facing arg names (id_column/text_column/...) to the
    llm functions' parameter names, in place; returns `kwargs`. Each
    adapter keeps its own rename table."""
    for cfg, py in renames.items():
        if cfg in kwargs:
            kwargs[py] = kwargs.pop(cfg)
    return kwargs


def _unary(fn, **defaults):
    def compile_op(engine: "Engine", spec: OpSpec):
        df, _ = engine.peek(spec.inputs[0])
        kwargs = {**defaults, **spec.args}
        return fn(df, **kwargs), None

    return compile_op


def _binary_corpus_queries(fn_name: str):
    def compile_op(engine: "Engine", spec: OpSpec):
        corpus, _ = engine.peek(spec.inputs[0])
        queries, _ = engine.peek(
            spec.inputs[1] if len(spec.inputs) > 1 else spec.inputs[0]
        )
        return getattr(S, fn_name)(corpus, queries, **spec.args), None

    return compile_op


def _binary_corpus_target(fn_name: str):
    """Corpus + in-domain target sample (DSIR): second input is the
    target; a single input scores the corpus against itself (degenerate
    but well-defined — every lambda is 0 up to smoothing)."""
    def compile_op(engine: "Engine", spec: OpSpec):
        corpus, _ = engine.peek(spec.inputs[0])
        target, _ = engine.peek(
            spec.inputs[1] if len(spec.inputs) > 1 else spec.inputs[0]
        )
        from ..llm import sampling as M

        kwargs = _rename_args(dict(spec.args), {
            "id_column": "id_col", "text_column": "text_col",
            "target_text_column": "target_text_col",
        })
        return getattr(M, fn_name)(corpus, target, **kwargs), None

    return compile_op


def _rename_kw(fn, mapping):
    """Adapt config-facing arg names (id_column/text_column) to the llm
    functions' parameter names."""

    def wrapped(df, **kwargs):
        return fn(df, **_rename_args(kwargs, mapping))

    return wrapped


_ID_TEXT = {"id_column": "id_col", "text_column": "text_col"}


def _connected_components(engine: "Engine", spec: OpSpec):
    from ..llm import clusters as C

    pairs, _ = engine.peek(spec.inputs[0])
    return C.connected_components(pairs, **spec.args), None


def _decontaminate(fn):
    """inputs: [corpus, evalset] — flag/drop corpus docs sharing any word
    n-gram with the eval set: llm.dedup.decontaminate (broadcast gram
    set) or decontaminate_bloom (bloom prefilter + exact verify, for
    eval sets too big to broadcast; bit-identical results)."""

    def compile_op(engine: "Engine", spec: OpSpec):
        corpus, _ = engine.peek(spec.inputs[0])
        evalset, _ = engine.peek(spec.inputs[1])
        kwargs = _rename_args(dict(spec.args), {
            **_ID_TEXT, "eval_text_column": "eval_text_col"
        })
        return fn(corpus, evalset, **kwargs), None

    return compile_op


def _validate_op_args(
    op: str, fn, kwargs: dict, n_supplied: int
) -> None:
    """Config-op argument gate: unknown keys and missing required
    parameters must surface as ValueError NAMING THE OP AND KEY — a
    program typo previously fell through to the python-level TypeError
    of the target function's signature (ADVICE r11). `n_supplied` =
    leading positional params the op compiler itself provides
    (relation/path/spark), which programs must not name."""
    import inspect

    params = inspect.signature(fn).parameters
    names = list(params)[n_supplied:]
    unknown = sorted(set(kwargs) - set(names))
    if unknown:
        raise ValueError(
            f"{op}: unknown arg(s) {unknown}; expected among "
            f"{sorted(names)}"
        )
    missing = [
        n for n in names
        if params[n].default is inspect.Parameter.empty
        and n not in kwargs
    ]
    if missing:
        raise ValueError(f"{op} needs required arg(s) {missing}")


def _pq_index_write(fn_name: str):
    """PQ index write ops (build/extend) — the _minhash_index_write
    convention routed to llm.similarity: persist under args['path'],
    forward the input relation unchanged."""

    def compile_op(engine: "Engine", spec: OpSpec):
        df, _ = engine.peek(spec.inputs[0])
        kwargs = dict(spec.args)
        if "path" not in kwargs:
            raise ValueError(
                f"{spec.op} needs a 'path' arg naming the index location"
            )
        path = kwargs.pop("path")
        _rename_args(kwargs, {
            "id_column": "id_col", "vector_column": "vec_col",
        })
        fn = getattr(S, fn_name)
        _validate_op_args(spec.op, fn, kwargs, n_supplied=2)
        fn(df, path, **kwargs)
        return df, None

    return compile_op


def _pq_search_index(engine: "Engine", spec: OpSpec):
    """Query a persisted PQ index: input relation is the QUERY batch;
    quantizer parameters come from the index's own _meta/_codebooks,
    never from the program."""
    queries, _ = engine.peek(spec.inputs[0])
    kwargs = dict(spec.args)
    if "path" not in kwargs:
        raise ValueError(
            "PQ SEARCH INDEX needs a 'path' arg naming the index"
        )
    path = kwargs.pop("path")
    _rename_args(kwargs, {"id_column": "id_col", "vector_column": "vec_col"})
    _validate_op_args(spec.op, S.pq_search_index, kwargs, n_supplied=3)
    return S.pq_search_index(
        queries.sparkSession, path, queries, **kwargs
    ), None


def _dedup_clusters(engine: "Engine", spec: OpSpec):
    """inputs: [docs, pairs] — label every doc with its duplicate-cluster
    id and keeper flag (see llm.clusters.dedup_clusters)."""
    from ..llm import clusters as C

    docs, _ = engine.peek(spec.inputs[0])
    pairs, _ = engine.peek(spec.inputs[1])
    kwargs = _rename_args(dict(spec.args), {
        "id_column": "id_col", "score_column": "score_col"
    })
    return C.dedup_clusters(docs, pairs, **kwargs), None


def _lazy_sampling(fn_name: str):
    def call(df, **kwargs):
        from ..llm import sampling as SA

        return getattr(SA, fn_name)(df, **kwargs)

    return call


def _lazy_sketch(fn_name: str):
    def call(df, **kwargs):
        from ..llm import sketch as SK

        return getattr(SK, fn_name)(df, **kwargs)

    return call


def _lazy_search(fn_name: str):
    def call(df, **kwargs):
        from ..llm import search as SR

        return getattr(SR, fn_name)(df, **kwargs)

    return call


def _lazy_windows(fn_name: str):
    """Event-time window rollups (streaming/windows.py) as config ops.
    The transforms take batch OR streaming inputs (unified model), so a
    program can sessionize a parquet-stream scan declaratively."""

    def call(df, **kwargs):
        from ..streaming import windows as W

        return getattr(W, fn_name)(df, **kwargs)

    return call


def _surprisal(engine: "Engine", spec: OpSpec):
    """SURPRISAL SCORE: unary scores a corpus against its own unigram
    LM; a second input names the reference corpus (Laplace-smoothed)."""
    df, _ = engine.peek(spec.inputs[0])
    kwargs = _rename_args(dict(spec.args), {
        "id_column": "id_col", "text_column": "text_col",
        "lm_text_column": "lm_text_col",
    })
    if len(spec.inputs) > 1:
        kwargs["lm_df"], _ = engine.peek(spec.inputs[1])
    return T.surprisal_score(df, **kwargs), None


def _backoff_surprisal(engine: "Engine", spec: OpSpec):
    """SURPRISAL BACKOFF: two inputs — the scored corpus and the
    REQUIRED reference-LM corpus (self-scoring never backs off, so a
    single input is an error by design)."""
    df, _ = engine.peek(spec.inputs[0])
    if len(spec.inputs) < 2:
        raise ValueError("SURPRISAL BACKOFF needs [corpus, lm] inputs")
    lm, _ = engine.peek(spec.inputs[1])
    kwargs = _rename_args(dict(spec.args), {
        "id_column": "id_col", "text_column": "text_col",
        "lm_text_column": "lm_text_col",
    })
    return T.backoff_surprisal(df, lm, **kwargs), None


def _backoff_stream(engine: "Engine", spec: OpSpec):
    """Streaming-legal bigram backoff surprisal as a config op: the
    second input names the BATCH LM corpus; its unigram+bigram table is
    computed in-Spark (bit-exact with the batch scorer) and folded into
    the per-row plan as map literals."""
    df, _ = engine.peek(spec.inputs[0])
    if len(spec.inputs) < 2:
        raise ValueError(
            "SURPRISAL BACKOFF STREAM needs a second (batch) input "
            "naming the LM corpus"
        )
    lm_df, _ = engine.peek(spec.inputs[1])
    kwargs = _rename_args(dict(spec.args), {
        "text_column": "text_col", "lm_text_column": "lm_text_col",
        "id_column": "id_col",
    })
    table = T.backoff_lm_table(
        lm_df,
        id_col=kwargs.pop("id_col", "doc_id"),
        text_col=kwargs.pop("lm_text_col", kwargs.get("text_col", "text")),
        backoff=kwargs.pop("backoff", 0.4),
        alpha=kwargs.pop("alpha", 1.0),
        max_vocab=kwargs.pop("max_vocab", 1_000_000),
    )
    return T.backoff_surprisal_stream(df, table, **kwargs), None


def _minhash_index_write(fn_name: str):
    """Write-side index ops forward their input unchanged (like a sink
    stage): build/extend persist signatures under args['path'] and the
    pipeline continues on the same relation."""

    def compile_op(engine: "Engine", spec: OpSpec):
        from ..llm import dedup_index as DI

        df, _ = engine.peek(spec.inputs[0])
        kwargs = dict(spec.args)
        if "path" not in kwargs:
            raise ValueError(
                f"{spec.op} needs a 'path' arg naming the index location"
            )
        path = kwargs.pop("path")
        _rename_args(kwargs, {
            "id_column": "id_col", "text_column": "text_col",
            "vector_column": "vec_col",
        })
        getattr(DI, fn_name)(df, path, **kwargs)
        return df, None

    return compile_op


def _index_probe(fn_name: str):
    """Probe a persisted signature index (args['path']) with the input
    batch — the daily-ingest dedup stage; hash parameters come from the
    index's own _meta, never from the program. One compiler for both
    the MinHash and SimHash probe ops (same plumbing, different
    dedup_index function)."""

    def compile_op(engine: "Engine", spec: OpSpec):
        from ..llm import dedup_index as DI

        df, _ = engine.peek(spec.inputs[0])
        kwargs = dict(spec.args)
        if "path" not in kwargs:
            raise ValueError(
                f"{spec.op} needs a 'path' arg naming the index"
            )
        path = kwargs.pop("path")
        _rename_args(kwargs, {
            "id_column": "id_col", "text_column": "text_col",
            "vector_column": "vec_col",
        })
        probe = getattr(DI, fn_name)
        return probe(engine.spark, path, df, **kwargs), None

    return compile_op


def _ppl_partition_stream(engine: "Engine", spec: OpSpec):
    """Stream-legal perplexity admission as a config op: the second
    input names the precomputed cutoff table (PERPLEXITY CUTOFFS on a
    scored batch corpus)."""
    df, _ = engine.peek(spec.inputs[0])
    if len(spec.inputs) < 2:
        raise ValueError(
            "PERPLEXITY PARTITION STREAM needs a second input naming "
            "the cutoff table (see PERPLEXITY CUTOFFS)"
        )
    cuts, _ = engine.peek(spec.inputs[1])
    kwargs = _rename_args(dict(spec.args), {
        "score_column": "score_col", "strata_column": "strata_col",
    })
    if "labels" in kwargs and kwargs["labels"] is not None:
        kwargs["labels"] = tuple(kwargs["labels"])
    return T.perplexity_partition_stream(df, cuts, **kwargs), None


def _rrf_fuse(engine: "Engine", spec: OpSpec):
    """Reciprocal rank fusion of N ranked inputs (hybrid retrieval):
    every input binding is a ranked list sharing the id/rank columns."""
    from ..llm import search as SR

    if not spec.inputs:
        raise ValueError("RRF FUSE needs at least one ranked input")
    rankings = [engine.peek(n)[0] for n in spec.inputs]
    kwargs = _rename_args(dict(spec.args), {
        "id_column": "id_col", "rank_column": "rank_col",
    })
    return SR.rrf_fuse(rankings, **kwargs), None


def _merge_cms_op(engine: "Engine", spec: OpSpec):
    """Counter-wise ADD of N count-min sketches built with the same
    (depth, width_bits, seed, cols) — the lossless shard roll-up."""
    from ..llm import sketch as SK

    if not spec.inputs:
        raise ValueError("MERGE CMS needs at least one sketch input")
    sketches = [engine.peek(n)[0] for n in spec.inputs]
    kwargs = _rename_args(dict(spec.args), {"group_columns": "group_cols"})
    return SK.merge_cms(*sketches, **kwargs), None


def _cms_estimate_op(engine: "Engine", spec: OpSpec):
    """Point-query a count-min sketch (first input) for every distinct
    key in the second input; a single input estimates the sketch's own
    keys — ill-posed, so two inputs are required."""
    from ..llm import sketch as SK

    if len(spec.inputs) < 2:
        raise ValueError(
            "CMS ESTIMATE needs (sketch, keys) inputs — the keys to "
            "estimate cannot be derived from the counters"
        )
    sk, _ = engine.peek(spec.inputs[0])
    keys, _ = engine.peek(spec.inputs[1])
    kwargs = _rename_args(dict(spec.args), {
        "columns": "cols", "group_columns": "group_cols",
    })
    return SK.cms_estimate(sk, keys, **kwargs), None


def _bm25_index_write(op_name: str, fn_name: str):
    """Write-side BM25 index ops (build persists the first segment,
    extend appends one): pass-through stages, like the MinHash index
    writers — one compiler for both."""

    def compile_op(engine: "Engine", spec: OpSpec):
        from ..llm import search as SR

        df, _ = engine.peek(spec.inputs[0])
        kwargs = dict(spec.args)
        if "path" not in kwargs:
            raise ValueError(
                f"{op_name} needs a 'path' arg naming the index"
            )
        path = kwargs.pop("path")
        _rename_args(kwargs, {
            "id_column": "id_col", "text_column": "text_col",
        })
        getattr(SR, fn_name)(df, path, **kwargs)
        return df, None

    return compile_op


def _admit_against_index(engine: "Engine", spec: OpSpec):
    """The x22/x25 ingest composition as ONE op: probe the persisted
    index at args['path'] with the input batch and return the rows
    that near-duplicate nothing in it (probe + anti-join,
    streaming/admission.admit_against_index — the same function the
    streaming foreachBatch runs, so batch and stream cannot drift).
    args['family'] picks the index: 'minhash' (default; text) or
    'embedding' (IVF cosine; 'n_probe' applies). Does NOT extend the
    index; chain the family's EXTEND INDEX op after it (or use the
    streaming wrapper, which tags epochs for retry idempotence)."""
    from ..streaming.admission import admit_against_index

    df, _ = engine.peek(spec.inputs[0])
    kwargs = dict(spec.args)
    if "path" not in kwargs:
        raise ValueError(
            "ADMIT AGAINST INDEX needs a 'path' arg naming the index"
        )
    path = kwargs.pop("path")
    _rename_args(kwargs, {
        "id_column": "id_col", "text_column": "text_col",
        "vector_column": "value_col",
    })
    return admit_against_index(engine.spark, path, df, **kwargs), None


def _delete_from_index(engine: "Engine", spec: OpSpec):
    """Tombstone the input relation's ids in the index at args['path']
    (right-to-be-forgotten without a rebuild, llm/_store.
    delete_from_index): deleted ids vanish from probe/search results
    immediately; corpus statistics reflect them after the next COMPACT
    INDEX physically purges the rows — Lucene's delete-until-merge
    model. Pass-through (the ids relation continues downstream);
    args: path, id_column (default 'id'), optional tag for retry
    idempotence."""
    from ..llm._store import delete_from_index

    df, _ = engine.peek(spec.inputs[0])
    kwargs = dict(spec.args)
    if "path" not in kwargs:
        raise ValueError(
            "DELETE FROM INDEX needs a 'path' arg naming the index"
        )
    path = kwargs.pop("path")
    _rename_args(kwargs, {"id_column": "id_col"})
    delete_from_index(df, path, **kwargs)
    return df, None


def _index_maintenance(op_name: str, run, receipt_schema: str,
                       allowed: "tuple[str, ...]" = ()):
    """One compiler for the maintenance op trio (COMPACT INDEX /
    VACUUM INDEX / MAINTAIN INDEX): all take args['path'], pass an
    input relation through unchanged (so they chain inside an ingest
    program after the EXTEND stage), or — zero-input — return a
    one-row receipt. `allowed` declares every arg `run` may consume;
    unknown args are rejected BEFORE `run` executes — maintenance is
    destructive (vacuum deletes segment dirs, compact rewrites and
    commits), so a config with a typo'd arg must fail without having
    mutated the store."""

    def compile_op(engine: "Engine", spec: OpSpec):
        kwargs = dict(spec.args)
        if "path" not in kwargs:
            raise ValueError(
                f"{op_name} needs a 'path' arg naming the index"
            )
        path = kwargs.pop("path")
        unknown = sorted(set(kwargs) - set(allowed))
        if unknown:
            raise ValueError(
                f"{op_name} got unknown args {unknown}"
            )
        value = run(engine, path, kwargs)
        if spec.inputs:
            return engine.peek(spec.inputs[0])[0], None
        row = (path, *value) if isinstance(value, tuple) else (
            path, value
        )
        return engine.spark.createDataFrame(
            [row], receipt_schema
        ), None

    return compile_op


def _run_compact(engine: "Engine", path: str, kwargs: dict) -> int:
    """Rewrite every committed segment of the index as ONE (folding
    BM25's additive df/_stats), committed atomically — collapses a
    year of extend read-amplification back to a single segment
    (llm/_store.compact_index)."""
    from ..llm import _store as ST

    return int(ST.compact_index(engine.spark, path))


def _run_vacuum(engine: "Engine", path: str, kwargs: dict) -> int:
    """Delete segment dirs the current manifest does not reference
    once older than retention_seconds (default 24h — spares concurrent
    writers' not-yet-committed segments; see llm/_store.vacuum_index
    for the retention_seconds=0 caveats). manifest_keep_last
    additionally prunes the manifest log to the newest N versions
    (pruned versions stop being as_of_version-readable)."""
    from ..llm import _store as ST

    retention = float(kwargs.pop("retention_seconds", 24 * 3600.0))
    keep = kwargs.pop("manifest_keep_last", None)
    return len(ST.vacuum_index(
        path, retention_s=retention,
        manifest_keep_last=None if keep is None else int(keep),
    ))


def _run_maintain(engine: "Engine", path: str, kwargs: dict):
    """The MAINTAIN INDEX policy: compact when the committed manifest
    shows segment sprawl (max_segments, default 16) or tombstone
    accumulation (max_tombstone_share of segments, default 0.2), then
    vacuum — one idempotent call a scheduler or the admission stream's
    maintain_every_n_epochs can invoke forever (llm/_store.
    maintain_index). No trigger -> no-op receipt."""
    from ..llm import _store as ST

    max_segments = kwargs.pop("max_segments", 16)
    share = kwargs.pop("max_tombstone_share", 0.2)
    retention = float(kwargs.pop("retention_seconds", 24 * 3600.0))
    keep = kwargs.pop("manifest_keep_last", None)
    receipt = ST.maintain_index(
        engine.spark, path,
        max_segments=None if max_segments is None else int(max_segments),
        max_tombstone_share=None if share is None else float(share),
        retention_s=retention,
        manifest_keep_last=None if keep is None else int(keep),
    )
    return (bool(receipt["compacted"]), int(receipt["vacuumed_dirs"]))


def _bm25_search_index(engine: "Engine", spec: OpSpec):
    """Query a persisted BM25 index — a ZERO-input op (the corpus lives
    in the index at args['path'], not in a binding)."""
    from ..llm import search as SR

    kwargs = dict(spec.args)
    if "path" not in kwargs:
        raise ValueError(
            "BM25 SEARCH INDEX needs a 'path' arg naming the index"
        )
    path = kwargs.pop("path")
    _rename_args(kwargs, {"id_column": "id_col"})
    return SR.bm25_search_index(engine.spark, path, **kwargs), None


def _decontaminate_stream(engine: "Engine", spec: OpSpec):
    """Streaming-legal decontamination as a config op. One input + an
    `eval_grams` list in args (a program ships the precomputed gram set,
    the decontaminate_stream contract); or TWO inputs, where the second
    is a BATCH eval corpus the op collects grams from via eval_gram_set
    (bounded driver-side, exactly the library seam)."""
    df, _ = engine.peek(spec.inputs[0])
    kwargs = dict(spec.args)
    # the SAME renames the batch DECONTAMINATE op accepts — a program
    # can move between the duals without touching its arg names
    _rename_args(kwargs, {
        "text_column": "text_col", "eval_text_column": "eval_text_col",
    })
    if "eval_grams" in kwargs:
        if len(spec.inputs) > 1:
            raise ValueError(
                "DECONTAMINATE STREAM got BOTH eval_grams in args and a "
                "second input — ambiguous; pass one"
            )
        kwargs.pop("eval_text_col", None)
    else:
        if len(spec.inputs) < 2:
            raise ValueError(
                "DECONTAMINATE STREAM needs eval_grams in args or a "
                "second (batch) input naming the eval corpus"
            )
        evalset, _ = engine.peek(spec.inputs[1])
        kwargs["eval_grams"] = D.eval_gram_set(
            evalset,
            text_col=kwargs.pop("eval_text_col", "text"),
            n=kwargs.get("n", 13),
        )
    return D.decontaminate_stream(df, **kwargs), None


def _surprisal_stream(engine: "Engine", spec: OpSpec):
    """Streaming-legal surprisal as a config op: the second input names
    the BATCH LM corpus; its table is computed in-Spark (bit-exact with
    the batch scorer) and folded into the per-row plan."""
    df, _ = engine.peek(spec.inputs[0])
    if len(spec.inputs) < 2:
        raise ValueError(
            "SURPRISAL SCORE STREAM needs a second (batch) input naming "
            "the LM corpus"
        )
    lm_df, _ = engine.peek(spec.inputs[1])
    kwargs = dict(spec.args)
    # same renames as batch SURPRISAL SCORE — duals share arg names
    _rename_args(kwargs, {
        "text_column": "text_col", "lm_text_column": "lm_text_col",
    })
    table = T.surprisal_lm_table(
        lm_df,
        text_col=kwargs.pop("lm_text_col", kwargs.get("text_col", "text")),
        alpha=kwargs.pop("alpha", 1.0),
        max_vocab=kwargs.pop("max_vocab", 1_000_000),
    )
    return T.surprisal_score_stream(df, table, **kwargs), None


def _lazy_bpe(fn_name: str):
    def call(df, **kwargs):
        from ..llm import bpe as B

        if "merges" in kwargs:  # JSON configs carry pairs as lists
            kwargs["merges"] = [tuple(m) for m in kwargs["merges"]]
        return getattr(B, fn_name)(df, **kwargs)

    return call


def _lazy_multimodal(fn_name: str):
    """multimodal imports pandas at module load — defer until dispatch."""

    def call(df, **kwargs):
        from ..llm import multimodal as M

        return getattr(M, fn_name)(df, **kwargs)

    return call

LLM_OP_COMPILERS = {
    "DEDUP EXACT": _unary(_rename_kw(D.dedup_exact, _ID_TEXT)),
    "NGRAM JACCARD": _unary(_rename_kw(D.ngram_jaccard_pairs, _ID_TEXT)),
    "MINHASH LSH": _unary(_rename_kw(
        D.minhash_lsh_pairs, {**_ID_TEXT, "group_columns": "group_cols"}
    )),
    "SIMHASH": _unary(_rename_kw(D.simhash32, _ID_TEXT)),
    "SIMHASH PAIRS": _unary(_rename_kw(
        D.simhash_pairs, {**_ID_TEXT, "group_columns": "group_cols"}
    )),
    "TEXT STATS": _unary(_rename_kw(T.text_stats, {"text_column": "text_col"})),
    "LANGUAGE ID": _unary(
        _rename_kw(T.language_id,
                   {"text_column": "text_col", "id_column": "id_col"})
    ),
    "LANGUAGE ID NGRAM": _unary(
        _rename_kw(T.language_id_ngram,
                   {"text_column": "text_col", "id_column": "id_col"})
    ),
    "FINGERPRINT": _unary(_rename_kw(T.fingerprint, {"text_column": "text_col"})),
    "TOKEN COUNT": _unary(
        _rename_kw(T.token_count_bpe_ish, {"text_column": "text_col"})
    ),
    "TOKEN COUNT BPE": _unary(
        _rename_kw(_lazy_bpe("token_count_bpe"),
                   {"text_column": "text_col", "output_column": "out_col"})
    ),
    "TOKEN COUNT BPE ARROW": _unary(
        _rename_kw(_lazy_bpe("token_count_bpe_arrow"),
                   {"text_column": "text_col", "output_column": "out_col"})
    ),
    "TOP NGRAMS": _unary(
        _rename_kw(T.top_ngrams, {"text_column": "text_col"})
    ),
    "WINNOW FINGERPRINT": _unary(_rename_kw(T.winnowing_fingerprints, _ID_TEXT)),
    "GOPHER LINE RULES": _unary(
        _rename_kw(T.gopher_line_rules, {"text_column": "text_col"})
    ),
    "QUALITY FILTER": _unary(
        _rename_kw(T.quality_filter, {"text_column": "text_col"})
    ),
    "COSINE PAIRS": _unary(
        _rename_kw(S.embedding_cosine_pairs,
                   {"id_column": "id_col", "vector_column": "vec_col"})
    ),
    "SAMPLE HASH": _unary(
        _rename_kw(_lazy_sampling("hash_sample"), {"key_column": "key_col"})
    ),
    "SAMPLE STRATIFIED": _unary(
        _rename_kw(_lazy_sampling("stratified_sample"),
                   {"key_column": "key_col", "strata_column": "strata_col"})
    ),
    "SAMPLE MIXTURE": _unary(
        _rename_kw(_lazy_sampling("mixture_sample"),
                   {"key_column": "key_col", "strata_column": "strata_col"})
    ),
    "UPSAMPLE MIXTURE": _unary(
        _rename_kw(_lazy_sampling("mixture_upsample"),
                   {"key_column": "key_col", "strata_column": "strata_col"})
    ),
    "SPLIT ASSIGN": _unary(
        _rename_kw(_lazy_sampling("split_assign"),
                   {"key_column": "key_col", "group_column": "group_col"})
    ),
    "DSIR WEIGHTS": _binary_corpus_target("dsir_weights"),
    "DSIR SELECT": _binary_corpus_target("dsir_select"),
    "SAMPLE TOP K": _unary(
        _rename_kw(_lazy_sampling("top_k_sample"),
                   {"key_column": "key_col", "strata_column": "strata_col"})
    ),
    "PII SCRUB": _unary(
        _rename_kw(SC.pii_scrub, {"text_column": "text_col"})
    ),
    "URL BLOCKLIST": _unary(
        _rename_kw(SC.url_blocklist_filter, {"text_column": "text_col"})
    ),
    "SURPRISAL SCORE": _surprisal,
    "SURPRISAL BACKOFF": _backoff_surprisal,
    "PERPLEXITY PARTITION": _unary(
        _rename_kw(T.perplexity_partition,
                   {"score_column": "score_col", "id_column": "id_col",
                    "strata_column": "strata_col",
                    "output_column": "out_col"})
    ),
    "CLASSIFIER SCORE": _unary(
        _rename_kw(T.classifier_score, {"text_column": "text_col"})
    ),
    "REPETITION STATS": _unary(
        _rename_kw(T.repetition_stats,
                   {"id_column": "id_col", "text_column": "text_col"})
    ),
    "DEDUP SPANS": _unary(_rename_kw(D.dedup_spans, _ID_TEXT)),
    "DEDUP LINES": _unary(_rename_kw(D.dedup_lines, _ID_TEXT)),
    "DEDUP REPEATED LINES": _unary(
        _rename_kw(D.dedup_repeated_lines, _ID_TEXT)
    ),
    "BM25 TOPK": _unary(
        _rename_kw(_lazy_search("bm25_topk"), _ID_TEXT)
    ),
    "BM25 BUILD INDEX": _bm25_index_write(
        "BM25 BUILD INDEX", "bm25_build_index"
    ),
    "BM25 EXTEND INDEX": _bm25_index_write(
        "BM25 EXTEND INDEX", "bm25_extend_index"
    ),
    "BM25 SEARCH INDEX": _bm25_search_index,
    "DELETE FROM INDEX": _delete_from_index,
    "COMPACT INDEX": _index_maintenance(
        "COMPACT INDEX", _run_compact, "path string, version long"
    ),
    "VACUUM INDEX": _index_maintenance(
        "VACUUM INDEX", _run_vacuum, "path string, removed_dirs long",
        allowed=("retention_seconds", "manifest_keep_last"),
    ),
    "MAINTAIN INDEX": _index_maintenance(
        "MAINTAIN INDEX", _run_maintain,
        "path string, compacted boolean, vacuumed_dirs long",
        allowed=("max_segments", "max_tombstone_share",
                 "retention_seconds", "manifest_keep_last"),
    ),
    "RRF FUSE": _rrf_fuse,
    "DISTINCT SKETCH": _unary(
        _rename_kw(_lazy_sketch("distinct_sketch"),
                   {"columns": "cols", "group_columns": "group_cols"})
    ),
    "SKETCH ESTIMATE": _unary(
        _rename_kw(_lazy_sketch("sketch_estimate"),
                   {"group_columns": "group_cols"})
    ),
    "APPROX DISTINCT": _unary(
        _rename_kw(_lazy_sketch("approx_distinct"),
                   {"columns": "cols", "group_columns": "group_cols"})
    ),
    "VALUE SKETCH": _unary(
        _rename_kw(_lazy_sketch("value_sketch"),
                   {"column": "col", "group_columns": "group_cols"})
    ),
    "SKETCH QUANTILES": _unary(
        _rename_kw(_lazy_sketch("sketch_quantiles"),
                   {"group_columns": "group_cols"})
    ),
    "APPROX QUANTILES": _unary(
        _rename_kw(_lazy_sketch("approx_quantiles"),
                   {"column": "col", "group_columns": "group_cols"})
    ),
    "CORPUS REPORT": _unary(
        _rename_kw(_lazy_sketch("corpus_report"),
                   {"group_columns": "group_cols",
                    "distinct_columns": "distinct_cols",
                    "value_column": "value_col"})
    ),
    "COUNT MIN SKETCH": _unary(
        _rename_kw(_lazy_sketch("count_min_sketch"),
                   {"columns": "cols", "group_columns": "group_cols",
                    "weight_column": "weight_col"})
    ),
    "MERGE CMS": _merge_cms_op,
    "CMS ESTIMATE": _cms_estimate_op,
    "DEDUP SUBSTRINGS": _unary(_rename_kw(D.dedup_substrings, _ID_TEXT)),
    "DERIVE SHARD KEY": _unary(
        _rename_kw(T.derive_shard_key,
                   {"id_column": "id_col", "text_column": "text_col",
                    "base_shard_column": "base_shard_col",
                    "output_column": "out_col"})
    ),
    "CHUNK DOCUMENTS": _unary(
        _rename_kw(T.chunk_documents,
                   {"id_column": "id_col", "text_column": "text_col"})
    ),
    "PACK SEQUENCES": _unary(
        _rename_kw(T.pack_sequences,
                   {"id_column": "id_col", "text_column": "text_col",
                    "shard_column": "shard_col"})
    ),
    "SESSION WINDOW": _unary(
        _rename_kw(_lazy_windows("session_rollup"),
                   {"timestamp_column": "ts_col"})
    ),
    "TUMBLING WINDOW": _unary(
        _rename_kw(_lazy_windows("tumbling_rollup"),
                   {"timestamp_column": "ts_col"})
    ),
    "SLIDING WINDOW": _unary(
        _rename_kw(_lazy_windows("sliding_rollup"),
                   {"timestamp_column": "ts_col"})
    ),
    "MINHASH BUILD INDEX": _minhash_index_write("minhash_build_index"),
    "MINHASH EXTEND INDEX": _minhash_index_write("minhash_extend_index"),
    "DEDUP AGAINST INDEX": _index_probe("dedup_against_index"),
    "ADMIT AGAINST INDEX": _admit_against_index,
    "SIMHASH BUILD INDEX": _minhash_index_write("simhash_build_index"),
    "SIMHASH EXTEND INDEX": _minhash_index_write("simhash_extend_index"),
    "SIMHASH AGAINST INDEX": _index_probe("simhash_against_index"),
    "EMBEDDING BUILD INDEX": _minhash_index_write("embedding_build_index"),
    "EMBEDDING EXTEND INDEX": _minhash_index_write("embedding_extend_index"),
    "EMBEDDING AGAINST INDEX": _index_probe("embedding_against_index"),
    "PERPLEXITY CUTOFFS": _unary(
        _rename_kw(T.perplexity_cutoffs,
                   {"score_column": "score_col", "id_column": "id_col",
                    "strata_column": "strata_col"})
    ),
    "PERPLEXITY PARTITION STREAM": _ppl_partition_stream,
    "CONNECTED COMPONENTS": _connected_components,
    "DEDUP CLUSTERS": _dedup_clusters,
    "DECONTAMINATE": _decontaminate(D.decontaminate),
    "DECONTAMINATE BLOOM": _decontaminate(D.decontaminate_bloom),
    "DECONTAMINATE STREAM": _decontaminate_stream,
    "SURPRISAL SCORE STREAM": _surprisal_stream,
    "SURPRISAL BACKOFF STREAM": _backoff_stream,
    "SEMANTIC DEDUP": _unary(
        _rename_kw(S.semantic_dedup,
                   {"id_column": "id_col", "vector_column": "vec_col"})
    ),
    "ANN TOPK": _binary_corpus_queries("brute_force_topk"),
    "MAXSIM TOPK": _binary_corpus_queries("maxsim_topk"),
    "ANN TOPK LSH": _binary_corpus_queries("lsh_bucketed_topk"),
    "ANN TOPK IVF": _binary_corpus_queries("ivf_topk"),
    "ANN TOPK IVF KMEANS": _binary_corpus_queries("ivf_topk_kmeans"),
    "ANN TOPK PQ": _binary_corpus_queries("pq_topk"),
    "ANN TOPK IVF PQ": _binary_corpus_queries("ivf_pq_topk"),
    "ANN TOPK IVF PQ RESIDUAL":
        _binary_corpus_queries("ivf_pq_residual_topk"),
    "PQ BUILD INDEX": _pq_index_write("pq_build_index"),
    "PQ EXTEND INDEX": _pq_index_write("pq_extend_index"),
    "PQ SEARCH INDEX": _pq_search_index,
    "IMAGE RESIZE": _unary(
        _rename_kw(_lazy_multimodal("resize_images"),
                   {"id_column": "id_col", "payload_column": "payload_col"})
    ),
    "FRAME SAMPLE": _unary(
        _rename_kw(_lazy_multimodal("sample_frames"),
                   {"id_column": "id_col", "payload_column": "payload_col"})
    ),
    "MEDIA FEATURES": _unary(
        _rename_kw(_lazy_multimodal("extract_features"),
                   {"id_column": "id_col", "payload_column": "payload_col"})
    ),
    "AUDIO FEATURES": _unary(
        _rename_kw(_lazy_multimodal("extract_audio_features"),
                   {"id_column": "id_col", "payload_column": "payload_col"})
    ),
    "FRAME STATS": _unary(
        _rename_kw(_lazy_multimodal("frame_stats"),
                   {"id_column": "id_col", "payload_column": "payload_col"})
    ),
}
