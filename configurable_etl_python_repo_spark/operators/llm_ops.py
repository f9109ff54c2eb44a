"""LLM-data-pipeline operators as config-pipeline op types.

Registers the llm/ module's operators in the same OP_COMPILERS registry the
reference vocabulary uses, so a YAML/JSON (or extended-Excel) program can
pipeline them declaratively:

    {"op": "DEDUP EXACT",       "args": {"id_column": ..., "text_column": ...}}
    {"op": "MINHASH LSH",       "args": {"bands": 8, "rows_per_band": 2, ...}}
    {"op": "ANN TOPK",          "inputs": [corpus, queries], "args": {"k": 5}}

This is the engine's own extension point mirroring the reference's
data-driven extensibility (decision tables): new capability arrives as a
registry entry, not an interpreter change (SURVEY §2.10).

Every op is one `_Op` row: a shape, a target function named
"module.function" under the package root (imported when the op is
dispatched), and the rare rename or coercion the name rule cannot
derive. One path serves every row:

- Names. A config arg `<x>_column` is the target's `<x>_col`,
  `<x>_columns` its `<x>_cols`, and `column`/`columns` its `col`/`cols`;
  the stems `vector`, `output` and `timestamp` shorten to `vec`, `out`
  and `ts` (`vector_column` -> `vec_col`). Any other key (`k`,
  `tokens_col`, ...) is passed as spelled.
- Check. Before the target runs, every key must name one of its
  parameters, and every required parameter the shape does not bind
  must be present. Otherwise a ValueError names the op, its unknown and
  its missing args: a typo never reaches a store or a Spark job.
- Shapes. A shape binds the op's inputs to the target's leading
  parameters: `_unary` fn(df); `_pair` fn(first, second) with the second
  input required; `_pair_or_self` fn(first, second) with a lone input
  paired with itself; `_lm_optional` fn(df, lm_df=second) with the
  second input optional; `_inputs` fn over a list of N inputs; `_write`
  fn(df, path) passing its input through; `_read` fn(spark, path,
  batch); `_zero` fn(spark, path). The stream duals that build a table
  from a second batch input and the maintenance ops' receipt row are
  shapes of their own.
"""

from __future__ import annotations

import importlib
import inspect
import re
from typing import TYPE_CHECKING, Any, Callable, NamedTuple

from ..plans.spec import OpSpec

if TYPE_CHECKING:  # pragma: no cover
    from ..plans.compiler import Engine

_STEMS = {"vector": "vec", "output": "out", "timestamp": "ts"}
_COLUMN = re.compile(r"(?:(\w+)_)?column(s?)")


def _param_name(key: str) -> str:
    """The name rule: config `<x>_column(s)` -> parameter `<x>_col(s)`."""
    m = _COLUMN.fullmatch(key)
    if m is None:
        return key
    stem, plural = m.groups()
    col = "col" + plural
    return col if stem is None else f"{_STEMS.get(stem, stem)}_{col}"


def _config_args(args: dict, renames: dict, coerce: dict) -> dict:
    kw = {}
    for key, value in args.items():
        name = _param_name(renames.get(key, key))
        if name in coerce and value is not None:
            value = coerce[name](value)
        kw[name] = value
    return kw


def _names(fn: Callable) -> list[str]:
    return list(inspect.signature(fn).parameters)


def _check(op: str, fn: Callable, bound, kw: dict) -> None:
    """The arg check: `kw` must name parameters of `fn` that the shape
    did not bind (`bound`), and supply every required one of them."""
    params = inspect.signature(fn).parameters
    free = [n for n, p in params.items() if n not in bound
            and p.kind not in (p.VAR_POSITIONAL, p.VAR_KEYWORD)]
    unknown = sorted(set(kw) - set(free))
    missing = [n for n in free
               if params[n].default is params[n].empty and n not in kw]
    if unknown or missing:
        raise ValueError(
            f"{op}: unknown args {unknown}, missing args {missing}; "
            f"accepts {free}"
        )


def _apply(op: str, fn: Callable, kw: dict, bound: dict) -> Any:
    """Check `kw`, then call `fn` with the inputs a shape bound by name
    (a *varargs parameter takes its list positionally)."""
    _check(op, fn, bound, kw)
    params = inspect.signature(fn).parameters
    star = [n for n in bound if params[n].kind is params[n].VAR_POSITIONAL]
    return fn(*(bound.pop(star[0]) if star else ()), **bound, **kw)


def _target(name: str) -> Callable:
    module, fn = name.rsplit(".", 1)
    return getattr(importlib.import_module(f"..{module}", __package__), fn)


def _input(engine: "Engine", spec: OpSpec, i: int):
    return engine.peek(spec.inputs[i])[0]


def _second(engine: "Engine", spec: OpSpec, names: list[str]):
    if len(spec.inputs) < 2:
        raise ValueError(
            f"{spec.op} needs a second input: ({names[0]}, {names[1]})"
        )
    return _input(engine, spec, 1)


def _unary(engine, spec, fn, kw):
    return _apply(spec.op, fn, kw, {_names(fn)[0]: _input(engine, spec, 0)})


def _pair(engine, spec, fn, kw):
    names = _names(fn)
    return _apply(spec.op, fn, kw, {
        names[0]: _input(engine, spec, 0),
        names[1]: _second(engine, spec, names),
    })


def _pair_or_self(engine, spec, fn, kw):
    """A lone input is paired with itself: a corpus queried by itself
    (ANN TOPK), or scored against itself (DSIR — degenerate but
    well-defined, every lambda is 0 up to smoothing)."""
    first, second = _names(fn)[:2]
    df = _input(engine, spec, 0)
    other = _input(engine, spec, 1) if len(spec.inputs) > 1 else df
    return _apply(spec.op, fn, kw, {first: df, second: other})


def _lm_optional(engine, spec, fn, kw):
    """SURPRISAL SCORE: a second input is the reference-LM corpus
    (Laplace-smoothed); alone, the corpus scores against its own LM."""
    bound = {_names(fn)[0]: _input(engine, spec, 0)}
    if len(spec.inputs) > 1:
        bound["lm_df"] = _input(engine, spec, 1)
    return _apply(spec.op, fn, kw, bound)


def _inputs(engine, spec, fn, kw):
    """Every input binding is one relation of a list: RRF FUSE's ranked
    lists, MERGE CMS's sketches."""
    if not spec.inputs:
        raise ValueError(f"{spec.op} needs at least one input")
    rels = [engine.peek(n)[0] for n in spec.inputs]
    return _apply(spec.op, fn, kw, {_names(fn)[0]: rels})


def _write(engine, spec, fn, kw):
    """Index write (build/extend/delete): persists under args['path']
    and forwards its input unchanged, like a sink stage."""
    df = _input(engine, spec, 0)
    _apply(spec.op, fn, kw, {_names(fn)[0]: df})
    return df


def _read(engine, spec, fn, kw):
    """Index read: probe the index at args['path'] with the input batch;
    index parameters come from its own _meta, never from the program."""
    spark, _, batch = _names(fn)[:3]
    return _apply(spec.op, fn, kw, {
        spark: engine.spark, batch: _input(engine, spec, 0),
    })


def _zero(engine, spec, fn, kw):
    """Zero-input: the corpus lives in the index at args['path']."""
    return _apply(spec.op, fn, kw, {_names(fn)[0]: engine.spark})


def _table_args(kw: dict, table_fn: Callable, names: list, text) -> dict:
    """A stream dual's table-function args: the table function's own
    args other than text_col, taken out of `kw` unless the stream
    function shares them (DECONTAMINATE STREAM's n); `text` names the
    batch input's text column. Unset args keep the table function's
    defaults."""
    tkw = {k: kw[k] for k in _names(table_fn)[1:]
           if k in kw and k != "text_col"}
    for k in set(tkw) - set(names):
        del kw[k]
    if text is not None:
        tkw["text_col"] = text
    return tkw


def _lm_stream(table: str):
    """SURPRISAL SCORE/BACKOFF STREAM: the second input names the BATCH
    LM corpus; its table is computed in-Spark (bit-exact with the batch
    scorer) and folded into the per-row plan. `lm_text_col` (default:
    text_col) names the LM corpus' text column, as in the batch ops."""

    def shape(engine, spec, fn, kw):
        table_fn, names = _target(table), _names(fn)
        df, lm_df = _input(engine, spec, 0), _second(engine, spec, names)
        text = kw.pop("lm_text_col", kw.get("text_col"))
        tkw = _table_args(kw, table_fn, names, text)
        _check(spec.op, fn, names[:2], kw)
        return fn(df, table_fn(lm_df, **tkw), **kw)

    return shape


def _decontaminate_stream(engine, spec, fn, kw):
    """DECONTAMINATE STREAM: `eval_grams` (the precomputed gram set, the
    decontaminate_stream contract) comes from args, or from a second
    BATCH input whose grams eval_gram_set collects (bounded
    driver-side, exactly the library seam). `eval_text_col` names that
    input's text column, as in batch DECONTAMINATE."""
    names = _names(fn)
    df = _input(engine, spec, 0)
    text = kw.pop("eval_text_col", None)
    if len(spec.inputs) < 2:
        return _apply(spec.op, fn, kw, {names[0]: df})
    if "eval_grams" in kw:
        raise ValueError(
            f"{spec.op} got BOTH eval_grams in args and a second input "
            "— ambiguous; pass one"
        )
    table_fn = _target("llm.dedup.eval_gram_set")
    tkw = _table_args(kw, table_fn, names, text)
    _check(spec.op, fn, names[:2], kw)
    return fn(df, table_fn(_input(engine, spec, 1), **tkw), **kw)


def _receipt(schema: str):
    """Maintenance ops (COMPACT / VACUUM / MAINTAIN INDEX) run on the
    zero-input shape, then pass an input relation through unchanged (so
    they chain inside an ingest program after the EXTEND stage) or,
    without one, return a one-row receipt. Maintenance is destructive —
    vacuum deletes segment dirs, compact rewrites and commits — so the
    check before the run is what keeps a typo from mutating the store."""

    def shape(engine, spec, fn, kw):
        value = _zero(engine, spec, fn, kw)
        if spec.inputs:
            return _input(engine, spec, 0)
        row = value if isinstance(value, tuple) else (value,)
        return engine.spark.createDataFrame([(kw["path"], *row)], schema)

    return shape


def _run_compact(spark, path: str) -> int:
    """Rewrite every committed segment of the index as ONE (folding
    BM25's additive df/_stats), committed atomically — collapses a
    year of extend read-amplification back to a single segment
    (llm/_store.compact_index)."""
    from ..llm import _store as ST

    return int(ST.compact_index(spark, path))


def _run_vacuum(spark, path: str, retention_seconds=24 * 3600.0,
                manifest_keep_last=None) -> int:
    """Delete segment dirs the current manifest does not reference
    once older than retention_seconds (default 24h — spares concurrent
    writers' not-yet-committed segments; see llm/_store.vacuum_index
    for the retention_seconds=0 caveats). manifest_keep_last
    additionally prunes the manifest log to the newest N versions
    (pruned versions stop being as_of_version-readable)."""
    from ..llm import _store as ST

    return len(ST.vacuum_index(
        path, retention_s=float(retention_seconds),
        manifest_keep_last=None if manifest_keep_last is None
        else int(manifest_keep_last),
    ))


def _run_maintain(spark, path: str, max_segments=16,
                  max_tombstone_share=0.2, retention_seconds=24 * 3600.0,
                  manifest_keep_last=None):
    """The MAINTAIN INDEX policy: compact when the committed manifest
    shows segment sprawl (max_segments, default 16) or tombstone
    accumulation (max_tombstone_share of segments, default 0.2), then
    vacuum — one idempotent call a scheduler or the admission stream's
    maintain_every_n_epochs can invoke forever (llm/_store.
    maintain_index). No trigger -> no-op receipt."""
    from ..llm import _store as ST

    share = max_tombstone_share
    receipt = ST.maintain_index(
        spark, path,
        max_segments=None if max_segments is None else int(max_segments),
        max_tombstone_share=None if share is None else float(share),
        retention_s=float(retention_seconds),
        manifest_keep_last=None if manifest_keep_last is None
        else int(manifest_keep_last),
    )
    return (bool(receipt["compacted"]), int(receipt["vacuumed_dirs"]))


class _Op(NamedTuple):
    """One config op. `renames` maps config keys the name rule cannot
    derive; `coerce` converts JSON-borne lists to the tuples an arg
    takes."""

    shape: Callable
    target: str
    renames: dict = {}
    coerce: dict = {}

    def __call__(self, engine: "Engine", spec: OpSpec):
        kw = _config_args(spec.args, self.renames, self.coerce)
        return self.shape(engine, spec, _target(self.target), kw), None


def _pairs(merges):
    return [tuple(m) for m in merges]


LLM_OP_COMPILERS = {
    "DEDUP EXACT": _Op(_unary, "llm.dedup.dedup_exact"),
    "NGRAM JACCARD": _Op(_unary, "llm.dedup.ngram_jaccard_pairs"),
    "MINHASH LSH": _Op(_unary, "llm.dedup.minhash_lsh_pairs"),
    "SIMHASH": _Op(_unary, "llm.dedup.simhash32"),
    "SIMHASH PAIRS": _Op(_unary, "llm.dedup.simhash_pairs"),
    "TEXT STATS": _Op(_unary, "llm.text.text_stats"),
    "LANGUAGE ID": _Op(_unary, "llm.text.language_id"),
    "LANGUAGE ID NGRAM": _Op(_unary, "llm.text.language_id_ngram"),
    "FINGERPRINT": _Op(_unary, "llm.text.fingerprint"),
    "TOKEN COUNT": _Op(_unary, "llm.text.token_count_bpe_ish"),
    "TOKEN COUNT BPE": _Op(
        _unary, "llm.bpe.token_count_bpe", coerce={"merges": _pairs},
    ),
    "TOKEN COUNT BPE ARROW": _Op(
        _unary, "llm.bpe.token_count_bpe_arrow", coerce={"merges": _pairs},
    ),
    "TOP NGRAMS": _Op(_unary, "llm.text.top_ngrams"),
    "WINNOW FINGERPRINT": _Op(_unary, "llm.text.winnowing_fingerprints"),
    "GOPHER LINE RULES": _Op(_unary, "llm.text.gopher_line_rules"),
    "QUALITY FILTER": _Op(_unary, "llm.text.quality_filter"),
    "COSINE PAIRS": _Op(_unary, "llm.similarity.embedding_cosine_pairs"),
    "SAMPLE HASH": _Op(_unary, "llm.sampling.hash_sample"),
    "SAMPLE STRATIFIED": _Op(_unary, "llm.sampling.stratified_sample"),
    "SAMPLE MIXTURE": _Op(_unary, "llm.sampling.mixture_sample"),
    "UPSAMPLE MIXTURE": _Op(_unary, "llm.sampling.mixture_upsample"),
    "SPLIT ASSIGN": _Op(_unary, "llm.sampling.split_assign"),
    "DSIR WEIGHTS": _Op(_pair_or_self, "llm.sampling.dsir_weights"),
    "DSIR SELECT": _Op(_pair_or_self, "llm.sampling.dsir_select"),
    "SAMPLE TOP K": _Op(_unary, "llm.sampling.top_k_sample"),
    "PII SCRUB": _Op(_unary, "llm.scrub.pii_scrub"),
    "URL BLOCKLIST": _Op(_unary, "llm.scrub.url_blocklist_filter"),
    "SURPRISAL SCORE": _Op(_lm_optional, "llm.text.surprisal_score"),
    "SURPRISAL BACKOFF": _Op(_pair, "llm.text.backoff_surprisal"),
    "PERPLEXITY PARTITION": _Op(_unary, "llm.text.perplexity_partition"),
    "CLASSIFIER SCORE": _Op(_unary, "llm.text.classifier_score"),
    "REPETITION STATS": _Op(_unary, "llm.text.repetition_stats"),
    "DEDUP SPANS": _Op(_unary, "llm.dedup.dedup_spans"),
    "DEDUP LINES": _Op(_unary, "llm.dedup.dedup_lines"),
    "DEDUP REPEATED LINES": _Op(_unary, "llm.dedup.dedup_repeated_lines"),
    "BM25 TOPK": _Op(_unary, "llm.search.bm25_topk"),
    "BM25 BUILD INDEX": _Op(_write, "llm.search.bm25_build_index"),
    "BM25 EXTEND INDEX": _Op(_write, "llm.search.bm25_extend_index"),
    "BM25 SEARCH INDEX": _Op(_zero, "llm.search.bm25_search_index"),
    "DELETE FROM INDEX": _Op(_write, "llm._store.delete_from_index"),
    "COMPACT INDEX": _Op(
        _receipt("path string, version long"),
        "operators.llm_ops._run_compact",
    ),
    "VACUUM INDEX": _Op(
        _receipt("path string, removed_dirs long"),
        "operators.llm_ops._run_vacuum",
    ),
    "MAINTAIN INDEX": _Op(
        _receipt("path string, compacted boolean, vacuumed_dirs long"),
        "operators.llm_ops._run_maintain",
    ),
    "RRF FUSE": _Op(_inputs, "llm.search.rrf_fuse"),
    "DISTINCT SKETCH": _Op(_unary, "llm.sketch.distinct_sketch"),
    "SKETCH ESTIMATE": _Op(_unary, "llm.sketch.sketch_estimate"),
    "APPROX DISTINCT": _Op(_unary, "llm.sketch.approx_distinct"),
    "VALUE SKETCH": _Op(_unary, "llm.sketch.value_sketch"),
    "SKETCH QUANTILES": _Op(_unary, "llm.sketch.sketch_quantiles"),
    "APPROX QUANTILES": _Op(_unary, "llm.sketch.approx_quantiles"),
    "CORPUS REPORT": _Op(_unary, "llm.sketch.corpus_report"),
    "COUNT MIN SKETCH": _Op(_unary, "llm.sketch.count_min_sketch"),
    "MERGE CMS": _Op(_inputs, "llm.sketch.merge_cms"),
    "CMS ESTIMATE": _Op(_pair, "llm.sketch.cms_estimate"),
    "DEDUP SUBSTRINGS": _Op(_unary, "llm.dedup.dedup_substrings"),
    "DERIVE SHARD KEY": _Op(_unary, "llm.text.derive_shard_key"),
    "CHUNK DOCUMENTS": _Op(_unary, "llm.text.chunk_documents"),
    "PACK SEQUENCES": _Op(_unary, "llm.text.pack_sequences"),
    "SESSION WINDOW": _Op(_unary, "streaming.windows.session_rollup"),
    "TUMBLING WINDOW": _Op(_unary, "streaming.windows.tumbling_rollup"),
    "SLIDING WINDOW": _Op(_unary, "streaming.windows.sliding_rollup"),
    "MINHASH BUILD INDEX": _Op(_write, "llm.dedup_index.minhash_build_index"),
    "MINHASH EXTEND INDEX": _Op(
        _write, "llm.dedup_index.minhash_extend_index",
    ),
    "DEDUP AGAINST INDEX": _Op(_read, "llm.dedup_index.dedup_against_index"),
    # the x22/x25 ingest composition as ONE op (probe + anti-join, the
    # function the streaming foreachBatch runs); does NOT extend the
    # index — chain the family's EXTEND INDEX op after it
    "ADMIT AGAINST INDEX": _Op(
        _read,
        "streaming.admission.admit_against_index",
        renames={"vector_column": "value_col"},
    ),
    "SIMHASH BUILD INDEX": _Op(_write, "llm.dedup_index.simhash_build_index"),
    "SIMHASH EXTEND INDEX": _Op(
        _write, "llm.dedup_index.simhash_extend_index",
    ),
    "SIMHASH AGAINST INDEX": _Op(
        _read, "llm.dedup_index.simhash_against_index",
    ),
    "EMBEDDING BUILD INDEX": _Op(
        _write, "llm.dedup_index.embedding_build_index",
    ),
    "EMBEDDING EXTEND INDEX": _Op(
        _write, "llm.dedup_index.embedding_extend_index",
    ),
    "EMBEDDING AGAINST INDEX": _Op(
        _read, "llm.dedup_index.embedding_against_index",
    ),
    "PERPLEXITY CUTOFFS": _Op(_unary, "llm.text.perplexity_cutoffs"),
    "PERPLEXITY PARTITION STREAM": _Op(
        _pair,
        "llm.text.perplexity_partition_stream",
        coerce={"labels": tuple},
    ),
    "CONNECTED COMPONENTS": _Op(_unary, "llm.clusters.connected_components"),
    "DEDUP CLUSTERS": _Op(_pair, "llm.clusters.dedup_clusters"),
    "DECONTAMINATE": _Op(_pair, "llm.dedup.decontaminate"),
    "DECONTAMINATE BLOOM": _Op(_pair, "llm.dedup.decontaminate_bloom"),
    "DECONTAMINATE STREAM": _Op(
        _decontaminate_stream, "llm.dedup.decontaminate_stream",
    ),
    "SURPRISAL SCORE STREAM": _Op(
        _lm_stream("llm.text.surprisal_lm_table"),
        "llm.text.surprisal_score_stream",
    ),
    "SURPRISAL BACKOFF STREAM": _Op(
        _lm_stream("llm.text.backoff_lm_table"),
        "llm.text.backoff_surprisal_stream",
    ),
    "SEMANTIC DEDUP": _Op(_unary, "llm.similarity.semantic_dedup"),
    "ANN TOPK": _Op(_pair_or_self, "llm.similarity.brute_force_topk"),
    "MAXSIM TOPK": _Op(_pair_or_self, "llm.similarity.maxsim_topk"),
    "ANN TOPK LSH": _Op(_pair_or_self, "llm.similarity.lsh_bucketed_topk"),
    "ANN TOPK IVF": _Op(_pair_or_self, "llm.similarity.ivf_topk"),
    "ANN TOPK IVF KMEANS": _Op(
        _pair_or_self, "llm.similarity.ivf_topk_kmeans",
    ),
    "ANN TOPK PQ": _Op(_pair_or_self, "llm.similarity.pq_topk"),
    "ANN TOPK IVF PQ": _Op(_pair_or_self, "llm.similarity.ivf_pq_topk"),
    "ANN TOPK IVF PQ RESIDUAL": _Op(
        _pair_or_self, "llm.similarity.ivf_pq_residual_topk",
    ),
    "PQ BUILD INDEX": _Op(_write, "llm.similarity.pq_build_index"),
    "PQ EXTEND INDEX": _Op(_write, "llm.similarity.pq_extend_index"),
    "PQ SEARCH INDEX": _Op(_read, "llm.similarity.pq_search_index"),
    "IMAGE RESIZE": _Op(_unary, "llm.multimodal.resize_images"),
    "FRAME SAMPLE": _Op(_unary, "llm.multimodal.sample_frames"),
    "MEDIA FEATURES": _Op(_unary, "llm.multimodal.extract_features"),
    "AUDIO FEATURES": _Op(_unary, "llm.multimodal.extract_audio_features"),
    "FRAME STATS": _Op(_unary, "llm.multimodal.frame_stats"),
}
