"""Operator compilers: one per reference DF_OPERATIONS op (SURVEY.md §2).

Each compiler takes ``(engine, spec)`` and returns ``(DataFrame, SortSpec |
None)`` — the output relation plus the sort metadata to propagate to the
target binding. Sort metadata is how we preserve the reference's
order-dependent semantics ("SORT DATASET then GROUPBY SLICE/last") on Spark,
whose shuffles do not preserve row order: instead of a free-standing global
orderBy, the pending sort is FUSED into the next order-sensitive operator as
a window (`row_number`/`max_by`). See SURVEY.md §2.6 and the reference
dispatch loop at `/root/reference/Configurable_ETL_Python.py:456-522`.

Everything here is built-in Column expressions — no Python UDFs — so the
whole reference-parity surface stays inside whole-stage codegen.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.expr import (
    ORDER_SENSITIVE_AGGS,
    compile_agg,
    compile_filter,
    compile_literal,
    strftime_to_java,
)
from ..plans.spec import OpSpec, SortSpec

if TYPE_CHECKING:  # pragma: no cover
    from ..plans.compiler import Engine


Result = tuple[DataFrame, "SortSpec | None"]

_ROWNUM = "__cetl_rn__"


def _sort_struct(sort: SortSpec):
    """A single orderable expression for max_by/min_by-style fusion:
    lexicographic struct over the sort columns."""
    return F.struct(*[F.col(c) for c in sort.columns])


def _propagates(sort: SortSpec | None, out_cols: list[str]) -> SortSpec | None:
    """Sort metadata survives an op only if the sort columns still exist."""
    if sort is None:
        return None
    if all(c in out_cols for c in sort.columns):
        return sort
    return None


# ---------------------------------------------------------------------------
# column transforms
# ---------------------------------------------------------------------------


def op_rename_column(engine: "Engine", spec: OpSpec) -> Result:
    """RENAME COLUMN (Configurable_ETL_Python.py:223-228). args:
    renames: {old: new, ...}"""
    df, sort = engine.peek(spec.inputs[0])
    renames: dict[str, str] = spec.args["renames"]
    df = df.withColumnsRenamed(renames)
    if sort is not None:
        sort = SortSpec(
            tuple(renames.get(c, c) for c in sort.columns), sort.ascending
        )
    return df, sort


def op_format_column(engine: "Engine", spec: OpSpec) -> Result:
    """FORMAT COLUMN (Configurable_ETL_Python.py:230-248): parse a string
    column to timestamp with a strftime pattern, or cast to number.
    args: column, type ('datetime'|'number'|any spark type), format?

    pandas parity notes: pd.to_datetime passes already-datetime values
    through untouched, and reference programs rely on it — all_ipdc_date
    BIND ROWS a raw string date column with an already-parsed analyte
    column, then FORMATs the union (whose timestamps Spark's union coercion
    turned into ISO strings). Hence: timestamp column → no-op; string
    column → try the config pattern first, then ISO fallback. Unparseable
    values become NULL (the reference would raise; a 100 TB run shouldn't
    die on row 40 billion)."""
    df, sort = engine.peek(spec.inputs[0])
    col = spec.args["column"]
    typ = spec.args["type"].lower()
    cur = dict(df.dtypes).get(col, "")
    if typ == "datetime":
        if cur.startswith("timestamp") or cur == "date":
            return df, sort
        fmt = strftime_to_java(spec.args["format"])
        out = df.withColumn(
            col,
            F.coalesce(
                F.try_to_timestamp(F.col(col), F.lit(fmt)),
                F.expr(f"try_cast(`{col}` AS timestamp)"),
            ),
        )
    elif typ == "number":
        # Divergence note (documented, like the no-raise note above):
        # pd.to_numeric infers int64 when EVERY value is integral — a
        # data-dependent schema Spark can't decide without an extra action.
        # Default is double, so an all-integer string column renders as
        # '101.0' at the all-string boundary where the reference emits
        # '101'. Programs that know the column is integral opt in with
        # `"integer": true` to get the reference's int64 shape.
        target = "bigint" if spec.args.get("integer") else "double"
        out = df.withColumn(col, F.expr(f"try_cast(`{col}` AS {target})"))
    else:
        out = df.withColumn(col, F.col(col).cast(typ))
    return out, sort


def op_add_column(engine: "Engine", spec: OpSpec) -> Result:
    """ADD COLUMN constant (Configurable_ETL_Python.py:323-335).
    args: column, value (typed-literal string or python value)"""
    df, sort = engine.peek(spec.inputs[0])
    val = spec.args["value"]
    if isinstance(val, str):
        val = compile_literal(val)
    return df.withColumn(spec.args["column"], F.lit(val)), sort


def op_aggregate_column(engine: "Engine", spec: OpSpec) -> Result:
    """AGGREGATE COLUMN — row-wise (horizontal) min/max across columns
    (Configurable_ETL_Python.py:266-284). NaN-skipping pandas semantics ==
    Spark least/greatest (NULL only if all args NULL).
    args: new_column, op ('min'|'max'), columns: [..]"""
    df, sort = engine.peek(spec.inputs[0])
    cols = [F.col(c) for c in spec.args["columns"]]
    fn = F.least if spec.args["op"].lower() == "min" else F.greatest
    return df.withColumn(spec.args["new_column"], fn(*cols)), sort


def op_attach_column(engine: "Engine", spec: OpSpec) -> Result:
    """ATTACH COLUMN (Configurable_ETL_Python.py:409-432), three operations:
      NOTNULL — new bool col = source col is not null            (:425-426)
      SUMEQ   — scalar agg broadcast: sum(a)==sum(b) on every row (:427-429)
      NULL    — new = value if src IS NULL else <other column>    (:430-432)
    args: operation, new_column, plus per-op fields."""
    df, sort = engine.peek(spec.inputs[0])
    op = spec.args["operation"].upper()
    new = spec.args["new_column"]
    if op == "NOTNULL":
        return df.withColumn(new, F.col(spec.args["column"]).isNotNull()), sort
    if op == "SUMEQ":
        a, b = spec.args["columns"]
        # one-row aggregate, broadcast cross join — constant per row without
        # collapsing to a single partition (vs a global window). Sums compare
        # as exact decimal(38,6): long would truncate fractional values
        # (pandas compares float sums; booleans still count as 0/1 via the
        # int bridge cast).
        def _sum_exact(c: str):
            col = F.col(c)
            if dict(df.dtypes).get(c) == "boolean":
                col = col.cast("int")
            return F.sum(col.cast("decimal(38,6)"))

        agg = df.agg((_sum_exact(a) == _sum_exact(b)).alias(new))
        return df.crossJoin(F.broadcast(agg)), sort
    if op == "NULL":
        val = spec.args["value"]
        if isinstance(val, str):
            val = compile_literal(val)
        src = spec.args["column"]
        other = spec.args["else_column"]
        return (
            df.withColumn(
                new, F.when(F.col(src).isNull(), F.lit(val)).otherwise(F.col(other))
            ),
            sort,
        )
    raise ValueError(f"unknown ATTACH COLUMN operation {op!r}")


def op_compute_column(engine: "Engine", spec: OpSpec) -> Result:
    """COMPUTE COLUMN — engine extension: derive a column from a SQL
    expression over existing columns (the reference's ADD COLUMN only takes
    constants; every real pipeline needs `price * (1 - discount)`).
    args: column, expr (Spark SQL expression string)."""
    df, sort = engine.peek(spec.inputs[0])
    return df.withColumn(spec.args["column"], F.expr(spec.args["expr"])), sort


def op_decision_column(engine: "Engine", spec: OpSpec) -> Result:
    """DECISION COLUMN — lookup-table mapping as a broadcast left join
    (Configurable_ETL_Python.py:380-398; the reference does one full-column
    scan per table row). Unmatched keys → NULL.
    args: lookup_column, new_column, table (name in plan.lookup_tables or
    inline list of {key, output} dicts)."""
    df, sort = engine.peek(spec.inputs[0])
    table = spec.args["table"]
    if isinstance(table, str):
        table = engine.lookup_tables[table]
    lookup_col = spec.args["lookup_column"]
    new = spec.args["new_column"]
    # preserve output typing (decision tables carry INT / BOOLEAN outputs,
    # FIXTURES.md §2); lookup keys always compare as strings because the
    # working model is string-first
    outputs = [r["output"] for r in table]
    if all(isinstance(o, bool) for o in outputs):
        otype = "boolean"
    elif all(isinstance(o, int) for o in outputs):
        otype = "long"
    elif all(isinstance(o, (int, float)) for o in outputs):
        otype = "double"
    else:
        otype = "string"
        outputs = [str(o) if o is not None else None for o in outputs]
    # last-write-wins per key: the reference's per-row .loc overwrite means a
    # duplicate key in the decision table keeps the LAST row's output and
    # never multiplies input rows — dedupe before joining so the left join
    # preserves cardinality. Plain equality (not eqNullSafe): the
    # reference's == never matches NaN, so NULL lookup values stay NULL.
    dedup: dict[str | None, object] = {}
    for r, o in zip(table, outputs):
        dedup[str(r["key"]) if r["key"] is not None else None] = o
    rows = [(k, o) for k, o in dedup.items() if k is not None]
    mapping = engine.spark.createDataFrame(
        rows, schema=f"`{_ROWNUM}k` string, `{new}` {otype}"
    )
    out = df.join(
        F.broadcast(mapping),
        F.col(lookup_col).cast("string") == F.col(f"{_ROWNUM}k"),
        "left",
    ).drop(f"{_ROWNUM}k")
    return out, _propagates(sort, out.columns)


# ---------------------------------------------------------------------------
# projections / filters
# ---------------------------------------------------------------------------


def op_select_columns(engine: "Engine", spec: OpSpec) -> Result:
    """SELECT COLUMNS — strict projection (Configurable_ETL_Python.py:400-402).
    args: columns; lenient: bool (P1 scan semantics — silently intersect)."""
    df, sort = engine.peek(spec.inputs[0])
    cols = spec.args["columns"]
    if spec.args.get("lenient"):
        have = set(df.columns)
        cols = [c for c in cols if c in have]
    out = df.select(*cols)
    return out, _propagates(sort, cols)


def op_select_distinct(engine: "Engine", spec: OpSpec) -> Result:
    """SELECT DISTINCT (Configurable_ETL_Python.py:404-407): project then
    dedup. pandas drop_duplicates keeps the FIRST row in current order —
    with a pending sort this fuses to row_number()==1 (SURVEY §2.6)."""
    df, sort = engine.peek(spec.inputs[0])
    cols = spec.args["columns"]
    return _dedup_keep_first(df.select(*cols), cols, _propagates(sort, cols)), None


def op_unique_column(engine: "Engine", spec: OpSpec) -> Result:
    """UNIQUE COLUMN (Configurable_ETL_Python.py:291-294):
    drop_duplicates(subset) keeping all columns; keep-first under a sort."""
    df, sort = engine.peek(spec.inputs[0])
    subset = spec.args["columns"]
    return _dedup_keep_first(df, subset, sort), None


def _dedup_keep_first(df: DataFrame, subset: list[str], sort: SortSpec | None) -> DataFrame:
    if sort is None:
        return df.dropDuplicates(subset)
    w = Window.partitionBy(*subset).orderBy(*sort.spark_cols())
    return (
        df.withColumn(_ROWNUM, F.row_number().over(w))
        .filter(F.col(_ROWNUM) == 1)
        .drop(_ROWNUM)
    )


def op_remove_column(engine: "Engine", spec: OpSpec) -> Result:
    """REMOVE COLUMN (Configurable_ETL_Python.py:286-289)."""
    df, sort = engine.peek(spec.inputs[0])
    out = df.drop(*spec.args["columns"])
    return out, _propagates(sort, out.columns)


def op_filter(engine: "Engine", spec: OpSpec) -> Result:
    """FILTER — the mini-grammar (Configurable_ETL_Python.py:108-200),
    compiled once to a Column tree; Catalyst pushes it to the scan."""
    df, sort = engine.peek(spec.inputs[0])
    return df.filter(compile_filter(spec.args["condition"])), sort


def op_remove_rows(engine: "Engine", spec: OpSpec) -> Result:
    """REMOVE ROWS col = NULL → drop null rows
    (Configurable_ETL_Python.py:359-369)."""
    df, sort = engine.peek(spec.inputs[0])
    operand = str(spec.args.get("operand", "NULL")).upper()
    if operand not in ("NULL", "NULL1"):
        raise ValueError(f"REMOVE ROWS supports NULL operand only, got {operand!r}")
    return df.filter(F.col(spec.args["column"]).isNotNull()), sort


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

_JOIN_HOW = {
    "LEFT JOIN": "left",
    "RIGHT JOIN": "right",
    "OUTER JOIN": "full_outer",
    "INNER JOIN": "inner",
    "SEMI JOIN": "left_semi",
    "ANTI JOIN": "left_anti",
}


def _op_join(how: str):
    def compile_join(engine: "Engine", spec: OpSpec) -> Result:
        """Equi-join on shared column names (any_join,
        Configurable_ETL_Python.py:531-534, dispatch :469-480); pandas merge
        preserves left-frame order for left joins → propagate left sort.

        Scale args: `broadcast: true` hints the right side small;
        `salt: N` spreads a pathologically hot left key over N reducers
        (classic key salting — for the left/inner large-large case AQE's
        skew splitting can't fix, e.g. one key holding >1 partition's worth
        of rows on BOTH sides). Same rows either way."""
        left, lsort = engine.peek(spec.inputs[0])
        right, _ = engine.peek(spec.inputs[1])
        on = spec.args["on"]
        salt = int(spec.args.get("salt", 0))
        if salt > 1:
            if spec.args.get("broadcast"):
                raise ValueError("salt and broadcast are mutually exclusive")
            from .skew import salted_left_join

            out = salted_left_join(left, right, on=on, salt=salt, how=how)
        else:
            if spec.args.get("broadcast"):
                right = F.broadcast(right)
            out = left.join(right, on=on, how=how)
        keep = lsort if how in ("left", "inner") else None
        return out, _propagates(keep, out.columns)

    return compile_join


def op_qualified_join(engine: "Engine", spec: OpSpec) -> Result:
    """Qualified-condition join (J4, Configurable_ETL_Python.py:250-264 —
    defined but never dispatched in the reference; the only non-shared-name
    join form in its vocabulary). args: condition 'a.x = b.y & a.z = b.w'
    (or pairs: [(left_col, right_col)]), how."""
    left, lsort = engine.peek(spec.inputs[0])
    right, _ = engine.peek(spec.inputs[1])
    how = spec.args.get("how", "left")
    pairs = spec.args.get("pairs")
    if pairs is None:
        pairs = []
        for term in spec.args["condition"].split("&"):
            lhs, rhs = term.split("=", 1)
            pairs.append((lhs.split(".", 1)[1].strip(), rhs.split(".", 1)[1].strip()))
    l = left.alias("__l")
    r = right.alias("__r")
    cond = None
    for lc, rc in pairs:
        c = F.col(f"__l.{lc}") == F.col(f"__r.{rc}")
        cond = c if cond is None else (cond & c)
    out = l.join(r, cond, how)
    keep = lsort if how in ("left", "inner") else None
    return out, _propagates(keep, out.columns)


def op_asof_join(engine: "Engine", spec: OpSpec) -> Result:
    """ASOF JOIN — engine extension (no reference counterpart; stock
    Spark has no as-of operator either). args: on, ts (left), right_ts,
    direction, tolerance_s, suffix. Left-join semantics; compiled to one
    key-partitioned window, no join node (operators/temporal.asof_join)."""
    from .temporal import asof_join

    left, lsort = engine.peek(spec.inputs[0])
    right, _ = engine.peek(spec.inputs[1])
    out = asof_join(
        left, right,
        on=spec.args["on"],
        left_ts=spec.args.get("ts", "ts"),
        right_ts=spec.args.get("right_ts"),
        direction=spec.args.get("direction", "backward"),
        tolerance_s=spec.args.get("tolerance_s"),
        suffix=spec.args.get("suffix", "_right"),
    )
    return out, _propagates(lsort, out.columns)


def op_range_join(engine: "Engine", spec: OpSpec) -> Result:
    """RANGE JOIN — engine extension: events to intervals on key +
    start <= ts < end; args: on, ts, start, end, bin_width_s (set it to
    compile the bucketed equi-join scale path instead of a range-filtered
    key join — operators/temporal.range_join)."""
    from .temporal import range_join

    events, _ = engine.peek(spec.inputs[0])
    intervals, _ = engine.peek(spec.inputs[1])
    out = range_join(
        events, intervals,
        on=spec.args["on"],
        ts_col=spec.args.get("ts", "ts"),
        start_col=spec.args.get("start", "start"),
        end_col=spec.args.get("end", "end"),
        bin_width_s=spec.args.get("bin_width_s"),
    )
    return out, None


# ---------------------------------------------------------------------------
# set ops / aggregation / window-like
# ---------------------------------------------------------------------------


def op_bind_rows(engine: "Engine", spec: OpSpec) -> Result:
    """BIND ROWS — union-by-name, missing columns NULL-filled
    (pd.concat(sort=False), Configurable_ETL_Python.py:337-344)."""
    dfs = [engine.peek(n)[0] for n in spec.inputs]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out, None


def op_intersect(engine: "Engine", spec: OpSpec) -> Result:
    """INTERSECT (distinct) — engine extension; the reference has no set
    ops beyond BIND ROWS (SURVEY §2.7 'not present')."""
    a, _ = engine.peek(spec.inputs[0])
    b, _ = engine.peek(spec.inputs[1])
    return a.intersect(b), None


def op_except(engine: "Engine", spec: OpSpec) -> Result:
    """EXCEPT (distinct) — engine extension."""
    a, _ = engine.peek(spec.inputs[0])
    b, _ = engine.peek(spec.inputs[1])
    return a.exceptAll(b) if spec.args.get("all") else a.subtract(b), None


def op_groupby_summarise(engine: "Engine", spec: OpSpec) -> Result:
    """GROUPBY SUMMARISE (Configurable_ETL_Python.py:346-357).
    args: group_by: [...], aggs: [(col, op)] or {col: op}.

    Order-sensitive 'first'/'last' fuse the pending sort (SURVEY §2.6):
    last == max_by(col, sort-key struct) over non-null values (pandas
    GroupBy.last skips NA), first == min_by. Result column keeps the source
    column's name, like pandas .agg({col: op})."""
    df, sort = engine.peek(spec.inputs[0])
    keys = spec.args["group_by"]
    aggs = spec.args["aggs"]
    items = list(aggs.items()) if isinstance(aggs, dict) else [tuple(x) for x in aggs]
    exprs = []
    for item in items:
        col, op = item[0], item[1]
        # (col, op) keeps the source column name like pandas .agg({col: op});
        # (col, op, alias) names the output explicitly
        alias = item[2] if len(item) > 2 else col
        if op.lower() in ORDER_SENSITIVE_AGGS:
            if sort is None:
                raise ValueError(
                    f"GROUPBY SUMMARISE {op} on {col!r} requires a preceding "
                    "SORT DATASET (order-dependent aggregate)"
                )
            ord_expr = F.when(F.col(col).isNotNull(), _sort_struct(sort))
            fn = F.max_by if (op.lower() == "last") == sort.ascending else F.min_by
            exprs.append(fn(F.col(col), ord_expr).alias(alias))
        else:
            exprs.append(compile_agg(op, col).alias(alias))
    return df.groupBy(*keys).agg(*exprs), None


def op_sort_dataset(engine: "Engine", spec: OpSpec) -> Result:
    """SORT DATASET (Configurable_ETL_Python.py:76-91): multi-column sort,
    one asc/desc flag for all columns. LAZY: we record the sort as pending
    metadata; it fuses into the next order-sensitive op as a window, or
    materializes as a global orderBy only if the relation is read out while
    still pending (plans/compiler.Engine.resolve). At 100 TB a fused window
    is a single hash shuffle; a global sort would be a range shuffle whose
    order the next shuffle destroys anyway."""
    df, _ = engine.peek(spec.inputs[0])
    ascending = str(spec.args.get("order", "ASC")).upper() != "DESC"
    return df, SortSpec(tuple(spec.args["columns"]), ascending)


def op_groupby_slice(engine: "Engine", spec: OpSpec) -> Result:
    """GROUPBY SLICE (Configurable_ETL_Python.py:67-74): first N rows per
    group in current row order — i.e. per-group top-N w.r.t. the pending
    sort. Fuses to row_number() over Window.partitionBy(keys).orderBy(sort).
    args: group_by: [...], n: int."""
    df, sort = engine.peek(spec.inputs[0])
    keys = spec.args["group_by"]
    n = int(spec.args["n"])
    if sort is None:
        raise ValueError(
            "GROUPBY SLICE requires a preceding SORT DATASET (row order is "
            "not defined on a distributed relation without one)"
        )
    w = Window.partitionBy(*keys).orderBy(*sort.spark_cols())
    out = (
        df.withColumn(_ROWNUM, F.row_number().over(w))
        .filter(F.col(_ROWNUM) <= n)
        .drop(_ROWNUM)
    )
    # sort is now realized in the VALUES; keep it as fusion metadata but
    # never as a physical output sort (resolve() would range-shuffle the
    # whole result for nothing)
    return out, sort.fused()


def op_sql(engine: "Engine", spec: OpSpec) -> Result:
    """SQL — engine extension: run a Spark SQL statement over the current
    bindings (mirrored as temp views right before the statement is
    analyzed, so it sees the latest binding of every name). The escape
    hatch when the op vocabulary can't express something; Catalyst sees
    one plan either way. args: query."""
    engine.registry.register_views()
    return engine.spark.sql(spec.args["query"]), None


def op_limit(engine: "Engine", spec: OpSpec) -> Result:
    """LIMIT — engine extension: global top-N w.r.t. the pending sort.
    With a pending SORT DATASET this compiles to orderBy().limit(n) →
    TakeOrderedAndProject (per-partition heap + single merge, no global
    sort shuffle); without one it's an arbitrary-rows limit.
    args: n."""
    df, sort = engine.peek(spec.inputs[0])
    n = int(spec.args["n"])
    if sort is not None:
        return df.orderBy(*sort.spark_cols()).limit(n), sort.fused()
    return df.limit(n), None


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def _llm_op_compilers():
    from .llm_ops import LLM_OP_COMPILERS

    return LLM_OP_COMPILERS


OP_COMPILERS = {
    "RENAME COLUMN": op_rename_column,
    "FORMAT COLUMN": op_format_column,
    "ADD COLUMN": op_add_column,
    "COMPUTE COLUMN": op_compute_column,
    "AGGREGATE COLUMN": op_aggregate_column,
    "ATTACH COLUMN": op_attach_column,
    "DECISION COLUMN": op_decision_column,
    "SELECT COLUMNS": op_select_columns,
    "SELECT DISTINCT": op_select_distinct,
    "UNIQUE COLUMN": op_unique_column,
    "REMOVE COLUMN": op_remove_column,
    "FILTER": op_filter,
    "REMOVE ROWS": op_remove_rows,
    "BIND ROWS": op_bind_rows,
    "INTERSECT": op_intersect,
    "EXCEPT": op_except,
    "GROUPBY SUMMARISE": op_groupby_summarise,
    "GROUPBY SLICE": op_groupby_slice,
    "SORT DATASET": op_sort_dataset,
    "LIMIT": op_limit,
    "SQL": op_sql,
    "QUALIFIED JOIN": op_qualified_join,
    "ASOF JOIN": op_asof_join,
    "RANGE JOIN": op_range_join,
    **{name: _op_join(how) for name, how in _JOIN_HOW.items()},
}
OP_COMPILERS.update(_llm_op_compilers())
