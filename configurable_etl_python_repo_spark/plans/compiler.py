"""The Engine: lowers typed plans (spec.py) to lazy DataFrame lineage.

Replaces the reference's eager interpreter loop
(`/root/reference/Configurable_ETL_Python.py:456-522`, one materialized
pandas frame per row, symbol table = globals()). Here every op adds lazy
lineage; Catalyst sees the WHOLE analyte as one logical plan, so predicate
pushdown / column pruning / join planning span operator boundaries the
reference could never cross.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expr import compile_filter
from ..registry import Registry
from .spec import AnalytePlan, OpSpec, ScanSpec, SortSpec, StudyPlan


def _safe_table_name(name: str) -> str:
    """Catalog-safe table identifier from a study/analyte name."""
    import re

    return re.sub(r"[^A-Za-z0-9_]", "_", name).lower()


class ProgramError(RuntimeError):
    """A config program failed; the message pinpoints the analyte and the
    op row (the reference re-raises bare errors with no location,
    Configurable_ETL_Python.py:519)."""


class Engine:
    """Compiles ScanSpec/OpSpec/AnalytePlan/StudyPlan to DataFrames.

    Sort metadata (`SortSpec`) rides alongside each binding so that the
    reference's order-dependent idiom (SORT DATASET → GROUPBY SLICE / `last`
    / dedup) compiles to a window function instead of relying on physical
    row order, which Spark shuffles do not preserve (SURVEY.md §2.6).
    """

    def __init__(self, spark: SparkSession, registry: Registry | None = None):
        self.spark = spark
        self.registry = registry or Registry(spark)
        self._pending_sort: dict[str, SortSpec] = {}
        self.lookup_tables: dict[str, list[dict[str, Any]]] = {}
        # snapshot of each analyte's result at derivation time — later
        # programs may REBIND the same name (dg_test_last_contact rebinds
        # `subject_death` while transforming it); immutable lineage makes
        # the snapshot free
        self.analyte_results: dict[str, DataFrame] = {}

    # -- bindings -----------------------------------------------------------

    def bind(self, name: str, df: DataFrame, sort: SortSpec | None = None) -> None:
        self.registry.bind(name, df)
        if sort is None:
            self._pending_sort.pop(name, None)
        else:
            self._pending_sort[name] = sort

    def peek(self, name: str) -> tuple[DataFrame, SortSpec | None]:
        """Fetch a binding WITHOUT materializing its pending sort — op
        compilers use this so the sort can fuse downstream."""
        return self.registry.get(name), self._pending_sort.get(name)

    def resolve(self, name: str) -> DataFrame:
        """Fetch a binding for external consumption: a still-pending
        UNCONSUMED sort materializes as a real orderBy so callers observe
        reference semantics (SORT DATASET as the final op yields sorted
        output); a sort already fused into a window stays metadata-only."""
        df, sort = self.peek(name)
        if sort is not None and sort.materialize:
            df = df.orderBy(*sort.spark_cols())
        return df

    # -- scans ---------------------------------------------------------------

    def run_scan(self, scan: ScanSpec) -> DataFrame:
        """GET_DATA semantics: load → filter → lenient project (+distinct)
        (`Configurable_ETL_Python.py:434-454`; filter at :451 precedes
        projection at :452 and may use columns the projection then drops).
        Declarative order means Catalyst still pushes both into the scan."""
        df = self._load(scan)
        if scan.filter:
            df = df.filter(compile_filter(scan.filter))
        if scan.columns:
            have = set(df.columns)
            cols = [c for c in scan.columns if c in have]  # lenient (P1)
            if cols:
                df = df.select(*cols)
            if scan.distinct:
                df = df.dropDuplicates(cols or None)
        elif scan.distinct:
            df = df.dropDuplicates()
        self.bind(scan.name, df)
        return df

    def _load(self, scan: ScanSpec) -> DataFrame:
        src = scan.source.lower()
        if src == "analyte":
            # S2: resolve a previously derived relation
            # (Configurable_ETL_Python.py:319-321,442-444); prefer the
            # derivation-time snapshot over the (rebindable) registry name
            key = scan.path or scan.name
            if key in self.analyte_results:
                return self.analyte_results[key]
            return self.registry.get(key)
        if src == "parquet":
            from ..sources.files import read_parquet

            return read_parquet(self.spark, scan.path, options=scan.options)
        if src == "parquet-stream":
            # streaming source as a first-class config scan: a program
            # (not just the library) can declare a stream and pipe it
            # through streaming-legal ops (windows §2.9). readStream
            # requires a schema up front; the batch-side reader of the
            # same path supplies it — no data is read.
            from ..sources.files import read_parquet

            schema = read_parquet(
                self.spark, scan.path, options=scan.options
            ).schema
            return (
                self.spark.readStream.options(**scan.options)
                .schema(schema).parquet(scan.path)
            )
        if src == "csv":
            opts = {"header": "true", **scan.options}
            return self.spark.read.options(**opts).csv(scan.path)
        if src == "json":
            return self.spark.read.options(**scan.options).json(scan.path)
        if src == "sas":
            # S5: pd.read_sas parity, distributed per-file
            # (Data_Ingestion_Python.py:26-28)
            from ..sources.sas import read_sas

            return read_sas(self.spark, scan.path, **scan.options)
        if src == "table":
            # a table scan may name a binding, as SQL may
            self.registry.register_views()
            return self.spark.table(scan.path)
        if src == "bronze":
            from ..sources.bronze import read_bronze

            return read_bronze(self.spark, scan.path, **scan.keys)
        raise ValueError(f"unknown scan source {scan.source!r}")

    # -- ops ------------------------------------------------------------------

    def run_op(self, spec: OpSpec) -> DataFrame:
        # imported lazily: operators.core also imports plans.spec, and eager
        # cross-imports would cycle when the operators package loads first
        from ..operators.core import OP_COMPILERS

        try:
            compiler = OP_COMPILERS[spec.op.upper()]
        except KeyError:
            # unknown ops raise, like the reference dispatch loop (:519)
            raise ValueError(f"unknown operation {spec.op!r}") from None
        df, sort = compiler(self, spec)
        self.bind(spec.target, df, sort)
        return df

    # -- programs ---------------------------------------------------------------

    def run_analyte(self, plan: AnalytePlan) -> DataFrame:
        self.lookup_tables = plan.lookup_tables
        for scan in plan.scans:
            try:
                self.run_scan(scan)
            except Exception as e:
                raise ProgramError(
                    f"analyte {plan.name!r}, scan {scan.name!r}: "
                    f"{type(e).__name__}: {e}"
                ) from e
        for i, op in enumerate(plan.ops, start=1):
            try:
                self.run_op(op)
            except Exception as e:
                # config programs are user data — errors must say WHICH row
                raise ProgramError(
                    f"analyte {plan.name!r}, op #{i} ({op.op} -> "
                    f"{op.target!r}): {type(e).__name__}: {e}"
                ) from e
        result = self.resolve(plan.name)
        self.analyte_results[plan.name] = result
        return result

    def run_study(
        self,
        study: StudyPlan,
        cache_analytes: bool = True,
        spine_buckets: int | None = None,
    ) -> DataFrame:
        """Derive every analyte in dependency order and left-join each onto
        the spine (first analyte) on `spine_key`
        (process_study, Configurable_ETL_Python.py:589-604).

        Join strategy by scale:
          - default (spine_buckets=None): analytes are tiny relative to
            fact tables → broadcast the join sides (no shuffle at all).
          - spine_buckets=N: every analyte result is materialized as a
            table bucketed+sorted on `spine_key` with N buckets, and the
            spine accumulates via bucket-aligned sort-merge joins — ZERO
            exchanges end-to-end. This is the large-analyte path: when the
            per-subject relations are themselves too big to broadcast, the
            one-time bucketed write replaces a per-join shuffle, and any
            LATER study run joining on the same key reuses the layout for
            free."""
        ordered = study.toposort()
        multi_consumer = self._multi_consumer_analytes(study)
        for plan in ordered:
            df = self.run_analyte(plan)
            self.bind(plan.name, df)
            if cache_analytes and plan.name in multi_consumer:
                self.registry.cache(plan.name)
        # The DECLARED first analyte seeds the spine (process_study,
        # Configurable_ETL_Python.py:589-604: the first manifest row is the
        # spine), even when toposort ran one of its dependencies earlier.
        # Joins then follow manifest order, matching the reference's
        # accumulation order (and its output column order).
        if spine_buckets:
            spine = self._bucketed_spine(study, spine_buckets)
        else:
            spine = self.analyte_results[study.analytes[0].name]
            for plan in study.analytes[1:]:
                spine = spine.join(
                    F.broadcast(self.analyte_results[plan.name]),
                    on=study.spine_key,
                    how="left",
                )
        result = spine
        self.bind(f"{study.study_code}__standardized", result)
        return result

    def _bucketed_spine(self, study: StudyPlan, num_buckets: int) -> DataFrame:
        """Materialize each analyte bucketed+sorted on the spine key, then
        accumulate with merge-hinted joins. Bucket counts match on every
        side, so Catalyst plans each join with no Exchange and no Sort (the
        bucketed write pre-sorted the files); the merge hint keeps small
        test-scale tables from silently taking the broadcast path, which
        would hide a bucketing regression."""
        from ..sinks.tables import write_bucketed

        tables: dict[str, str] = {}
        for plan in study.analytes:
            tbl = _safe_table_name(f"cetl_{study.study_code}_{plan.name}_b")
            write_bucketed(
                self.analyte_results[plan.name],
                tbl,
                [study.spine_key],
                num_buckets=num_buckets,
            )
            tables[plan.name] = tbl
        spine = self.spark.table(tables[study.analytes[0].name])
        for plan in study.analytes[1:]:
            spine = spine.join(
                self.spark.table(tables[plan.name]).hint("merge"),
                on=study.spine_key,
                how="left",
            )
        return spine

    @staticmethod
    def _multi_consumer_analytes(study: StudyPlan) -> set[str]:
        counts: dict[str, int] = {}
        for plan in study.analytes:
            for dep in plan.dependencies():
                counts[dep] = counts.get(dep, 0) + 1
        # spine consumption counts too
        for plan in study.analytes[1:]:
            counts[plan.name] = counts.get(plan.name, 0) + 1
        return {k for k, v in counts.items() if v > 1}
