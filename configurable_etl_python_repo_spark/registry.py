"""Named-DataFrame registry.

The reference stores every working relation in the Python ``globals()`` dict
(`Configurable_ETL_Python.py:447,452,462`) and rebinds names freely. We keep
the rebinding semantics (a name is a mutable binding to an immutable
DataFrame) but in an explicit object. Bindings become addressable from
SQL through `register_views`, which mirrors the current bindings as Spark
temp views; the SQL op (and a `table` scan) calls it right before it
resolves names, so `bind` pays no catalog call (~9 ms of py4j per view,
and most programs never use SQL).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


_VIEW_SAFE = re.compile(r"[^A-Za-z0-9_]")


class Registry:
    """Mutable name → immutable DataFrame bindings, SQL-visible."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._bindings: dict[str, DataFrame] = {}

    def bind(self, name: str, df: DataFrame) -> None:
        self._bindings[name] = df

    def register_views(self) -> None:
        """Mirror every current binding as a temp view (non-identifier
        characters in the name become `_`), so SQL sees the latest
        binding of each name."""
        for name, df in self._bindings.items():
            df.createOrReplaceTempView(_VIEW_SAFE.sub("_", name))

    def get(self, name: str) -> DataFrame:
        try:
            return self._bindings[name]
        except KeyError:
            raise KeyError(
                f"no relation named {name!r}; bound: {sorted(self._bindings)}"
            ) from None

    def __contains__(self, name: str) -> bool:
        return name in self._bindings

    def names(self) -> list[str]:
        return sorted(self._bindings)

    def unbind(self, name: str) -> None:
        self._bindings.pop(name, None)

    def cache(self, name: str) -> DataFrame:
        """Cache an analyte that has >1 downstream consumer."""
        df = self.get(name).cache()
        self._bindings[name] = df
        return df

    def unpersist(self, name: str) -> None:
        if name in self._bindings:
            self._bindings[name].unpersist()
