"""Dict/JSON/YAML program format — the sane, native grammar alongside the
Excel compatibility layer. Same plan dataclasses, so both front-ends share
every compiler and test.

Shape:
    {
      "analyte": "subject_death",
      "scans": [{"name": "DS", "source": "parquet", "path": "...",
                 "filter": "DSDECOD_STD = C28554",
                 "columns": ["Subject", "DSSTDAT"], "distinct": true}],
      "ops":   [{"op": "RENAME COLUMN", "target": "DS", "inputs": ["DS"],
                 "args": {"renames": {"Subject": "subject"}}}],
      "lookup_tables": {"TRT_STD": [{"key": "Carboplatin", "output": 1}]}
    }

Study shape: {"study_code": ..., "spine_key": ..., "analytes": [<analyte>...]}
"""

from __future__ import annotations

import json

from ..plans.spec import AnalytePlan, OpSpec, ScanSpec, StudyPlan


def analyte_from_dict(d: dict) -> AnalytePlan:
    scans = [
        ScanSpec(
            name=s["name"],
            source=s.get("source", "parquet"),
            path=s.get("path"),
            filter=s.get("filter"),
            columns=s.get("columns"),
            distinct=bool(s.get("distinct", False)),
            options=s.get("options", {}),
            keys=s.get("keys", {}),
        )
        for s in d.get("scans", [])
    ]
    ops = [
        OpSpec(op=o["op"], target=o["target"],
               inputs=list(o.get("inputs", [])), args=o.get("args", {}))
        for o in d.get("ops", [])
    ]
    return AnalytePlan(
        name=d["analyte"], scans=scans, ops=ops,
        lookup_tables=d.get("lookup_tables", {}),
    )


def study_from_dict(d: dict) -> StudyPlan:
    return StudyPlan(
        study_code=d["study_code"],
        analytes=[analyte_from_dict(a) for a in d.get("analytes", [])],
        spine_key=d.get("spine_key", "subject"),
    )


def analyte_from_json(path: str) -> AnalytePlan:
    with open(path) as f:
        return analyte_from_dict(json.load(f))


def analyte_from_yaml(path: str) -> AnalytePlan:
    """YAML variant — gated on PyYAML being importable."""
    try:
        import yaml  # type: ignore
    except ImportError as e:  # pragma: no cover
        raise ImportError("PyYAML not installed; use the JSON program form") from e
    with open(path) as f:
        return analyte_from_dict(yaml.safe_load(f))
