"""Per-layer measurement from outside the program.

Everything here observes the program through public surfaces only: job
groups set around the benchmark's own calls, Spark's status REST API
(the same endpoints `scripts/skew_stress.py` reads), the query's
`QueryExecution` (Catalyst phases and the physical plan), the temp-dir
trees the persisted indexes live in, and `/proc` for memory.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request

#: plan-node families counted in the physical plan string
_PLAN_PATTERNS = {
    "plan.exchanges": re.compile(r"^Exchange\b"),
    "plan.broadcast_exchanges": re.compile(r"^BroadcastExchange\b"),
    "plan.sort_aggregates": re.compile(r"^SortAggregate\b"),
    "plan.python_nodes": re.compile(
        r"^(ArrowEvalPython|BatchEvalPython|\w+InPandas|MapInArrow)\b"),
    "plan.inmemory_scans": re.compile(r"^InMemoryTableScan\b"),
}
_NODE_PREFIX = re.compile(r"^[\s:+\-|]*(\*\(\d+\)\s*)?")


class Tracer:
    """In-memory spans: name, start, end, parent. Written out once, at
    the end of the run, by `dump`."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def start(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0, "end": None,
            **attrs})
        self._stack.append(sid)
        return sid

    def end(self, sid: int, **attrs) -> float:
        if self._stack[-1] != sid:
            raise RuntimeError(f"span {sid} closed out of order")
        self._stack.pop()
        span = self.spans[sid]
        span["end"] = time.perf_counter() - self._t0
        span.update(attrs)
        return span["end"] - span["start"]

    def depth(self) -> int:
        return len(self._stack)

    def unwind(self, depth: int, **attrs) -> None:
        """Close the spans a failed call left open, down to `depth`."""
        while len(self._stack) > depth:
            self.end(self._stack[-1], **attrs)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def plan_counts(plan_string: str) -> dict[str, int]:
    """Node counts of a physical plan's tree string, one node a line."""
    counts = dict.fromkeys(["plan.nodes", *_PLAN_PATTERNS], 0)
    for line in plan_string.splitlines():
        node = _NODE_PREFIX.sub("", line)
        if not node or not (node[0].isalpha()):
            continue
        counts["plan.nodes"] += 1
        for key, pat in _PLAN_PATTERNS.items():
            if pat.match(node):
                counts[key] += 1
    return counts


def catalyst_phases(qe) -> dict[str, float]:
    """analysis / optimization / planning ms from the QueryExecution's
    tracker, read after `executedPlan()` has been forced."""
    phases = qe.tracker().phases()  # a Scala Map of PhaseSummary
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"catalyst.{name}_ms"] = (
            float(opt.get().endTimeMs() - opt.get().startTimeMs())
            if opt.isDefined() else 0.0)
    return out


class StatusApi:
    """Stage and storage metrics from the status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def job_ids(self, group: str) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(group))

    def stage_metrics(self, job_ids: set[int],
                      prefix: str) -> dict[str, float]:
        """Sum the completed stages of `job_ids`. Waits (bounded) for the
        status store to record the jobs' ends, which it does
        asynchronously after the action returns."""
        stage_ids: set[int] = set()
        deadline = time.monotonic() + 10.0
        for jid in sorted(job_ids):
            while True:
                info = self._tracker.getJobInfo(jid)
                if info is not None and info.status in ("SUCCEEDED", "FAILED"):
                    stage_ids.update(info.stageIds)
                    break
                if time.monotonic() > deadline:
                    raise TimeoutError(f"job {jid} never reported its end")
                time.sleep(0.02)
        m = {k: 0.0 for k in (
            "stages", "tasks", "task_s", "cpu_s", "gc_s", "input_bytes",
            "input_rows", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes")}
        slowest = None
        for sid in sorted(stage_ids):
            for st in self._stage_attempts(sid, deadline):
                if st["status"] != "COMPLETE":
                    continue
                m["stages"] += 1
                m["tasks"] += st["numCompleteTasks"]
                m["task_s"] += st["executorRunTime"] / 1e3
                m["cpu_s"] += st["executorCpuTime"] / 1e9
                m["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                m["input_bytes"] += st["inputBytes"]
                m["input_rows"] += st["inputRecords"]
                m["shuffle_read_bytes"] += st["shuffleReadBytes"]
                m["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                m["spill_bytes"] += (st["memoryBytesSpilled"]
                                     + st["diskBytesSpilled"])
                if slowest is None or (st["executorRunTime"]
                                       > slowest["executorRunTime"]):
                    slowest = st
        m["task_skew"] = self._skew(slowest)
        return {f"{prefix}.{k}": v for k, v in m.items()}

    def _stage_attempts(self, sid: int, deadline: float) -> list[dict]:
        while True:
            attempts = self._get(f"/stages/{sid}")
            if all(a["status"] in ("COMPLETE", "SKIPPED", "FAILED")
                   for a in attempts) or time.monotonic() > deadline:
                return attempts
            time.sleep(0.02)

    def _skew(self, stage) -> float:
        """max over median task run time in the slowest stage."""
        if stage is None or stage["numCompleteTasks"] < 2:
            return 1.0
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0

    def cache(self) -> dict[str, float]:
        rdds = self._get("/storage/rdd")
        return {"cache.rdds": float(len(rdds)),
                "cache.mem_bytes": float(sum(r["memoryUsed"] for r in rdds))}


def store_snapshot(tmp_dir: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of every file under the persisted-index
    trees (`cfg_etl_*`) in the temp dir."""
    snap: dict[str, tuple[int, int]] = {}
    for entry in os.scandir(tmp_dir):
        if not (entry.is_dir() and entry.name.startswith("cfg_etl_")):
            continue
        for root, _dirs, files in os.walk(entry.path):
            for f in files:
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


def store_metrics(tmp_dir: str, before: dict) -> dict[str, float]:
    """Bytes and files new or changed since `before`, and the store's
    size and directory count now."""
    after = store_snapshot(tmp_dir)
    written = [p for p, v in after.items() if before.get(p) != v]
    dirs = {os.path.dirname(p) for p in after}
    return {
        "store.bytes_written": float(sum(after[p][0] for p in written)),
        "store.files_written": float(len(written)),
        "store.index_bytes": float(sum(v[0] for v in after.values())),
        "store.segment_dirs": float(len(dirs)),
    }


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that still has at
    least ten samples beyond it. Below 21 samples that percentile would
    fall under the median, so the median stands in (percentile 50)."""
    s = sorted(samples)
    n = len(s)
    if n <= 20:
        return statistics.median(s), 50.0
    return s[n - 11], 100.0 * (n - 10) / n
