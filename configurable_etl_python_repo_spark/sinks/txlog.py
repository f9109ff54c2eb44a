"""Transactional gold-layer MERGE over plain parquet: a minimal
manifest-pointer commit protocol (the Delta/Iceberg idea with no library
dependency — neither ships in this environment).

The reference's gold sink is per-key `put_item` into a key-value store
(`Configurable_ETL_Python.py:559-578`): each row lands atomically, but a
multi-row refresh is not atomic as a SET. `sinks/upsert.merge_upsert`
gives the partition-scoped MERGE with dynamic partition overwrite, whose
commit window is non-atomic across partitions (pinned by
tests/test_upsert.py). This module closes that gap:

  gold/
    _txlog/v{N}.json   immutable snapshot manifests: partition -> data dir
    _txlog/LATEST      best-effort hint naming the current version
    data/{commit}/     each commit's parquet, partitioned by partition_col

  - Writers never mutate visible data: a merge writes NEW files under a
    fresh commit dir, then commits by creating the NEXT manifest through
    the shared commit chain (`sinks/logstore.publish`: an atomic
    create-if-absent, so exactly one of two racing writers wins). The
    manifest IS the commit: durable the instant it exists and never
    partially visible. A crash at any earlier point leaves only
    invisible orphan data files (vacuum_gold_tx removes them).
  - LATEST is a HINT, not the commit: readers probe forward from it,
    and a lost or garbled hint recovers by listing the log
    (`logstore.latest_version`) — no wedged table, no ambiguous debris.
  - Readers resolve the newest manifest once and read only the files
    that snapshot names — snapshot isolation: a concurrent merge never
    tears a read.
  - Writers are optimistic: `_publish` checks that the newest manifest
    still names the snapshot the merge was based on, and the atomic
    create arbitrates the remaining race — the loser raises
    ConcurrentWriteError (retry = re-run the merge; it re-reads the new
    snapshot).
  - Retention (`vacuum_gold_tx(keep_versions=N)`) prunes old manifests
    by overwriting them with a marker (`logstore.prune_manifests`), the
    same log the index stores keep: no version name is ever freed, so
    a stale writer cannot commit into a recycled slot and fork the
    table.

Scale notes: the manifest maps partitions to DIRECTORIES (one per commit
that last rewrote the partition), so its size is O(partitions), not
O(files); the merge reads and rewrites only touched partitions, exactly
like merge_upsert.

Storage is pluggable via sinks/logstore.LogStore: every function takes
`store=` (default LocalLogStore — os.link-if-absent, atomic on POSIX:
local, NFS, HDFS-via-fuse). For gold on an object store pass
`S3LogStore(bucket, prefix)` — the commit becomes a conditional put
(S3 `If-None-Match: *` / GCS `ifGenerationMatch=0`), which has identical
create-if-absent semantics; the LATEST hint stays best-effort either
way. Only manifest/hint blobs go through the store; data files are
written by Spark to `gold_path` (point both at the same bucket in
production).
"""

from __future__ import annotations

import json
import os
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import logstore
from .logstore import ConcurrentWriteError, LocalLogStore, LogStore


def _txdir(gold_path: str) -> str:
    return os.path.join(gold_path, "_txlog")


def _store(gold_path: str, store: LogStore | None) -> LogStore:
    return store if store is not None else LocalLogStore(_txdir(gold_path))


def _partitions(st: LogStore, version: int) -> "dict[str, str] | None":
    """{partition_value: data_dir} of manifest v{version}; None when that
    version was never committed or vacuum pruned it to a marker."""
    raw = st.read(logstore.manifest_name(version))
    if raw is None or raw == logstore.PRUNED_MARKER:
        return None
    return json.loads(raw)["partitions"]


def _read_latest(
    gold_path: str, store: LogStore | None = None
) -> tuple[int, dict[str, str]]:
    """(version, {partition_value: data_dir}) of the current snapshot;
    (0, {}) for a table that does not exist yet."""
    st = _store(gold_path, store)
    version = logstore.latest_version(st)
    if version == 0:
        return 0, {}
    partitions = _partitions(st, version)
    if partitions is None:
        # the newest manifest is never pruned, so this is a log
        # modified outside the protocol
        raise FileNotFoundError(
            f"current snapshot v{version} at {gold_path} is missing or "
            f"pruned — the commit log was modified outside the protocol"
        )
    return version, partitions


def _publish(gold_path: str, base_version: int,
             partitions: dict[str, str],
             store: LogStore | None = None) -> int:
    """Advance the snapshot from base_version to base_version+1. The
    stale-snapshot check catches conflicts early; the atomic manifest
    create (logstore.publish) arbitrates the remaining race — first
    writer wins, the loser raises ConcurrentWriteError."""
    st = _store(gold_path, store)
    current = logstore.latest_version(st)
    if current != base_version:
        raise ConcurrentWriteError(
            f"snapshot moved v{base_version} -> v{current} during merge"
        )
    return logstore.publish(st, base_version, {
        "version": base_version + 1, "partitions": partitions,
    })


def _read_partition_dirs(
    spark: SparkSession, dirs: dict[str, str], partition_col: str
) -> DataFrame | None:
    """Union the given {partition_value: dir} data as one DataFrame with
    the partition column restored. Dirs are grouped by commit so each
    group is ONE parquet read (file listing stays parallel)."""
    if not dirs:
        return None
    by_commit: dict[str, list[str]] = {}
    for value, d in dirs.items():
        by_commit.setdefault(os.path.dirname(d), []).append(d)
    parts = [
        spark.read.option("basePath", base).parquet(*sorted(ds))
        for base, ds in sorted(by_commit.items())
    ]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


def read_gold_tx(
    spark: SparkSession,
    gold_path: str,
    partition_col: str = "study_code",
    version: int | None = None,
    store: LogStore | None = None,
) -> DataFrame:
    """Snapshot of the transactional gold table. By default the current
    one (LATEST resolved once — concurrent merges cannot tear this read);
    pass `version` to time-travel to any still-un-vacuumed snapshot
    (manifests are immutable, so an old version reads exactly what it
    read the day it committed)."""
    st = _store(gold_path, store)
    if version is None:
        _, manifest = _read_latest(gold_path, st)
    else:
        manifest = _partitions(st, version)
        if manifest is None:
            raise FileNotFoundError(
                f"no snapshot v{version} at {gold_path} (never committed, "
                f"or expired by vacuum_gold_tx)"
            )
    df = _read_partition_dirs(spark, manifest, partition_col)
    if df is None:
        raise FileNotFoundError(f"no committed snapshot at {gold_path}")
    return df


def tx_merge_upsert(
    spark: SparkSession,
    gold_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str = "study_code",
    store: LogStore | None = None,
) -> int:
    """merge_upsert semantics (update rows win by key, unmatched keys
    append, untouched partitions never read or written) with an ATOMIC
    commit: readers see the whole merge or none of it. Returns the
    committed snapshot version."""
    if partition_col not in updates.columns:
        raise ValueError(f"updates must carry partition column {partition_col!r}")
    for k in key_cols:
        if k not in updates.columns:
            raise ValueError(f"updates missing key column {k!r}")

    st = _store(gold_path, store)
    base_version, manifest = _read_latest(gold_path, st)
    touched = sorted(
        str(r[0])
        for r in updates.select(partition_col).distinct().collect()
    )

    commit_id = uuid.uuid4().hex
    commit_dir = os.path.join(gold_path, "data", commit_id)

    old_touched = {p: manifest[p] for p in touched if p in manifest}
    existing = _read_partition_dirs(spark, old_touched, partition_col)
    if existing is not None:
        keep = existing.join(
            updates.select(*key_cols).distinct(), on=key_cols, how="left_anti"
        )
        merged = keep.unionByName(updates, allowMissingColumns=True)
    else:
        merged = updates
    # no lineage cycle here (new files, old files untouched), so no
    # checkpoint is needed — the write itself is the materialization
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(commit_dir)

    written = {
        p: os.path.join(commit_dir, f"{partition_col}={p}") for p in touched
    }
    new_manifest = {**manifest, **written}
    return _publish(gold_path, base_version, new_manifest, st)


def compact_gold_tx(
    spark: SparkSession, gold_path: str, partition_col: str = "study_code",
    store: LogStore | None = None,
) -> int:
    """Rewrite the current snapshot as ONE commit: after many merges the
    snapshot references one directory per partition-touching commit, and
    readers pay a union per referenced commit — compaction collapses that
    back to a single dir (and makes every older data dir vacuumable once
    pre-compaction manifests age out). Same optimistic commit as a merge:
    concurrent writers are detected, readers never see a partial state.
    Returns the committed version."""
    st = _store(gold_path, store)
    base_version, manifest = _read_latest(gold_path, st)
    current = _read_partition_dirs(spark, manifest, partition_col)
    if current is None:
        raise FileNotFoundError(f"no committed snapshot at {gold_path}")
    commit_dir = os.path.join(gold_path, "data", uuid.uuid4().hex)
    current.write.mode("overwrite").partitionBy(partition_col).parquet(commit_dir)
    new_manifest = {
        p: os.path.join(commit_dir, f"{partition_col}={p}") for p in manifest
    }
    return _publish(gold_path, base_version, new_manifest, st)


def vacuum_gold_tx(
    gold_path: str,
    keep_versions: int | None = None,
    retention_s: float = 24 * 3600.0,
    store: LogStore | None = None,
    lister: "DataLister | None" = None,
) -> list[str]:
    """Delete data dirs no retained manifest references. By default every
    manifest <= LATEST is retained, so only debris from crashed commits
    goes. keep_versions=N additionally expires manifests older than the
    newest N snapshots — their time-travel reads stop working and their
    exclusively-referenced data dirs are removed; N is the retention
    window readers pinned to old versions must finish within (the
    Delta/Iceberg VACUUM contract). Expired manifests are overwritten
    with the pruned marker, never deleted (logstore.prune_manifests), so
    their version names stay taken. Returns the removed data dirs.

    A dir that NO manifest (current or expired) has ever referenced is
    ambiguous: crash debris, or a concurrent merge's freshly written
    commit that has not published yet. Deleting the latter would commit a
    snapshot pointing at missing files — silent data loss. So, exactly
    like Delta's VACUUM, never-referenced dirs are only removed once
    older than `retention_s` (default 24h — longer than any sane merge's
    write phase); dirs referenced by an expired manifest are provably not
    in-flight and go regardless of age. Pass retention_s=0 only when no
    writer can be running.

    Data-file enumeration/removal goes through `lister` (a
    sinks.logstore.DataLister). The default LocalDataLister walks the
    local filesystem; for object-store gold pass
    `S3DataLister(bucket, client)` — on a non-local gold_path with no
    lister this raises rather than silently finding nothing to delete
    (expiring manifests there would permanently orphan their data dirs:
    the expired manifest is the only record of what they were)."""
    if lister is None:
        if not os.path.isdir(gold_path):
            raise NotImplementedError(
                f"{gold_path!r} is not a local directory; for object-store "
                f"gold pass lister=S3DataLister(bucket, client) so data "
                f"cleanup reaches the bucket before manifests expire"
            )
        lister = logstore.LocalDataLister()
    st = _store(gold_path, store)
    version, _ = _read_latest(gold_path, st)
    first_kept = 1
    expired_refs: set[str] = set()
    if keep_versions is not None:
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        first_kept = max(1, version - keep_versions + 1)
        # collect the expiring snapshots' data dirs BEFORE pruning:
        # their manifests are the only record of what those dirs were
        for v in logstore.listed_versions(st):
            if v < first_kept:
                for d in (_partitions(st, v) or {}).values():
                    expired_refs.add(os.path.dirname(d))
        logstore.prune_manifests(st, first_kept)
    live: set[str] = set()
    for v in range(first_kept, version + 1):
        for d in (_partitions(st, v) or {}).values():
            live.add(os.path.dirname(d))
    removed = []
    for full in lister.list_commit_dirs(gold_path):
        if full in live:
            continue
        if full not in expired_refs:  # never referenced → maybe in-flight
            age = lister.age_s(full)
            if age is None or age < retention_s:
                continue
        lister.remove(full)
        removed.append(full)
    return removed
