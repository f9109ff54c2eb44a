"""Shared plumbing for the persisted index stores (MinHash, SimHash,
embedding int8/PQ, BM25, ANN IVF, PQ): every storage decision the
families share lives here, and the family modules only build their rows
and name their relations. ONE definition on purpose — a load-bearing
guard duplicated per store could drift (one copy gaining a check the
others miss):

- the `_meta` read + layout guard every probe/search/extend/delete/
  compact runs first (committed_state: one read, checked against the SET
  of layouts the caller can read; callers dispatch on `meta.layout`);
- the sidecars: `_meta` (one row, written by commit_build) and the
  meta_id-STAMPED quantizer tables `_centroids` and `_codebooks` (one
  stamped writer, one torn-check reader);
- the segment directory `<rel>/seg=<id>` (segment_dir; read_segment
  reads a just-written one back) — no other module formats it;
- the SEGMENT-MANIFEST commit protocol that makes build/extend/compact
  ATOMIC.

Durability contract, stated once for every store. The commit chain
itself (version names, the LATEST resolver, the put_if_absent publish,
marker pruning) is the one in sinks/logstore.py that the gold txlog
also uses; this module adds the segment payloads on top:

  <path>/
    _segments/v{N}.json  immutable manifests: committed segment ids
                         (+ extend tags, + the _meta generation id)
    _segments/LATEST     best-effort pointer hint (probed forward;
                         a lost one recovers by listing the log)
    <rel>/seg=<id>/...   each relation's data, one directory per
                         committed segment, sub-partitioned by the
                         store's own key (kb/ab/cid/tb)

- A BUILD writes fresh segment directories for every relation, then its
  stamped sidecars, then `_meta` (stamped with a fresh `meta_id`), then
  commits by creating the next manifest with an ATOMIC create-if-absent
  — the manifest IS the commit (commit_build owns the last two steps).
  The manifest names ONLY the new segment, so a rebuild atomically
  replaces the whole index; old segments become invisible orphans
  (vacuum_index removes them).
- An EXTEND writes new segment directories, then commits a manifest
  appending the segment id. A job that dies mid-extend leaves only
  orphan directories NO reader ever lists into its DataFrame (probes
  filter to committed segments), and a RETRY writes a fresh segment
  and commits that one — a partial extend is invisible and cannot
  double-append. Optional `tag` (e.g. a streaming batch id) makes the
  retry IDEMPOTENT: a tag already present in the manifest means the
  extend committed, and the retry becomes a no-op.
- Readers resolve the newest manifest once and filter every relation
  scan to its segment list — snapshot isolation; a concurrent extend
  never tears a probe.
- The manifest carries the `meta_id` of the `_meta` it was built
  against; readers cross-check, so a crash between a rebuild's _meta
  overwrite and its manifest commit is DETECTED (torn rebuild) instead
  of probing new parameters against old segments.
- COMPACTION rewrites N committed segments as one (folding additive
  relations like BM25's df/stats) and commits a manifest that swaps
  them atomically; a concurrent extend's segment committed in between
  is preserved untouched.

Storage for manifests is pluggable via sinks/logstore.LogStore
(default LocalLogStore — os.link create-if-absent, atomic on POSIX;
S3LogStore's conditional put for object stores)."""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks import logstore
from ..sinks.logstore import ConcurrentWriteError, LocalLogStore, LogStore

#: bounded optimistic-retry budget for manifest commits: each loss to a
#: concurrent writer re-reads the new snapshot and re-publishes (the
#: segment data does not depend on the base version, so retrying the
#: COMMIT alone is safe); a store hot enough to lose 20 straight races
#: deserves the loud error
_MAX_COMMIT_RETRIES = 20


def _local_fs_path(path: str) -> "str | None":
    """The local-filesystem path behind `path`, or None when it names a
    remote filesystem (s3://, hdfs://, ...). file: URIs are local."""
    if path.startswith("file://"):
        return path[len("file://"):] or "/"
    if path.startswith("file:"):
        return path[len("file:"):]
    return None if "://" in path else path


def sidecar_rows(spark: SparkSession, path: str) -> list:
    """Rows of a tiny driver-written parquet sidecar (_meta, _centroids,
    _codebooks) as attribute records.

    Local paths read DIRECTLY with pyarrow on the driver — the
    Iceberg/Delta manifest discipline: constant-size metadata must not
    pay a distributed-scan job (measured ~0.1-0.2s of pure driver+
    scheduler latency per spark.read...collect(), 2-4 sidecar reads per
    index probe). Values are identical: the sidecars hold only
    int/bool/string/float/array<double> cells, which pyarrow and the
    Spark row path decode to the same Python values. Non-local paths
    (object stores) keep the Spark scan. Missing or unreadable-as-
    parquet trees raise AnalysisException exactly like the Spark
    reader, so every caller's error contract is unchanged; transient
    IO errors propagate as themselves (the r12 ADVICE discipline)."""
    from pyspark.errors import AnalysisException

    local = _local_fs_path(path)
    if local is None:
        return spark.read.parquet(path).collect()
    import pyarrow.lib
    import pyarrow.parquet as pq

    try:
        tbl = pq.read_table(local)
    except FileNotFoundError as exc:
        raise AnalysisException(
            f"[PATH_NOT_FOUND] Path does not exist: {path}"
        ) from exc
    except pyarrow.lib.ArrowInvalid as exc:
        raise AnalysisException(
            f"[CANNOT_READ_SIDECAR_AS_PARQUET] {path}: {exc}"
        ) from exc
    return [_SidecarRow(rec) for rec in tbl.to_pylist()]


class _SidecarRow:
    """Minimal attribute-access record over a pyarrow row dict (the
    subset of pyspark.sql.Row the sidecar readers use)."""

    __slots__ = ("_rec",)

    def __init__(self, rec: dict):
        self._rec = rec

    def __getattr__(self, name: str):
        try:
            return self._rec[name]
        except KeyError:
            raise AttributeError(name) from None

    def __repr__(self) -> str:  # debugging aid only
        return f"_SidecarRow({self._rec!r})"


def _write_sidecar(
    spark: SparkSession, path: str, name: str, rows: list, ddl: str
) -> None:
    """Overwrite the tiny one-file parquet sidecar `<path>/<name>`."""
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}")


# ---------------------------------------------------------------------------
# Segment manifest log
# ---------------------------------------------------------------------------


def new_segment_id() -> str:
    """Fresh segment id — 's'-prefixed so the seg= partition column
    always infers as STRING regardless of the hex draw."""
    return "s" + uuid.uuid4().hex


def new_meta_id() -> str:
    """Fresh _meta generation id, stamped into _meta AND the manifest
    so a torn rebuild (new _meta, old manifest) is detected."""
    return uuid.uuid4().hex


def _seg_store(path: str, store: LogStore | None = None) -> LogStore:
    return store if store is not None else LocalLogStore(
        os.path.join(path, "_segments")
    )


def read_manifest(
    path: str, store: LogStore | None = None,
    version: "int | None" = None,
) -> "tuple[int, dict]":
    """(version, manifest) of the newest committed snapshot — or of the
    EXPLICIT `version` (a snapshot read: raises if that manifest was
    never committed). (0, empty) for a store no build has ever
    committed. Manifest keys: segments (committed, in commit order),
    tags (extend idempotence markers), meta_id (the _meta generation),
    tombstones (the subset of segments that carry ONLY a _deletes
    relation — recorded here so readers know which segments have data
    dirs without probing any filesystem)."""
    st = _seg_store(path, store)
    if version is None:
        version = logstore.latest_version(st)
        if version == 0:
            return 0, {"segments": [], "tags": {}, "meta_id": None,
                       "tombstones": []}
        raw = st.read(logstore.manifest_name(version))
        if raw is None:
            # manifest NAMES are never deleted (pruning overwrites
            # content with a marker), so a vanished newest means the
            # log was modified outside the protocol
            raise ValueError(
                f"manifest v{version} of {path} vanished while being "
                f"read — the manifest log was modified outside the "
                f"protocol (foreign delete?); restore it or rebuild"
            )
    else:
        version = int(version)
        if version < 1:
            raise ValueError(
                f"snapshot versions start at 1 (got {version}); the "
                f"first committed build publishes v1"
            )
        raw = st.read(logstore.manifest_name(version))
        if raw is None:
            if version < logstore.latest_version(st):
                raise ValueError(
                    f"manifest v{version} of the index at {path} was "
                    f"pruned by vacuum's manifest retention "
                    f"(manifest_keep_last) — this snapshot is no "
                    f"longer readable"
                )
            raise ValueError(
                f"index at {path} has no committed manifest "
                f"v{version} — the version was never committed (or "
                f"the store lives at another path/LogStore)"
            )
    man = json.loads(raw)
    if man.get("pruned"):
        raise ValueError(
            f"manifest v{version} of the index at {path} was pruned "
            f"by vacuum's manifest retention (manifest_keep_last) — "
            f"this snapshot is no longer readable"
        )
    man.setdefault("tombstones", [])
    man.setdefault("rows", {})
    return version, man


def committed_tags(path: str, store: LogStore | None = None) -> "dict":
    """tag -> segment id of every committed tagged extend — the
    idempotence check a retrying batch job runs FIRST (a present tag
    means the whole extend committed; skip it)."""
    return dict(read_manifest(path, store)[1].get("tags") or {})


def committed_state(
    spark: SparkSession,
    path: str,
    layouts,
    kind: str = "index",
    store: LogStore | None = None,
    version: "int | None" = None,
):
    """The read-side entrypoint: (meta, committed DATA segment ids,
    tags, manifest), with the layout guard AND the torn-rebuild
    cross-check (manifest meta_id == _meta meta_id) applied. The
    second element EXCLUDES tombstone-only segments (they have no data
    dirs); pass the returned manifest to read_deletes for the
    tombstones of the SAME snapshot.

    `layouts` is the collection of layout stamps the caller can read
    (a family with two physical layouts passes both; delete/compact
    pass COMPACT_SPECS). `_meta` is read ONCE: a tree stamped with any
    other layout is refused (appending into or probing a different
    physical layout corrupts / misreads the store), and callers
    dispatch on the returned `meta.layout`.

    `version` pins an EXPLICIT snapshot (time travel): the probe runs
    against manifest vN exactly as it ran when vN was latest. Spans
    extends, deletes, and compactions WITHIN one build generation —
    never a rebuild (the _meta/_centroids sidecars are overwritten in
    place, so an older generation's parameters are gone) — and lasts
    until vacuum_index physically removes segments the CURRENT
    manifest no longer references (the Delta-style VACUUM bound; a
    vacuumed snapshot read fails loudly on the missing directory)."""
    rows = sidecar_rows(spark, path + "/_meta")
    if len(rows) != 1:
        raise ValueError(
            f"corrupt {kind} at {path}: _meta has {len(rows)} rows"
        )
    meta = rows[0]
    layout = getattr(meta, "layout", None)
    if layout not in layouts:
        raise ValueError(
            f"{kind} at {path} has layout {layout!r}; this code reads "
            f"{' or '.join(map(repr, sorted(layouts)))} — rebuild the "
            f"index (a mismatched layout would corrupt the store)"
        )
    version, man = read_manifest(path, store, version=version)
    if version == 0 or not man["segments"]:
        raise ValueError(
            f"{kind} at {path} has no committed segments — no build "
            f"ever completed (a crashed build leaves only invisible "
            f"orphans); re-run the build"
        )
    if getattr(meta, "meta_id", None) != man.get("meta_id"):
        raise ValueError(
            f"{kind} at {path} is torn: _meta generation "
            f"{getattr(meta, 'meta_id', None)!r} does not match the "
            f"committed manifest's v{version} {man.get('meta_id')!r} — "
            f"either a rebuild crashed between its _meta write and its "
            f"commit (re-run the build), or this is a snapshot read of "
            f"a version from an earlier build generation (time travel "
            f"does not span rebuilds: the _meta/_centroids sidecars "
            f"are overwritten in place)"
        )
    tomb = set(man.get("tombstones") or [])
    data_segs = [s for s in man["segments"] if s not in tomb]
    return meta, data_segs, dict(man.get("tags") or {}), man


def commit_build(
    spark: SparkSession,
    path: str,
    seg: str,
    meta_id: str,
    meta_row: tuple,
    meta_ddl: str,
    store: LogStore | None = None,
    row_count: "int | None" = None,
) -> int:
    """THE build commit, called once the build's segments and stamped
    sidecars are written: overwrite `_meta` with the family's one row
    (`meta_row` under `meta_ddl`, carrying `meta_id`), then publish a
    manifest naming ONLY the fresh segment — an atomic whole-index
    replace. The order (segments, stamped sidecars, `_meta`, manifest)
    is what makes a crashed REbuild DETECTABLY torn rather than
    silently mixed: every sidecar the manifest's meta_id disagrees with
    is refused by its reader. Tags reset: a rebuild is a
    new corpus generation, and idempotence markers from the old one
    must not suppress re-admission into it. Retries commit races (the
    loser of each race re-reads and re-publishes; its segment data is
    version-independent). `row_count` (optional) records the segment's
    primary-relation row count in the manifest's "rows" map — an O(1)
    statistic policies (the embedding drift warning) read instead of
    scanning the store; segments without an entry are simply absent
    from the map (readers fall back to counting them)."""
    _write_sidecar(spark, path, "_meta", [meta_row], meta_ddl)
    st = _seg_store(path, store)
    for _ in range(_MAX_COMMIT_RETRIES):
        version = logstore.latest_version(st)
        try:
            return logstore.publish(st, version, {
                "version": version + 1,
                "segments": [seg],
                "tags": {},
                "meta_id": meta_id,
                "tombstones": [],
                "rows": ({} if row_count is None
                         else {seg: int(row_count)}),
            })
        except ConcurrentWriteError:
            continue
    raise ConcurrentWriteError(
        f"build commit at {path} lost {_MAX_COMMIT_RETRIES} straight "
        f"races — aborting"
    )


def commit_extend(
    path: str,
    seg: str,
    meta_id: str,
    tag: "str | None" = None,
    store: LogStore | None = None,
    tombstone: bool = False,
    row_count: "int | None" = None,
) -> bool:
    """THE extend commit: append `seg` to the committed list. Returns
    False (and publishes nothing) if `tag` is already committed — the
    retry-idempotence contract: the caller's freshly written segment
    stays an invisible orphan instead of double-appending. Raises
    ConcurrentWriteError if the index was REBUILT underneath (meta_id
    changed): the segment was computed under dead parameters."""
    st = _seg_store(path, store)
    for _ in range(_MAX_COMMIT_RETRIES):
        version, man = read_manifest(path, st)
        if version == 0:
            raise ValueError(
                f"cannot extend {path}: no committed build"
            )
        if man.get("meta_id") != meta_id:
            raise ConcurrentWriteError(
                f"index at {path} was rebuilt during this extend "
                f"(meta generation changed) — re-run the extend "
                f"against the new tree"
            )
        tags = dict(man.get("tags") or {})
        if tag is not None:
            if tag in tags:
                return False
            tags[tag] = seg
        tombstones = list(man.get("tombstones") or [])
        if tombstone:
            tombstones = tombstones + [seg]
        rows = dict(man.get("rows") or {})
        if row_count is not None:
            rows[seg] = int(row_count)
        try:
            logstore.publish(st, version, {
                "version": version + 1,
                "segments": man["segments"] + [seg],
                "tags": tags,
                "meta_id": meta_id,
                "tombstones": tombstones,
                "rows": rows,
            })
            return True
        except ConcurrentWriteError:
            continue
    raise ConcurrentWriteError(
        f"extend commit at {path} lost {_MAX_COMMIT_RETRIES} straight "
        f"races — aborting"
    )


def commit_replace(
    path: str,
    new_seg: str,
    replaced: "list[str]",
    meta_id: str,
    store: LogStore | None = None,
) -> int:
    """THE compaction commit: swap `replaced` for `new_seg` atomically.
    Segments committed by a concurrent extend AFTER the compactor read
    its snapshot are preserved untouched (their data was not folded
    into new_seg); tags are carried forward — only tag MEMBERSHIP
    matters for idempotence, and the admitted batches' rows now live in
    the compacted segment.

    Raises ConcurrentWriteError if any `replaced` segment is no longer
    in the current manifest: the snapshot this compaction folded was
    already swapped out (a concurrent compaction won). Retrying the
    publish anyway would commit [new_seg, winner_seg] where BOTH
    contain the folded rows — every compacted row visible twice
    (duplicate candidate pairs, doubled BM25 df/n_docs), silently."""
    st = _seg_store(path, store)
    for _ in range(_MAX_COMMIT_RETRIES):
        version, man = read_manifest(path, st)
        if man.get("meta_id") != meta_id:
            raise ConcurrentWriteError(
                f"index at {path} was rebuilt during this compaction "
                f"— the compacted segment is stale; re-run"
            )
        missing = set(replaced) - set(man["segments"])
        if missing:
            raise ConcurrentWriteError(
                f"compaction at {path} folded segments "
                f"{sorted(missing)} that a concurrent compaction "
                f"already replaced — publishing would double their "
                f"rows; discard this compacted segment and re-run"
            )
        kept = [s for s in man["segments"] if s not in set(replaced)]
        tomb = set(man.get("tombstones") or [])
        kept_tombstones = [s for s in kept if s in tomb]
        # tombstone retention under concurrency: the compactor PURGED
        # the snapshotted tombstones' ids from its own data — but a
        # DATA segment committed after the snapshot (kept) may carry
        # rows for those very ids, which probes currently suppress.
        # Dropping the tombstone would resurrect them silently, so it
        # stays live whenever any concurrent data segment exists; the
        # NEXT compaction (whose snapshot covers that segment) retires
        # it. In the serial case (no concurrent commits) it drops with
        # the rows, as the id-identity contract documents.
        kept_data = [s for s in kept if s not in tomb]
        snapshot_tombstones = (
            [s for s in replaced if s in tomb] if kept_data else []
        )
        rows = dict(man.get("rows") or {})
        kept_rows = {s_: n for s_, n in rows.items() if s_ in set(kept)}
        # new_seg gets NO entry: compaction may have purged tombstoned
        # rows, so its count is unknown here — readers count it once
        # (one segment, exactly when listing is cheapest)
        try:
            return logstore.publish(st, version, {
                "version": version + 1,
                "segments": [new_seg] + kept + snapshot_tombstones,
                "tags": dict(man.get("tags") or {}),
                "meta_id": meta_id,
                "tombstones": kept_tombstones + snapshot_tombstones,
                "rows": kept_rows,
            })
        except ConcurrentWriteError:
            continue
    raise ConcurrentWriteError(
        f"compaction commit at {path} lost {_MAX_COMMIT_RETRIES} "
        f"straight races — aborting"
    )


# ---------------------------------------------------------------------------
# Stamped sidecars (_centroids, _codebooks)
# ---------------------------------------------------------------------------
#
# The quantizer tables are SIDECARS like _meta: rewritten in place by
# rebuilds, outside the segment protocol. A rebuild is therefore NOT
# fully atomic — a crash between the sidecar overwrites and commit_build
# leaves the previous index UNREADABLE (the torn-rebuild guard fires)
# rather than readable; what the protocol guarantees is that the tear is
# DETECTED, never silently probed. Stamping meta_id into every sidecar
# row extends that detection to the quantizers: a probe that resolved
# committed_state and then read a mid-rebuild-swapped table fails loudly
# instead of assigning the batch under new quantizers against old
# segments.


def _write_stamped(spark, path, name, rows, ddl, meta_id) -> None:
    _write_sidecar(
        spark, path, name, [(*r, meta_id) for r in rows],
        ddl + ", meta_id string",
    )


def _read_stamped(spark, path, name, meta_id, kind) -> list:
    """A stamped sidecar's rows, refused loudly if any row's generation
    differs from the committed manifest's meta_id (torn rebuild, or a
    rebuild completing underneath a running probe)."""
    rows = sidecar_rows(spark, f"{path}/{name}")
    bad = {getattr(r, "meta_id", None) for r in rows} - {meta_id}
    if bad:
        raise ValueError(
            f"{kind} at {path} is torn: {name} generation(s) "
            f"{sorted(map(repr, bad))} do not match the committed "
            f"manifest's {meta_id!r} — a rebuild crashed or completed "
            f"mid-read; re-run the build (or the probe)"
        )
    return rows


def write_centroids(
    spark: SparkSession,
    path: str,
    centroids: "list[tuple[int, list[float]]]",
    meta_id: str,
) -> None:
    """Persist the coarse quantizer, meta_id-stamped."""
    _write_stamped(
        spark, path, "_centroids",
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "cid long, cvec array<double>", meta_id,
    )


def read_centroids(
    spark: SparkSession,
    path: str,
    meta_id: str,
    kind: str = "index",
) -> "list[tuple[int, list[float]]]":
    """The ONLY way probes/extends read the coarse quantizer: sorted
    (cid, cvec) rows of the committed generation."""
    rows = _read_stamped(spark, path, "_centroids", meta_id, kind)
    return sorted((int(r.cid), list(r.cvec)) for r in rows)


def write_codebooks(spark: SparkSession, path: str, codebooks,
                    meta_id: str) -> None:
    """Persist the per-subspace PQ codebooks, meta_id-stamped."""
    _write_stamped(
        spark, path, "_codebooks",
        [(s, int(cid), [float(x) for x in cv])
         for s, book in enumerate(codebooks) for cid, cv in book],
        "s int, cid long, cv array<double>", meta_id,
    )


def read_codebooks(spark: SparkSession, path: str, meta_id: str,
                   kind: str = "pq index"):
    """The committed generation's codebooks: one sorted (cid, cv) list
    per subspace, in subspace order."""
    by_s: "dict[int, list]" = {}
    for r in _read_stamped(spark, path, "_codebooks", meta_id, kind):
        by_s.setdefault(int(r.s), []).append((int(r.cid), list(r.cv)))
    return [sorted(by_s[s]) for s in sorted(by_s)]


# ---------------------------------------------------------------------------
# Segment-aware relation I/O
# ---------------------------------------------------------------------------


def _rel_root(path: str, rel: str) -> str:
    return f"{path}/{rel}" if rel else path


def segment_dir(path: str, rel: str, seg: str) -> str:
    """THE segment directory name: `<path>/<rel>/seg=<id>` (rel "" =
    the store root)."""
    return f"{_rel_root(path, rel)}/seg={seg}"


def read_segment(
    spark: SparkSession, path: str, rel: str, seg: str
) -> DataFrame:
    """One relation of ONE just-written segment (the store's own
    partition column kept) — how a build/extend/compaction derives
    statistics from exactly the rows it stored."""
    return spark.read.parquet(segment_dir(path, rel, seg))


def write_segment(
    df: DataFrame,
    path: str,
    rel: str,
    seg: str,
    partition_col: "str | None",
) -> None:
    """Write one relation's rows into its seg=<id> directory,
    sub-partitioned by the store's key. Repartition on the partition
    column BEFORE partitionBy (the round-7 lesson: unaligned writers
    emit tasks x buckets sliver files); key-less relations (BM25
    _stats) coalesce to one file."""
    target = segment_dir(path, rel, seg)
    if partition_col is None:
        df.coalesce(1).write.mode("overwrite").parquet(target)
    else:
        df.repartition(partition_col).write.mode("overwrite").partitionBy(
            partition_col
        ).parquet(target)


def read_committed(
    spark: SparkSession, path: str, rel: str, segments: "list[str]"
) -> DataFrame:
    """One relation restricted to the committed segments — the ONLY way
    any probe/search reads store data. The committed seg=<id> dirs are
    passed to the reader EXPLICITLY (with basePath, so the store's own
    kb/cid/tb partition level keeps pruning): orphan directories from
    crashed writers are never even LISTED, so they can neither leak
    rows nor poison parquet schema inference — a crashed opposite-mode
    rebuild's orphans may carry a different schema (vec vs scale+qvec),
    and a root-scan-then-filter read could sample an orphan's footer
    first."""
    # the caller passes DATA segments only (committed_state excludes
    # manifest-flagged tombstone-only segments), so every listed dir
    # must exist: a missing one is corruption (bad vacuum, foreign
    # delete) and Spark fails LOUDLY on it — no silent row loss, and
    # no local-filesystem probing that an object-store path would
    # defeat
    from ..sources.files import read_parquet

    return read_parquet(
        spark, *[segment_dir(path, rel, s) for s in segments],
        options={"basePath": _rel_root(path, rel)},
    ).drop("seg")


# ---------------------------------------------------------------------------
# Tombstone deletes (right-to-be-forgotten without a rebuild)
# ---------------------------------------------------------------------------
#
# Lucene's delete model, applied to the index families: a delete writes
# a tombstone segment (`_deletes/seg=<id>`, just ids) committed through
# the SAME manifest protocol — atomic, taggable, invisible if crashed.
# Probes/searches anti-join their indexed-side ids against the
# committed tombstones, so deleted docs vanish from RESULTS
# immediately; corpus-level statistics (BM25 df / n_docs / avgdl)
# continue to include them until a COMPACTION physically purges the
# rows and drops the tombstones — exactly Lucene's
# deleted-docs-count-until-merge semantics, and the honest contract at
# 100 TB (recomputing global stats on every delete would rescan the
# corpus). Contract notes:
# - an id is an identity: deleting it suppresses EVERY row with that
#   id, including rows appended by LATER extends, until a compaction
#   purges both the rows and the tombstone. Re-using a deleted id
#   before that compaction keeps it suppressed — re-ingest under a
#   fresh id (or compact first).
# - a REBUILD starts a new corpus generation: the fresh manifest names
#   only the new segment, so old tombstones (like old data) vanish.


def delete_from_index(
    ids: DataFrame,
    path: str,
    id_col: str = "id",
    tag: "str | None" = None,
    store: LogStore | None = None,
) -> bool:
    """Tombstone the given ids in ANY segment-manifest index store
    (family-agnostic: the tombstone relation only holds ids). ATOMIC
    via the extend commit; `tag` gives retry idempotence (returns
    False if already committed). Deleted ids disappear from
    probe/search results at the next read; run compact_index to
    physically purge the rows (and reclaim the stats, for BM25).
    Returns False without committing anything when the ids relation is
    EMPTY (a takedown filter that matched nothing must not tax every
    future probe with a pointless tombstone scan) or when the tag is
    already committed."""
    _ensure_specs()
    meta, _, tags, _ = committed_state(
        ids.sparkSession, path, COMPACT_SPECS, store=store
    )
    if tag is not None and tag in tags:
        return False
    tombstones = ids.select(F.col(id_col).alias("id")).distinct()
    if tombstones.isEmpty():
        return False
    seg = new_segment_id()
    write_segment(tombstones, path, "_deletes", seg, None)
    return commit_extend(
        path, seg, meta.meta_id, tag=tag, store=store, tombstone=True
    )


def read_deletes(
    spark: SparkSession, path: str, manifest: dict
) -> "DataFrame | None":
    """The committed tombstone ids of the given manifest SNAPSHOT (the
    one the caller's data reads resolved — pass committed_state's
    manifest, never re-read), or None when it flags no tombstone
    segments — the common no-deletes case costs probes NOTHING (no
    extra plan node, no listing, no filesystem probing)."""
    tomb = list(manifest.get("tombstones") or [])
    if not tomb:
        return None
    return read_committed(spark, path, "_deletes", tomb).select(
        "id"
    ).distinct()


def apply_deletes(
    result: DataFrame, deletes: "DataFrame | None", id_col: str
) -> DataFrame:
    """Anti-join a probe/search result's indexed-side id column against
    the tombstones (no-op when deletes is None). ONE definition so
    every store's read path drops deleted ids the same way."""
    if deletes is None:
        return result
    return result.join(
        deletes.withColumnsRenamed({"id": id_col}), [id_col],
        "left_anti",
    )


# ---------------------------------------------------------------------------
# Compaction + vacuum (segment retention)
# ---------------------------------------------------------------------------

#: layout -> {"rels": [(relation subdir, partition col or None,
#: id col | resolver | None)], "derived": [(relation, partition col)],
#: "finalize": callable | None}. Populated by each store module at
#: import. "rels" are PRIMARY relations rewritten verbatim minus any
#: tombstoned rows (id col names the column the tombstones match; a
#: callable resolves it from the DataFrame for stores whose id column
#: is caller-named). "derived" relations are RECOMPUTED from the
#: filtered primaries by "finalize" (filtered: dict rel->df -> dict
#: rel->df) — BM25's df/_stats, which stop being a simple per-segment
#: sum once deleted rows are purged.
COMPACT_SPECS: "dict[str, dict]" = {}


def _ensure_specs() -> None:
    # importing the store modules runs their COMPACT_SPECS registration
    from . import dedup_index, search, similarity  # noqa: F401


def compact_index(
    spark: SparkSession, path: str, store: LogStore | None = None
) -> int:
    """Rewrite every committed segment of an index as ONE segment,
    recomputing derived relations (BM25's df/_stats), PHYSICALLY
    PURGING tombstoned rows (and the tombstones themselves — after
    compaction the deleted docs are gone from stats too, the Lucene
    merge semantics), and commit the swap atomically — readers never
    see a half-compacted tree, and a concurrent extend's freshly
    committed segment survives untouched. After a year of daily
    extends this is what collapses 365 segments of read amplification
    back to one. Returns the committed version (or the current one if
    <= 1 segment and no tombstones — nothing to do). Old segment dirs
    become invisible orphans: vacuum_index reclaims the space."""
    _ensure_specs()
    meta, data_segs, _, man = committed_state(
        spark, path, COMPACT_SPECS, store=store
    )
    spec = COMPACT_SPECS[meta.layout]
    segs = list(man["segments"])
    deletes = read_deletes(spark, path, man)
    if len(segs) <= 1 and deletes is None:
        return int(man["version"])
    new_seg = new_segment_id()
    filtered: "dict[str, DataFrame]" = {}
    persisted: "list[DataFrame]" = []
    try:
        for rel, pcol, idc in spec["rels"]:
            df = read_committed(spark, path, rel, data_segs)
            if deletes is not None and idc is not None:
                id_col = (
                    idc(df, meta) if callable(idc) else idc
                )
                # persist: the filtered scan feeds the emptiness
                # guard AND the write — never pay the corpus-sized
                # anti-join twice
                df = apply_deletes(df, deletes, id_col).persist()
                persisted.append(df)
            filtered[rel] = df
        if deletes is not None:
            empty = [
                rel for rel, _, _ in spec["rels"]
                if filtered[rel].isEmpty()
            ]
            if empty:
                raise ValueError(
                    f"compaction of {path} would leave relation(s) "
                    f"{empty} empty (every row tombstoned) — the "
                    f"store would be unreadable; drop or rebuild the "
                    f"index instead"
                )
        for rel, pcol, _ in spec["rels"]:
            write_segment(filtered[rel], path, rel, new_seg, pcol)
    finally:
        for df in persisted:
            df.unpersist()
    finalize = spec.get("finalize")
    if finalize is not None:
        # derive from the freshly WRITTEN primaries (the build/extend
        # pattern): counts exactly what was stored, and the expensive
        # filtered scans run zero additional times
        written = {
            rel: read_segment(spark, path, rel, new_seg)
            for rel, _, _ in spec["rels"]
        }
        for rel, df in finalize(written).items():
            pcol = dict(spec.get("derived") or []).get(rel)
            write_segment(df, path, rel, new_seg, pcol)
    return commit_replace(path, new_seg, segs, meta.meta_id, store=store)


def vacuum_index(
    path: str,
    retention_s: float = 24 * 3600.0,
    store: LogStore | None = None,
    manifest_keep_last: "int | None" = None,
) -> "list[str]":
    """Delete segment directories the CURRENT manifest does not
    reference: crashed builds/extends' orphans and compacted-away
    segments. Like txlog's vacuum, a dir is only removed once older
    than `retention_s` (default 24h) — a younger unreferenced dir may
    be a concurrent writer's not-yet-committed segment, and deleting it
    would commit a manifest pointing at missing files. Pass
    retention_s=0 only when no writer can be running AND no lazy
    DataFrame still referencing pre-compaction segments remains
    unmaterialized (a compiled-but-not-yet-executed probe plan lists
    concrete seg= dirs). Older manifests' snapshots (`as_of_version`
    probes) stop being readable once their compacted-away segments go
    — vacuum is the time-travel horizon, exactly Delta's VACUUM bound;
    a vacuumed snapshot read fails loudly on the missing directory.
    Returns the removed dirs.

    Refuses (NotImplementedError, before reading or pruning anything)
    a path outside the local filesystem: the segment walk lists local
    directories, so on an object store it would find no orphan while
    `manifest_keep_last` still pruned the log — a vacuum that reports
    success and reclaims nothing (txlog.vacuum_gold_tx refuses the same
    way).

    Refuses a store with NO committed manifest: an empty `live` set
    there almost certainly means the manifests are elsewhere (wrong
    path, or a non-default LogStore not passed via `store`), and
    proceeding would classify every committed segment as an orphan and
    mass-delete the index.

    `manifest_keep_last` (count retention, default None = keep every
    manifest in full) additionally prunes the manifest LOG: only the
    newest N manifests keep their payload; older ones are OVERWRITTEN
    with a ~20-byte pruned marker — the name survives forever so a
    stale writer can never win put_if_absent on a recycled version
    slot and fork the log, while the actual growth term (segments/tags
    lists that scale with the store) is reclaimed. The current
    manifest never qualifies (N >= 1 enforced); pruned versions stop
    being `as_of_version`-readable and fail with an explicit 'pruned'
    message (never 'never committed'). Marker writes are idempotent —
    concurrent or crashed-and-retried vacuums are safe — and readers
    recover a lost LATEST hint by LISTING the log, never by probing
    from v1. Returns removed segment dirs (paths) plus pruned
    manifests (bare names — they live in the LogStore, which need not
    be a local path)."""
    import shutil
    import time

    local = _local_fs_path(path)
    if local is None:
        raise NotImplementedError(
            f"vacuum_index walks local segment directories; {path!r} is "
            f"not a local path, so it would remove no segment while "
            f"still pruning the manifest log — vacuum it with the "
            f"object store's own lifecycle tooling"
        )
    _ensure_specs()
    # layout from _meta read as plain json-less parquet is overkill
    # driver-side; glob every rel the specs know plus the root
    version, man = read_manifest(path, store)
    if version == 0:
        raise ValueError(
            f"refusing to vacuum {path}: no committed manifest found "
            f"— wrong path or wrong LogStore would make EVERY segment "
            f"look like an orphan and delete the whole index"
        )
    live = set(man["segments"])
    removed: "list[str]" = []
    rel_roots = {local, _rel_root(local, "_deletes")}
    for spec in COMPACT_SPECS.values():
        for rel, _, _ in spec["rels"]:
            rel_roots.add(_rel_root(local, rel))
        for rel, _ in spec.get("derived") or []:
            rel_roots.add(_rel_root(local, rel))
    now = time.time()
    for root in sorted(rel_roots):
        if not os.path.isdir(root):
            continue
        for name in os.listdir(root):
            if not name.startswith("seg="):
                continue
            seg = name.split("=", 1)[1]
            full = os.path.join(root, name)
            if seg in live:
                continue
            if now - os.stat(full).st_mtime < retention_s:
                continue
            shutil.rmtree(full)
            removed.append(full)
    if manifest_keep_last is not None:
        if int(manifest_keep_last) < 1:
            raise ValueError(
                f"manifest_keep_last must be >= 1 (the current "
                f"manifest is never pruned); got {manifest_keep_last}"
            )
        st = _seg_store(path, store)
        # prune by marker overwrite, never by delete: the names stay
        # taken, so a stale writer cannot fork the log
        # (logstore.prune_manifests)
        removed += logstore.prune_manifests(
            st, version - int(manifest_keep_last) + 1
        )
        # legacy cleanup: the short-lived FIRST floor hint (superseded
        # by list-based recovery) must not misstate the pruning floor
        # to older readers
        st.delete("FIRST")
    return removed


def maintain_index(
    spark: SparkSession,
    path: str,
    max_segments: "int | None" = 16,
    max_tombstone_share: "float | None" = 0.2,
    retention_s: float = 24 * 3600.0,
    manifest_keep_last: "int | None" = None,
    store: LogStore | None = None,
) -> "dict":
    """The automatic maintenance POLICY: one idempotent call a
    scheduler or a long-running admission stream invokes after each
    extend, replacing the operator who must remember to issue COMPACT
    INDEX. Decides from the COMMITTED MANIFEST ALONE — an O(1)
    driver-side read, no data scan, cheap enough to run every epoch —
    and compacts when either trigger fires:

    - ``len(committed segments) >= max_segments``: segment sprawl is
      read amplification — 50 daily segments measured 2.34x on BM25
      search / 1.56x on MinHash probe, and ONE compaction recovers
      ~1.0x (BENCH_sf1_r10.json); 16 keeps the penalty well under
      that while amortizing compaction cost over many extends.
    - tombstone-SEGMENT share of the manifest >= max_tombstone_share:
      each tombstone segment is one more `_deletes` dir every probe
      unions and anti-joins (measured ~1.00x at 20 segments — the
      cost is real but gentle, so the default bound is loose).
      Segment share, not id share, deliberately: id share would scan
      the store's primary relation on every epoch — exactly the tax a
      hot admission loop must not pay — while the manifest's
      tombstone list is already in hand (read_manifest).

    After a compaction, vacuums with ``retention_s`` (default 24h —
    the just-orphaned pre-compaction segments survive until no
    concurrent writer or unmaterialized reader plan can reference
    them) and prunes the manifest log if ``manifest_keep_last`` is
    given. No trigger -> no-op (returns the receipt, touches
    nothing), so calling it every epoch converges instead of
    thrashing. Pass ``max_segments=None`` / ``max_tombstone_share=
    None`` to disable a trigger.

    Concurrency: inherits compact_index's protocol — a concurrent
    extend's fresh segment survives the swap untouched; losing a race
    to a concurrent COMPACTION raises ConcurrentWriteError (the folded
    rows would otherwise be doubled) — callers on a schedule just
    skip the tick and let the next one re-read the manifest.

    Returns ``{"compacted": bool, "version": int,
    "vacuumed_dirs": int, "segments": int, "tombstones": int}``
    (segment counts are POST-maintenance)."""
    version, man = read_manifest(path, store)
    if version == 0:
        raise ValueError(
            f"refusing to maintain {path}: no committed manifest — "
            f"no build ever completed (wrong path or wrong LogStore?)"
        )
    segs = list(man["segments"])
    tomb = set(man.get("tombstones") or [])
    n_data = len(segs) - len(tomb)
    fire = (
        max_segments is not None and n_data >= int(max_segments)
    ) or (
        max_tombstone_share is not None and segs
        and len(tomb) / len(segs) >= float(max_tombstone_share)
        and tomb
    )
    vacuumed = 0
    if fire:
        if _local_fs_path(path) is None:
            # refuse BEFORE compacting: vacuum_index would refuse after
            raise NotImplementedError(
                f"maintain_index compacts and then vacuums; {path!r} "
                f"is not a local path, which vacuum_index refuses"
            )
        version = compact_index(spark, path, store=store)
        vacuumed = len(vacuum_index(
            path, retention_s=retention_s, store=store,
            manifest_keep_last=manifest_keep_last,
        ))
        _, man = read_manifest(path, store)
        segs = list(man["segments"])
        tomb = set(man.get("tombstones") or [])
    return {
        "compacted": bool(fire),
        "version": int(version),
        "vacuumed_dirs": int(vacuumed),
        "segments": len(segs),
        "tombstones": len(tomb),
    }
