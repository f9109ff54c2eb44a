"""Pluggable commit-log storage and the ONE manifest-log protocol built on
it, shared by the transactional gold layer (sinks/txlog.py) and the
persisted index stores (llm/_store.py).

The protocol needs exactly one strong primitive:
`put_if_absent(name, data)` — publish a complete blob at a name iff
nothing exists there, atomically. Everything else (reads, the LATEST
hint) is best-effort. This is Delta Lake's public LogStore contract; the
two implementations here are its two canonical realizations:

- `LocalLogStore` — POSIX: write a temp file, fsync, `os.link` into
  place (link refuses an existing target, so exactly one of two racing
  writers wins and readers can never observe partial bytes).
- `S3LogStore` — object stores: a conditional put. S3's public
  conditional-write API (`PutObject` with `If-None-Match: *`, GA since
  2024) and GCS's `ifGenerationMatch=0` have identical create-if-absent
  semantics. The boto3-style client is injected (or import-tried), so
  the protocol is testable against a stub and runs unchanged against a
  real bucket.

Keys are names relative to the log's directory (`_txlog/` for gold,
`_segments/` for an index) — "v00000001.json", "LATEST" — the store
decides where those bytes live.

The commit chain (`manifest_name`, `latest_version`, `publish`,
`prune_manifests`): version N's manifest is created at v{N:08d}.json
with put_if_absent — the create IS the commit, so two writers based on
the same snapshot cannot both win. LATEST is a hint written after the
commit; readers probe forward from it, and a lost, garbled or dangling
hint falls back to LISTING the log. Retention never deletes a NAME: it
overwrites old manifests with a small `{"pruned": true}` marker, so no
version slot is ever winnable twice and a stale writer can never fork
the log.
"""

from __future__ import annotations

import json
import os
import uuid


class LogStore:
    """Interface. `put_if_absent` must be atomic create-if-absent and is
    the ONLY primitive the commit protocol's correctness rests on."""

    def put_if_absent(self, name: str, data: bytes) -> bool:
        """Publish `data` at `name` iff absent; True if this call won.

        CONTRACT: callers must make each writer's payload byte-unique
        (txlog manifests embed a fresh uuid commit dir). Object-store
        implementations distinguish "my own first attempt committed but
        the 200 was lost, and the SDK retried" from "another writer won"
        by reading the object back and comparing bytes — two writers
        publishing IDENTICAL bytes would BOTH report a win. Deterministic
        payloads void that detection; do not publish them."""
        raise NotImplementedError

    def read(self, name: str) -> bytes | None:
        raise NotImplementedError

    def exists(self, name: str) -> bool:
        return self.read(name) is not None

    def write(self, name: str, data: bytes) -> None:
        """Unconditional overwrite — hint files only, never the commit."""
        raise NotImplementedError

    def delete(self, name: str) -> None:
        raise NotImplementedError

    def list_names(self) -> "list[str]":
        """Every name in the store (unordered). The RECOVERY primitive,
        not a hot-path one: readers resolve the newest manifest from
        the LATEST hint + a forward probe; only a lost/garbled hint
        falls back to listing (the Delta-style checkpoint-then-list
        design). Must reflect committed state — a name returned by a
        completed put_if_absent/write appears, a deleted one does
        not."""
        raise NotImplementedError


class LocalLogStore(LogStore):
    """Hard-link create-if-absent on a POSIX filesystem (local, NFS,
    HDFS-via-fuse)."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def put_if_absent(self, name: str, data: bytes) -> bool:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._path(f".tmp.{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._path(name))
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
        # fsync the DIRECTORY too: the link's dir entry is only in the
        # page cache until the inode flushes — without this, power loss
        # after we acknowledge the commit could roll the snapshot back
        dfd = os.open(self.root, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        return True

    def read(self, name: str) -> bytes | None:
        try:
            with open(self._path(name), "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def exists(self, name: str) -> bool:
        return os.path.exists(self._path(name))

    def write(self, name: str, data: bytes) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._path(f".tmp.{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, self._path(name))

    def delete(self, name: str) -> None:
        try:
            os.remove(self._path(name))
        except FileNotFoundError:
            pass

    def list_names(self) -> "list[str]":
        try:
            names = os.listdir(self.root)
        except FileNotFoundError:
            return []
        # in-flight put_if_absent temp files are not committed names
        return [n for n in names if not n.startswith(".tmp.")]


class S3LogStore(LogStore):
    """Conditional-put commits on an S3-compatible object store.

    `client` is a boto3-style S3 client (anything exposing
    put_object/get_object/head_object/delete_object with the standard
    kwargs); pass your own for testing or alternative SDKs, or omit it
    to import boto3. A losing conditional put surfaces as HTTP 412
    PreconditionFailed (or 409 ConditionalRequestConflict under
    concurrent in-flight puts), which maps to put_if_absent -> False —
    exactly the os.link FileExistsError of the local store.
    """

    #: error codes that mean "someone else already created it"
    _LOST_RACE = {"PreconditionFailed", "ConditionalRequestConflict", "412"}

    def __init__(self, bucket: str, prefix: str, client=None):
        if client is None:  # pragma: no cover - no cloud in CI
            import boto3

            client = boto3.client("s3")
        self._c = client
        self.bucket = bucket
        self.prefix = prefix.rstrip("/")

    def _key(self, name: str) -> str:
        return f"{self.prefix}/{name}"

    @classmethod
    def _error_code(cls, exc) -> str:
        err = getattr(exc, "response", None) or {}
        return str(err.get("Error", {}).get("Code", ""))

    def put_if_absent(self, name: str, data: bytes) -> bool:
        try:
            self._c.put_object(
                Bucket=self.bucket, Key=self._key(name), Body=data,
                IfNoneMatch="*",
            )
            return True
        except Exception as e:
            if self._error_code(e) not in self._LOST_RACE:
                raise
            # Self-win detection: if the FIRST attempt's 200 was lost to a
            # network failure, the SDK's automatic retry resends the same
            # conditional put and gets 412 against our OWN object. Read it
            # back — identical bytes mean this writer committed; reporting
            # a lost race would make the caller re-merge and publish a
            # duplicate next version.
            return self.read(name) == data

    def read(self, name: str) -> bytes | None:
        try:
            obj = self._c.get_object(Bucket=self.bucket, Key=self._key(name))
            return obj["Body"].read()
        except Exception as e:
            if self._error_code(e) in {"NoSuchKey", "404"}:
                return None
            raise

    def exists(self, name: str) -> bool:
        try:
            self._c.head_object(Bucket=self.bucket, Key=self._key(name))
            return True
        except Exception as e:
            if self._error_code(e) in {"NoSuchKey", "NotFound", "404"}:
                return False
            raise

    def write(self, name: str, data: bytes) -> None:
        self._c.put_object(Bucket=self.bucket, Key=self._key(name), Body=data)

    def delete(self, name: str) -> None:
        self._c.delete_object(Bucket=self.bucket, Key=self._key(name))

    def list_names(self) -> "list[str]":
        prefix = self.prefix + "/"
        names: "list[str]" = []
        token = None
        while True:
            kwargs = dict(Bucket=self.bucket, Prefix=prefix)
            if token:
                kwargs["ContinuationToken"] = token
            page = self._c.list_objects_v2(**kwargs)
            for obj in page.get("Contents") or []:
                key = obj["Key"]
                if key.startswith(prefix):
                    names.append(key[len(prefix):])
            token = page.get("NextContinuationToken")
            if not token:
                return names


# ---------------------------------------------------------------------------
# The manifest log: one commit chain for gold and the index stores
# ---------------------------------------------------------------------------


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's snapshot read and
    its publish; re-run against the new snapshot."""


#: what retention leaves at a pruned version's name (the payload goes,
#: the name stays)
PRUNED_MARKER = json.dumps({"pruned": True}).encode()


def manifest_name(version: int) -> str:
    return f"v{version:08d}.json"


def listed_versions(st: LogStore) -> "list[int]":
    """Every committed manifest version the store can LIST — the
    recovery primitive (rare path), not the hot path."""
    out: "list[int]" = []
    for n in st.list_names():
        if n.startswith("v") and n.endswith(".json"):
            try:
                out.append(int(n[1:-5]))
            except ValueError:
                continue
    return out


def latest_version(st: LogStore) -> int:
    """True current version: the LATEST hint probed FORWARD (a crash
    between manifest-create and hint-update leaves the hint behind by a
    bounded number of commits — O(drift) exists() calls, the hot path).
    A torn, dangling, or garbled hint falls back to LISTING the
    manifest log and taking the max — the Delta checkpoint-then-list
    design — then repairs the hint so the next read is O(1) again.
    Manifest retention never deletes a version's NAME (pruning
    overwrites the content with a tiny marker), so the forward probe
    climbs straight through pruned versions, a returned version > 0
    always has an existing manifest, and a stale writer can never win
    put_if_absent on a recycled low slot (no slot is ever recycled —
    the fork-proofing the commit protocol rests on). Logs whose low
    names an older retention DELETED resolve through the listing."""
    hint = st.read("LATEST")
    try:
        start = int(hint.decode().strip()) if hint is not None else 0
    except ValueError:
        start = 0
    if start < 0:
        start = 0
    version = start
    while st.exists(manifest_name(version + 1)):
        version += 1
    fell_back = version == 0 or not st.exists(manifest_name(version))
    if fell_back:
        version = max(listed_versions(st), default=0)
    if version > 0 and (start == 0 or fell_back):
        try:
            # best-effort hint repair, mirroring publish: a LOST or
            # garbled hint otherwise makes every read re-walk the
            # whole chain (climb from v0 through years of marker
            # names) or re-LIST the log until the next commit happens
            # to rewrite it. Best-effort for real (pure readers may
            # lack write permission)
            st.write("LATEST", str(version).encode())
        except Exception:
            pass
    return version


def publish(st: LogStore, base: int, payload: dict) -> int:
    """THE commit: create manifest v{base+1} iff no manifest with that
    version exists (put_if_absent), then refresh the LATEST hint. The
    loser of a race raises ConcurrentWriteError. If the hint write
    raises, the version is still committed: readers probe forward to
    it. Returns the committed version."""
    data = json.dumps(payload).encode()
    if not st.put_if_absent(manifest_name(base + 1), data):
        raise ConcurrentWriteError(
            f"concurrent writer already published v{base + 1}"
        )
    st.write("LATEST", str(base + 1).encode())
    return base + 1


def prune_manifests(st: LogStore, cutoff: int) -> "list[str]":
    """Retention: OVERWRITE every manifest below version `cutoff` with
    PRUNED_MARKER, never delete the name. A deleted name's
    put_if_absent slot becomes winnable again, and a writer whose
    resolved snapshot went stale across the pruned range could fork the
    log by committing into it (a silently lost commit). Occupied-forever
    names keep version-uniqueness absolute; what retention bounds is
    the manifest PAYLOAD, the actual metadata-growth term. Marker writes
    are idempotent, so concurrent or crashed-and-retried prunes are
    safe. Returns the names newly pruned (bare names — they live in the
    LogStore, which need not be a local path)."""
    pruned: "list[str]" = []
    for v in sorted(x for x in listed_versions(st) if x < cutoff):
        raw = st.read(manifest_name(v))
        if raw is None or raw == PRUNED_MARKER:
            continue
        st.write(manifest_name(v), PRUNED_MARKER)
        pruned.append(manifest_name(v))
    return pruned


# ---------------------------------------------------------------------------
# Data-file listing — the vacuum seam
# ---------------------------------------------------------------------------


class DataLister:
    """Seam for the ONE txlog operation that touches data files rather
    than the commit log: vacuum's enumerate/age/remove of commit dirs
    under `{gold_path}/data/`. Manifests name directories as plain
    strings; a lister must return and accept EXACTLY those strings
    (`{gold_path}/data/{commit_id}`), whatever storage they denote, so
    vacuum's set arithmetic against manifest contents stays stringly
    exact."""

    def list_commit_dirs(self, gold_path: str) -> "list[str]":
        """Every commit dir currently under `{gold_path}/data/`."""
        raise NotImplementedError

    def age_s(self, commit_dir: str) -> "float | None":
        """Seconds since the dir's newest write, or None if unknowable —
        vacuum treats None as 'may be in-flight' and protects the dir."""
        raise NotImplementedError

    def remove(self, commit_dir: str) -> None:
        """Delete the commit dir and everything under it."""
        raise NotImplementedError


class LocalDataLister(DataLister):
    """POSIX data dirs (the default when gold_path is a local path)."""

    def list_commit_dirs(self, gold_path: str) -> "list[str]":
        data_root = os.path.join(gold_path, "data")
        if not os.path.isdir(data_root):
            return []
        return sorted(
            os.path.join(data_root, e) for e in os.listdir(data_root)
        )

    def age_s(self, commit_dir: str) -> "float | None":
        import time

        try:
            return time.time() - os.path.getmtime(commit_dir)
        except OSError:
            return None

    def remove(self, commit_dir: str) -> None:
        import shutil

        shutil.rmtree(commit_dir)


class S3DataLister(DataLister):
    """Commit dirs as S3 key prefixes. Accepts gold paths in URI form
    (`s3://bucket/tables/study`, `s3a://...`) or bucket-relative
    (`tables/study`); returned dir strings always reuse the caller's
    gold_path spelling verbatim so they compare equal to manifest
    entries. The client is boto3-style (list_objects_v2 with
    Delimiter/ContinuationToken, delete_object), injectable for tests."""

    def __init__(self, bucket: str, client=None):
        if client is None:  # pragma: no cover - no cloud in CI
            import boto3

            client = boto3.client("s3")
        self._c = client
        self.bucket = bucket

    def _key_of(self, path: str) -> str:
        import re

        m = re.match(r"^[a-z0-9]+://([^/]+)/?(.*)$", path)
        if m:
            if m.group(1) != self.bucket:
                raise ValueError(
                    f"path {path!r} names bucket {m.group(1)!r}, lister is "
                    f"bound to {self.bucket!r}"
                )
            return m.group(2)
        return path.lstrip("/")

    def _list(self, prefix: str, delimiter: str = ""):
        token = None
        while True:
            kw = dict(Bucket=self.bucket, Prefix=prefix)
            if delimiter:
                kw["Delimiter"] = delimiter
            if token:
                kw["ContinuationToken"] = token
            page = self._c.list_objects_v2(**kw)
            yield page
            token = page.get("NextContinuationToken")
            if not token:
                return

    def list_commit_dirs(self, gold_path: str) -> "list[str]":
        base = gold_path.rstrip("/")
        key = self._key_of(base)
        # bucket-root gold ('s3a://bucket') parses to the empty key;
        # the prefix must be 'data/', not '/data/' (matches nothing)
        prefix = f"{key}/data/" if key else "data/"
        commits = set()
        for page in self._list(prefix, delimiter="/"):
            for cp in page.get("CommonPrefixes", []):
                name = cp["Prefix"][len(prefix):].rstrip("/")
                if name:
                    commits.add(name)
        return sorted(f"{base}/data/{c}" for c in commits)

    def age_s(self, commit_dir: str) -> "float | None":
        import datetime

        prefix = self._key_of(commit_dir).rstrip("/") + "/"
        newest = None
        for page in self._list(prefix):
            for obj in page.get("Contents", []):
                lm = obj.get("LastModified")
                if lm is not None and (newest is None or lm > newest):
                    newest = lm
        if newest is None:
            return None
        now = datetime.datetime.now(datetime.timezone.utc)
        if newest.tzinfo is None:
            newest = newest.replace(tzinfo=datetime.timezone.utc)
        return (now - newest).total_seconds()

    def remove(self, commit_dir: str) -> None:
        prefix = self._key_of(commit_dir).rstrip("/") + "/"
        keys = []
        for page in self._list(prefix):
            keys.extend(o["Key"] for o in page.get("Contents", []))
        for k in keys:
            self._c.delete_object(Bucket=self.bucket, Key=k)
