"""Transactional gold MERGE (manifest-pointer commit protocol)."""

import ast
import glob
import os
import re

import pytest

from pyspark.sql import Row

from configurable_etl_python_repo_spark.sinks import logstore, txlog
from configurable_etl_python_repo_spark.sinks.txlog import (
    ConcurrentWriteError,
    read_gold_tx,
    tx_merge_upsert,
    vacuum_gold_tx,
)


def _rows(spark, gold):
    return {
        (r.study_code, r.subject): r.val
        for r in read_gold_tx(spark, gold).collect()
    }


def test_tx_upsert_updates_and_appends(spark, tmp_path):
    gold = str(tmp_path / "gold")
    base = spark.createDataFrame([
        Row(study_code="A", subject="s1", val="old1"),
        Row(study_code="A", subject="s2", val="old2"),
        Row(study_code="B", subject="s9", val="keepB"),
    ])
    assert tx_merge_upsert(spark, gold, base, key_cols=["study_code", "subject"]) == 1

    updates = spark.createDataFrame([
        Row(study_code="A", subject="s1", val="NEW1"),   # update
        Row(study_code="A", subject="s3", val="new3"),   # insert
    ])
    assert tx_merge_upsert(spark, gold, updates,
                           key_cols=["study_code", "subject"]) == 2
    assert _rows(spark, gold) == {
        ("A", "s1"): "NEW1",
        ("A", "s2"): "old2",
        ("A", "s3"): "new3",
        ("B", "s9"): "keepB",
    }


def test_tx_untouched_partition_files_not_rewritten(spark, tmp_path):
    gold = str(tmp_path / "gold")
    base = spark.createDataFrame([
        Row(study_code="A", subject="s1", val="a"),
        Row(study_code="B", subject="s9", val="b"),
    ])
    tx_merge_upsert(spark, gold, base, key_cols=["study_code", "subject"])
    b_files = sorted(glob.glob(f"{gold}/data/*/study_code=B/*.parquet"))

    updates = spark.createDataFrame([Row(study_code="A", subject="s1", val="a2")])
    tx_merge_upsert(spark, gold, updates, key_cols=["study_code", "subject"])
    # partition B: same physical files referenced by the new snapshot
    assert sorted(glob.glob(f"{gold}/data/*/study_code=B/*.parquet")) == b_files
    assert _rows(spark, gold)[("A", "s1")] == "a2"


def test_tx_crash_before_publish_is_invisible_and_retryable(
    spark, tmp_path, monkeypatch
):
    """The commit IS the atomic manifest create: a merge that dies after
    writing all its data files but before publishing leaves readers on
    the old snapshot, the debris invisible, vacuum removes it, and a
    plain retry lands the merge."""
    gold = str(tmp_path / "gold")
    base = spark.createDataFrame([Row(study_code="A", subject="s1", val="v0")])
    tx_merge_upsert(spark, gold, base, key_cols=["study_code", "subject"])

    real_publish = txlog._publish

    def crash(*a, **kw):
        raise OSError("power loss")

    monkeypatch.setattr(txlog, "_publish", crash)
    updates = spark.createDataFrame([Row(study_code="A", subject="s1", val="v1")])
    with pytest.raises(OSError, match="power loss"):
        tx_merge_upsert(spark, gold, updates, key_cols=["study_code", "subject"])

    # reader: old snapshot, fully intact
    assert _rows(spark, gold) == {("A", "s1"): "v0"}
    # debris: the crashed commit's dir exists but nothing references it
    assert len(glob.glob(f"{gold}/data/*")) == 2
    removed = vacuum_gold_tx(gold, retention_s=0.0)  # no writer running
    assert len(removed) == 1
    assert _rows(spark, gold) == {("A", "s1"): "v0"}  # vacuum kept live data

    # retry commits cleanly
    monkeypatch.setattr(txlog, "_publish", real_publish)
    tx_merge_upsert(spark, gold, updates, key_cols=["study_code", "subject"])
    assert _rows(spark, gold) == {("A", "s1"): "v1"}


def test_tx_concurrent_writer_detected(spark, tmp_path):
    """Optimistic concurrency: a publish based on a stale snapshot raises
    instead of silently dropping the other writer's merge."""
    gold = str(tmp_path / "gold")
    base = spark.createDataFrame([Row(study_code="A", subject="s1", val="v0")])
    tx_merge_upsert(spark, gold, base, key_cols=["study_code", "subject"])  # v1

    upd = spark.createDataFrame([Row(study_code="A", subject="s1", val="v2")])
    tx_merge_upsert(spark, gold, upd, key_cols=["study_code", "subject"])  # v2

    with pytest.raises(ConcurrentWriteError):
        txlog._publish(gold, base_version=1, partitions={})


def test_tx_crash_between_manifest_and_pointer_is_committed(
    spark, tmp_path, monkeypatch
):
    """The manifest create IS the commit; LATEST is a probed hint. A
    crash after the manifest lands but before the hint updates must
    leave a COMMITTED version — readers discover it by probing forward,
    and the next merge continues from it instead of colliding with the
    'orphan' manifest forever (the wedge the old O_EXCL+pointer-swap
    protocol had)."""
    gold = str(tmp_path / "gold")
    base = spark.createDataFrame([Row(study_code="A", subject="s1", val="v0")])
    tx_merge_upsert(spark, gold, base, key_cols=["study_code", "subject"])

    real_write = logstore.LocalLogStore.write

    def crash(self, name, data):
        if name == "LATEST":  # the shared publish's hint write
            raise OSError("power loss after manifest create")
        real_write(self, name, data)

    monkeypatch.setattr(logstore.LocalLogStore, "write", crash)
    upd = spark.createDataFrame([Row(study_code="A", subject="s1", val="v1")])
    with pytest.raises(OSError, match="power loss"):
        tx_merge_upsert(spark, gold, upd, key_cols=["study_code", "subject"])

    # hint still names v1, but v2's manifest exists → v2 is committed
    with open(f"{gold}/_txlog/LATEST") as f:
        assert f.read().strip() == "1"
    assert _rows(spark, gold) == {("A", "s1"): "v1"}

    # and the table is NOT wedged: a later merge proceeds from v2 to v3
    monkeypatch.undo()
    upd2 = spark.createDataFrame([Row(study_code="A", subject="s2", val="v2")])
    assert tx_merge_upsert(spark, gold, upd2,
                           key_cols=["study_code", "subject"]) == 3
    assert _rows(spark, gold) == {("A", "s1"): "v1", ("A", "s2"): "v2"}
    with open(f"{gold}/_txlog/LATEST") as f:  # healed by the publish
        assert f.read().strip() == "3"


def test_tx_two_writer_race_arbitrated_by_manifest_create(
    spark, tmp_path, monkeypatch
):
    """Two writers based on the same snapshot, racing past the early
    stale-check simultaneously: the atomic create-if-absent (the local
    conditional-put) lets exactly one win; the loser raises and its
    retry lands on the new snapshot with neither update lost."""
    gold = str(tmp_path / "gold")
    base = spark.createDataFrame([Row(study_code="A", subject="s1", val="v0")])
    tx_merge_upsert(spark, gold, base, key_cols=["study_code", "subject"])

    # writer A commits v2 for real
    a = spark.createDataFrame([Row(study_code="A", subject="sA", val="a")])
    tx_merge_upsert(spark, gold, a, key_cols=["study_code", "subject"])

    # writer B raced: it read v1 before A committed, and (simulating the
    # worst interleaving) its early stale-check ALSO still saw v1
    monkeypatch.setattr(logstore, "latest_version", lambda *a, **k: 1)
    with pytest.raises(ConcurrentWriteError):
        txlog._publish(gold, base_version=1, partitions={})
    monkeypatch.undo()

    # B's retry re-reads the moved snapshot and serializes cleanly
    b = spark.createDataFrame([Row(study_code="A", subject="sB", val="b")])
    assert tx_merge_upsert(spark, gold, b,
                           key_cols=["study_code", "subject"]) == 3
    got = _rows(spark, gold)
    assert got[("A", "sA")] == "a" and got[("A", "sB")] == "b"  # nothing lost


def test_tx_vacuum_spares_fresh_unreferenced_dirs(spark, tmp_path, monkeypatch):
    """A never-referenced data dir could be a concurrent merge's
    in-flight commit — vacuum must not delete it until it is older than
    retention_s (dirs referenced by EXPIRED manifests are provably not
    in-flight and go regardless of age)."""
    gold = str(tmp_path / "gold")
    base = spark.createDataFrame([Row(study_code="A", subject="s1", val="v0")])
    tx_merge_upsert(spark, gold, base, key_cols=["study_code", "subject"])

    # simulate an in-flight merge: data files written, not yet published
    monkeypatch.setattr(txlog, "_publish",
                        lambda *a, **kw: (_ for _ in ()).throw(OSError("die")))
    upd = spark.createDataFrame([Row(study_code="A", subject="s1", val="v1")])
    with pytest.raises(OSError):
        tx_merge_upsert(spark, gold, upd, key_cols=["study_code", "subject"])
    monkeypatch.undo()

    assert vacuum_gold_tx(gold) == []                    # fresh → protected
    assert len(glob.glob(f"{gold}/data/*")) == 2
    removed = vacuum_gold_tx(gold, retention_s=0.0)      # explicit opt-out
    assert len(removed) == 1
    assert _rows(spark, gold) == {("A", "s1"): "v0"}

    # expired-manifest dirs are reclaimed even at default retention
    for step in range(2):
        df = spark.createDataFrame(
            [Row(study_code="A", subject="s1", val=f"r{step}")]
        )
        tx_merge_upsert(spark, gold, df, key_cols=["study_code", "subject"])
    assert len(vacuum_gold_tx(gold, keep_versions=1)) == 2


def test_tx_snapshot_isolation_across_merge(spark, tmp_path):
    """A DataFrame resolved against the old snapshot keeps reading the old
    files after a later merge commits (writers never mutate visible
    data), while a fresh reader sees the new version."""
    gold = str(tmp_path / "gold")
    base = spark.createDataFrame([Row(study_code="A", subject="s1", val="v0")])
    tx_merge_upsert(spark, gold, base, key_cols=["study_code", "subject"])
    old_reader = read_gold_tx(spark, gold)

    upd = spark.createDataFrame([Row(study_code="A", subject="s1", val="v1")])
    tx_merge_upsert(spark, gold, upd, key_cols=["study_code", "subject"])

    assert [(r.subject, r.val) for r in old_reader.collect()] == [("s1", "v0")]
    assert _rows(spark, gold) == {("A", "s1"): "v1"}


def test_tx_random_sequence_matches_model(spark, tmp_path):
    """Model check: any sequence of transactional merges equals a dict
    replay (the same put_item contract merge_upsert is held to), with
    version numbers advancing by one per commit."""
    import random

    rng = random.Random(17)
    gold = str(tmp_path / "gold")
    model = {}
    for step in range(5):
        batch = {}
        for _ in range(rng.randint(1, 4)):
            key = (rng.choice(["A", "B", "C"]), f"s{rng.randint(1, 5)}")
            batch[key] = f"v{step}_{rng.randint(0, 99)}"
        df = spark.createDataFrame(
            [Row(study_code=a, subject=b, val=v) for (a, b), v in batch.items()]
        )
        v = tx_merge_upsert(spark, gold, df, key_cols=["study_code", "subject"])
        assert v == step + 1
        model.update(batch)
        assert _rows(spark, gold) == model, f"diverged at step {step}"


def test_tx_read_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_gold_tx(spark, str(tmp_path / "nope"))


def test_tx_time_travel_and_schema_evolution(spark, tmp_path):
    """Manifests are immutable → any un-vacuumed version replays exactly;
    a merge may add new columns (old rows read them as NULL — the
    standardized-sink schema-evolution contract carried over)."""
    gold = str(tmp_path / "gold")
    v1_df = spark.createDataFrame([Row(study_code="A", subject="s1", val="v0")])
    assert tx_merge_upsert(spark, gold, v1_df,
                           key_cols=["study_code", "subject"]) == 1
    v2_df = spark.createDataFrame([
        Row(study_code="A", subject="s2", val="x", extra="E"),
    ])
    assert tx_merge_upsert(spark, gold, v2_df,
                           key_cols=["study_code", "subject"]) == 2

    now = read_gold_tx(spark, gold)
    assert "extra" in now.columns
    got = {(r.subject): (r.val, r.extra) for r in now.collect()}
    assert got == {"s1": ("v0", None), "s2": ("x", "E")}

    old = read_gold_tx(spark, gold, version=1)
    assert "extra" not in old.columns
    assert [(r.subject, r.val) for r in old.collect()] == [("s1", "v0")]

    with pytest.raises(FileNotFoundError):
        read_gold_tx(spark, gold, version=9)


def test_tx_retention_vacuum(spark, tmp_path):
    """keep_versions=N expires older manifests and reclaims data dirs only
    they referenced; the newest N snapshots (and the current read) stay
    intact."""
    gold = str(tmp_path / "gold")
    for step, studies in enumerate([("A",), ("A",), ("A",)]):
        df = spark.createDataFrame([
            Row(study_code=sc, subject="s1", val=f"v{step}") for sc in studies
        ])
        tx_merge_upsert(spark, gold, df, key_cols=["study_code", "subject"])
    assert len(glob.glob(f"{gold}/data/*")) == 3          # three commits
    removed = vacuum_gold_tx(gold, keep_versions=1)
    assert len(removed) == 2                               # v1+v2 dirs gone
    assert _rows(spark, gold) == {("A", "s1"): "v2"}       # current intact
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        read_gold_tx(spark, gold, version=1)               # expired


def test_tx_compaction_collapses_commits(spark, tmp_path):
    """After N merges the snapshot spans N data dirs; compaction rewrites
    it as one commit with identical content."""
    from configurable_etl_python_repo_spark.sinks.txlog import (
        compact_gold_tx,
    )

    gold = str(tmp_path / "gold")
    # three merges touching different partition sets → snapshot spans
    # multiple commit dirs
    for step, studies in enumerate([("A", "B"), ("A",), ("C",)]):
        df = spark.createDataFrame([
            Row(study_code=sc, subject=f"s{step}", val=f"v{step}")
            for sc in studies
        ])
        tx_merge_upsert(spark, gold, df, key_cols=["study_code", "subject"])
    before = _rows(spark, gold)
    _, manifest = txlog._read_latest(gold)
    assert len({os.path.dirname(d) for d in manifest.values()}) == 3

    v = compact_gold_tx(spark, gold)
    assert v == 4
    _, manifest = txlog._read_latest(gold)
    # one data dir for the whole snapshot now
    assert len({os.path.dirname(d) for d in manifest.values()}) == 1
    assert _rows(spark, gold) == before


# ---------------------------------------------------------------------------
# Object-store commits (S3LogStore over a stub boto3-style client)
# ---------------------------------------------------------------------------

import io


class _StubS3Error(Exception):
    def __init__(self, code):
        super().__init__(code)
        self.response = {"Error": {"Code": code}}


class _StubS3Client:
    """Dict-backed S3 stand-in implementing the conditional-write API
    (PutObject If-None-Match: '*' -> 412 PreconditionFailed on existing
    keys — the public S3 semantics S3LogStore targets)."""

    def __init__(self):
        self.blobs = {}
        self.mtimes = {}

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        import datetime

        k = (Bucket, Key)
        if IfNoneMatch == "*" and k in self.blobs:
            raise _StubS3Error("PreconditionFailed")
        self.blobs[k] = bytes(Body)
        self.mtimes[k] = datetime.datetime.now(datetime.timezone.utc)

    def get_object(self, Bucket, Key):
        if (Bucket, Key) not in self.blobs:
            raise _StubS3Error("NoSuchKey")
        return {"Body": io.BytesIO(self.blobs[(Bucket, Key)])}

    def head_object(self, Bucket, Key):
        if (Bucket, Key) not in self.blobs:
            raise _StubS3Error("404")
        return {}

    def delete_object(self, Bucket, Key):
        self.blobs.pop((Bucket, Key), None)

    def list_objects_v2(self, Bucket, Prefix, Delimiter=None,
                        ContinuationToken=None, MaxKeys=2):
        """Real pagination (MaxKeys=2 by default so tests exercise the
        ContinuationToken path) and Delimiter common-prefix rollup."""
        import datetime

        keys = sorted(
            k for (b, k) in self.blobs if b == Bucket and k.startswith(Prefix)
        )
        start = int(ContinuationToken) if ContinuationToken else 0
        contents, prefixes, taken = [], [], 0
        i = start
        while i < len(keys) and taken < MaxKeys:
            k = keys[i]
            if Delimiter:
                rest = k[len(Prefix):]
                if Delimiter in rest:
                    cp = Prefix + rest.split(Delimiter)[0] + Delimiter
                    if not prefixes or prefixes[-1] != cp:
                        prefixes.append(cp)
                        taken += 1
                    i += 1
                    continue
            contents.append({
                "Key": k,
                "LastModified": self.mtimes.get(
                    (Bucket, k),
                    datetime.datetime.now(datetime.timezone.utc),
                ),
            })
            taken += 1
            i += 1
        out = {"Contents": contents, "CommonPrefixes": [
            {"Prefix": p} for p in prefixes
        ]}
        if i < len(keys):
            out["NextContinuationToken"] = str(i)
        return out


def _s3_store():
    from configurable_etl_python_repo_spark.sinks.logstore import S3LogStore

    client = _StubS3Client()
    return S3LogStore("gold-bucket", "tables/study/_txlog",
                      client=client), client


def test_tx_object_store_merge_and_read(spark, tmp_path):
    """Full merge/read/time-travel cycle with ALL manifest I/O through a
    conditional-put object store: no _txlog directory ever appears on
    the local filesystem."""
    gold = str(tmp_path / "gold")
    store, client = _s3_store()

    base = spark.createDataFrame([Row(study_code="A", subject="s1", val="v0")])
    assert tx_merge_upsert(spark, gold, base,
                           key_cols=["study_code", "subject"],
                           store=store) == 1
    upd = spark.createDataFrame([Row(study_code="A", subject="s1", val="v1")])
    assert tx_merge_upsert(spark, gold, upd,
                           key_cols=["study_code", "subject"],
                           store=store) == 2

    got = {
        (r.study_code, r.subject): r.val
        for r in read_gold_tx(spark, gold, store=store).collect()
    }
    assert got == {("A", "s1"): "v1"}
    # time travel still works against the store
    old = read_gold_tx(spark, gold, version=1, store=store).collect()
    assert [r.val for r in old] == ["v0"]
    # commit log lives in the bucket, not on disk
    assert not os.path.exists(f"{gold}/_txlog")
    keys = {k for _, k in client.blobs}
    assert "tables/study/_txlog/v00000001.json" in keys
    assert "tables/study/_txlog/LATEST" in keys


def test_tx_object_store_two_writer_race(spark, tmp_path):
    """Two writers publishing the same next version against the object
    store: the conditional put lets exactly one win."""
    gold = str(tmp_path / "gold")
    store, _ = _s3_store()
    assert txlog._publish(gold, 0, {"A": "d1"}, store) == 1
    # writer B, based on the same v0 snapshot, loses the put race
    with pytest.raises(ConcurrentWriteError):
        logstore.publish(store, 0, {"version": 1, "partitions": {}})
    # and B's retry from the NEW snapshot serializes
    assert txlog._publish(gold, 1, {"A": "d2"}, store) == 2


def test_tx_object_store_vacuum_expires_manifests(spark, tmp_path):
    gold = str(tmp_path / "gold")
    store, client = _s3_store()
    base = spark.createDataFrame([Row(study_code="A", subject="s1", val="v0")])
    tx_merge_upsert(spark, gold, base, key_cols=["study_code", "subject"],
                    store=store)
    upd = spark.createDataFrame([Row(study_code="A", subject="s1", val="v1")])
    tx_merge_upsert(spark, gold, upd, key_cols=["study_code", "subject"],
                    store=store)
    vacuum_gold_tx(gold, keep_versions=1, retention_s=0, store=store)
    keys = {k for _, k in client.blobs}
    # expired v1 keeps its name, holding the pruned marker
    assert client.blobs[("gold-bucket", "tables/study/_txlog/v00000001.json")] \
        == logstore.PRUNED_MARKER
    assert "tables/study/_txlog/v00000002.json" in keys
    with pytest.raises(FileNotFoundError):
        read_gold_tx(spark, gold, version=1, store=store)


def test_s3_logstore_error_code_mapping():
    """Losing-race codes map to put_if_absent=False; anything else (e.g.
    AccessDenied) must RAISE — swallowing it would turn an outage into a
    phantom 'concurrent writer' loop."""
    store, client = _s3_store()
    assert store.put_if_absent("LATEST", b"1") is True
    assert store.put_if_absent("LATEST", b"2") is False  # 412 -> lost race

    def denied(**kw):
        raise _StubS3Error("AccessDenied")

    client.put_object = denied
    with pytest.raises(_StubS3Error):
        store.put_if_absent("v00000009.json", b"{}")


def test_s3_put_if_absent_detects_self_win_on_retry():
    """If the SDK's automatic retry resends a conditional put whose first
    attempt actually succeeded (lost 200), the 412 is against our OWN
    object: byte-identical content must report True, or the caller would
    re-merge and publish a duplicate next version."""
    store, _ = _s3_store()
    assert store.put_if_absent("v00000007.json", b'{"v": 7}') is True
    # the retry resends identical bytes -> self-win, not a lost race
    assert store.put_if_absent("v00000007.json", b'{"v": 7}') is True
    # a REAL concurrent writer's different manifest still loses
    assert store.put_if_absent("v00000007.json", b'{"v": "other"}') is False


def test_vacuum_refuses_non_local_gold_path():
    """Expiring manifests for object-store gold would permanently orphan
    their data dirs (os.listdir finds nothing to delete and the expired
    manifest was the only record) — vacuum must refuse, not leak."""
    store, _ = _s3_store()
    with pytest.raises(NotImplementedError, match="not a local directory"):
        vacuum_gold_tx("s3a://gold-bucket/tables/study", keep_versions=1,
                       store=store)


def test_vacuum_heals_missing_hint_before_expiry(spark, tmp_path):
    """The LATEST hint is best-effort; if it never landed, the resolver
    (logstore.latest_version) probes from 0 and repairs it. keep_versions
    expiry overwrites the bottom of that probe chain with markers, never
    deletes it, so the table still reads its newest snapshot and the
    next merge cannot shadow the live snapshot at v1."""
    gold = str(tmp_path / "gold")
    for i in range(3):
        df = spark.createDataFrame(
            [Row(study_code="A", subject="s1", val=f"v{i}")])
        tx_merge_upsert(spark, gold, df, key_cols=["study_code", "subject"])
    os.remove(f"{gold}/_txlog/LATEST")  # hint lost (best-effort)

    vacuum_gold_tx(gold, keep_versions=1, retention_s=0)
    with open(f"{gold}/_txlog/v00000001.json", "rb") as f:
        assert f.read() == logstore.PRUNED_MARKER        # name kept
    with pytest.raises(FileNotFoundError):
        read_gold_tx(spark, gold, version=1)             # still expired
    # still reads the newest snapshot and merges continue from it
    assert _rows(spark, gold) == {("A", "s1"): "v2"}
    nxt = spark.createDataFrame(
        [Row(study_code="A", subject="s1", val="v3")])
    assert tx_merge_upsert(spark, gold, nxt,
                           key_cols=["study_code", "subject"]) == 4
    assert _rows(spark, gold) == {("A", "s1"): "v3"}


def test_latest_hint_past_all_manifests_degrades_to_probe(spark, tmp_path):
    """A hint that PARSES but points past every manifest (junk overwrite,
    restore from another table) must degrade like a garbled one — probe
    from 0 — not TypeError on json.loads(None) and brick the table. A
    negative hint likewise."""
    gold = str(tmp_path / "gold")
    df = spark.createDataFrame([Row(study_code="A", subject="s1", val="v0")])
    tx_merge_upsert(spark, gold, df, key_cols=["study_code", "subject"])
    for junk in ("99", "-5"):
        with open(f"{gold}/_txlog/LATEST", "w") as f:
            f.write(junk)
        assert _rows(spark, gold) == {("A", "s1"): "v0"}
    upd = spark.createDataFrame([Row(study_code="A", subject="s1", val="v1")])
    assert tx_merge_upsert(spark, gold, upd,
                           key_cols=["study_code", "subject"]) == 2
    assert _rows(spark, gold) == {("A", "s1"): "v1"}


def test_tx_object_store_vacuum_data_dirs_via_lister():
    """Pure object-store gold: manifests through S3LogStore AND data-dir
    cleanup through S3DataLister — vacuum never touches the local
    filesystem. Expired-manifest dirs go regardless of age; a fresh
    never-referenced dir (a possibly in-flight merge) is protected until
    retention_s."""
    from configurable_etl_python_repo_spark.sinks.logstore import S3DataLister

    store, client = _s3_store()
    gold = "s3a://gold-bucket/tables/study"
    lister = S3DataLister("gold-bucket", client=client)

    def put_data(commit):
        for i in range(3):  # several keys/commit → exercises pagination
            client.put_object(
                Bucket="gold-bucket",
                Key=f"tables/study/data/{commit}/study_code=A/part-{i}.parquet",
                Body=b"x",
            )

    put_data("c1")
    put_data("c2")
    put_data("c3")  # never referenced: crash debris or in-flight merge
    txlog._publish(gold, 0, {"A": f"{gold}/data/c1/study_code=A"}, store)
    txlog._publish(gold, 1, {"A": f"{gold}/data/c2/study_code=A"}, store)

    removed = vacuum_gold_tx(gold, keep_versions=1, store=store,
                             lister=lister)
    assert removed == [f"{gold}/data/c1"]          # expired v1's dir
    keys = {k for _, k in client.blobs}
    assert not any(k.startswith("tables/study/data/c1/") for k in keys)
    assert any(k.startswith("tables/study/data/c2/") for k in keys)  # live
    assert any(k.startswith("tables/study/data/c3/") for k in keys)  # fresh

    removed = vacuum_gold_tx(gold, retention_s=0.0, store=store,
                             lister=lister)       # explicit no-writers
    assert removed == [f"{gold}/data/c3"]
    keys = {k for _, k in client.blobs}
    assert not any(k.startswith("tables/study/data/c3/") for k in keys)
    assert "tables/study/_txlog/v00000002.json" in keys


def test_s3_data_lister_rejects_foreign_bucket():
    from configurable_etl_python_repo_spark.sinks.logstore import S3DataLister

    _, client = _s3_store()
    lister = S3DataLister("gold-bucket", client=client)
    with pytest.raises(ValueError, match="bound to"):
        lister.list_commit_dirs("s3a://other-bucket/tables/study")
    # bucket-relative paths are accepted
    assert lister.list_commit_dirs("tables/study") == []


def test_s3_data_lister_bucket_root_gold_path():
    """A gold table at the bucket ROOT ('s3a://gold-bucket' with or
    without trailing slash) must parse to the empty key — not fall
    through to being treated as a bucket-relative key named
    's3a://gold-bucket', which would silently list nothing and let
    vacuum expire manifests while orphaning their data dirs."""
    from configurable_etl_python_repo_spark.sinks.logstore import S3DataLister

    _, client = _s3_store()
    lister = S3DataLister("gold-bucket", client=client)
    assert lister._key_of("s3a://gold-bucket") == ""
    assert lister._key_of("s3a://gold-bucket/") == ""
    assert lister._key_of("s3a://gold-bucket/tables/study") == "tables/study"
    client.put_object(Bucket="gold-bucket",
                      Key="data/c1/part-0.parquet", Body=b"x")
    assert lister.list_commit_dirs("s3a://gold-bucket") == [
        "s3a://gold-bucket/data/c1"
    ]
    # foreign bucket still rejected in root form
    with pytest.raises(ValueError, match="bound to"):
        lister._key_of("s3a://other-bucket")


def test_tx_object_store_compaction(spark, tmp_path):
    """Compaction with manifest I/O through the object store: commits
    collapse to one data dir, content identical, no _txlog on disk."""
    from configurable_etl_python_repo_spark.sinks.txlog import compact_gold_tx

    gold = str(tmp_path / "gold")
    store, client = _s3_store()
    for step, studies in enumerate([("A", "B"), ("A",)]):
        df = spark.createDataFrame([
            Row(study_code=sc, subject=f"s{step}", val=f"v{step}")
            for sc in studies
        ])
        tx_merge_upsert(spark, gold, df, key_cols=["study_code", "subject"],
                        store=store)
    before = {
        (r.study_code, r.subject): r.val
        for r in read_gold_tx(spark, gold, store=store).collect()
    }
    assert compact_gold_tx(spark, gold, store=store) == 3
    _, manifest = txlog._read_latest(gold, store)
    assert len({os.path.dirname(d) for d in manifest.values()}) == 1
    after = {
        (r.study_code, r.subject): r.val
        for r in read_gold_tx(spark, gold, store=store).collect()
    }
    assert after == before
    assert not os.path.exists(f"{gold}/_txlog")


def test_garbled_latest_hint_degrades_to_probe(spark, tmp_path):
    """A torn/empty LATEST (power loss mid-replace) must degrade like a
    missing one — probe forward from 0 — not brick every read/write."""
    gold = str(tmp_path / "gold")
    df = spark.createDataFrame([Row(study_code="A", subject="s1", val="v0")])
    tx_merge_upsert(spark, gold, df, key_cols=["study_code", "subject"])
    with open(f"{gold}/_txlog/LATEST", "w") as f:
        f.write("")  # torn write
    assert _rows(spark, gold) == {("A", "s1"): "v0"}
    upd = spark.createDataFrame([Row(study_code="A", subject="s1", val="v1")])
    assert tx_merge_upsert(spark, gold, upd,
                           key_cols=["study_code", "subject"]) == 2


def test_s3_logstore_list_names_paginates():
    """list_names is the index stores' manifest-log RECOVERY primitive
    (lost LATEST hint after manifest pruning) — it must walk every
    ContinuationToken page (the stub serves MaxKeys=2) and strip the
    prefix back to bare names."""
    store, _ = _s3_store()
    names = [f"v{v:08d}.json" for v in range(1, 8)]
    for n in names:
        assert store.put_if_absent(n, b'{"v": "%s"}' % n.encode())
    store.write("LATEST", b"7")
    assert sorted(store.list_names()) == sorted(names + ["LATEST"])
    store.delete(names[0])
    assert sorted(store.list_names()) == sorted(names[1:] + ["LATEST"])


# ---------------------------------------------------------------------------
# One commit chain: gold prunes by marker and recovers a lost hint by
# listing (sinks/logstore), exactly like the index stores
# ---------------------------------------------------------------------------


def _three_commits(gold):
    """Publish v1..v3 (Spark-free: the manifests only name dirs). B is
    written once, at v1; A is rewritten by every commit."""
    parts = {}
    for v in range(1, 4):
        parts = {
            "A": f"{gold}/data/c{v}/study_code=A",
            "B": f"{gold}/data/c1/study_code=B",
        }
        assert txlog._publish(gold, v - 1, parts) == v
    return parts


@pytest.mark.parametrize("hint", ["garbled", "missing"])
def test_gold_lost_hint_after_vacuum_does_not_fork(tmp_path, hint):
    """After keep_versions expiry and a garbled or missing LATEST, the
    table still resolves its current snapshot, and the next publish
    lands at version+1 with partition B intact. (When expiry deleted the
    low manifest names, this read returned (0, {}) and a v0-based
    publish won the recycled v1 slot, dropping B without an error.)"""
    gold = str(tmp_path / "gold")
    parts = _three_commits(gold)
    vacuum_gold_tx(gold, keep_versions=1)
    latest = os.path.join(gold, "_txlog", "LATEST")
    if hint == "garbled":
        with open(latest, "w") as f:
            f.write("not-a-version")
    else:
        os.remove(latest)
    assert txlog._read_latest(gold) == (3, parts)
    nxt = {**parts, "A": f"{gold}/data/c4/study_code=A"}
    assert txlog._publish(gold, 3, nxt) == 4
    assert txlog._read_latest(gold) == (4, nxt)
    assert nxt["B"] == f"{gold}/data/c1/study_code=B"
    with pytest.raises(ConcurrentWriteError):
        txlog._publish(gold, 0, {"A": f"{gold}/data/c5/study_code=A"})


def test_gold_pruned_slot_cannot_be_rewon(tmp_path):
    """A pruned gold version keeps its name: put_if_absent on it loses,
    so no writer can commit into an expired slot."""
    gold = str(tmp_path / "gold")
    _three_commits(gold)
    vacuum_gold_tx(gold, keep_versions=1)
    st = logstore.LocalLogStore(os.path.join(gold, "_txlog"))
    for name in ("v00000001.json", "v00000002.json"):
        assert st.put_if_absent(name, b'{"version": 0}') is False
        assert st.read(name) == logstore.PRUNED_MARKER
    with pytest.raises(ConcurrentWriteError):
        logstore.publish(st, 0, {"version": 1, "partitions": {}})


def test_gold_log_with_deleted_low_names_resolves_by_listing(tmp_path):
    """A log whose low manifests an older vacuum DELETED, with LATEST
    missing, resolves its newest version through listing (and repairs
    the hint); merges and vacuums continue from it."""
    gold = str(tmp_path / "gold")
    parts = _three_commits(gold)
    txdir = os.path.join(gold, "_txlog")
    for name in ("v00000001.json", "v00000002.json", "LATEST"):
        os.remove(os.path.join(txdir, name))
    assert txlog._read_latest(gold) == (3, parts)
    with open(os.path.join(txdir, "LATEST")) as f:
        assert f.read().strip() == "3"
    assert txlog._publish(gold, 3, parts) == 4
    assert vacuum_gold_tx(gold, keep_versions=1) == []
    assert txlog._read_latest(gold) == (4, parts)


PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "configurable_etl_python_repo_spark",
)
_NAME_FORMAT = re.compile(r"(%08d|:08d\})\.json")


def _manifest_log_literals(path: str) -> "set[str]":
    """Which manifest-log spellings a module holds as code: "name" for
    a version-name format (`f"v{v:08d}.json"`, `"v%08d.json"`,
    `"v{:08d}.json"`), "LATEST" for the hint's name. Prose in
    docstrings and comments does not count."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    found = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value == "LATEST":
                found.add("LATEST")
            if _NAME_FORMAT.search(n.value):
                found.add("name")
        elif isinstance(n, ast.JoinedStr):
            if _NAME_FORMAT.search(ast.unparse(n)):
                found.add("name")
    return found


def test_manifest_log_spelled_in_one_module():
    """The version-name format and the LATEST hint name live in
    sinks/logstore.py only: a second spelling is a second commit chain
    that can drift from the first."""
    where: "dict[str, list[str]]" = {}
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"),
                                 recursive=True)):
        for lit in _manifest_log_literals(path):
            where.setdefault(lit, []).append(os.path.relpath(path, PKG))
    one = [os.path.join("sinks", "logstore.py")]
    assert where == {"name": one, "LATEST": one}


def test_manifest_log_literal_detector(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        '"""Docstring naming v00000001.json and LATEST."""\n'
        'a = f"v{version:08d}.json"\n'
    )
    assert _manifest_log_literals(str(src)) == {"name"}
    src.write_text('a = "v%08d.json" % v\nb = st.read("LATEST")\n')
    assert _manifest_log_literals(str(src)) == {"name", "LATEST"}
    src.write_text('a = "v{:08d}.json".format(v)\n# "LATEST"\n')
    assert _manifest_log_literals(str(src)) == {"name"}
