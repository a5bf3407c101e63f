"""Filesystem-agnostic metadata layer (baram_spark.index.fs).

The reference's store is remote by nature (OpenSearch,
src/embedding/mod.rs:237-350); the Spark analog must therefore run its
whole snapshot/manifest/GC protocol through pyarrow.fs so the index can
live on S3/HDFS/GCS.  These tests (a) unit-test the fs module against a
registered non-local pyarrow FileSystem, (b) grep-enforce that no module
of the metadata plane calls the local os API directly, and (c) run the
full build→search→delete→compact→merge→vacuum cycle against a
``mock://`` URI backed by a SubTreeFileSystem."""

import re

import numpy as np
import pytest
from pyarrow import fs as pafs

from baram_spark.index import fs


# -- unit: path resolution + ops over a registered scheme -------------------

def test_resolve_variants(tmp_path):
    f, p = fs.resolve(str(tmp_path))
    assert isinstance(f, pafs.LocalFileSystem) and p == str(tmp_path)
    for prefix in ("file:", "file://", "file:///"):
        f, p = fs.resolve(f"{prefix}{str(tmp_path).lstrip('/')}"
                          if prefix.endswith("//")
                          else f"{prefix}{tmp_path}")
        assert isinstance(f, pafs.LocalFileSystem)
    f, p = fs.resolve(f"file:{tmp_path}")
    assert p == str(tmp_path)


def test_registered_scheme_ops(tmp_path):
    root = str(tmp_path / "store")
    (tmp_path / "store").mkdir()
    fs.register_filesystem(
        "t1", pafs.SubTreeFileSystem(root, pafs.LocalFileSystem()),
        spark_root=root)
    try:
        base = "t1://idx"
        fs.makedirs(f"{base}/docs/gen=0")
        assert fs.isdir(f"{base}/docs") and fs.exists(f"{base}/docs/gen=0")
        assert not fs.exists(f"{base}/nope")
        assert fs.listdir(f"{base}/docs") == ["gen=0"]
        assert fs.listdir(f"{base}/missing") == []
        # atomic-swap pattern used by the manifest commit
        fs.write_text(f"{base}/.m.tmp", '{"snapshot_id": 1}')
        fs.rename(f"{base}/.m.tmp", f"{base}/_manifest.json")
        assert fs.read_json(f"{base}/_manifest.json") == {"snapshot_id": 1}
        assert fs.read_json(f"{base}/no_manifest.json") is None
        # spark translation points at the same bytes
        assert fs.spark_url(f"{base}/docs") == f"file:{root}/idx/docs"
        # parquet round-trip through the filesystem
        import pyarrow as pa

        fs.write_parquet_file(f"{base}/meta.parquet",
                              pa.table({"n": [7]}))
        assert fs.read_parquet(f"{base}/meta.parquet")["n"][0].as_py() == 7
        fs.rmtree(f"{base}/docs")
        fs.rmtree(f"{base}/docs")  # idempotent
        assert not fs.exists(f"{base}/docs")
        fs.remove(f"{base}/_manifest.json")
        assert not fs.exists(f"{base}/_manifest.json")
    finally:
        fs.unregister_filesystem("t1")


# -- grep-enforcement: the metadata plane never calls os directly -----------

def test_no_direct_os_metadata_calls():
    """builder/engine/lineage/serving must route ALL metadata I/O through
    baram_spark.index.fs — a direct os/shutil call would break the index
    on any non-POSIX store."""
    import baram_spark

    root = baram_spark.__path__[0]
    banned = re.compile(
        r"os\.path\.(exists|isdir)\(|os\.(listdir|walk|rename|remove|"
        r"makedirs)\(|shutil\.rmtree\(|removeprefix\(\"file:\"\)"
    )
    offenders = []
    for mod in ("index/builder.py", "index/lineage.py",
                "query/engine.py", "serving.py", "streaming/ingest.py",
                "__main__.py"):
        for i, line in enumerate(open(f"{root}/{mod}"), 1):
            if banned.search(line):
                offenders.append(f"{mod}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_only_the_builder_lists_generation_dirs():
    """Which generations a snapshot holds is the manifest's answer
    (``fs.committed_gens``); every reader reads exactly those dirs. Only
    index/builder.py — next-gen numbering, GC, vacuum and
    ``generations()`` — may match ``gen=`` directory names. Paths built
    from a generation number are f-strings and docstrings only describe
    the layout, so a plain ``"gen="`` literal anywhere else is a scan."""
    import ast
    import pathlib

    import baram_spark

    root = pathlib.Path(baram_spark.__path__[0])
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "index/builder.py":
            continue
        tree = ast.parse(path.read_text())
        exempt = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.JoinedStr):
                exempt.update(id(v) for v in node.values)
            elif isinstance(node, ast.Expr):
                exempt.add(id(node.value))
        offenders += [
            f"{rel}:{node.lineno}: {node.value!r}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant) and isinstance(node.value, str)
            and "gen=" in node.value and id(node) not in exempt
        ]
    assert not offenders, "\n".join(offenders)


# -- integration: full index lifecycle against a mock:// URI ----------------

@pytest.fixture(scope="module")
def mock_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mockfs"))
    fs.register_filesystem(
        "mock", pafs.SubTreeFileSystem(root, pafs.LocalFileSystem()),
        spark_root=root)
    yield "mock://idx"
    fs.unregister_filesystem("mock")


def test_full_lifecycle_on_mock_scheme(spark, mock_index):
    from baram_spark.corpus import make_query_set, pages_df
    from baram_spark.index.builder import IndexBuilder
    from baram_spark.query.bm25 import BruteForceIndex
    from baram_spark.query.engine import SearchEngine

    out = mock_index
    b = IndexBuilder(spark, out, n_shards=2)
    m = b.build(pages_df(spark, 150, partitions=2), fingerprint="mockfs")
    assert b.committed_generations() == [0]
    assert fs.exists(f"{out}/_manifest.json")

    from tests.conftest import read_committed

    def oracle():
        # committed snapshot only — the whole-dir read would double-count
        # superseded generations retained for pinned readers
        docs = (
            read_committed(spark, out, "docs")
            .select("doc_id", "title", "text").toPandas()
        )
        return BruteForceIndex.build(
            [(int(r.doc_id), r.title, r.text) for r in docs.itertuples()]
        )

    def norm(hits):
        return [(d, round(s, 9)) for d, s in hits]

    engine = SearchEngine(spark, out)
    q = make_query_set()[0]["query_text"]
    hits = engine.search(q, k=10, mode="local")
    assert hits and norm(hits) == norm(oracle().search(q, k=10))
    # distributed mode reads the same mock-backed postings
    assert norm(engine.search(q, k=10, mode="distributed")) == norm(hits)

    # incremental wave → second generation
    b.build_incremental(pages_df(spark, 230, partitions=2),
                        fingerprint="mockfs-w2")
    assert b.committed_generations() == [0, 1]

    # tombstone two hit docs; they leave results immediately
    victims = [hits[0][0], hits[1][0]]
    b.delete_docs(victims)
    engine = SearchEngine(spark, out)
    got = [d for d, _ in engine.search(q, k=10, mode="local")]
    assert not set(victims) & set(got)

    # compact physically removes them and clears tombstones
    res = b.compact(fingerprint="mockfs-compact")
    assert res["tombstones"] == 2
    assert b.deleted_ids() == []
    engine = SearchEngine(spark, out)
    assert norm(engine.search(q, k=10, mode="local")) == norm(
        oracle().search(q, k=10))

    # merge to one generation, then vacuum the retired dirs
    b.merge_generations(fingerprint="mockfs-merge")
    gens = b.committed_generations()
    assert len(gens) == 1
    b.vacuum(retain_snapshots=1)
    on_disk = {
        int(d.split("=")[1]) for d in fs.listdir(f"{out}/postings")
        if d.startswith("gen=")
    }
    assert on_disk == set(gens)
    engine = SearchEngine(spark, out)
    assert norm(engine.search(q, k=10, mode="local")) == norm(
        oracle().search(q, k=10))

    # the serving tier loads the same mock-backed snapshot
    from baram_spark.serving import ServingContext

    ctx = ServingContext(spark, out)
    res = ctx.search(q, mode="bm25", k=5)
    assert res["total"] == 5
    assert [int(r["id"].split("_")[0]) >= 0 for r in res["results"]]


# -- multi-writer manifest commit protocol ----------------------------------
# Stores without atomic rename commit via immutable versioned manifest +
# pointer swap under fs.commit_lock (conditional-put emulation); local
# stores get a true O_CREAT|O_EXCL mutex. Two concurrent committers must
# resolve to exactly one winner (the Iceberg commit contract).

import json
import os
import threading
import time


@pytest.fixture
def nonatomic(tmp_path):
    root = str(tmp_path / "objstore")
    os.makedirs(root)
    fs.register_filesystem(
        "obj", pafs.SubTreeFileSystem(root, pafs.LocalFileSystem()),
        spark_root=root)
    yield "obj://idx"
    fs.unregister_filesystem("obj")


def test_commit_lock_local_is_exclusive(tmp_path):
    base = str(tmp_path / "idx")
    with fs.commit_lock(base):
        # same-process second committer: the process mutex rejects it
        with pytest.raises(fs.CommitLockError):
            with fs.commit_lock(base):
                pass
    # released on exit: re-acquire works
    with fs.commit_lock(base):
        pass
    # ANOTHER process's LIVE lock (a held flock on a separate fd — flock
    # is per open-file-description, so this models a second process):
    # rejected regardless of ttl
    import fcntl

    other = os.open(f"{base}/_commit.lock", os.O_CREAT | os.O_WRONLY)
    try:
        fcntl.flock(other, fcntl.LOCK_EX | fcntl.LOCK_NB)
        with pytest.raises(fs.CommitLockError):
            with fs.commit_lock(base, ttl_s=60.0):
                pass
    finally:
        os.close(other)
    # ...and acquirable the moment the holder's fd closes
    with fs.commit_lock(base):
        pass


def test_commit_lock_local_crashed_holder_releases(tmp_path):
    base = str(tmp_path / "idx")
    os.makedirs(base)
    # a crashed holder leaves its lock FILE but the kernel dropped its
    # flock with the process — acquirable immediately, no ttl wait
    with open(f"{base}/_commit.lock", "w") as f:
        f.write(json.dumps({"owner": "dead", "ts": 0}))
    old = time.time() - 3600
    os.utime(f"{base}/_commit.lock", (old, old))
    with fs.commit_lock(base, ttl_s=1e9):
        pass


def test_commit_lock_nonatomic_precheck(nonatomic):
    base = nonatomic
    with fs.commit_lock(base, settle_s=0.0):
        # same-process second committer: the process mutex rejects it
        with pytest.raises(fs.CommitLockError):
            with fs.commit_lock(base, settle_s=0.0):
                pass
    with fs.commit_lock(base, settle_s=0.0):  # released → reacquirable
        pass
    # ANOTHER process's fresh lock (pre-check read path): rejected
    fs.write_text(f"{base}/_commit.lock",
                  json.dumps({"owner": "other-proc", "ts": time.time()}))
    with pytest.raises(fs.CommitLockError):
        with fs.commit_lock(base, ttl_s=60.0, settle_s=0.0):
            pass
    # stale remote lock is overwritable after ttl
    fs.write_text(f"{base}/_commit.lock",
                  json.dumps({"owner": "dead", "ts": 0}))
    with fs.commit_lock(base, ttl_s=1.0, settle_s=0.0):
        pass


def test_commit_lock_nonatomic_readback_fence(nonatomic, monkeypatch):
    """The residual window: an intruder whose pre-check read our write
    too late lands its lock during the settle — the readback fence must
    make US lose (and must NOT delete the intruder's lock afterwards)."""
    base = nonatomic
    lock_uri = f"{base}/_commit.lock"

    def intrude(_s):
        fs.write_text(lock_uri, json.dumps(
            {"owner": "intruder", "ts": time.time()}))

    monkeypatch.setattr(fs.time, "sleep", intrude)
    with pytest.raises(fs.CommitLockError):
        with fs.commit_lock(base, settle_s=0.01):
            pass
    # the loser must not have cleaned up the winner's lock
    assert fs.read_json(lock_uri)["owner"] == "intruder"


def test_publish_and_read_manifest_pointer(nonatomic):
    base = nonatomic
    for sid in range(1, 7):
        fs.publish_manifest(
            base, json.dumps({"snapshot_id": sid, "generations": [0]}),
            retain=3)
    m = fs.read_manifest(base)
    assert m["snapshot_id"] == 6
    # immutable versioned files: newest `retain` kept, rest GC'd
    versioned = sorted(n for n in fs.listdir(base)
                       if n.startswith("_manifest.0"))
    assert len(versioned) == 3
    assert versioned[-1].startswith("_manifest.000000000006.")
    # the pointer names the committed file
    assert fs.read_text(f"{base}/_manifest.ptr").strip() == versioned[-1]
    # legacy mirror matches the committed manifest
    assert fs.read_json(f"{base}/_manifest.json")["snapshot_id"] == 6
    # a corrupt pointer falls back to the mirror instead of crashing
    fs.write_text(f"{base}/_manifest.ptr", "../../etc/passwd")
    assert fs.read_manifest(base)["snapshot_id"] == 6


def test_concurrent_committers_exactly_one_wins(spark, nonatomic):
    """Two committers race the SAME base snapshot on a store without
    atomic rename: exactly one commit lands; the other surfaces
    SnapshotConflictError (lock or OCC) and loses no committed state."""
    from baram_spark.index.builder import IndexBuilder, SnapshotConflictError

    out = nonatomic
    a = IndexBuilder(spark, out, n_shards=2)
    b = IndexBuilder(spark, out, n_shards=2)
    a._commit_manifest([0], base_sid=a._begin())  # seed snapshot 1

    barrier = threading.Barrier(2)
    outcomes = {}

    def committer(name, bld, base):
        barrier.wait()
        try:
            bld._commit_manifest([0], base_sid=base)
            outcomes[name] = "ok"
        except SnapshotConflictError:
            outcomes[name] = "conflict"

    base = a._begin()
    assert base == b._begin() == 1
    t1 = threading.Thread(target=committer, args=("a", a, base))
    t2 = threading.Thread(target=committer, args=("b", b, base))
    t1.start(); t2.start(); t1.join(); t2.join()

    assert sorted(outcomes.values()) == ["conflict", "ok"], outcomes
    m = fs.read_manifest(out)
    assert m["snapshot_id"] == 2  # exactly one advance
    assert m["generations"] == [0]
    assert not fs.exists(f"{out}/_commit.lock")  # lock released


def test_contended_commit_stream_loses_no_update(spark, nonatomic):
    """Two writers each land 4 commits under contention (begin→commit→
    retry-on-conflict): every successful commit advances snapshot_id by
    exactly one — no lost updates through the pointer protocol."""
    from baram_spark.index.builder import IndexBuilder, SnapshotConflictError

    out = nonatomic
    builders = [IndexBuilder(spark, out, n_shards=2) for _ in range(2)]
    per_writer = 4
    errs = []

    def writer(bld):
        done = 0
        while done < per_writer:
            try:
                bld._commit_manifest([0], base_sid=bld._begin())
                done += 1
            except SnapshotConflictError:
                time.sleep(0.01)
            except Exception as e:  # pragma: no cover - surface in assert
                errs.append(e)
                return

    ts = [threading.Thread(target=writer, args=(b,)) for b in builders]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    m = fs.read_manifest(out)
    assert m["snapshot_id"] == 2 * per_writer


def test_commit_lock_force_emulation_on_local_path(tmp_path):
    """Shared mounts where flock is per-host (NFS nolock, Lustre
    localflock) opt into the settle-fenced emulation; it must work on a
    plain local path: exclusion against a fresh foreign lock, ttl break
    of a stale one, and release/reacquire."""
    base = str(tmp_path / "idx")
    os.makedirs(base)
    with fs.commit_lock(base, force_emulation=True, settle_s=0.0):
        pass  # acquire/release round-trip
    # fresh foreign lock -> rejected
    with open(f"{base}/_commit.lock", "w") as f:
        f.write(json.dumps({"owner": "other", "ts": time.time()}))
    with pytest.raises(fs.CommitLockError):
        with fs.commit_lock(base, ttl_s=60.0, force_emulation=True,
                            settle_s=0.0):
            pass
    # stale foreign lock -> broken after ttl
    with open(f"{base}/_commit.lock", "w") as f:
        f.write(json.dumps({"owner": "other", "ts": time.time() - 3600}))
    with fs.commit_lock(base, ttl_s=60.0, force_emulation=True,
                        settle_s=0.0):
        pass
    # release removed our lock record
    assert not os.path.exists(f"{base}/_commit.lock")


def test_commit_lock_mixed_modes_exclude_each_other(tmp_path):
    """A flock-mode committer must honor a live emulation-mode holder on
    the same dir (the emulation holder never takes the flock), and a
    flock release must leave no fresh-looking record behind for a later
    emulation acquire to trip over."""
    base = str(tmp_path / "idx")
    os.makedirs(base)
    # live emulation holder -> flock-mode acquire refuses
    with open(f"{base}/_commit.lock", "w") as f:
        f.write(json.dumps({"owner": "emu1", "ts": time.time(),
                            "mode": "emu"}))
    with pytest.raises(fs.CommitLockError):
        with fs.commit_lock(base, ttl_s=60.0):
            pass
    # stale emulation record -> flock proceeds
    with open(f"{base}/_commit.lock", "w") as f:
        f.write(json.dumps({"owner": "emu1", "ts": time.time() - 3600,
                            "mode": "emu"}))
    with fs.commit_lock(base, ttl_s=60.0):
        pass
    # flock release truncated the record: an emulation acquire inside
    # ttl_s succeeds instead of spuriously raising
    assert os.path.getsize(f"{base}/_commit.lock") == 0
    with fs.commit_lock(base, ttl_s=60.0, force_emulation=True,
                        settle_s=0.0):
        pass


def test_commit_lock_flock_settle_fence_backs_off(tmp_path, monkeypatch):
    """The mixed-mode double-hold window: an emulation committer whose
    record lands AFTER the flock holder wrote its own record was
    invisible to the flock side's single pre-write read. The flock path
    now settle-fences symmetrically — re-reads after settle_s and backs
    off when a fresh emu record clobbered its record (the emu side's
    readback then sees its own record and proceeds: exactly one winner
    in every interleaving)."""
    base = str(tmp_path / "idx")
    os.makedirs(base)
    lock = f"{base}/_commit.lock"

    def clobber(_s):  # stands in for the fence's time.sleep(settle_s)
        with open(lock, "w") as f:
            f.write(json.dumps({"owner": "emu9", "ts": time.time(),
                                "mode": "emu"}))

    monkeypatch.setattr(fs.time, "sleep", clobber)
    with pytest.raises(fs.CommitLockError, match="mixed-mode"):
        with fs.commit_lock(base, ttl_s=60.0):
            pass
    # the winner's record must be left intact for ITS settle-readback
    with open(lock) as f:
        assert json.loads(f.read())["owner"] == "emu9"
    # and with no interference the fence passes: normal acquire/release
    monkeypatch.undo()
    os.remove(lock)
    with fs.commit_lock(base, ttl_s=60.0):
        pass
    assert os.path.getsize(lock) == 0  # release truncated our record
