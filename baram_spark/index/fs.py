"""Filesystem-agnostic metadata I/O for the index snapshot layer.

Spark reads and writes the big parquet relations (docs, postings,
embeddings, ...) through its own Hadoop connectors and understands the
same URIs natively.  Everything Spark has *no* API for — the manifest
swap, versioned-stats listing, tombstone reads, generation-dir GC — goes
through this module so the index can live on any filesystem
``pyarrow.fs`` can reach (local, ``s3://``, ``hdfs://``, ``gs://``), the
reference's remote-store property (OpenSearch is remote by nature,
/root/reference/src/embedding/mod.rs:237-350).

Path handling:

* plain absolute paths and Spark-style ``file:`` prefixes resolve to the
  local filesystem (with true atomic ``os.rename`` for the manifest swap);
* any other ``scheme://`` URI resolves through
  ``pyarrow.fs.FileSystem.from_uri`` (S3/HDFS/GCS);
* :func:`register_filesystem` lets deployments (and tests) mount an
  explicit ``pyarrow.fs.FileSystem`` — e.g. a ``SubTreeFileSystem`` — on a
  scheme of their own, optionally with a ``spark_root`` translation so
  Spark jobs can reach the same bytes.

Manifest commit protocol (multi-writer safety):

* **local / atomic-rename stores** — the manifest is a single
  ``_manifest.json`` swapped via tmp + ``os.rename`` (POSIX-atomic), and
  :func:`commit_lock` is a true ``O_CREAT|O_EXCL`` mutex, so two local
  writers fully serialize.
* **object stores without atomic rename** — conditional-put emulation:
  the full manifest is written to an IMMUTABLE
  ``_manifest.<sid>.<uuid>.json`` (a reader can never observe a torn
  manifest), then a tiny ``_manifest.ptr`` names it (the commit point —
  one small PUT, object-atomic on S3/GCS).  The whole sequence runs
  under :func:`commit_lock`, emulated as write-settle-readback on a
  ``_commit.lock`` file with owner + timestamp fencing.  Residual
  window, per store: two writers can both believe they hold the lock
  only if writer B's existence check reads *before* writer A's lock
  write becomes visible AND B writes within the settle window — on
  strongly-consistent stores (S3 since 2020, GCS) that is the few-ms
  check-read→write gap; on eventually-consistent stores it is the
  visibility lag.  A real deployment closes it entirely with the
  store's conditional write (S3 ``If-None-Match``) or a lock service /
  catalog — :func:`commit_lock` is the single swap point for that.
"""
from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid as _uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyarrow import fs as pafs

__all__ = [
    "register_filesystem", "unregister_filesystem", "resolve", "spark_url",
    "exists", "isdir", "listdir", "read_text",
    "write_text", "rename", "remove", "makedirs", "rmtree",
    "read_json", "read_parquet", "write_parquet_file",
    "read_manifest", "committed_gens", "publish_manifest", "commit_lock",
    "CommitLockError",
]

_URI_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*)://")


@dataclass
class _Mount:
    fs: pafs.FileSystem
    spark_root: str | None  # local dir Spark uses for the same bytes
    atomic_rename: bool = False  # store guarantees an atomic move/replace


_REGISTRY: dict[str, _Mount] = {}
_LOCAL = pafs.LocalFileSystem()
# resolved remote filesystems, keyed by scheme://authority (pyarrow
# resolves e.g. the S3 region PER BUCKET at from_uri time, and two
# namenode authorities are different clusters — a bare-scheme key would
# hand back the wrong client). Value = (filesystem, strip_prefix) where
# strip_prefix reconstructs the fs-local path. FileSystem.from_uri
# re-runs credential/config resolution per call — one commit issues
# dozens of metadata ops, so the instance must be reused.
_FS_CACHE: dict[str, tuple[pafs.FileSystem, str]] = {}
_AUTH_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)")


def register_filesystem(scheme: str, filesystem: pafs.FileSystem,
                        spark_root: str | None = None,
                        atomic_rename: bool = False) -> None:
    """Mount ``filesystem`` on ``scheme://``. ``spark_root`` (a local
    directory holding the same bytes, e.g. the base dir of a
    ``SubTreeFileSystem``) lets :func:`spark_url` translate paths for
    Spark jobs that lack a Hadoop connector for the scheme.
    ``atomic_rename=True`` declares the store's move atomic (HDFS-class),
    letting the manifest commit keep the single-file rename swap instead
    of the pointer protocol."""
    _REGISTRY[scheme] = _Mount(filesystem, spark_root, atomic_rename)


def unregister_filesystem(scheme: str) -> None:
    _REGISTRY.pop(scheme, None)


def _strip_file(p: str) -> str:
    # Spark emits file:/x, file:///x and file://host/x variants; an
    # authority component (file://HOST/x) is dropped, not treated as a
    # path segment
    p = p[len("file:"):]
    if p.startswith("//"):
        rest = p[2:]
        slash = rest.find("/")
        p = rest[slash:] if slash >= 0 else "/"
    return p or "/"


def resolve(path: str) -> tuple[pafs.FileSystem, str]:
    """Split a path/URI into (pyarrow FileSystem, fs-local path)."""
    p = str(path)
    if p.startswith("file:"):
        return _LOCAL, _strip_file(p)
    m = _URI_RE.match(p)
    if m:
        scheme = m.group(1)
        if scheme in _REGISTRY:
            rel = p[m.end():].lstrip("/")
            return _REGISTRY[scheme].fs, rel
        am = _AUTH_RE.match(p)
        key = am.group(0) if am else p
        cached = _FS_CACHE.get(key)
        if cached is not None:
            fs, strip = cached
            if p.startswith(strip):
                return fs, p[len(strip):]
        fs, rel = pafs.FileSystem.from_uri(p)
        if p.endswith(rel):  # cacheable: strip + rel reconstructs p
            _FS_CACHE[key] = (fs, p[: len(p) - len(rel)])
        return fs, rel
    return _LOCAL, p


def spark_url(path: str) -> str:
    """Translate a metadata URI into one Spark's Hadoop layer can read.

    Identity for local paths and real ``s3://``/``hdfs://`` URIs (Spark
    has native connectors); registered test/deployment schemes translate
    through their ``spark_root``."""
    p = str(path)
    m = _URI_RE.match(p)
    if m and (mt := _REGISTRY.get(m.group(1))) and mt.spark_root:
        rel = p[m.end():].lstrip("/")
        return f"file:{mt.spark_root.rstrip('/')}/{rel}"
    return p


def _info(path: str) -> pafs.FileInfo:
    fs, p = resolve(path)
    return fs.get_file_info(p)


def exists(path: str) -> bool:
    return _info(path).type != pafs.FileType.NotFound


def isdir(path: str) -> bool:
    return _info(path).type == pafs.FileType.Directory


def listdir(path: str) -> list[str]:
    """Base names of a directory's children; [] when missing."""
    fs, p = resolve(path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(p, recursive=False))
    except FileNotFoundError:
        # ONLY not-found maps to empty; transient IO errors (throttling,
        # network) must propagate — swallowing one here would alias
        # _next_gen onto a live generation and overwrite it
        return []
    return [i.base_name for i in infos]


def read_text(path: str) -> str:
    fs, p = resolve(path)
    with fs.open_input_stream(p) as f:
        return f.read().decode("utf-8")


def write_text(path: str, text: str) -> None:
    fs, p = resolve(path)
    with fs.open_output_stream(p) as f:
        f.write(text.encode("utf-8"))


def rename(src: str, dst: str) -> None:
    """Move/replace within one filesystem. POSIX-atomic on local (the
    manifest-swap commit point); the store's move elsewhere (see module
    docstring for the object-store caveat)."""
    fs, s = resolve(src)
    _, d = resolve(dst)
    if isinstance(fs, pafs.LocalFileSystem):
        os.rename(s, d)  # true atomic replace
    else:
        fs.move(s, d)


def remove(path: str) -> None:
    fs, p = resolve(path)
    fs.delete_file(p)


def makedirs(path: str) -> None:
    fs, p = resolve(path)
    fs.create_dir(p, recursive=True)


def rmtree(path: str) -> None:
    """Recursive delete; missing paths are a no-op (GC idempotence)."""
    fs, p = resolve(path)
    try:
        fs.delete_dir(p)
    except FileNotFoundError:
        pass  # missing only; a real IO failure must surface, not skip GC


def read_json(path: str) -> dict | None:
    """The manifest read: None when missing or unparseable (a reader must
    never crash on a concurrent writer's half-visible swap)."""
    try:
        return json.loads(read_text(path))
    except Exception:
        return None


def read_parquet(path: str, columns: list[str] | None = None):
    """Driver-side read of a small parquet file/dir → pyarrow Table."""
    import pyarrow.parquet as pq

    fs, p = resolve(path)
    return pq.read_table(p, columns=columns, filesystem=fs)


def write_parquet_file(path: str, table, **write_opts) -> None:
    """``write_opts`` go to ``pyarrow.parquet.write_table``."""
    import pyarrow.parquet as pq

    fs, p = resolve(path)
    pq.write_table(table, p, filesystem=fs, **write_opts)


# -- manifest commit protocol (see module docstring) ------------------------

_MANIFEST = "_manifest.json"
_PTR = "_manifest.ptr"
_LOCK = "_commit.lock"
_VERSIONED_RE = re.compile(r"^_manifest\.(\d{12})\.[0-9a-f]{32}\.json$")


class CommitLockError(RuntimeError):
    """Another committer holds (or won) the commit lock; retry the whole
    operation from a fresh snapshot read."""


def _atomic_store(path: str) -> bool:
    """True when the store's move is an atomic replace (local POSIX,
    HDFS, or a mount registered with ``atomic_rename=True``)."""
    m = _URI_RE.match(str(path))
    if m and (mt := _REGISTRY.get(m.group(1))) is not None:
        return mt.atomic_rename
    f, _ = resolve(path)
    return isinstance(f, (pafs.LocalFileSystem, pafs.HadoopFileSystem))


def read_manifest(index_dir: str) -> dict | None:
    """Resolve the committed manifest: pointer protocol first (immutable
    versioned file named by ``_manifest.ptr``), legacy single-file second.
    None when the index has no manifest (or a torn/unreadable one)."""
    base = index_dir.rstrip("/")
    try:
        name = read_text(f"{base}/{_PTR}").strip()
    except Exception:
        name = ""
    # the ptr must name exactly a versioned manifest file — anything else
    # (corruption, truncation) falls back rather than reading a bad path
    if name and _VERSIONED_RE.match(name):
        m = read_json(f"{base}/{name}")
        if m is not None:
            return m
    return read_json(f"{base}/{_MANIFEST}")


def committed_gens(manifest: dict | None) -> list[int]:
    """The generations a snapshot holds: its manifest's list, sorted, and
    [] when nothing is committed. The only answer every reader and writer
    uses — a gen dir on disk that the manifest does not list (a crashed
    build's, a retained superseded one) is never read."""
    return sorted(int(g) for g in (manifest or {}).get("generations", []))


def publish_manifest(index_dir: str, payload: str, retain: int = 4) -> None:
    """Make ``payload`` (a JSON manifest) the committed snapshot.

    Atomic-rename stores: tmp + rename of ``_manifest.json`` (the
    original swap).  Other stores: write the immutable versioned file,
    swap the tiny pointer (commit point), mirror to ``_manifest.json``
    best-effort for legacy readers, and GC versioned files beyond the
    newest ``retain`` (a reader holding an older ptr value re-resolves
    through the mirror).  MUST run under :func:`commit_lock` when other
    writers may exist."""
    base = index_dir.rstrip("/")
    makedirs(base)
    if _atomic_store(base):
        tmp = f"{base}/._manifest.{_uuid.uuid4().hex}.tmp"
        write_text(tmp, payload)
        rename(tmp, f"{base}/{_MANIFEST}")
        return
    try:
        sid = int(json.loads(payload).get("snapshot_id", 0))
    except Exception:
        sid = 0
    name = f"_manifest.{sid:012d}.{_uuid.uuid4().hex}.json"
    write_text(f"{base}/{name}", payload)
    write_text(f"{base}/{_PTR}", name)  # commit point: one tiny PUT
    try:
        write_text(f"{base}/{_MANIFEST}", payload)  # legacy-reader mirror
    except Exception:
        pass
    old = sorted(n for n in listdir(base)
                 if _VERSIONED_RE.match(n) and n != name)
    for n in old[:-max(retain - 1, 0)] if retain > 1 else old:
        try:
            remove(f"{base}/{n}")
        except FileNotFoundError:
            pass


def _read_lock(lock_uri: str) -> dict | None:
    m = read_json(lock_uri)
    return m if isinstance(m, dict) else None


# process-local per-index mutex layered UNDER the store-level lock (the
# Delta-S3-LogStore pattern): same-process committers — concurrent build
# threads, a builder and a maintenance job sharing a SparkSession — are
# fully serialized regardless of the store's consistency; the store-level
# file only has to fence committers in OTHER processes/hosts.
_PROC_LOCKS: dict[str, threading.Lock] = {}
_PROC_LOCKS_GUARD = threading.Lock()


def _proc_lock(base: str) -> threading.Lock:
    with _PROC_LOCKS_GUARD:
        lk = _PROC_LOCKS.get(base)
        if lk is None:
            lk = threading.Lock()
            _PROC_LOCKS[base] = lk
        return lk


@contextmanager
def commit_lock(index_dir: str, ttl_s: float = 120.0,
                settle_s: float = 0.02, force_emulation: bool | None = None):
    """Serialize manifest commits on ``index_dir``.

    In-process committers: a per-index ``threading.Lock`` (full mutual
    exclusion, non-blocking — a held lock raises immediately so the
    caller's OCC retry loop re-reads a fresh snapshot).  Cross-process,
    local stores: an advisory ``flock(LOCK_EX)`` on a persistent lock
    file — kernel-owned, so a crashed holder's lock releases the instant
    its fds close (no ``ttl_s`` heuristics, no stale-break races; the
    lock FILE is never unlinked, which would reopen the classic
    flock-after-unlink double-hold).  Cross-process, other stores:
    write-settle-readback emulation with owner fencing — raises
    :class:`CommitLockError` when another fresh lock exists or the
    readback shows a competing writer won; the residual double-hold
    window is documented in the module docstring, and release deletes
    the lock only if still owned (never a successor's lock).

    **flock scope caveats** (why ``force_emulation`` exists): flock is
    per-HOST on network mounts configured without lock service (NFS
    ``nolock``, Lustre ``localflock``) — two hosts both "win" and a
    commit is silently lost. It is also inherited across ``fork``: a
    child forked while the lock is held keeps it until the child exits
    (this library never forks under a commit lock; pyspark workers fork
    from the JVM's python daemon, not the committing driver, so they do
    not inherit it). Multi-HOST writers on such mounts must set
    ``force_emulation=True`` (or env ``BARAM_LOCK_EMULATION=1``, or
    register the mount under a custom scheme) to get the settle-fenced
    emulation, and a real deployment serializes commits behind a
    catalog — this function is the single swap point."""
    base = index_dir.rstrip("/")
    plock = _proc_lock(base)
    if not plock.acquire(blocking=False):
        raise CommitLockError(
            f"commit lock held on {base} by another thread")
    try:
        lock_uri = f"{base}/{_LOCK}"
        token = _uuid.uuid4().hex
        f, lp = resolve(lock_uri)
        makedirs(base)
        if force_emulation is None:
            force_emulation = os.environ.get(
                "BARAM_LOCK_EMULATION", "") == "1"
        if isinstance(f, pafs.LocalFileSystem) and not force_emulation:
            import fcntl

            fd = os.open(lp, os.O_CREAT | os.O_WRONLY)
            try:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                except OSError as e:
                    raise CommitLockError(
                        f"commit lock held on {base}") from e
                # a MIXED-MODE committer (force_emulation / env set on
                # another process writing to this same dir) never takes
                # the flock — its live hold is only visible as a fresh
                # mode="emu" record, so honor it. Records left by flock
                # holders are truncated at release below; a fresh
                # mode="flock" record therefore means a CRASHED holder,
                # whose kernel lock we now hold — proceed.
                prior = _read_lock(lock_uri)
                if (prior is not None and prior.get("mode") == "emu"
                        and (time.time() - float(prior.get("ts", 0)))
                        < ttl_s):
                    raise CommitLockError(
                        f"commit lock held on {base} by emulation "
                        f"committer {prior.get('owner')}")
                # owner/ts are telemetry for humans; the kernel flock is
                # the actual mutex
                os.ftruncate(fd, 0)
                os.write(fd, json.dumps(
                    {"owner": token, "ts": time.time(),
                     "mode": "flock"}).encode())
                # symmetric settle fence (mirrors the emulation path's
                # write→settle→readback): an emulation committer may have
                # written its record between our _read_lock above and our
                # write — it never takes the flock, so our record clobbered
                # its and ITS readback backs off. The remaining window is
                # an emu write AFTER ours: wait out one settle and re-read;
                # if a fresh emu record clobbered ours, that committer's
                # readback sees its own record and proceeds — we are the
                # one to back off. Costs settle_s (20 ms default) per
                # cross-process local commit.
                if settle_s > 0:
                    time.sleep(settle_s)
                cur = _read_lock(lock_uri)
                if cur is None or cur.get("owner") != token:
                    raise CommitLockError(
                        f"lost mixed-mode commit-lock race on {base} to "
                        f"{(cur or {}).get('owner')}")
                try:
                    yield token
                finally:
                    # empty the record while the flock is still held so a
                    # later emulation-mode acquire does not see a stale
                    # "fresh" owner and spuriously wait out ttl_s
                    os.ftruncate(fd, 0)
            finally:
                os.close(fd)  # releases the flock; file stays in place
            return
        # object-store emulation: check → write → settle → readback fence
        existing = _read_lock(lock_uri)
        now = time.time()
        if existing is not None and \
                (now - float(existing.get("ts", 0))) < ttl_s:
            raise CommitLockError(
                f"commit lock held on {base} by {existing.get('owner')}")
        write_text(lock_uri, json.dumps(
            {"owner": token, "ts": now, "mode": "emu"}))
        if settle_s > 0:
            time.sleep(settle_s)
        cur = _read_lock(lock_uri)
        if cur is None or cur.get("owner") != token:
            raise CommitLockError(
                f"lost commit-lock race on {base} to "
                f"{(cur or {}).get('owner')}")
        try:
            yield token
        finally:
            cur = _read_lock(lock_uri)
            if cur is not None and cur.get("owner") == token:
                try:
                    remove(lock_uri)
                except FileNotFoundError:
                    pass
    finally:
        plock.release()
