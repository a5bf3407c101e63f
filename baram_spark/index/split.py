"""Shard-set split of a committed index for multi-node serving.

The serving topology (``serving.py`` module docstring, mirroring the
reference's OpenSearch layout, ``/root/reference/src/embedding/mod.rs``
index-per-node + coordinator): each serving node holds ONE shard-set
resident and a thin router (``baram_spark.router``) fans out / k-merges.
``split_index`` materializes those per-node index directories from one
committed index:

* **global stats are copied verbatim** — every generation's
  ``term_stats`` (df over all its shards) and ``gen_meta`` (n_docs,
  dl_sum, avgdl_pack) and the snapshot manifest. A node sums them over
  the committed generations, so BM25 idf/avgdl are the GLOBAL values on
  every node, a node's per-shard scores equal the single-engine scores
  exactly and the router's k-merge is rank- AND score-identical (the DFS
  query-then-fetch property, for free, because the stats tables are tiny
  and immutable per generation).
* **postings are file-copied by shard directory** — the layout is already
  ``postings/gen=G/shard=K``, so a node's shard-set is a byte-identical
  subset of the parent index; no Spark rewrite, no re-encode.
* **docs / doc_attrs / embeddings are Spark-filtered by the same
  ``shard_expr`` the builder used** (``build.py:429-437``), so a node's
  metadata covers exactly the docs its postings can surface.

Scale note: the split is one column-pruned filter-write per gen per node
plus O(shard-dirs) file copies — no shuffle anywhere (the filter is a
narrow map; writes inherit the scan partitioning). At 100 TB the postings
copy is an object-store server-side copy per shard directory.
"""

from __future__ import annotations

import json

import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import SparkSession, functions as F

from . import fs
from .builder import _parquet_rows
from .fs import spark_url as _sp

#: small tables copied verbatim to every node (global stats + metadata)
_GLOBAL_DIRS = ("term_stats", "gen_meta", "index_meta", "deletes",
                "clusters")


def _copy_tree(src: str, dst: str) -> None:
    """Copy a file or directory tree. ``pafs.copy_files`` does not create
    destination directories, so mirror the dir structure first."""
    sfs, sp = fs.resolve(src)
    dfs, dp = fs.resolve(dst)
    if sfs.get_file_info(sp).type == pafs.FileType.Directory:
        dfs.create_dir(dp, recursive=True)
        for info in sfs.get_file_info(pafs.FileSelector(sp, recursive=True)):
            if info.type == pafs.FileType.Directory:
                rel = info.path[len(sp):].lstrip("/")
                dfs.create_dir(f"{dp}/{rel}", recursive=True)
    pafs.copy_files(sp, dp, source_filesystem=sfs,
                    destination_filesystem=dfs)


def _any_parquet_file(root: str) -> str | None:
    """First parquet data file under ``root`` (for schema-only writes).

    Walks gen -> shard -> files level by level and stops at the first
    hit — a recursive selector would enumerate EVERY data file (millions
    of objects at scale) on the driver just to find one."""
    if not fs.exists(root):
        return None
    f, p = fs.resolve(root)
    stack = [p]
    while stack:
        cur = stack.pop()
        dirs = []
        for info in f.get_file_info(pafs.FileSelector(cur)):
            if (info.type == pafs.FileType.File
                    and info.base_name.endswith(".parquet")):
                return info.path
            if info.type == pafs.FileType.Directory:
                dirs.append(info.path)
        stack.extend(sorted(dirs, reverse=True))
    return None


def split_index(
    spark: SparkSession,
    index_dir: str,
    node_dirs: list[str],
    shard_sets: list[set[int]] | None = None,
) -> list[set[int]]:
    """Materialize one serving-node index per ``node_dirs`` entry.

    ``shard_sets[i]`` is the set of shard ids node ``i`` serves; default is
    round-robin (shard ``s`` → node ``s % len(node_dirs)``). Every shard
    must be assigned to exactly one node for the router's merge to equal
    the single-engine result (the router dedupes by doc_id, so replicated
    shards stay CORRECT but waste node memory).

    Returns the shard sets actually used.
    """
    index_dir = index_dir.rstrip("/")
    n_nodes = len(node_dirs)
    if n_nodes < 1:
        raise ValueError("need at least one node dir")
    if fs.exists(f"{index_dir}/_shard_set.json"):
        # a node dir holds a SUBSET of the global shards but its copied
        # manifest claims the global n_shards: re-splitting it would
        # assign shards the source does not hold (nodes silently serving
        # nothing) and recount n_embeddings from the subset (IVF
        # activation diverging across the fleet)
        raise ValueError(
            f"{index_dir} is itself a split shard-set node "
            "(_shard_set.json present); split the ORIGINAL index"
        )
    # ONE manifest snapshot drives the whole split: gens, n_shards and
    # the payload every node receives. Re-reading per node would let a
    # concurrent commit hand later nodes a manifest whose generation
    # list this split never materialized (engines crash on the missing
    # gen dirs) — and an internally inconsistent topology.
    manifest = fs.read_manifest(index_dir)
    if not manifest or manifest.get("n_shards") is None:
        raise ValueError(
            f"{index_dir} has no snapshot manifest with n_shards; "
            "split_index requires a manifest-committed index"
        )
    n_shards = int(manifest["n_shards"])
    if shard_sets is None:
        shard_sets = [
            {s for s in range(n_shards) if s % n_nodes == i}
            for i in range(n_nodes)
        ]
    if len(shard_sets) != n_nodes:
        raise ValueError("one shard set per node dir")
    assigned = sorted(s for ss in shard_sets for s in ss)
    if assigned != sorted(set(assigned)):
        raise ValueError(f"shard assigned twice: {assigned}")
    missing = set(range(n_shards)) - set(assigned)
    if missing:
        raise ValueError(f"unassigned shards: {sorted(missing)}")
    bad = [s for s in assigned if s < 0 or s >= n_shards]
    if bad:
        raise ValueError(
            f"shard ids out of range [0, {n_shards}): {sorted(bad)}")
    empty = [i for i, ss in enumerate(shard_sets) if not ss]
    if empty:
        # validated BEFORE any node dir is materialized — an empty set
        # would otherwise fail mid-split (gens with wrote_any=False have
        # no shard to plant the schema-only file under), leaving partial
        # multi-node output with an opaque error
        raise ValueError(
            f"node(s) {empty} have an empty shard set "
            f"(n_shards={n_shards}, n_nodes={n_nodes}); every serving "
            "node must hold >= 1 shard — use fewer node dirs or pass "
            "explicit shard_sets"
        )

    from .build import shard_expr

    gens = fs.committed_gens(manifest)
    post_schema_file = _any_parquet_file(f"{index_dir}/postings")
    post_schema = None
    if post_schema_file is not None:
        # read ONCE — the per-(node, gen) loop below would re-fetch the
        # identical schema from the store
        sfs, sp0 = fs.resolve(post_schema_file)
        post_schema = pq.read_schema(sp0, filesystem=sfs)

    # global committed embedding count, written into every node's split
    # descriptor: ServingContext keys its IVF activation off this number
    # (when present) instead of the node-local matrix size, so a split
    # topology and the unsplit engine flip to approximate vector serving
    # at the SAME corpus size (see router.py's identity contract).
    n_emb_global = sum(_parquet_rows(f"{index_dir}/embeddings/gen={g}")
                       for g in gens)

    for node_dir in node_dirs:
        nd = node_dir.rstrip("/")
        if fs.exists(nd) and fs.listdir(nd):
            # re-splitting INTO a populated dir only adds files: a
            # previous assignment's postings shard dirs would survive
            # inside still-committed gen dirs and silently distort the
            # node's local top-k (stale hits crowd out real ones)
            raise ValueError(
                f"node dir {nd} is not empty; split into fresh dirs "
                "(or remove the old node dir first)"
            )

    for node_dir, shards in zip(node_dirs, shard_sets):
        node_dir = node_dir.rstrip("/")
        fs.makedirs(node_dir)

        # 1. global stats + metadata, verbatim (identical idf/avgdl/bounds)
        for name in _GLOBAL_DIRS:
            src = f"{index_dir}/{name}"
            if fs.exists(src):
                _copy_tree(src, f"{node_dir}/{name}")
        # the ONE manifest payload snapshotted above — not a re-read
        fs.write_text(f"{node_dir}/_manifest.json",
                      json.dumps(manifest, sort_keys=True))

        # 2. postings: byte-identical file copy of this node's shard dirs
        for g in gens:
            wrote_any = False
            for s in sorted(shards):
                src = f"{index_dir}/postings/gen={g}/shard={s}"
                if fs.exists(src):
                    _copy_tree(src, f"{node_dir}/postings/gen={g}/shard={s}")
                    wrote_any = True
            if not wrote_any and post_schema is not None:
                # a committed gen with no rows for this shard-set must
                # still open (the engine reads every committed gen dir):
                # plant one schema-only parquet file
                dst = (f"{node_dir}/postings/gen={g}"
                       f"/shard={min(shards)}/empty.parquet")
                fs.write_parquet_file(dst, post_schema.empty_table())

        # 3. docs / doc_attrs / embeddings: shard-filtered Spark rewrite
        in_set = [int(s) for s in sorted(shards)]
        for g in gens:
            src = f"{index_dir}/docs/gen={g}"
            if fs.exists(src):
                (spark.read.parquet(_sp(src))
                 .filter(shard_expr(n_shards).cast("int").isin(in_set))
                 .write.mode("overwrite")
                 .parquet(_sp(f"{node_dir}/docs/gen={g}")))
            src = f"{index_dir}/doc_attrs/gen={g}"
            if fs.exists(src):
                (spark.read.parquet(_sp(src))
                 .filter(F.col("shard").isin(in_set))
                 .write.mode("overwrite")
                 .parquet(_sp(f"{node_dir}/doc_attrs/gen={g}")))
            src = f"{index_dir}/embeddings/gen={g}"
            if fs.exists(src):
                (spark.read.parquet(_sp(src))
                 .filter(shard_expr(n_shards).cast("int").isin(in_set))
                 .write.mode("overwrite")
                 .parquet(_sp(f"{node_dir}/embeddings/gen={g}")))

        # node-local split descriptor: mostly ops telemetry, but
        # n_embeddings is load-bearing — _Snapshot uses it to key IVF
        # activation to the GLOBAL corpus size (topology-consistent
        # approximate/exact switching)
        fs.write_text(
            f"{node_dir}/_shard_set.json",
            json.dumps({"source": index_dir, "n_shards": n_shards,
                        "shards": sorted(int(s) for s in shards),
                        "n_embeddings": int(n_emb_global)}),
        )
    return shard_sets
