#!/usr/bin/env python3
"""Local query latency against the number of index generations.

Builds one base index plus tiny waves, one generation each, and at 1, 4
and 16 committed generations times every query of a fixed pool on a
preloaded engine (``mode="local"``, top-10). Each query runs ``REPS``
times and keeps its fastest run; the p50 and p99 are over the pool.
Every answer is checked, ids and scores, against brute force over the
committed docs; a mismatch exits non-zero.

    python scripts/generations_probe.py [base_pages] [wave_pages] [reps]

Run it from the root of the repository (Spark's Python workers import the
package from the working directory). Defaults: 400 base pages, waves of
5 new pages, 3 reps. Prints one JSON line per generation count.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = int(sys.argv[1]) if len(sys.argv) > 1 else 400
WAVE = int(sys.argv[2]) if len(sys.argv) > 2 else 5
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 3
GEN_COUNTS = (1, 4, 16)


def query_pool(n: int = 200, seed: int = 1) -> list[str]:
    """The extended rank-identity set plus seeded 1-3 word vocabulary
    queries, skewed to frequent words the way a query log is."""
    from baram_spark.corpus import VOCAB, make_query_set_extended

    rng = np.random.default_rng(seed)
    ranks = np.minimum(rng.zipf(1.3, size=3 * n), len(VOCAB)) - 1
    pool = [q["query_text"] for q in make_query_set_extended()]
    for i in range(n):
        words = ranks[3 * i : 3 * i + int(rng.integers(1, 4))]
        pool.append(" ".join(VOCAB[r] for r in words))
    return pool


def _norm(hits):
    return [(d, round(s, 9)) for d, s in hits]


def probe(spark, out: str, pool: list[str]) -> dict:
    from baram_spark.index import fs
    from baram_spark.index.builder import read_gen_table
    from baram_spark.query.bm25 import BruteForceIndex
    from baram_spark.query.engine import SearchEngine

    gens = fs.committed_gens(fs.read_manifest(out))
    docs = read_gen_table(spark, out, "docs", gens).select(
        "doc_id", "title", "text").toPandas()
    oracle = BruteForceIndex.build(
        [(int(r.doc_id), r.title, r.text) for r in docs.itertuples()])
    eng = SearchEngine(spark, out, preload=True)
    best = []
    for q in pool:
        got = eng.search(q, k=10, mode="local")
        if _norm(got) != _norm(oracle.search(q, k=10)):
            raise SystemExit(f"mismatch at {len(gens)} generations: {q!r}")
        times = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            eng.search(q, k=10, mode="local")
            times.append(time.perf_counter() - t0)
        best.append(min(times) * 1e3)
    return {"generations": len(gens), "docs": len(docs),
            "queries": len(pool),
            "p50_ms": round(float(np.percentile(best, 50)), 3),
            "p99_ms": round(float(np.percentile(best, 99)), 3),
            "mean_ms": round(float(np.mean(best)), 3)}


def main() -> None:
    from baram_spark.corpus import pages_df
    from baram_spark.index import fs
    from baram_spark.index.builder import IndexBuilder
    from baram_spark.session import get_spark

    spark = get_spark(app_name="generations-probe", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="gen_probe_")
    try:
        out = f"{work}/idx"
        b = IndexBuilder(spark, out, n_shards=4)
        b.build(pages_df(spark, BASE, partitions=4), fingerprint="base")
        pool = query_pool()
        n_pages, gens = BASE, [0]
        print(json.dumps(probe(spark, out, pool)), flush=True)
        while len(gens) < max(GEN_COUNTS):
            n_pages += WAVE
            # the wave re-offers every earlier page; dedup keeps the new
            # ones, so each wave is one small generation (none when all
            # its new pages are deleted articles)
            b.build_incremental(pages_df(spark, n_pages, partitions=2),
                                fingerprint=f"wave{n_pages}")
            grown = fs.committed_gens(fs.read_manifest(out))
            if len(grown) > len(gens) and len(grown) in GEN_COUNTS:
                print(json.dumps(probe(spark, out, pool)), flush=True)
            gens = grown
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
