"""Per-layer metrics of a traced run.

Each metric comes from one of three places, all outside the package:
spans the tracer records around public functions, Spark's status store
for the jobs a call started, and layer probes that call a layer's public
functions directly on seeded inputs in this process. The comment on each
group names the end-to-end metric it should move.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

from . import gen, oracle, probes
from .workloads import pct

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STAGE_KEYS = ("executor_run_s", "executor_cpu_s", "jvm_gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "tasks", "task_skew")
WAVE_KEYS = ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes",
             "task_skew")
BUILD_STAGES = {"extract": "extract_seconds", "tokenize": "tokenize_seconds",
                "stats": "term_stats_seconds", "postings": "postings_seconds"}
OPERATOR_DETAIL = ("lsh_candidate_pairs", "ngram_jaccard",
                   "minhash_signatures", "doc_tf", "term_df", "json_extract",
                   "fingerprint", "bm25_topk")
DETAIL_KEYS = ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes",
               "task_skew")
SELF_LAYERS = ("serving", "query.engine", "query.wand", "query.hybrid",
               "textproc.analyzer", "index.builder", "index.fs")
PROBE_PAGES = 300
OVERHEAD_QUERIES = 150  # per leg of the tracing-overhead A/B


def operator_names() -> list[str]:
    import __spark_entry__ as entry

    return sorted(entry.oracle_sql())


def per_layer() -> dict[str, str]:
    """Every per-layer metric BENCHMARK.json names, with its unit, in print
    order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


# -- textproc ---------------------------------------------------------------------
def _probe_pages(run, source: str):
    src = gen.PageSource(source, run.seed)
    # indices past everything the run built from, so the batch is unseen
    return src.render(src.indices(100_000, PROBE_PAGES))


def textproc(run) -> dict:
    """extract_batch and analyze_index in this process, on seeded batches of
    both corpora. Moves build_docs_per_s (serve_bm25) and
    ingest_docs_per_s (ingest_while_serving)."""
    from baram_spark.textproc import analyzer
    from baram_spark.textproc.extract import extract_batch

    out = {}
    pdf = _probe_pages(run, "corpus")
    walls = []
    for _ in range(3):
        t = time.perf_counter()
        docs = extract_batch(pdf["html"], pdf["url"])
        walls.append(time.perf_counter() - t)
    out["textproc.extract.docs_per_s"] = len(pdf) / statistics.median(walls)
    cache = analyzer._segment_hangul_cached
    for name in ("corpus", "bigvocab"):
        if name == "bigvocab":
            p = _probe_pages(run, "bigvocab")
            docs = extract_batch(p["html"], p["url"])
        texts = [t for t in list(docs["title"]) + list(docs["text"]) if t]
        before = cache.cache_info()
        t = time.perf_counter()
        n_tokens = sum(len(analyzer.analyze_index(x)) for x in texts)
        wall = time.perf_counter() - t
        after = cache.cache_info()
        hits, misses = after.hits - before.hits, after.misses - before.misses
        out[f"textproc.analyzer.index_tokens_per_s.{name}"] = n_tokens / wall
        out[f"textproc.analyzer.cache_hit_ratio.{name}"] = (
            hits / (hits + misses) if hits + misses else 1.0)
    return out


# -- index ----------------------------------------------------------------------
def index(run) -> dict:
    """Build and wave stage metrics from the status store, the build's own
    (nested) stage timers, the lineage ledger, codec numbers and commit
    time. Move build_docs_per_s, ingest_docs_per_s, freshness_s and
    index_bytes_per_input_byte."""
    from baram_spark.index import codec
    from baram_spark.index.lineage import LineageLedger
    import pyarrow.dataset as ds

    out = {f"index.build.{k}": float(run.index["stages"][k])
           for k in STAGE_KEYS}
    for k in WAVE_KEYS:
        out[f"index.ingest.{k}"] = statistics.median(
            s[k] for s in run.wave_stages)
    for s, key in BUILD_STAGES.items():
        out[f"index.build.stage_s.nested.{s}"] = run.index["metrics"].get(
            key, 0.0)
    idx = run.index["dir"]
    rows = [r for r in LineageLedger(run.spark, f"{idx}/lineage").metrics()
            if r["stage"] == "postings"]
    secs = [r["seconds"] for r in rows]
    out["index.lineage.partition_skew"] = (
        max(secs) / statistics.median(secs) if secs else 1.0)
    stats = run.index["builder"].codec_stats(persist=False)
    n_post = sum(v["n_postings"] for v in stats.values())
    out["index.codec.bytes_per_posting"] = (
        sum(v["postings_bytes"] for v in stats.values()) / max(n_post, 1))
    tbl = ds.dataset(f"{idx}/postings", format="parquet",
                     partitioning="hive").to_table(
        columns=["postings", "skips"])
    blobs = [bytes(b) for b in tbl["postings"].to_pylist()]
    skips = [bytes(s) for s in tbl["skips"].to_pylist()]
    t = time.perf_counter()
    ids, tfs, dls, dfs = codec.decode_many(blobs, skips)
    dec = time.perf_counter() - t
    ends = np.cumsum(dfs)
    starts = ends - dfs
    t = time.perf_counter()
    codec.encode_many(ids, tfs, dls, starts, ends,
                      np.full(ids.size, float(np.mean(dls)) or 1.0))
    enc = time.perf_counter() - t
    out["index.codec.decode_postings_per_s"] = ids.size / dec
    out["index.codec.encode_postings_per_s"] = ids.size / enc
    out["index.fs.commit_s"] = _commit_s(run.tracer)
    out["index.bytes_written_per_input_byte"] = run.written / run.input_bytes
    return out


def _commit_s(tracer) -> float:
    """Time inside fs.commit_lock, plus fs.publish_manifest calls made
    outside it."""
    lock = {i for i, s in enumerate(tracer.spans)
            if s and s[0] == "index.fs.commit_lock"}
    total = 0.0
    for i, s in enumerate(tracer.spans):
        if not s:
            continue
        if i in lock or (s[0] == "index.fs.publish_manifest"
                         and s[3] not in lock):
            total += s[2] - s[1]
    return total


# -- query and serving -------------------------------------------------------------
def _mean_ms(tracer, name: str) -> float:
    d = tracer.durations(name)
    return 1000.0 * sum(d) / len(d) if d else 0.0


def serving(run, totals: dict) -> dict:
    """Query-path spans and counts. Move query_p50_ms / query_p99_ms on
    serve_bm25 and ingest_while_serving, freshness_s and peak_rss_mb."""
    tr = run.tracer
    c = tr.counts
    n_search = max(totals.get("query.engine.search", {}).get("calls", 0), 1)
    search = totals.get("serving.search", {"calls": 0, "self_s": 0.0})
    ctx = run.ctx
    eng = ctx.engine
    snap_bytes = ctx.meta.nbytes
    if ctx.emb_ids is not None:
        snap_bytes += int(ctx.emb_ids.size) * ctx.dim * 8
    for lists in (getattr(eng, "_mem_postings", None) or {}).values():
        snap_bytes += sum(len(x[1]) + len(x[2]) + len(x[3]) for x in lists)
    lags = [s.lag_s * 1000.0 for s in run.open_samples]
    open_ms = [s.latency_s * 1000.0 for s in run.open_samples]
    return {
        "textproc.analyzer.search_us": _mean_ms(
            tr, "textproc.analyzer.search") * 1000.0,
        "query.engine.search_ms": _mean_ms(tr, "query.engine.search"),
        "query.wand.blocks_decoded_ratio": (
            c["query.wand.blocks_decoded"] / c["query.wand.blocks_present"]
            if c["query.wand.blocks_present"] else 0.0),
        "query.wand.postings_lists_per_query":
            c["query.wand.postings_lists"] / n_search,
        "query.hybrid.embed_query_ms": _mean_ms(tr, "query.hybrid.embed_query"),
        "query.hybrid.fusion_ms": _mean_ms(tr, "query.hybrid.fusion"),
        "query.hybrid.highlight_ms": _mean_ms(tr, "query.hybrid.highlight"),
        "serving.hydrate_ms": (1000.0 * search["self_s"]
                               / max(search["calls"], 1)),
        "serving.refresh_s": _mean_ms(tr, "serving.refresh") / 1000.0,
        "serving.snapshot_bytes": float(snap_bytes),
        "serving.open_loop_p50_ms": pct(open_ms, 50) if open_ms else 0.0,
        "serving.open_loop_p99_ms": pct(open_ms, 99) if open_ms else 0.0,
        "serving.generator_lag_ms": pct(lags, 99) if lags else 0.0,
        "serving.query_samples": float(run.n_samples),
    }


def tracing_overhead(run) -> float:
    """Wall of one fixed closed-loop batch with spans on, divided by the
    same batch with them off (two alternating pairs)."""
    order = gen.query_stream(run.seed + 3, run.pool, OVERHEAD_QUERIES)
    walls = {True: 0.0, False: 0.0}
    for traced in (False, True, False, True):
        if traced:
            run.tracer.install()
        t = time.perf_counter()
        for q in order:
            run.search(run.pool[q])
        walls[traced] += time.perf_counter() - t
        if traced:
            run.tracer.uninstall()
    return walls[True] / walls[False]


# -- operators --------------------------------------------------------------------
def operator_suite(run) -> dict:
    """All oracle-backed __spark_entry__ queries on seeded tables, in a fixed
    order, each checked against DuckDB after its timed call. Moves the
    operator layer's own numbers; no end-to-end metric here reads it."""
    import __spark_entry__ as entry

    sf = os.path.join(run.work, "sf")
    os.makedirs(sf, exist_ok=True)
    gen.write_operator_tables(run.seed, sf)
    queries, sqls = entry.queries(), entry.oracle_sql()
    con = oracle.duck(sf)
    out, total = {}, 0.0
    for name in operator_names():
        with run.stages.group(f"entry:{name}") as sm:
            t = time.perf_counter()
            try:
                df = queries[name](run.spark, sf)
                rows = df.collect()
            except Exception as e:  # counted as a failed operation
                df = None
                run.op(False, f"operator {name}: {e!r}")
            wall = time.perf_counter() - t
        total += wall
        out[f"entry.{name}.wall_s"] = wall
        if name in OPERATOR_DETAIL:
            for k in DETAIL_KEYS:
                out[f"entry.{name}.{k}"] = float(sm[k])
        if df is not None:
            ok = oracle.same_as_duckdb(con, sqls[name], df.columns,
                                       [r.asDict() for r in rows])
            run.op(ok, f"operator {name}: differs from DuckDB")
    con.close()
    out["entry.suite_s"] = total
    out["entry.persisted_rdds_after"] = float(probes.persisted_rdds(run.spark))
    return out


def self_times(totals: dict) -> dict:
    out = {f"trace.self_s.{layer}": 0.0 for layer in SELF_LAYERS}
    for name, t in totals.items():
        for layer in SELF_LAYERS:
            if name == layer or name.startswith(layer + "."):
                out[f"trace.self_s.{layer}"] += t["self_s"]
    return out
