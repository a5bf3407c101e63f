"""spark-submit entry point.

    spark-submit --py-files baram_spark.zip -m baram_spark  <cmd> [args]
    # or locally:  python -m baram_spark <cmd> [args]

Commands (mirroring the reference CLI, ``/root/reference/src/main.rs``):

    index   (--pages PATH | --markdown DIR) --out DIR [--shards N]
            [--fingerprint F] [--no-resume] [--incremental] [--since TS]
    search  --index DIR --query TEXT [--k K] [--mode local|distributed]
            [--min-score X] [--hybrid] [--category C] [--publisher P]
            [--date-from YYYY-MM-DD] [--date-to YYYY-MM-DD]
    serve   --index DIR [--host H] [--port P]    (REST /api/search + /api/health)
    embed-serve [--host H] [--port P] [--dim D]  (standalone embedding service)
    stats   --index DIR                          (doc/postings/generation counts)
    cluster --index DIR [--threshold X] [--min-size N] [--out PATH]
    maintenance --index DIR [--retain-snapshots N] [--skip-cluster]
            [--notify URL]     (merge gens+tombstones -> vacuum -> recluster
                                -> POST <URL>/api/refresh)
    bench   (delegates to bench.py defaults)
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI entry. ``spark`` may be injected (tests / embedding callers);
    the CLI only stops a session it created itself."""
    parser = argparse.ArgumentParser(prog="baram_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_index = sub.add_parser("index")
    src = p_index.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages")
    # the reference `index` command's markdown-corpus path: parse the
    # crawler's markdown files and index WITHOUT re-extraction
    src.add_argument("--markdown")
    p_index.add_argument("--out", required=True)
    p_index.add_argument("--shards", type=int, default=8)
    p_index.add_argument("--fingerprint", default=None)
    p_index.add_argument("--no-resume", action="store_true")
    p_index.add_argument("--incremental", action="store_true")
    p_index.add_argument("--since", default=None)
    # build-time embeddings (hybrid/vector search + the cluster subcommand
    # read the embeddings/gen=G artifact; vectorize.rs embeds at index time)
    p_index.add_argument("--embeddings", action="store_true")
    # posting codec: varint (default, best on mixed/short lists), for
    # (exception-free bit-pack), pfor (PForDelta with patched exceptions
    # -- best on long skewed lists; see codec.py)
    p_index.add_argument("--codec", default="varint",
                         choices=["varint", "for", "pfor"])

    p_search = sub.add_parser("search")
    p_search.add_argument("--index", required=True)
    p_search.add_argument("--query", required=True)
    p_search.add_argument("--k", type=int, default=10)
    p_search.add_argument("--mode", default="local")
    p_search.add_argument("--min-score", type=float, default=None)
    p_search.add_argument("--hybrid", action="store_true")
    def _date(s: str) -> str:
        from datetime import datetime as _dt

        for fmt in ("%Y-%m-%d", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S"):
            try:
                _dt.strptime(s, fmt)
                return s
            except ValueError:
                continue
        raise argparse.ArgumentTypeError(
            f"{s!r} is not a date (use YYYY-MM-DD[ HH:MM:SS])"
        )

    # filter context, pre-ranking (SearchConfig: category/date_from/date_to,
    # src/embedding/mod.rs:135-175)
    p_search.add_argument("--category", default=None)
    p_search.add_argument("--publisher", default=None)
    p_search.add_argument("--date-from", type=_date, default=None)
    p_search.add_argument("--date-to", type=_date, default=None)

    p_serve = sub.add_parser("serve")
    p_serve.add_argument("--index", required=True)
    p_serve.add_argument("--host", default="127.0.0.1")
    p_serve.add_argument("--port", type=int, default=3000)
    # readiness probe: load the index, bind the socket, print /api/health,
    # exit 0 — the `nginx -t` analog (also what the CLI smoke test runs)
    p_serve.add_argument("--check", action="store_true")

    # multi-node topology: split an index into per-node shard-sets and
    # route queries across the nodes (the OpenSearch coordinator analog)
    p_split = sub.add_parser("split")
    p_split.add_argument("--index", required=True)
    p_split.add_argument("--out", required=True, nargs="+",
                         help="one output dir per serving node")
    p_route = sub.add_parser("route")
    p_route.add_argument("--nodes", required=True,
                         help="comma-separated serving-node base URLs")
    p_route.add_argument("--host", default="127.0.0.1")
    p_route.add_argument("--port", type=int, default=3000)
    p_route.add_argument("--check", action="store_true")

    # standalone embedding service (embedding_server, serve.rs:73-130):
    # no Spark session — the model swap point over plain HTTP
    p_embed = sub.add_parser("embed-serve")
    p_embed.add_argument("--host", default="127.0.0.1")
    p_embed.add_argument("--port", type=int, default=8100)
    p_embed.add_argument("--dim", type=int, default=64)
    p_embed.add_argument("--check", action="store_true")

    p_stats = sub.add_parser("stats")
    p_stats.add_argument("--index", required=True)

    p_cluster = sub.add_parser("cluster")
    p_cluster.add_argument("--index", required=True)
    p_cluster.add_argument("--threshold", type=float, default=0.75)
    p_cluster.add_argument("--min-size", type=int, default=2)
    p_cluster.add_argument("--out", default=None)

    # one-command maintenance window: consolidate generations + pending
    # tombstones, expire superseded snapshots, refresh the derived cluster
    # table, then tell a serving node to re-open at the new snapshot
    p_maint = sub.add_parser("maintenance")
    p_maint.add_argument("--index", required=True)
    p_maint.add_argument("--retain-snapshots", type=int, default=2)
    p_maint.add_argument("--threshold", type=float, default=0.75)
    p_maint.add_argument("--min-size", type=int, default=2)
    p_maint.add_argument("--skip-cluster", action="store_true")
    p_maint.add_argument("--notify", default=None,
                         help="serving base URL to POST /api/refresh")

    args = parser.parse_args(argv)

    if args.cmd == "embed-serve":
        from baram_spark.serving import make_embed_server

        server = make_embed_server(dim=args.dim, host=args.host,
                                   port=args.port)
        host, port = server.server_address[:2]
        if args.check:
            server.server_close()
            print(json.dumps({"status": "ok",
                              "model": f"hash-embed-{args.dim}",
                              "ready": True}))
        else:
            print(f"baram-spark embedding server on http://{host}:{port}")
            print("  GET  /health       - Health check")
            print("  POST /embed        - Embed one text")
            print("  POST /embed/batch  - Embed a batch")
            try:
                server.serve_forever()
            except KeyboardInterrupt:
                server.shutdown()
        return 0

    if args.cmd == "route":
        # pure coordinator: no index state, no Spark session
        from baram_spark.router import Router, make_router_server

        router = Router([u for u in args.nodes.split(",") if u])
        server = make_router_server(router, host=args.host, port=args.port)
        host, port = server.server_address[:2]
        if args.check:
            server.server_close()
            print(json.dumps({"status": "ok", "nodes": len(router.nodes)}))
        else:
            print(f"baram-spark router on http://{host}:{port} "
                  f"({len(router.nodes)} nodes)")
            try:
                server.serve_forever()
            except KeyboardInterrupt:
                server.shutdown()
        return 0

    owns_spark = spark is None
    if owns_spark:
        from baram_spark.session import get_spark

        spark = get_spark(app_name=f"baram-{args.cmd}")

    if args.cmd == "index":
        from baram_spark.index.builder import IndexBuilder

        from baram_spark.index.codec import (
            CODEC_FOR,
            CODEC_PFOR,
            CODEC_VARINT,
        )

        codec = {"varint": CODEC_VARINT, "for": CODEC_FOR,
                 "pfor": CODEC_PFOR}[args.codec]
        builder = IndexBuilder(
            spark, args.out, n_shards=args.shards,
            build_embeddings=args.embeddings, codec=codec,
        )
        fp = args.fingerprint or f"cli-{int(time.time())}"
        if args.markdown:
            if args.incremental or args.since:
                parser.error(
                    "--markdown is a fresh gen-0 build; --incremental/"
                    "--since apply only to --pages input"
                )
            from baram_spark.sources.markdown import (
                read_markdown_dir,
                to_index_docs,
            )

            docs = to_index_docs(read_markdown_dir(spark, args.markdown))
            metrics = builder.build_docs(docs, fp,
                                         resume=not args.no_resume)
        else:
            pages = spark.read.parquet(args.pages)
            if args.incremental:
                metrics = builder.build_incremental(
                    pages, fp, since=args.since, resume=not args.no_resume
                )
            else:
                metrics = builder.build(pages, fp,
                                        resume=not args.no_resume)
        print(json.dumps(metrics, default=str))
    elif args.cmd == "search":
        from baram_spark.query.engine import SearchEngine

        engine = SearchEngine(spark, args.index, preload=(args.mode == "local"))
        t0 = time.time()
        hits = engine.search(
            args.query, k=args.k, min_score=args.min_score, mode=args.mode,
            category=args.category, date_from=args.date_from,
            date_to=args.date_to, publisher=args.publisher,
        )
        if args.hybrid:
            from baram_spark.index import fs
            from baram_spark.index.builder import read_gen_table
            from baram_spark.query.hybrid import embed_docs, hybrid_search, knn_search

            emb_dir = f"{args.index}/embeddings"
            emb_gens = [g for g in engine._committed
                        if fs.exists(f"{emb_dir}/gen={g}")]
            if emb_gens:
                # build-time artifact at the COMMITTED snapshot: one
                # parquet read, zero embedding jobs
                emb = read_gen_table(spark, args.index, "embeddings",
                                     emb_gens)
            else:
                print(
                    "warning: no build-time embeddings at "
                    f"{emb_dir} — embedding the corpus per-query is a full "
                    "scan; rebuild with build_embeddings=True",
                    file=sys.stderr,
                )
                emb = embed_docs(read_gen_table(spark, args.index, "docs",
                                                engine._committed))
            # filter context applies to BOTH fusion inputs: an
            # out-of-filter doc must not enter through the knn side
            allowed = engine._allowed_docs(args.category, args.date_from,
                                           args.date_to, args.publisher)
            if allowed is not None:
                from pyspark.sql import functions as F

                emb = emb.join(F.broadcast(allowed.select("doc_id")),
                               "doc_id", "left_semi")
            knn = knn_search(emb, args.query, k=args.k)
            hits = hybrid_search(hits, knn, k=args.k)
        print(json.dumps({
            "query": args.query,
            "latency_ms": round(1000 * (time.time() - t0), 1),
            "hits": [{"doc_id": d, "score": round(s, 6)} for d, s in hits],
        }, ensure_ascii=False))
    elif args.cmd == "split":
        from baram_spark.index.split import split_index

        sets = split_index(spark, args.index, list(args.out))
        print(json.dumps({
            "nodes": list(args.out),
            "shards": [sorted(int(x) for x in s) for s in sets],
        }))

    elif args.cmd == "serve":
        from baram_spark.serving import ServingContext, make_server

        ctx = ServingContext(spark, args.index)
        server = make_server(ctx, host=args.host, port=args.port)
        host, port = server.server_address[:2]
        if args.check:
            server.server_close()
            print(json.dumps(ctx.health()))
        else:
            print(f"baram-spark API server on http://{host}:{port}")
            print("  GET  /api/search    - Search articles")
            print("  GET  /api/health    - Health check")
            print("  GET  /api/events    - Event clusters")
            try:
                server.serve_forever()
            except KeyboardInterrupt:
                server.shutdown()
    elif args.cmd == "stats":
        from pyspark.sql import functions as F

        from baram_spark.index import fs
        from baram_spark.index.builder import read_gen_table

        idx = args.index.rstrip("/")
        # manifest-committed snapshot only: retained-but-superseded gens
        # (merge/compact retention) must not double-count
        gens = fs.committed_gens(fs.read_manifest(idx))
        docs = read_gen_table(spark, idx, "docs", gens)
        post = read_gen_table(spark, idx, "postings", gens)
        stats = {
            "documents": docs.count(),
            "generations": gens,
            "posting_lists": post.count(),
            "postings": int(post.agg(F.sum("df")).collect()[0][0] or 0),
            # distinct over generations: each holds its own df rows
            "terms": read_gen_table(spark, idx, "term_stats", gens)
            .select("field", "term").distinct().count(),
        }
        if fs.exists(f"{idx}/deletes"):
            stats["pending_tombstones"] = (
                spark.read.parquet(fs.spark_url(f"{idx}/deletes")).count()
            )
        print(json.dumps(stats))
    elif args.cmd == "cluster":
        n, out = _run_cluster(spark, args.index, args.threshold,
                              args.min_size, args.out)
        print(json.dumps({"clusters": n, "out": out}))
    elif args.cmd == "maintenance":
        import urllib.request

        from baram_spark.index.builder import IndexBuilder, index_n_shards

        idx = args.index.rstrip("/")
        # the index's OWN shard count — merging with a different n_shards
        # would silently re-shard the layout under index_meta
        b = IndexBuilder(spark, idx, n_shards=index_n_shards(idx))
        report: dict = {"index": idx, "n_shards": b.n_shards}
        report["merge"] = b.merge_generations()
        report["vacuum"] = b.vacuum(retain_snapshots=args.retain_snapshots)
        if not args.skip_cluster:
            from baram_spark.index import fs

            if fs.exists(f"{idx}/embeddings"):
                n, out = _run_cluster(spark, idx, args.threshold,
                                      args.min_size, None)
                report["cluster"] = {"clusters": n, "out": out}
            else:
                report["cluster"] = {"skipped": "no embeddings table"}
        if args.notify:
            # an unreachable node must not throw away the report of the
            # maintenance work that already completed
            try:
                req = urllib.request.Request(
                    f"{args.notify.rstrip('/')}/api/refresh",
                    method="POST", data=b"")
                with urllib.request.urlopen(req, timeout=60) as r:
                    report["refresh"] = json.loads(r.read().decode("utf-8"))
            except Exception as e:
                report["refresh"] = {"error": str(e)}
        print(json.dumps(report, default=str))
    if owns_spark:
        spark.stop()
    return 0


def _run_cluster(spark, index: str, threshold: float, min_size: int,
                 out: str | None) -> tuple[int, str]:
    """Event clustering over the committed snapshot's embeddings; writes
    the S13 cluster JSON sink — default location is what the serving
    tier's /api/events reads (the clusters.json analog, serve.rs:570-627).
    Returns (n_clusters, out_path)."""
    from baram_spark.index import fs
    from baram_spark.index.builder import read_gen_table
    from baram_spark.operators.clustering import (
        cluster_embeddings,
        event_clusters,
    )

    gens = fs.committed_gens(fs.read_manifest(index))
    emb = read_gen_table(spark, index, "embeddings", gens)
    dim = len(emb.select("embedding").first()[0])
    clusters = cluster_embeddings(
        emb, dim=dim, threshold=threshold, min_size=min_size,
        id_col="doc_id",
    )
    docs = read_gen_table(spark, index, "docs", gens)
    events = event_clusters(clusters, docs)
    out = out or f"{index.rstrip('/')}/clusters"
    events.write.mode("overwrite").json(out)
    return events.count(), out


if __name__ == "__main__":
    sys.exit(main())
