"""Structured-Streaming ingest → incremental index generations (T1/T2).

The reference runs on systemd timers — crawl every 30 min, index every 2 h
(``/root/reference/ARCHITECTURE.md:328-333``) with ``--since`` + checkpoint
prefilters. The Spark-native equivalent is a Structured Streaming source
over the pages table with ``Trigger.AvailableNow`` (drain-everything-then-
stop — exactly the periodic-batch cadence) and ``foreachBatch`` feeding each
micro-batch into ``IndexBuilder.build_incremental``:

- Spark's streaming checkpoint tracks which input FILES were consumed
  (the ``--since`` mtime analog, exactly-once per file);
- the builder's url anti-join + per-shard lineage dedupe and resume WITHIN
  a batch (the reference's processed-id checkpoint analog);
- each micro-batch becomes one index generation, queryable immediately.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..index.builder import IndexBuilder
from ..sources.urls import with_canonical_url

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "title string, shape string"
)


def stream_build(
    spark: SparkSession,
    pages_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    n_shards: int = 8,
    available_now: bool = True,
    schema: str = PAGES_SCHEMA,
    occ_retries: int = 3,
    bloom_prefilter: bool = False,
    bloom_feed_cap: int = 10_000,
):
    """Drain all unprocessed page files into incremental index generations.

    Returns the terminated StreamingQuery. With ``available_now`` the call
    blocks until the backlog is indexed and then stops — run it from a
    scheduler at the reference's 2h cadence for the identical behavior.

    ``occ_retries``: a maintenance job (merge/vacuum) may commit between a
    micro-batch's base read and its manifest swap; the batch's commit then
    aborts with ``SnapshotConflictError`` and is retried against the new
    snapshot (staged work resumes from the ledger and commits with the
    new snapshot's generations) — the stream never loses a batch to
    upkeep jobs.

    ``bloom_prefilter``: maintain a driver-side
    :class:`~baram_spark.operators.bloom.CommittedUrlBloom` — the
    reference's 3-tier dedup fast-reject tier (dedup.rs:856-970). Seeded
    from the COMMITTED urls at stream start (one distributed pass) so it
    is a sound superset; micro-batches whose urls are all definitely-new
    then skip the committed-urls anti-join entirely — the common
    forward-crawl case. If inserts outgrow the seeded capacity the
    filter loses authority and every batch falls back to the anti-join
    (correctness never depends on the bloom). A filter that lost
    authority mid-stream (capacity overflow, or concurrency evidence
    from an OCC conflict — a second writer committed urls the filter
    never saw) is RE-SEEDED from the committed urls after the batch.

    ``n_shards`` applies only to a NEW index; an existing index keeps
    ITS stored shard count (re-sharding an index mid-stream would break
    the engine's doc→shard modulus for older generations)."""
    from ..index.builder import index_n_shards

    builder = IndexBuilder(
        spark, index_dir, n_shards=index_n_shards(index_dir, n_shards))
    bloom = None
    if bloom_prefilter:
        from ..operators.bloom import CommittedUrlBloom

        committed = builder.committed_generations()
        if committed:
            from ..index.builder import read_gen_table

            bloom = CommittedUrlBloom.seed(
                read_gen_table(spark, index_dir, "docs", committed)
                .select("url")
            )
        else:
            bloom = CommittedUrlBloom()  # nothing committed: vacuously
            # a superset; the first wave has no anti-join anyway

    # batch ids restart at 0 for every checkpoint dir, but the lineage
    # ledger resumes by fingerprint string alone PER INDEX — a fresh
    # checkpoint against an existing index would replay 'batch-0' and
    # silently skip indexing its (different) pages. Namespace the
    # fingerprint by the checkpoint identity.
    import hashlib

    stream_id = hashlib.blake2b(
        checkpoint_dir.encode("utf-8"), digest_size=4
    ).hexdigest()

    state = {"bloom": bloom}

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        bloom = state["bloom"]
        builder.build_incremental(
            batch_df, fingerprint=f"stream-{stream_id}-batch-{batch_id}",
            occ_retries=occ_retries, bloom=bloom,
        )
        if bloom is not None and not bloom.authoritative:
            # lost authority (overflow, or a concurrent writer's commit
            # surfaced through an OCC conflict): the filter is no longer
            # a committed-urls superset. Re-seed from the NOW-committed
            # urls — one distributed pass — so later batches regain the
            # fast-reject tier instead of anti-joining forever.
            from ..index.builder import read_gen_table

            bloom = CommittedUrlBloom.seed(
                read_gen_table(spark, index_dir, "docs",
                               builder.committed_generations())
                .select("url")
            )
            state["bloom"] = bloom
            return  # the seed already covers this batch's committed urls
        if bloom is not None:
            # feed the fast-reject tier AFTER the commit so a failed
            # batch never poisons the filter. Small batches take the
            # cheap driver collect; a fat batch (> bloom_feed_cap urls)
            # feeds through a distributed partial-filter OR-reduce so the
            # driver round-trip stays one fixed-size bit array — the
            # filter must see EVERY committed url (supersetness), capping
            # by dropping urls is never an option. One probe job decides
            # the path: limit(cap+1) collects at most cap+1 urls — the
            # rows double as the feed for the common small batch, so no
            # extra full count() of the batch source. The builder commits
            # canonical urls, so the filter is fed canonical urls too
            urls = with_canonical_url(batch_df.select("url"))
            probe = urls.limit(bloom_feed_cap + 1).collect()
            if len(probe) <= bloom_feed_cap:
                bloom.add_many(r["url"] for r in probe)
            else:
                bloom.add_df(urls, col="url")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "64")
        .parquet(pages_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query
