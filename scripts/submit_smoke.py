"""spark-submit smoke job: build a small index and run one query.

Run (the north_rule deployment shape):

    spark-submit --master local[8] \
        --py-files dist/baram_spark.zip scripts/submit_smoke.py /tmp/out

The job imports baram_spark FROM THE ZIP (no repo on sys.path), proving
the package deploys standalone to executors via --py-files.
"""

import json
import sys

from pyspark.sql import SparkSession


def main() -> int:
    cleanup = None
    if len(sys.argv) > 1:
        out = sys.argv[1]
    else:
        # fresh dir per run: a leftover index from a previous smoke would
        # make the build a full ledger-resume (metrics then lack docs_out)
        import tempfile

        out = tempfile.mkdtemp(prefix="baram_submit_smoke_")
        cleanup = out
    spark = (
        SparkSession.builder.appName("baram-submit-smoke")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    from baram_spark.corpus import make_query_set, pages_df
    from baram_spark.index.builder import IndexBuilder
    from baram_spark.query.engine import SearchEngine

    builder = IndexBuilder(spark, f"{out}/idx", n_shards=2)
    m = builder.build(pages_df(spark, 200, partitions=4),
                      fingerprint="submit-smoke")
    engine = SearchEngine(spark, f"{out}/idx")
    q = make_query_set()[0]["query_text"]
    hits = engine.search(q, k=5, mode="distributed")
    print(json.dumps({
        "docs": m["docs_out"],
        "postings": m["postings_built"],
        "query": q,
        "hits": [{"doc_id": d, "score": round(s, 6)} for d, s in hits],
    }))
    spark.stop()
    if cleanup is not None:
        import shutil

        shutil.rmtree(cleanup, ignore_errors=True)
    return 0 if hits else 1


if __name__ == "__main__":
    sys.exit(main())
