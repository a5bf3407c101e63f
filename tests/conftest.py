import contextlib
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from baram_spark.session import get_spark

    spark = get_spark(app_name="baram-tests", master="local[8]",
                      shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def work_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("baram_index")
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def read_committed(spark, index_dir: str, table: str):
    """``table`` at the committed snapshot: exactly the generations the
    manifest lists, as a Spark relation with a ``gen`` column."""
    from baram_spark.index import fs
    from baram_spark.index.builder import read_gen_table

    return read_gen_table(spark, index_dir, table,
                          fs.committed_gens(fs.read_manifest(index_dir)))


def snapshot_stats(spark, index_dir: str):
    """The committed snapshot's stats as a reader resolves them: the
    term_stats and gen_meta rows of exactly the manifest's generations,
    as Spark relations carrying a ``gen`` column, and the global df and
    corpus stats summed from them::

        st = snapshot_stats(spark, out)
        st.term_stats   # gen, field, term, df (per generation)
        st.gen_meta     # gen, field, n_docs, dl_sum, avgdl_pack
        st.df           # field, term, df (summed over generations)
        st.corpus       # {field: (n_docs, avgdl)} for fields with docs
    """
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    ts = read_committed(spark, index_dir, "term_stats")
    gm = read_committed(spark, index_dir, "gen_meta")
    totals = {}
    for r in gm.collect():
        n, dl = totals.get(r["field"], (0, 0))
        totals[r["field"]] = (n + r["n_docs"], dl + r["dl_sum"])
    return SimpleNamespace(
        term_stats=ts,
        gen_meta=gm,
        df=ts.groupBy("field", "term").agg(F.sum("df").alias("df")),
        corpus={f: (n, dl / n) for f, (n, dl) in totals.items() if n},
    )


@contextlib.contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs started inside the block, read
    from the status store (as perfbench/probes.py reads them). The
    listener bus is drained on both ends, so a job's start event is in
    the store before it is counted::

        with spark_jobs(spark) as jobs:
            ...
        assert jobs == []
    """
    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()

    def job_ids() -> set:
        sc.listenerBus().waitUntilEmpty()
        jobs = store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = job_ids()
    started: list = []
    yield started
    started.extend(sorted(job_ids() - before))


def term_postings(specs, resident: bool) -> list:
    """TermPostings for ``specs`` — (field, term, weight, (postings, skips,
    blockmax), avgdl, bound_factor) each — decoded per list from the blobs,
    or (``resident``) as views into ONE decode_generation of all the lists,
    the layout a preloaded serving node scores from."""
    import pyarrow as pa

    from baram_spark.index.codec import decode_generation
    from baram_spark.query.wand import TermPostings

    if not resident:
        return [TermPostings.from_blobs(f, t, w, *blobs, avgdl, bf)
                for f, t, w, blobs, avgdl, bf in specs]
    cols = decode_generation(*(
        pa.array([s[3][i] for s in specs], pa.binary()) for i in range(3)))
    return [TermPostings(f, t, w, *cols.list_arrays(i), avgdl, bf)
            for i, (f, t, w, _, avgdl, bf) in enumerate(specs)]
