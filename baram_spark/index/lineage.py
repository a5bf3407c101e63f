"""Per-partition lineage ledger — checkpoint/resume + throughput metrics.

The Spark-native analog of Baram's ``CheckpointManager`` + ``DedupRecord``
ledger (``/root/reference/src/storage/checkpoint.rs:50-307``,
``src/storage/dedup.rs:111-130``): every completed build stage (and every
postings shard) appends one row; a re-run skips work whose
(stage, partition_id, fingerprint) is already present — the analog of the
reference's filename-ID checkpoint prefilter (``src/commands/index.rs:160-194``)
expressed as a table lookup instead of a JSON blob.

Appends are written with pyarrow directly (one unique file per append — the
atomic tmp+rename pattern of ``checkpoint.rs:234-245``) so a ledger write
costs microseconds instead of a Spark job submission. Resume checks read the
directory back with pyarrow too (a build or wave starts no Spark job to
learn what is done); Spark reads it for metrics queries.
"""

from __future__ import annotations

import time
import uuid
from datetime import datetime

import pyarrow as pa

from pyspark.sql import SparkSession

from . import fs

LINEAGE_SCHEMA = (
    "stage string, partition_id int, fingerprint string, rows_in long, "
    "rows_out long, seconds double, rows_per_sec double, completed_at timestamp_ntz"
)

_ARROW_SCHEMA = pa.schema(
    [
        ("stage", pa.string()),
        ("partition_id", pa.int32()),
        ("fingerprint", pa.string()),
        ("rows_in", pa.int64()),
        ("rows_out", pa.int64()),
        ("seconds", pa.float64()),
        ("rows_per_sec", pa.float64()),
        ("completed_at", pa.timestamp("us")),
    ]
)


def write_small_parquet(path: str, table: pa.Table, overwrite: bool = False,
                        **write_opts):
    """Driver-side parquet write for tiny tables (no Spark job): atomic via
    tmp + rename (through the fs abstraction, so the ledger works on any
    pyarrow.fs store); ``overwrite`` clears the directory first.
    ``write_opts`` go to ``pyarrow.parquet.write_table``."""
    if overwrite and fs.exists(path):
        fs.rmtree(path)
    fs.makedirs(path)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = f"{path}/.{name}.tmp"
    fs.write_parquet_file(tmp, table, **write_opts)
    fs.rename(tmp, f"{path}/{name}")


class LineageLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self):
        if not any(
            f.endswith(".parquet") for f in fs.listdir(self.path)
        ):
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.parquet(fs.spark_url(self.path))

    #: stage-name prefix of an invalidation TOMBSTONE row: each such row
    #: cancels ONE completion record of the same (stage, partition_id).
    #: Count-based, so ordering never depends on wall-clock timestamps
    #: (an NTP step backwards must not resurrect a discarded wave).
    TOMBSTONE = "!"

    def completed(self, fingerprint: str) -> set[tuple[str, int]]:
        """{(stage, partition_id)} already done for this input fingerprint.
        A stage counts as completed when it has MORE completion records
        than invalidation tombstones — re-records after an
        :meth:`invalidate` count again."""
        live = self._live_counts(fingerprint)
        return {key for key, n in live.items() if n > 0}

    def _live_counts(self, fingerprint: str):
        """(stage, partition_id) -> completions minus tombstones. The ONE
        copy of the tombstone arithmetic — completed() and invalidate()
        must never disagree on what counts as live."""
        from collections import Counter

        import pyarrow.dataset as ds

        live: Counter = Counter()
        pa_fs, root = fs.resolve(self.path)
        try:
            dset = ds.dataset(root, format="parquet", filesystem=pa_fs,
                              schema=_ARROW_SCHEMA)
        except FileNotFoundError:
            return live  # no ledger yet: nothing is done
        tbl = dset.to_table(columns=["stage", "partition_id"],
                            filter=ds.field("fingerprint") == fingerprint)
        for stage, pid in zip(tbl["stage"].to_pylist(),
                              tbl["partition_id"].to_pylist()):
            if stage.startswith(self.TOMBSTONE):
                live[(stage[1:], pid)] -= 1
            else:
                live[(stage, pid)] += 1
        return live

    def invalidate(self, fingerprint: str) -> None:
        """Cancel every completion recorded so far for this fingerprint
        (e.g. its staged generation was discarded after an
        optimistic-concurrency conflict): one tombstone per outstanding
        completion record, so later re-records count again."""
        outstanding = self._live_counts(fingerprint)
        kills = [
            (f"{self.TOMBSTONE}{stage}", pid, fingerprint, 0, 0, 0.0)
            for (stage, pid), n in outstanding.items()
            for _ in range(max(n, 0))
        ]
        if kills:
            self.record_many(kills)

    def record(self, stage: str, partition_id: int, fingerprint: str,
               rows_in: int, rows_out: int, seconds: float) -> None:
        self.record_many(
            [(stage, partition_id, fingerprint, rows_in, rows_out, seconds)]
        )

    def record_many(self, rows: list[tuple]) -> None:
        """Batch append: [(stage, partition_id, fingerprint, rows_in,
        rows_out, seconds), ...] — one pyarrow file, no Spark job."""
        if not rows:
            return
        now = datetime.utcnow()
        cols = list(zip(*rows))
        table = pa.table(
            {
                "stage": list(cols[0]),
                "partition_id": pa.array(cols[1], pa.int32()),
                "fingerprint": list(cols[2]),
                "rows_in": pa.array(cols[3], pa.int64()),
                "rows_out": pa.array(cols[4], pa.int64()),
                "seconds": pa.array([float(s) for s in cols[5]], pa.float64()),
                "rows_per_sec": pa.array(
                    [
                        float(r / s) if s > 0 else 0.0
                        for r, s in zip(cols[4], cols[5])
                    ],
                    pa.float64(),
                ),
                "completed_at": pa.array([now] * len(rows), pa.timestamp("us")),
            },
            schema=_ARROW_SCHEMA,
        )
        write_small_parquet(self.path, table)

    def metrics(self) -> list[dict]:
        return [r.asDict() for r in self.read().orderBy("completed_at").collect()]


class StageTimer:
    def __enter__(self):
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.seconds = time.time() - self.t0
        return False
