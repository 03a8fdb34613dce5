"""Custom PYTHON DATA SOURCE (Spark 4 `pyspark.sql.datasource`) — the
connector-extensibility story: when no JVM connector exists for a
system (an internal log service, a bespoke binary format, a REST
paginator), Spark 4 lets the CONNECTOR itself be written in Python
with partition-parallel reads. This module ships a deterministic
"synthlog" source — PYDS_PARTS independent partitions, each produced
by its own reader task — and a rollup query over it whose DuckDB
oracle regenerates the same rows relationally from the shared
md5 recipe, proving real data flowed through the Python reader path
(values are content-derived, not constants).

Scale shape: `partitions()` is the parallelism contract — each
InputPartition becomes one Spark task, exactly how a production
Python source shards a remote system (one shard/page range per
partition); the rollup is one partial-agg'd shuffle on the 8-value
partition key. Fixed sizing (PYDS_PARTS x PYDS_ROWS) keeps the oracle
on constant `generate_series` bounds (DuckDB rejects subquery bounds);
a real deployment sizes partitions via `load(...)` options — the
plumbing is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import portable_hash60_sql

PYDS_PARTS = 8
PYDS_ROWS = 256
PYDS_VAL_MOD = 1_000_003


def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register the synthlog Python DataSource and roll it up per
    partition: row counts plus exact integer value stats. The reader
    classes are NESTED (worker-closure rule) with inner imports; the
    value recipe `md5('pyds:<pid>:<i>')` is the repo's portable
    60-bit hash reduced mod PYDS_VAL_MOD, so the oracle reproduces
    every value bit-for-bit without touching the Python source."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _SynthLogReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(p) for p in range(PYDS_PARTS)]

        def read(self, partition):
            import hashlib as _hashlib

            pid = partition.value
            for i in range(PYDS_ROWS):
                h = int(
                    _hashlib.md5(f"pyds:{pid}:{i}".encode()).hexdigest()[
                        :15
                    ],
                    16,
                )
                yield (pid, i, h % PYDS_VAL_MOD)

    class _SynthLog(DataSource):
        @classmethod
        def name(cls):
            return "synthlog"

        def schema(self):
            return "pid int, i int, val bigint"

        def reader(self, schema):
            return _SynthLogReader()

    spark.dataSource.register(_SynthLog)
    raw = spark.read.format("synthlog").load()
    return raw.groupBy("pid").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("val").cast("long").alias("sum_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        F.sum(F.expr("val * CAST(i + 1 AS BIGINT)"))
        .cast("long")
        .alias("pos_weighted_val"),
    )


#: Oracle: regenerate the synthetic log relationally — same md5
#: recipe, constant series bounds (PYDS is fixed-size by design).
_PYDS_H = portable_hash60_sql(
    "'pyds:' || CAST(p.pid AS VARCHAR) || ':' || CAST(g.i AS VARCHAR)"
)

PYTHON_DATASOURCE_SCAN_SQL = f"""
WITH rows AS (
  SELECT p.pid, g.i,
         {_PYDS_H} % {PYDS_VAL_MOD} AS val
  FROM generate_series(0, {PYDS_PARTS - 1}) p(pid),
       generate_series(0, {PYDS_ROWS - 1}) g(i)
)
SELECT CAST(pid AS INTEGER) AS pid,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(val) AS BIGINT) AS sum_val,
       min(val) AS min_val,
       max(val) AS max_val,
       CAST(sum(val * CAST(i + 1 AS BIGINT)) AS BIGINT)
         AS pos_weighted_val
FROM rows
GROUP BY pid
"""


# --- STREAMING Python data source (offset-tracked ingestion) ---------------

SS_EPOCHS = 3
SS_ROWS = 64


def stream_python_datasource_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING Python data source (Spark 4
    `SimpleDataSourceStreamReader`) — the streaming half of the
    connector-extensibility story: the source tracks its own OFFSET
    (an epoch counter), each micro-batch pulls `read(start_offset)`
    and advances it, and the checkpoint commits offsets so every
    epoch is ingested EXACTLY ONCE into the parquet sink. After
    SS_EPOCHS the reader reports no new data (same offset back) and
    the bounded run drains via `processAllAvailable`.

    Values are md5-derived from (epoch, i) — the oracle regenerates
    them relationally, so exact per-epoch counts and content sums
    prove the offset bookkeeping: a re-read epoch doubles a count, a
    skipped one zeroes it, and either diverges.

    Scale shape: this is the incremental-ingest pattern for systems
    with no JVM streaming connector (a REST cursor, an internal log
    service): offsets in the checkpoint, one reader pull per
    micro-batch, a file sink — `stream_checkpoint_restart_ingest`'s
    semantics with the SOURCE side in Python. The returned frame is a
    plain read of the sink + one partial-agg'd epoch rollup."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    from .. import tmpdirs
    from ..streaming.events import run_bounded

    class _SynthStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"epoch": 0}

        def read(self, start):
            import hashlib as _hashlib

            e = start["epoch"]
            if e >= SS_EPOCHS:
                return iter([]), start
            rows = [
                (
                    e,
                    i,
                    int(
                        _hashlib.md5(
                            f"ssrc:{e}:{i}".encode()
                        ).hexdigest()[:15],
                        16,
                    )
                    % PYDS_VAL_MOD,
                )
                for i in range(SS_ROWS)
            ]
            return iter(rows), {"epoch": e + 1}

    class _SynthStream(DataSource):
        @classmethod
        def name(cls):
            return "synthstream"

        def schema(self):
            return "epoch int, i int, val bigint"

        def simpleStreamReader(self, schema):
            return _SynthStreamReader()

    spark.dataSource.register(_SynthStream)
    out = tmpdirs.claim("stream_pyds_out", "stream_pyds_out_")
    ckpt = tmpdirs.claim("stream_pyds_ckpt", "stream_pyds_ckpt_")
    writer = (
        spark.readStream.format("synthstream")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
    )
    run_bounded(
        spark,
        "stream_python_datasource_ingest",
        writer,
        {
            "spark.sql.shuffle.partitions": "1",
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        },
    )
    return (
        spark.read.parquet(out)
        .groupBy("epoch")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("val").cast("long").alias("sum_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            F.sum(F.expr("val * CAST(i + 1 AS BIGINT)"))
            .cast("long")
            .alias("pos_weighted_val"),
        )
    )


_SS_H = portable_hash60_sql(
    "'ssrc:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(g.i AS VARCHAR)"
)

STREAM_PYTHON_DATASOURCE_INGEST_SQL = f"""
WITH rows AS (
  SELECT e.epoch, g.i,
         {_SS_H} % {PYDS_VAL_MOD} AS val
  FROM generate_series(0, {SS_EPOCHS - 1}) e(epoch),
       generate_series(0, {SS_ROWS - 1}) g(i)
)
SELECT CAST(epoch AS INTEGER) AS epoch,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(val) AS BIGINT) AS sum_val,
       min(val) AS min_val,
       max(val) AS max_val,
       CAST(sum(val * CAST(i + 1 AS BIGINT)) AS BIGINT)
         AS pos_weighted_val
FROM rows
GROUP BY epoch
"""
