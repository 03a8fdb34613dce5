"""Table registry for the test-harness star schema.

The harness tables (TESTDATA.md) are parquet with embedded schemas, so
scans are self-describing: Catalyst gets column pruning and predicate
pushdown for free (`PushedFilters`/`ReadSchema` in `.explain`).

At 100 TB the same entry point would read a partitioned parquet/
Iceberg layout (e.g. `orders/o_orderdate=.../*.parquet`) and partition
pruning would apply on top; nothing in the engine assumes single-file
tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


_SIZE_SUFFIX = {
    "b": 1,
    "k": 1024,
    "kb": 1024,
    "m": 1024**2,
    "mb": 1024**2,
    "g": 1024**3,
    "gb": 1024**3,
    "t": 1024**4,
    "tb": 1024**4,
    "p": 1024**5,
    "pb": 1024**5,
}


def _size_bytes(value: str, default: int) -> int:
    """Spark byte-string conf ('128m', '4MB', plain digits = bytes) →
    bytes; mirrors JavaUtils.byteStringAsBytes without a py4j trip."""
    s = str(value).strip().lower()
    num = s.rstrip("kmgtpb")
    suffix = s[len(num):]
    try:
        return int(num) * _SIZE_SUFFIX.get(suffix, 1)
    except ValueError:
        return default


def _scan_split_estimate(
    src_bytes: int, n_files: int, par: int, max_pb: int, open_cost: int
) -> int:
    """Estimate how many splits a parquet scan of `src_bytes` across
    `n_files` files packs, mirroring Spark's FilePartition math at the
    SESSION's knobs (ADVICE r13: hardcoded defaults could disagree with
    an env-tuned session): totalBytes charges openCost per file,
    maxSplitBytes = min(maxPartitionBytes, max(openCost, total/par)).
    The estimate only steers the repartition DECISION below (values are
    unaffected either way), so residual packing-order drift merely
    moves the cutover point — at 100 TB bytes/par ≫ maxPartitionBytes
    and the answer is always "already parallel", exactly like the
    exact probe."""
    total = src_bytes + n_files * open_cost
    target = min(max_pb, max(open_cost, total // max(par, 1)))
    return max(1, -(-total // target))


def balanced(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism —
    ONLY if the plan currently has fewer partitions (parquet scans
    can't split below row-group granularity, so a single-file table
    caps a narrow pipeline at 1-3 tasks no matter how wide the
    machine). At 100 TB sources have thousands of splits and this is
    a structural no-op; on under-split sources it trades one exchange
    of the slim pre-expansion rows for full-cluster parallelism in
    everything downstream. Use on narrow pipelines whose per-row work
    (explode fan-out, regex profiling) dwarfs a slim-row shuffle.

    Partition probe (r13 opt): when `df` came straight from
    `load_table` it carries the source (bytes, file count), and the
    split count is ESTIMATED from it (`_scan_split_estimate`) instead
    of paying `df.rdd.getNumPartitions()` — a full physical-planning
    py4j round trip, measured ~90 ms per call × ~70 call sites.
    Transformed frames (no attribute) keep the exact probe. The split
    knobs come from the live session conf (ADVICE r13), so an
    env-tuned production session steers the same decision the exact
    probe would make."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    src = getattr(df, "_graft_src_probe", None)
    if src is not None:
        src_bytes, n_files = src
        max_pb = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"),
            128 * 1024 * 1024,
        )
        open_cost = _size_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4m"),
            4 * 1024 * 1024,
        )
        if _scan_split_estimate(src_bytes, n_files, par, max_pb, open_cost) < par:
            return df.repartition(par)
        return df
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one harness table as a lazy DataFrame.

    `events.ts` is written as parquet TIMESTAMP(NANOS). How Spark
    surfaces that column depends on the version: Spark 4.1+ reads it
    natively as TIMESTAMP_NTZ (truncating nanos→µs, same as DuckDB's
    µs TIMESTAMP read of the file); older Sparks reject it in the
    vectorized reader unless `spark.sql.legacy.parquet.nanosAsLong`
    maps it to a raw nanosecond BIGINT. We branch on the observed
    dtype rather than the version string so either path normalizes to
    a session-TZ TIMESTAMP. The bigint branch uses exact integer
    division (`div 1000` — a double division would round: 1e18-scale
    nanos exceed 2^53); the NTZ branch is a plain cast, value-stable
    because the session timezone is pinned UTC. The harness data is
    µs-exact, so both are lossless and match DuckDB.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"

    def _tag(df: DataFrame) -> DataFrame:
        # source (bytes, file count) for balanced()'s split estimate;
        # best-effort (a remote/posix-less path just loses the fast
        # path). Directory-backed datasets sum their part files
        # (ADVICE r13: os.path.getsize on a DIRECTORY returns the
        # ~4 KB dirent size without raising, which would estimate 1
        # split and force a repartition on an arbitrarily large
        # dataset — the exact 100 TB anti-pattern).
        try:
            if os.path.isfile(path):
                df._graft_src_probe = (os.path.getsize(path), 1)
            elif os.path.isdir(path):
                total, n = 0, 0
                for root, _dirs, files in os.walk(path):
                    for f in files:
                        if f.startswith(("_", ".")):
                            continue  # commit markers, not data splits
                        total += os.path.getsize(os.path.join(root, f))
                        n += 1
                if n:
                    df._graft_src_probe = (total, n)
        except OSError:
            pass
        return df

    if name == "events":
        from pyspark.sql import functions as F

        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # conf removed in newer Sparks; dtype branch below covers it
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            return _tag(
                df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            )
        if ts_type != "timestamp":
            # timestamp_ntz (Spark 4.1+ native TIMESTAMP(NANOS) read)
            return _tag(df.withColumn("ts", F.col("ts").cast("timestamp")))
        return _tag(df)
    return _tag(spark.read.parquet(path))
