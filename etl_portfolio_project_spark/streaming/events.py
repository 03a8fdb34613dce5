"""Structured Streaming surface over the `events` table.

The reference has NO streaming (SURVEY.md §2.10) — this is the §7.4
extension: event-time tumbling/sliding windows with watermarks,
session windows, and stateful exactly-once-style dedup, expressed as
`readStream → transform → writeStream`.

Batch/stream parity: every streaming query here has a batch twin
(operators/relational.py) and the driver-facing registered queries run
the STREAM to completion (file source over the harness parquet, memory
sink, `processAllAvailable`) and return the result table — so even the
streaming path is differentially tested against a DuckDB oracle.

Scale notes:
- File-source streaming is the harness stand-in for Kafka; the plan
  shape (watermark → window agg → sink) is identical.
- Watermarks bound state: at 100 TB/day the window state per key is
  |active windows| × |keys|, evicted as the watermark passes.
- `complete` output mode is used for the finite-input parity queries;
  production incremental sinks would use `append` + watermark
  eviction (shown in `stream_tumbling_append`).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from .. import caches, tmpdirs
from ..operators.relational import dsum

#: (sf_dir, glob) → (schema, ts_type). The probe is a driver-side
#: footer read costing ~0.3-0.6 s; several stream builders probe the
#: SAME immutable input twice per run (two-source joins) and bench
#: re-runs every builder, so memoizing saves seconds per session.
#: Safe because probed paths are either the read-only harness testdata
#: or `tmpdirs.claim` dirs (a fresh mkdtemp per generation → a fresh
#: cache key; files added to a live dir keep the schema by
#: construction — both checkpoint-restart halves come from one table).
_SCHEMA_PROBE_CACHE: dict[tuple, tuple[T.StructType, T.DataType]] = {}


def _dir_fingerprint(sf_dir: str, glob: str) -> tuple[int, int]:
    """(file count, newest mtime ns) of the glob's matches — a cheap
    invalidation token so a reused directory path holding
    different-vintage files (the exact ts drift the probe exists to
    catch) can never serve a stale schema from the cache."""
    import fnmatch
    import os

    count, newest = 0, 0
    try:
        with os.scandir(sf_dir) as it:
            for e in it:
                if e.is_file() and fnmatch.fnmatch(e.name, glob):
                    count += 1
                    mt = e.stat().st_mtime_ns
                    if mt > newest:
                        newest = mt
    except OSError:
        pass
    return count, newest


def _events_stream_schema(spark: SparkSession, sf_dir: str, glob: str):
    """Probe the physical `ts` type of the stream's input files via a
    footer-only batch read (memoized per (dir, glob) — see cache note).
    File-source streaming needs a declared schema, and the harness
    events files have shipped both as TIMESTAMP(NANOS) (long under the
    legacy conf) and as plain µs TIMESTAMP — declaring the wrong one
    silently coerces and corrupts the time axis (a declared-long read
    of a µs column divides real time by 1000). Probing keeps the
    stream correct for either vintage."""
    key = (sf_dir, glob, _dir_fingerprint(sf_dir, glob))
    hit = _SCHEMA_PROBE_CACHE.get(key)
    if hit is not None:
        return hit
    probed = (
        spark.read.format("parquet")
        .option("pathGlobFilter", glob)
        .load(sf_dir)
        .schema
    )
    ts_type = probed["ts"].dataType
    out = (
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", ts_type),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        ),
        ts_type,
    )
    _SCHEMA_PROBE_CACHE[key] = out
    return out


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events parquet, `ts` normalized to
    a session-TZ TIMESTAMP (same contract as `registry.load_table`).

    `max_files_per_trigger` throttles ingestion to N files per
    micro-batch — tests use it (with a pre-split copy of the input) to
    genuinely exercise multi-batch state transitions."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf removed in newer Sparks; schema probe covers it
    schema, ts_type = _events_stream_schema(spark, sf_dir, glob)
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", f"{sf_dir}")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load()
    if isinstance(ts_type, T.LongType):
        # legacy nanos-as-long: exact integer division (doubles round)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # session TZ pinned UTC → value-stable cast
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


#: name → observed run stats, recorded at stream completion. The
#: streaming twin of tests/test_plans.py's SHUFFLE_BUDGET: batch plans
#: pin exchanges; streams pin micro-batch counts and state-store
#: shape (tests/test_stream_plans.py) so a state blowup or a
#: batch-splitting regression is caught like a shuffle regression.
LAST_RUN_STATS: dict[str, dict] = {}


def record_stream_stats(name: str, q) -> None:
    """Fold a completed StreamingQuery's progress into LAST_RUN_STATS.

    Repeat calls under one name ACCUMULATE batches (multi-phase
    builders like checkpoint-restart run two queries) — `run_bounded`
    resets the entry first unless told to accumulate. State shape is
    taken from the final progress entry (totals are cumulative)."""
    import json as _json

    try:
        progs = [_json.loads(p.json) for p in (q.recentProgress or [])]
    except Exception:
        return
    # recentProgress retains only the last
    # spark.sql.streaming.numRecentProgressUpdates entries (default
    # 100) — a run long enough to hit that would silently UNDERCOUNT
    # batches and pass/fail contracts wrongly; fail loudly instead
    # (ADVICE r8; harness runs are ≤ 4 batches, far from the limit)
    if len(progs) >= 100:
        raise RuntimeError(
            f"stream {name!r}: recentProgress at the retention limit "
            f"({len(progs)} entries) — batch counts would be truncated;"
            " raise spark.sql.streaming.numRecentProgressUpdates"
        )
    data_batches = sum(1 for p in progs if p.get("numInputRows", 0) > 0)
    stats = LAST_RUN_STATS.setdefault(
        name,
        {"batches": 0, "state_ops": 0, "state_partitions": 0,
         "state_rows": 0},
    )
    stats["batches"] += data_batches
    if progs:
        ops = progs[-1].get("stateOperators") or []
        stats["state_ops"] = max(stats["state_ops"], len(ops))
        stats["state_partitions"] = max(
            stats["state_partitions"],
            max((o.get("numShufflePartitions", 0) for o in ops), default=0),
        )
        stats["state_rows"] = max(
            stats["state_rows"],
            sum(o.get("numRowsTotal", 0) for o in ops),
        )


def run_bounded(
    spark: SparkSession,
    name: str,
    writer: DataStreamWriter,
    conf: dict[str, str] | None = None,
    *,
    accumulate: bool = False,
) -> None:
    """Run a bounded stream to completion: start `writer` (a configured
    `DataStreamWriter`), drain everything available, and stop the
    query — also when the drain raises, so a failed stream never stays
    active.

    `conf` is applied to the session before the start (state-store
    partitions are fixed at query start from
    `spark.sql.shuffle.partitions`) and restored in the same `finally`;
    a key that was unset is unset again. The run's progress goes to
    `LAST_RUN_STATS[name]`, which is reset first unless `accumulate`
    (a restart of the same checkpoint continuing one run)."""
    conf = conf or {}
    prev = {k: spark.conf.get(k, None) for k in conf}
    if not accumulate:
        LAST_RUN_STATS.pop(name, None)
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            record_stream_stats(name, q)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class NoEpochOutputError(FileNotFoundError):
    """A foreachBatch sink root holds no `epoch_<id>` directory."""


def write_epoch_output(df: DataFrame, root: str, epoch_id: int) -> str:
    """Write one foreachBatch epoch's output to `root/epoch_<id>` and
    return that path. Each epoch OVERWRITES its own directory, so a
    crash-replay of a committed-but-unacknowledged epoch rewrites the
    same data instead of appending a duplicate — a bare
    mode("append") would be at-least-once, not idempotent."""
    import os

    path = os.path.join(root, f"epoch_{epoch_id}")
    df.write.mode("overwrite").parquet(path)
    return path


def read_epoch_outputs(spark: SparkSession, root: str) -> DataFrame:
    """Read the per-epoch parquet directories (`epoch_<id>`) that a
    foreachBatch sink wrote under `root`.

    The directories are listed here instead of handing Spark an
    `epoch_*` glob: Spark probes a single read path for a file-sink
    metadata log, and probing a glob logs a FileNotFoundException with
    its stack trace on every read."""
    import glob
    import os

    paths = sorted(glob.glob(os.path.join(root, "epoch_*")))
    if not paths:
        raise NoEpochOutputError(f"no epoch_<id> output under {root}")
    return spark.read.parquet(*paths)


# --- generation-index streams ----------------------------------------------

#: compact an index when this many generations are live
INDEX_COMPACT = 3


def write_arrival_batches(
    sf_dir: str, in_dir: str, table: str, key: str, nbatch: int, batches
) -> None:
    """Write the `key % nbatch == k` split of `table` for each k in
    `batches` into `in_dir`, one file per split, with strictly
    increasing mtimes = arrival order (the file source orders by
    mtime). pyarrow keeps the physical schema exact. Callable
    incrementally (the restart tests write batches in two phases):
    later calls stamp mtimes above anything already in `in_dir`."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    existing = [
        os.stat(os.path.join(in_dir, f)).st_mtime for f in os.listdir(in_dir)
    ]
    base = max(existing, default=None)
    tbl = pq.read_table(f"{sf_dir}/{table}.parquet")
    ids = tbl[key].to_numpy()
    for j, k in enumerate(batches):
        path = os.path.join(in_dir, f"{k}_{table}.parquet")
        pq.write_table(tbl.filter(pa.array(ids % nbatch == k)), path)
        if base is None:
            base = os.stat(path).st_mtime
        os.utime(path, (base + 2 * (j + 1), base + 2 * (j + 1)))


def run_generation_index(
    spark: SparkSession,
    name: str,
    in_dir: str,
    res_dir: str,
    idx_root: str,
    checkpoint_dir: str | None,
    *,
    batch_rows: Callable[[DataFrame], DataFrame],
    views: tuple[str, str],
    first_sql: str,
    epoch_sql: str,
    kept: Column,
    idx_cols: list[str],
    extra_rows: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Run a generation-index stream over `in_dir` to completion: one
    file per micro-batch in mtime order (`write_arrival_batches`),
    each batch probed against an on-disk index that grows by one
    generation per epoch.

    Per epoch, `batch_rows(batch_df)` is registered as temp view
    `views[0]` and the union of the live index generations as
    `views[1]`; the first epoch (no index yet) runs `first_sql`, every
    later one `epoch_sql`. `extra_rows(batch_df)`, when given, is
    unioned into the epoch's output (rows that bypass the probe). Each
    epoch performs exactly ONE write, `res_dir/epoch_<id>`: the
    artifact is both the decision log and the next index generation,
    read back as its `kept` rows pruned to `idx_cols` (parquet pushes
    the predicate and the projection), so per-epoch index I/O is
    O(batch), never a full-index rewrite. Every INDEX_COMPACT live
    generations fold into one compacted directory under `idx_root`
    that holds only `idx_cols`; the decision log is never rewritten.

    RESTART/REPLAY SAFETY: every write is a per-epoch overwrite path,
    and the generation list itself is disk-derived — epoch k reads its
    index membership from `res_dir/manifest_k.json` (written
    atomically at the end of epoch k-1), never from driver memory. A
    checkpointed restart (a second call with the same
    `checkpoint_dir`) therefore resumes with the exact pre-epoch index,
    and a replay of epoch k recomputes from manifest_k's state and
    overwrites the same artifact byte-for-byte. A missing manifest
    after epoch 0 is a gap in the decision log and fails the epoch.
    Superseded compacted generations are NOT deleted mid-run: a replay
    of the compacting epoch must still be able to read them
    (production defers that GC until the stream checkpoint commits
    past the epoch).

    The temp views live in the micro-batch's CLONED session catalog
    (foreachBatch isolation) and are discarded with the query."""
    import json
    import os
    from functools import reduce

    first = sorted(os.listdir(in_dir))[0]
    schema = spark.read.parquet(os.path.join(in_dir, first)).schema
    src = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", in_dir)
        .option("maxFilesPerTrigger", "1")
        .load()
    )

    def manifest_path(epoch_id: int) -> str:
        return os.path.join(res_dir, f"manifest_{epoch_id}.json")

    def load_gens(epoch_id: int) -> list[str]:
        mp = manifest_path(epoch_id)
        if os.path.exists(mp):
            with open(mp) as f:
                return json.load(f)
        if epoch_id == 0:
            return []
        raise RuntimeError(
            f"epoch {epoch_id} has no manifest — predecessor epoch "
            "incomplete (gap in the decision log)"
        )

    def save_gens(epoch_id: int, gens: list[str]) -> None:
        mp = manifest_path(epoch_id)
        tmp = mp + ".tmp"
        with open(tmp, "w") as f:
            json.dump(gens, f)
        os.replace(tmp, mp)  # atomic: a crash never leaves a torn manifest

    def read_index(s: SparkSession, gens: list[str]) -> DataFrame:
        parts = []
        for path in gens:
            g = s.read.parquet(path)
            # an epoch artifact also carries the decision log; a
            # compacted generation holds the index columns only
            if g.columns != idx_cols:
                g = g.where(kept).select(*idx_cols)
            parts.append(g)
        return reduce(DataFrame.unionByName, parts)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch bodies run in the DRIVER process (module
        # references are safe; nothing here is pickled to workers)
        s = batch_df.sparkSession
        gens = load_gens(epoch_id)
        rows = batch_rows(batch_df)
        if gens:
            # the epoch SQL reads the batch three times (band/bucket
            # rows, the verify join, the full-batch left-join spine):
            # compute it once. The first epoch has no index to join,
            # so its single consumer needs no checkpoint barrier.
            rows = rows.localCheckpoint(eager=True)
        rows.createOrReplaceTempView(views[0])
        if gens:
            read_index(s, gens).createOrReplaceTempView(views[1])
            per = s.sql(epoch_sql)
        else:
            per = s.sql(first_sql)
        if extra_rows is not None:
            per = per.unionByName(extra_rows(batch_df))
        epoch_path = write_epoch_output(per, res_dir, epoch_id)
        if gens:
            # every consumer of the checkpoint ran in the write above;
            # left to GC, the last epoch's block outlives the query
            caches.drop_checkpoint(rows)
        gens = gens + [epoch_path]
        if len(gens) >= INDEX_COMPACT:
            # contents identical to the generations it replaces (the
            # bit-exact oracles prove it: INDEX_COMPACT < the harness
            # batch count, so compaction fires mid-run)
            compact_path = os.path.join(idx_root, f"gen_{epoch_id}_c")
            read_index(s, gens).write.mode("overwrite").parquet(compact_path)
            gens = [compact_path]
        save_gens(epoch_id + 1, gens)

    writer = src.writeStream.foreachBatch(process)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    # per-epoch shuffles move one batch's rows: tiny shuffles are
    # task-overhead bound, and 4 partitions beat 8 beat 32 at sf0.1
    # (3.67 s vs 3.81 s warm on the dedup stream)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_bounded(
        spark, name, writer,
        {"spark.sql.shuffle.partitions": str(min(4, parts))},
    )


def _run_to_table(
    result: DataFrame, name: str, mode: str, partitions: int = 1
) -> None:
    """Run a bounded stream to completion into a queryable temp view:
    append mode → a parquet FILE sink directly (the production shape);
    complete/update → the memory sink, then swapped to disk.

    State-store partitions are fixed at query start from
    `spark.sql.shuffle.partitions`; every partition pays per-microbatch
    store overhead (snapshot, maintenance) regardless of data volume,
    so for these bounded parity runs we size them to the measured
    minimum per operator class: JVM-side streams (window aggs,
    stream-stream joins) run fastest at ONE partition at sf0.1 (the
    sf0.1 stream-stream join: 1.9 s at 1 partition, 2.8 s at 2, ~2×
    worse at 8 — near-empty stores still pay commit overhead), while
    Python-stateful streams (applyInPandasWithState) want MORE
    partitions because the per-key Python work parallelizes across
    workers (stream_user_stats: 4.3 s at 1 partition → 1.3 s at 8).
    Production streams size this to sustained throughput instead — the
    setting is scoped to the stream and restored afterwards."""
    import os

    spark = result.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    conf = {
        "spark.sql.shuffle.partitions": str(min(partitions, parts)),
        # Skip trailing no-data micro-batches: they re-commit every
        # state partition with zero input (measured 0.7 s on the
        # stream-stream join at sf0.1 — ~30% of its wall). Correct for
        # these bounded parity runs because every watermark advancement
        # the results depend on is driven by DATA batches (the
        # outer-join tail uses sentinel files precisely so eviction
        # happens in a data batch); production streams with open-ended
        # tails should leave this on.
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        # bounded parity runs complete in ≤ 4 batches — retaining the
        # default 100 checkpoint generations only adds snapshot/cleanup
        # work per commit (r8 A/B: ~3% of the 5-stream family wall; the
        # remaining floor is per-micro-batch commit machinery + the
        # actual aggregation, measured via durationMs: addBatch ≈ 75%,
        # queryPlanning ≈ 10%, offset/WAL commits ≈ 8%)
        "spark.sql.streaming.minBatchesToRetain": "2",
    }
    out = tmpdirs.claim(f"stream_res_{name}", f"stream_res_{name}_")
    writer = result.writeStream.outputMode(mode)
    if mode == "append":
        # append-mode streams write STRAIGHT to a parquet file sink
        # (the production shape): one materialization, no driver-heap
        # staging. The memory-sink + rewrite path below collected every
        # result row onto the driver and then wrote it out again —
        # measured ~15-20% of the stream-stream join pair's wall time
        # at sf0.1 (r4 VERDICT #3).
        data_dir = os.path.join(out, "data")
        writer = (
            writer.format("parquet")
            .option("path", data_dir)
            .option("checkpointLocation", os.path.join(out, "ckpt"))
        )
        run_bounded(spark, name, writer, conf)
        spark.read.parquet(data_dir).createOrReplaceTempView(name)
        return
    # complete/update modes need the memory sink (the file sink is
    # append-only). The memory sink pins its whole result on the JVM
    # heap for the session's lifetime; across a 100+-query session
    # those tables accumulate into an OOM on default-sized drivers
    # (observed at sf0.1 on a 1g vanilla session). Swap the sink table
    # for a disk-backed temp parquet — exact round-trip, bounded
    # memory; tmpdirs.claim retires the previous run's copy so re-runs
    # don't grow /tmp without bound.
    run_bounded(spark, name, writer.format("memory").queryName(name), conf)
    spark.table(name).write.mode("overwrite").parquet(out)
    spark.catalog.dropTempView(name)
    spark.read.parquet(out).createOrReplaceTempView(name)


def stream_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `events_tumbling_5min`: watermark + tumbling
    window aggregation, run to completion on the bounded input.
    `complete` mode emits every window, so the result set equals the
    batch query (and its oracle) exactly."""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
            # NOTE: no approx_count_distinct here — an HLL buffer per
            # window key in the state store cost ~40% of addBatch at
            # sf0.1 and its output was never selected; the distinct-
            # users surface lives in hll_distinct_users (batch).
        )
    )
    _run_to_table(agg, "stream_tumbling_5min", "complete")
    return spark.table("stream_tumbling_5min").select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


STREAM_TUMBLING_5MIN_SQL = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min length, 5 min slide): each event lands
    in 2 windows. Oracle: explicit 2-bucket UNNEST per event."""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )
    _run_to_table(agg, "stream_sliding_windows", "complete")
    return spark.table("stream_sliding_windows").select(
        F.col("w.start").alias("window_start"),
        "n_events",
        "total_value",
    )


STREAM_SLIDING_WINDOWS_SQL = """
SELECT window_start, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM (
  SELECT value, u.window_start
  FROM events, UNNEST([
    time_bucket(INTERVAL '5 minutes', ts),
    time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
  ]) AS u(window_start)
)
GROUP BY window_start
"""


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) per user — the built-in
    streaming counterpart of the batch lag+cumsum sessionization.
    Session = [first event, last event + gap)."""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("session_value"))
    )
    # 8 partitions: session-window merge state is |user-sessions|-sized
    # (tens of thousands at sf0.1) — parallel store ops win 2x here
    _run_to_table(agg, "stream_session_windows", "complete", partitions=8)
    return spark.table("stream_session_windows").select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "session_value",
    )


STREAM_SESSION_WINDOWS_SQL = """
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
FROM (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS session_seq
  FROM (
    SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 30 * 60 * 1000000
                   THEN 1 ELSE 0 END AS is_new
    FROM (
      SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                      ORDER BY ts, event_id))
                AS gap_us
      FROM events
    )
  )
)
GROUP BY user_id, session_seq
"""


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on event_id within the watermark —
    the exactly-once ingestion guard. On the harness input (unique
    ids) output = input row count; duplicate replays are dropped."""
    e = read_events_stream(spark, sf_dir)
    # dropDuplicatesWithinWatermark: plain dropDuplicates(["event_id"])
    # NEVER evicts state (event_id alone is the state key — the
    # watermark would clean nothing and the store grows with every id
    # ever seen); the WithinWatermark variant expires each key once
    # the watermark passes it, which is the bounded-state semantics
    # the docstring promises
    deduped = e.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    counted = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    # dedup state is |event_id|-sized (100k at sf0.1): measured flat
    # 1-8 partitions; 4 hedges larger inputs
    _run_to_table(counted, "stream_dedup_events", "complete", partitions=4)
    return spark.table("stream_dedup_events")


STREAM_DEDUP_EVENTS_SQL = """
SELECT event_type, count(*) AS n_events
FROM (SELECT DISTINCT ON (event_id) * FROM events)
GROUP BY event_type
"""


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: the streaming twin of the batch
    `click_purchase_attribution` range join — purchases joined to the
    same user's clicks within the preceding 10 minutes, both sides
    unbounded streams.

    Mechanics: both inputs carry watermarks and the join condition
    includes the event-time range, which is what lets Spark bound the
    join STATE — each side buffers only rows newer than (watermark −
    range); older state is evicted. Inner-join results emit as matches
    arrive, so on the bounded harness input the result set equals the
    batch query and its oracle exactly."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")
        ),
        "inner",
    ).select(
        "user_id",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
        (
            F.unix_micros(F.col("purchase_ts"))
            - F.unix_micros(F.col("click_ts"))
        ).alias("lag_us"),
    )
    _run_to_table(joined, "stream_click_purchase_join", "append")
    return spark.table("stream_click_purchase_join")


STREAM_CLICK_PURCHASE_JOIN_SQL = """
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       p.value AS purchase_value,
       c.event_id AS click_id,
       c.ts AS click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts < p.ts AND p.ts <= c.ts + INTERVAL 10 MINUTES
"""


def stream_enriched_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join + windowed aggregation: the standard
    enrichment pattern — an unbounded event stream joined to a static
    dimension (customer, keyed by user_id↔c_custkey), then aggregated
    per (window, segment).

    Scale shape: the static side is planned as a regular batch scan
    each micro-batch and broadcast below the join (no stream state for
    the join at all — only the windowed agg keeps state, bounded by
    the watermark). This is how 100 TB/day event enrichment against a
    dimension table actually runs."""
    from ..sources.registry import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.join(F.broadcast(dim), "user_id")
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "15 minutes").alias("w"), "c_mktsegment"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )
    _run_to_table(agg, "stream_enriched_by_segment", "complete")
    return spark.table("stream_enriched_by_segment").select(
        F.col("w.start").alias("window_start"),
        "c_mktsegment",
        "n_events",
        "total_value",
    )


STREAM_ENRICHED_BY_SEGMENT_SQL = """
SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
       c_mktsegment,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


#: sentinel event times used to flush outer-join state on bounded
#: inputs — far past any harness event (data ends 2001)
_SENTINEL_NANOS = (4_102_444_800_000_000_000, 4_102_531_200_000_000_000)


def _events_with_watermark_sentinels(spark: SparkSession, sf_dir: str) -> str:
    """Copy the events parquet into a temp dir followed by two 1-row
    far-future sentinel files (strictly increasing mtimes, so the file
    source ingests them LAST with maxFilesPerTrigger=1).

    Why: Structured Streaming emits stream-stream OUTER join results
    only when the watermark passes a buffered row, and the watermark
    for batch N is computed from event times seen through batch N-1.
    A bounded input that ends with the real data therefore never
    flushes the tail — the standard fix (same as Kafka in production:
    the stream simply keeps running) is two trailing batches: the
    first advances the watermark past all real data, the second
    triggers eviction + NULL emission. The sentinel rows carry
    event_type='sentinel' and are filtered out AFTER the watermark
    operator, so they advance time without joining."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmpdirs.claim("stream_louter", "stream_louter_")
    shutil.copyfile(f"{sf_dir}/events.parquet", f"{d}/00_events.parquet")
    # sentinel ts MUST match the source file's physical type — a mixed
    # int64/timestamp dir fails the file source's fixed schema read
    src_ts_type = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    for i, nanos in enumerate(_SENTINEL_NANOS):
        # one row per side-filter: the event_type predicates are pushed
        # BELOW the EventTimeWatermark operator by Catalyst, so a
        # sentinel only advances a side's watermark if it SURVIVES that
        # side's filter — emit a 'click' and a 'purchase' sentinel so
        # both watermark operators see the far-future time. user_id=-1
        # keys them off every real join key; the builder drops them
        # from the final table.
        if pa.types.is_integer(src_ts_type):
            ts_arr = pa.array([nanos, nanos], src_ts_type)
        else:
            # Build in an EXPLICIT unit and let timestamp→timestamp
            # casting rescale. int64→timestamp(X) interprets the raw
            # integer in the TARGET unit, so the old
            # pa.array(micros, int64).cast(ts[ns]) put sentinels at
            # 1970-01-01 00:00:00.001 — the watermark then never
            # passed the real data and the outer-join NULL tail was
            # silently dropped on ns-vintage testdata.
            ts_arr = pa.array(
                [nanos, nanos], pa.timestamp("ns")
            ).cast(src_ts_type)
        tbl = pa.table(
            {
                "event_id": pa.array([-1 - i, -11 - i], pa.int64()),
                "ts": ts_arr,
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array(["click", "purchase"], pa.string()),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            }
        )
        path = f"{d}/0{i + 1}_sentinel.parquet"
        pq.write_table(tbl, path)
        # file-source ordering is by modification time; force a
        # strictly later mtime than the previous file
        prev = os.stat(
            f"{d}/00_events.parquet" if i == 0 else f"{d}/01_sentinel.parquet"
        ).st_mtime
        os.utime(path, (prev + 2, prev + 2))
    return d


def stream_click_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER interval join: every purchase, with
    its preceding-10-minute clicks where they exist and NULL click
    columns where none do.

    Outer joins add a semantic wrinkle inner joins don't have: a
    purchase can only be declared match-less once the watermark proves
    no older click can still arrive, so NULL rows emit with watermark
    delay. On the bounded harness input the tail would never flush
    (no further batches advance the watermark) — the sentinel-file
    mechanism (`_events_with_watermark_sentinels`) appends two
    far-future rows as separate micro-batches, which is exactly the
    "stream keeps running" condition production relies on. Result:
    the completed stream equals the batch LEFT JOIN bit-for-bit,
    including the NULL rows, so even the outer join is oracle-checked.

    State bound: both sides buffer only (watermark − 10 min) of rows,
    same as the inner-join variant."""
    # TWO data batches, not three (r9): batch 1 = [events, sentinel 1]
    # (watermarks for batch N come from event times seen through batch
    # N-1, so sentinel 1 riding WITH the data advances the watermark
    # past all real rows for batch 2), batch 2 = [sentinel 2] triggers
    # eviction + NULL emission. Provably the same final table as the
    # old 1-file-per-trigger run: emission is cumulative and the
    # final watermark passes every buffered row either way — one
    # fewer micro-batch commit (~0.7 s at sf0.1).
    split_dir = _events_with_watermark_sentinels(spark, sf_dir)
    src = read_events_stream(
        spark, split_dir, glob="*.parquet", max_files_per_trigger=2
    )
    clicks = (
        src.select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_type").alias("c_type"),
        )
        .withWatermark("click_ts", "30 minutes")
        .where(F.col("c_type") == "click")
        .drop("c_type")
    )
    purchases = (
        src.select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
            F.col("event_type").alias("p_type"),
        )
        .withWatermark("purchase_ts", "30 minutes")
        .where(F.col("p_type") == "purchase")
        .drop("p_type")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")
        ),
        "left_outer",
    ).select(
        "user_id",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
        (
            F.unix_micros(F.col("purchase_ts"))
            - F.unix_micros(F.col("click_ts"))
        ).alias("lag_us"),
    )
    _run_to_table(joined, "stream_click_purchase_left_join", "append")
    # drop the sentinel rows batch-side (filtering inside the stream
    # would be pushed below the watermark operator and defeat them)
    return spark.table("stream_click_purchase_left_join").where(
        F.col("user_id") >= 0
    )


STREAM_CLICK_PURCHASE_LEFT_JOIN_SQL = """
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       p.value AS purchase_value,
       c.event_id AS click_id,
       c.ts AS click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM events p LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND c.ts < p.ts AND p.ts <= c.ts + INTERVAL 10 MINUTES
WHERE p.event_type = 'purchase'
"""


def stream_tumbling_append_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode + watermark demo (the production incremental sink
    shape): finalized windows only. Not registered as an oracle query
    because append emission depends on watermark progression; used by
    tests to show the mechanism."""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    _run_to_table(agg, "stream_tumbling_append_demo", "append")
    return spark.table("stream_tumbling_append_demo")


def stream_to_parquet_sink(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> str:
    """foreachBatch → parquet: the exactly-once file-sink pattern,
    one idempotent overwrite per epoch (`write_epoch_output`).
    Returns the output ROOT; read it with `read_epoch_outputs`."""
    out = out_dir or tmpdirs.claim("stream_sink", "stream_sink_")
    writer = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(
            lambda batch_df, epoch_id: write_epoch_output(batch_df, out, epoch_id)
        )
        .option("checkpointLocation", f"{out}/_checkpoint")
    )
    run_bounded(spark, "stream_to_parquet_sink", writer)
    return out


def stream_latest_user_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD1 upsert: foreachBatch merges each micro-batch
    into a latest-event-per-user state relation — the MERGE INTO /
    upsert pattern the truncate-overwrite reference pipeline lacks
    (at scale the merge target is a Delta/Iceberg MERGE; here it is a
    re-materialized view, same per-batch logic).

    Deterministic by construction: "latest" is the argmax over the
    TOTAL order (ts, event_id), so the final state is invariant to
    how the stream is split into micro-batches (proven with pre-split
    inputs in tests, like stream_user_stats)."""
    e = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    return run_latest_user_event_merge(spark, e)


def run_latest_user_event_merge(
    spark: SparkSession, e: DataFrame
) -> DataFrame:
    """foreachBatch upsert harness over an events stream `e` (split
    out so tests can feed a pre-split multi-micro-batch source)."""

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    # Distributed merge target: the per-user state lives in a parquet
    # generation directory, never on the driver (the driver holds only
    # the current generation PATH). Each epoch unions the previous
    # state with the batch argmax and re-argmaxes — associative, so
    # the final state is micro-batch-split invariant — then writes a
    # NEW generation and retires the old one (write-new-then-swap:
    # overwriting the directory being read would corrupt mid-job).
    # Epoch replay after failure rewrites the same gen path (mode
    # overwrite) — idempotent. On a real cluster this function body is
    # a Delta/Iceberg MERGE INTO; the shape (shuffle on user_id,
    # state size = |users|, not |events|) is identical.
    import os
    import shutil

    state_root = tmpdirs.claim("scd1_state", "scd1_state_")
    gen: dict[str, str | None] = {"path": None}

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        upd = latest(batch_df)
        if gen["path"] is not None:
            upd = latest(s.read.parquet(gen["path"]).unionByName(upd))
        new_path = os.path.join(state_root, f"gen_{epoch_id}")
        upd.write.mode("overwrite").parquet(new_path)
        old, gen["path"] = gen["path"], new_path
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    run_bounded(
        spark, "stream_latest_user_event", e.writeStream.foreachBatch(merge)
    )
    if gen["path"] is None:
        final = spark.createDataFrame(
            [],
            "user_id long, ts timestamp, event_id long, "
            "event_type string, value double",
        )
    else:
        final = spark.read.parquet(gen["path"])
    return final.select(
        "user_id",
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


STREAM_LATEST_USER_EVENT_SQL = """
SELECT user_id,
       epoch_us(ts) AS last_ts_us,
       event_id AS last_event_id,
       event_type AS last_event_type,
       value AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def stream_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `events_approx_quantiles`: the bin-count
    SKETCH is the streaming aggregation state (complete-mode groupBy
    on (event_type, bin) — bounded at range/width keys per type no
    matter how much data streams through), and the quantile extraction
    runs batch-side over the completed sketch table — exactly how a
    production pipeline serves percentiles from a continuously-
    maintained sketch store. Result equals the batch query and its
    oracle bit-for-bit."""
    from ..operators.analytics import quant_bin_id, quantiles_from_bins

    e = read_events_stream(spark, sf_dir)
    sketch = (
        e.select("event_type", quant_bin_id().alias("bin_id"))
        .groupBy("event_type", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_bin"))
    )
    _run_to_table(sketch, "stream_quantile_sketch", "complete")
    return quantiles_from_bins(spark.table("stream_quantile_sketch"))


def stream_checkpoint_restart_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkpoint-recovery incremental ingest — the one Structured
    Streaming guarantee the other stream ops don't exercise: a query
    STOPPED and RESTARTED against the same checkpoint resumes from its
    committed offsets and processes ONLY files that arrived while it
    was down.

    The builder stages half the events (even event_id) and runs a
    foreachBatch→parquet ingest to completion; then stages the other
    half and RESTARTS the stream with the SAME checkpoint dir. The
    restarted query's file-source offsets show the first file as
    committed, so only the new file is read. The proof is the oracle:
    the ingested output must equal a batch aggregate over ALL events —
    if restart re-processed the first half, every even-id count would
    double and the hash check would fail; if it skipped the new file,
    counts would halve.

    This is the production shape of incremental batch (Trigger
    AvailableNow + checkpoint): hourly/daily jobs that each pick up
    exactly the new files, with exactly-once bookkeeping in the
    checkpoint WAL instead of hand-rolled manifests."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    root = tmpdirs.claim("ckpt_restart", "ckpt_restart_")
    in_dir = os.path.join(root, "in")
    out = os.path.join(root, "out")
    ck = os.path.join(root, "ck")
    os.makedirs(in_dir)

    # split via pyarrow so both halves keep the source's EXACT physical
    # schema (a Spark rewrite could change the ts annotation and break
    # the fixed-schema stream read)
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    even = pc.equal(pc.bit_wise_and(tbl["event_id"], 1), 0)

    def run_phase(accumulate: bool) -> None:
        # per-epoch overwrite = idempotent under epoch replay (an
        # append would double rows if a crash replayed a
        # committed-but-unacknowledged epoch — the exact recovery
        # scenario this query exists to prove)
        writer = (
            read_events_stream(spark, in_dir, glob="*_events.parquet")
            .writeStream.foreachBatch(
                lambda batch_df, epoch_id: write_epoch_output(
                    batch_df, out, epoch_id
                )
            )
            .option("checkpointLocation", ck)
        )
        run_bounded(
            spark, "stream_checkpoint_restart_ingest", writer,
            accumulate=accumulate,
        )

    pq.write_table(tbl.filter(even), f"{in_dir}/a_events.parquet")
    run_phase(accumulate=False)
    pq.write_table(tbl.filter(pc.invert(even)), f"{in_dir}/b_events.parquet")
    # same checkpoint → resumes, ingests ONLY file b
    run_phase(accumulate=True)

    return (
        read_epoch_outputs(spark, out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


STREAM_CHECKPOINT_RESTART_INGEST_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id
FROM events
GROUP BY event_type
"""
