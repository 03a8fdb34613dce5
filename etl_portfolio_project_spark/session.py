"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
- AQE enabled (runtime coalescing, skew-join splitting) — at 100 TB
  this is what re-plans a sort-merge join to broadcast after a
  selective filter, and splits skewed partitions.
- shuffle.partitions sized to cores locally; on a 1000-executor
  cluster this would be ~2-3× total cores (AQE coalesces down).
- Tungsten pages sized from the heap (`page_size_bytes`), not from
  the core count.
- The generated-code cache sized from the heap
  (`codegen_cache_entries`, one entry per MiB), not Spark's fixed 100
  entries, so a long-lived session stops recompiling the classes it
  already compiled.
- Arrow enabled for the (rare) pandas-interchange paths.
- Session timezone pinned to UTC so date/timestamp semantics are
  reproducible and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from etl_portfolio_project_spark.sources.registry import _size_bytes

# TaskMemoryManager's page table: one task holds at most this many
# pages at once and fails when it needs another.
_PAGE_TABLE_SIZE = 8192


def page_size_bytes(max_heap_bytes: int) -> int:
    """`spark.buffer.pageSize` for JVMs whose largest heap is
    `max_heap_bytes`: the smallest power of two whose 8192-page table
    still covers that heap, so one task can address all of it, clamped
    to Spark's own [1 MB, 64 MB] range.

    Spark's default divides the execution pool by cores × 16 instead,
    which is 16 MB at local[4] with 2 GB. Every broadcast hash join
    whose key is not a single long builds a map on the driver that
    holds at least one page until its plan is collected, so a
    500-row broadcast pinned 16 MB."""
    per_page = -(-max_heap_bytes // _PAGE_TABLE_SIZE)
    return min(max(1 << (per_page - 1).bit_length(), 1 << 20), 64 << 20)


def codegen_cache_entries(max_heap_bytes: int) -> int:
    """`spark.sql.codegen.cache.maxEntries` for JVMs whose largest heap
    is `max_heap_bytes`: one entry per MiB.

    A cached class retains ~27 KB of heap, so a full cache stays under
    ~2.7% of the heap. Spark's fixed 100 entries hold only the loan
    pipeline's 12 classes; one corpus_index iteration generates ~290
    and the whole registry ~3,060, so past 100 every repeat of a query
    misses, recompiles in Janino and runs interpreted until the JIT
    catches up again."""
    return max_heap_bytes >> 20


def get_spark(
    app_name: str = "etl_portfolio_project_spark",
    cpus: int | str | None = None,
    driver_memory: str = "16g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    `cpus` falls back to SPARK_GRAFT_CPUS, then to the CPUs this
    process may run on. A reused session keeps the static confs it was
    started with, the page size and the codegen cache size among
    them."""
    cpus = (
        cpus
        or os.environ.get("SPARK_GRAFT_CPUS")
        or len(os.sched_getaffinity(0))
    )
    conf = {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": driver_memory,
        "spark.ui.enabled": "false",
        # the progress bar writes `\r`-terminated fragments to stderr,
        # which glue onto a tool's stdout lines in a shared terminal
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra_conf or {})
    # scale-dependent overrides without code edits (r13 opt): a JSON
    # object of conf key/values, e.g. production advisory partition
    # sizing — local defaults above stay the bench-comparable baseline.
    # Applied AFTER extra_conf (ADVICE r13: the operator's env intent
    # wins over code-level defaults), with a named error on bad JSON.
    env_conf = os.environ.get("SPARK_GRAFT_CONF_JSON")
    if env_conf:
        import json

        try:
            overrides = json.loads(env_conf)
        except ValueError as e:
            raise ValueError(
                f"SPARK_GRAFT_CONF_JSON is not valid JSON: {e}"
            ) from e
        conf.update({k: str(v) for k, v in overrides.items()})
    # derived from the heap that the final conf asks for; an explicit
    # page size or cache size from either source above wins
    max_heap = max(
        _size_bytes(conf[k], 0)
        for k in ("spark.driver.memory", "spark.executor.memory")
        if k in conf
    )
    conf.setdefault(
        "spark.buffer.pageSize", f"{page_size_bytes(max_heap) >> 20}m"
    )
    conf.setdefault(
        "spark.sql.codegen.cache.maxEntries",
        str(codegen_cache_entries(max_heap)),
    )
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    # getOrCreate() reuses the process-wide instantiated session, which
    # may have been created on another thread; getActiveSession() is
    # thread-local and would miss it
    pre = SparkSession._instantiatedSession
    spark = builder.getOrCreate()
    # when a session already exists, getOrCreate() applies only
    # RUNTIME SQL confs (static ones — driver memory, master — are
    # ignored; Spark merely logs a JVM-side warning). Surface that on
    # the Python side so a production operator setting scale overrides
    # gets a signal instead of silence (ADVICE r13). Per-key detection
    # is impossible here: Spark 4 copies every builder option into the
    # reused session's conf map, so conf.get() reflects the override
    # even when it had no effect.
    if env_conf and pre is not None and spark is pre:
        import warnings

        warnings.warn(
            "SPARK_GRAFT_CONF_JSON: pre-existing SparkSession reused — "
            "only runtime SQL confs took effect; static confs were "
            "ignored",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_for_determinism(spark: SparkSession) -> SparkSession:
    """Pin runtime confs that affect result reproducibility.

    Safe to call on a session we did not create (e.g. the driver's):
    only runtime-settable confs are touched.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
