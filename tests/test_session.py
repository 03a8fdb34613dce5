"""SparkSession factory (`session.get_spark`): the conf-JSON override,
and the defaults it derives from the heap (Tungsten page size,
generated-code cache size), each of which an explicit value wins over.
"""

from __future__ import annotations

import json
import threading
import warnings

import pytest

def test_conf_json_malformed_raises_named_error(monkeypatch):
    """ADVICE r13: malformed SPARK_GRAFT_CONF_JSON must fail with an
    error naming the env var, not a bare json traceback."""
    from etl_portfolio_project_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_CONF_JSON", "{not json")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CONF_JSON"):
        get_spark(app_name="tests", cpus=4, driver_memory="4g")


def test_conf_json_warns_when_session_preexists(spark, monkeypatch):
    """ADVICE r13: getOrCreate() applies RUNTIME-settable builder
    confs to a pre-existing session but silently ignores STATIC ones
    (e.g. spark.driver.memory) — the operator must get a warning
    signal for the ignored class, also when the session was created
    on another thread (the active session is thread-local)."""
    from etl_portfolio_project_spark.session import get_spark

    monkeypatch.setenv(
        "SPARK_GRAFT_CONF_JSON",
        json.dumps(
            {
                "spark.graft.test.runtime": "took-effect",  # runtime: applies
                "spark.driver.memory": "31g",  # static: ignored -> warn
            }
        ),
    )
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_CONF_JSON"):
        got = get_spark(app_name="tests", cpus=4, driver_memory="4g")
    # runtime-settable conf DID land on the reused session
    assert got.conf.get("spark.graft.test.runtime") == "took-effect"

    caught = []

    def other_thread():
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            get_spark(app_name="tests", cpus=4, driver_memory="4g")
        caught.extend(w)

    t = threading.Thread(target=other_thread)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "SPARK_GRAFT_CONF_JSON" in str(w.message)
        for w in caught
    ), [str(w.message) for w in caught]


def _builder_conf(monkeypatch, **kwargs) -> dict:
    """The confs get_spark hands a fresh builder, captured without
    starting a second SparkSession."""
    from pyspark.sql import SparkSession

    captured = {}

    class _Stop(Exception):
        pass

    class _FakeBuilder:
        def master(self, *_a):
            return self

        def appName(self, *_a):
            return self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):
            raise _Stop()

    monkeypatch.setattr(
        SparkSession, "builder", _FakeBuilder(), raising=False
    )
    from etl_portfolio_project_spark.session import get_spark

    with pytest.raises(_Stop):
        get_spark(**kwargs)
    return captured


def test_conf_json_applies_on_fresh_builder(monkeypatch):
    """The env override must land in the builder AFTER extra_conf
    (env intent wins over code-level defaults)."""
    monkeypatch.setenv(
        "SPARK_GRAFT_CONF_JSON", json.dumps({"spark.graft.test": "env"})
    )
    conf = _builder_conf(monkeypatch, extra_conf={"spark.graft.test": "code"})
    assert conf["spark.graft.test"] == "env"


def test_live_session_has_no_console_progress_bar(spark):
    """Spark's console progress bar ends its stderr fragments in `\\r`,
    which then glue onto stdout lines (`grep -c "^\\[ok\\]"` over a
    verify_local log undercounted); get_spark turns it off."""
    assert not spark.sparkContext._jsc.sc().progressBar().isDefined()


@pytest.mark.parametrize(
    "heap,page_mb",
    [("2g", 1), ("4g", 1), ("16g", 2), ("64g", 8), ("512g", 64), ("1t", 64)],
)
def test_page_size_rule(heap, page_mb):
    """One task's 8192-page table must still cover the heap; the page
    is never below 1 MB or above 64 MB."""
    from etl_portfolio_project_spark.session import page_size_bytes
    from etl_portfolio_project_spark.sources.registry import _size_bytes

    assert page_size_bytes(_size_bytes(heap, 0)) == page_mb << 20


def test_live_session_uses_derived_page_size(spark):
    from etl_portfolio_project_spark.session import page_size_bytes

    mm = spark.sparkContext._jsc.sc().env().memoryManager()
    assert mm.pageSizeBytes() == page_size_bytes(4 << 30)


def test_page_size_follows_the_larger_heap(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CONF_JSON", raising=False)
    conf = _builder_conf(monkeypatch, driver_memory="16g")
    assert conf["spark.buffer.pageSize"] == "2m"
    conf = _builder_conf(
        monkeypatch,
        driver_memory="2g",
        extra_conf={"spark.executor.memory": "64g"},
    )
    assert conf["spark.buffer.pageSize"] == "8m"


@pytest.mark.parametrize("source", ["extra_conf", "env"])
def test_explicit_page_size_wins(monkeypatch, source):
    explicit = {"spark.buffer.pageSize": "16m"}
    if source == "env":
        monkeypatch.setenv("SPARK_GRAFT_CONF_JSON", json.dumps(explicit))
        conf = _builder_conf(monkeypatch)
    else:
        monkeypatch.delenv("SPARK_GRAFT_CONF_JSON", raising=False)
        conf = _builder_conf(monkeypatch, extra_conf=explicit)
    assert conf["spark.buffer.pageSize"] == "16m"


@pytest.mark.parametrize(
    "heap,entries",
    [("512m", 512), ("2g", 2048), ("4g", 4096), ("16g", 16384),
     ("64g", 65536)],
)
def test_codegen_cache_rule(heap, entries):
    """One cached class per MiB of the largest heap."""
    from etl_portfolio_project_spark.session import codegen_cache_entries
    from etl_portfolio_project_spark.sources.registry import _size_bytes

    assert codegen_cache_entries(_size_bytes(heap, 0)) == entries


def test_live_session_uses_derived_codegen_cache(spark):
    from etl_portfolio_project_spark.session import codegen_cache_entries

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        codegen_cache_entries(4 << 30)
    )


def test_codegen_cache_follows_the_larger_heap(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CONF_JSON", raising=False)
    conf = _builder_conf(monkeypatch, driver_memory="16g")
    assert conf["spark.sql.codegen.cache.maxEntries"] == "16384"
    conf = _builder_conf(
        monkeypatch,
        driver_memory="2g",
        extra_conf={"spark.executor.memory": "64g"},
    )
    assert conf["spark.sql.codegen.cache.maxEntries"] == "65536"


@pytest.mark.parametrize("source", ["extra_conf", "env"])
def test_explicit_codegen_cache_wins(monkeypatch, source):
    explicit = {"spark.sql.codegen.cache.maxEntries": "100"}
    if source == "env":
        monkeypatch.setenv("SPARK_GRAFT_CONF_JSON", json.dumps(explicit))
        conf = _builder_conf(monkeypatch)
    else:
        monkeypatch.delenv("SPARK_GRAFT_CONF_JSON", raising=False)
        conf = _builder_conf(monkeypatch, extra_conf=explicit)
    assert conf["spark.sql.codegen.cache.maxEntries"] == "100"


def test_repeated_queries_do_not_recompile(spark):
    """A session that runs more distinct query shapes than Spark's
    default 100-entry cache holds must still compile each shape once:
    the second pass over 150 shapes finds every class in the cache.
    With 100 entries it recompiles all of them."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run_pass() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for i in range(150):
            spark.range(8).selectExpr(f"id * {i} + {i} AS v").collect()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    assert run_pass() >= 150
    assert run_pass() == 0
