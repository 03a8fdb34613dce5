"""bench.py output contract: the driver parses ONE bounded-tail JSON
line, so the compact summary must stay small no matter how large the
registry grows (the round-2 bench artifact was lost to a ~4 KB line)."""

from __future__ import annotations

import itertools
import json
from types import SimpleNamespace

import bench
from etl_portfolio_project_spark import api

from .conftest import SF_SMALL


def test_compact_line_stays_small_at_full_registry_size():
    # worst case: every registered query (longest plausible names) with
    # large timing values, plus errors
    timings = {name: 123.456 for name in api.REGISTRY}
    errors = {"some_query": "trace"}
    line = json.dumps(
        bench.compact_line(timings, errors, sum(timings.values()), 0.1)
    )
    assert len(line) < 1500, f"{len(line)} bytes — driver tail may truncate"
    parsed = json.loads(line)
    assert parsed["metric"] == "total_query_wall_seconds"
    assert len(parsed["queries"]) <= 10
    assert parsed["n_queries"] == len(api.REGISTRY)


def test_compact_line_orders_by_slowest():
    t = {"a": 1.0, "b": 9.0, "c": 5.0}
    out = bench.compact_line(t, {}, 15.0, 0.01)
    assert list(out["queries"]) == ["b", "c", "a"]


def test_streaming_marker_matches_actual_streaming_builders():
    """api.STREAMING_QUERIES (the canonical marker bench.py's
    batch/stream split reads — ADVICE r10) must equal the set of
    builders that actually execute Structured Streaming micro-batches,
    detected by a docstring-stripped source scan for streaming entry
    points. A future streaming query that misses the `stream_` prefix
    (or a prefixed query that never streams) fails here instead of
    silently skewing the floor-free batch total the perf gate reads."""
    import ast
    import inspect
    import re
    import textwrap

    import importlib

    pat = re.compile(
        r"readStream|writeStream|foreachBatch|_run_to_table"
        r"|run_bounded|run_generation_index|read_events_stream"
    )

    def stripped_src(fn) -> str:
        try:
            tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        except (OSError, TypeError, SyntaxError):
            return ""
        for node in ast.walk(tree):
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Module)
            ):
                body = getattr(node, "body", [])
                if (
                    body
                    and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)
                ):
                    node.body = body[1:] or [ast.Pass()]
        return ast.unparse(tree)

    detected = set()
    for name, spec in api.REGISTRY.items():
        fn = spec.raw or spec.builder
        src = stripped_src(fn)
        if not src:
            continue
        # one-hop expansion: builders may delegate the streaming run
        # to a same-module helper (e.g. _sid_run_stream, which calls
        # streaming.events.run_generation_index)
        mod = importlib.import_module(spec.module) if spec.module else None
        for called in set(re.findall(r"\b(_?[a-z][a-z0-9_]*)\s*\(", src)):
            helper = getattr(mod, called, None)
            if callable(helper) and getattr(
                helper, "__module__", ""
            ) == spec.module:
                src += "\n" + stripped_src(helper)
        if pat.search(src):
            detected.add(name)
    assert detected == set(api.STREAMING_QUERIES)
    # the prefix CONVENTION must also hold (grading tooling and the
    # shuffle-budget exemption key off it)
    assert set(api.STREAMING_QUERIES) == {
        n for n in api.REGISTRY if n.startswith("stream_")
    }


def test_detail_records_second_run_codegen_compiles(
    spark, tmp_path, monkeypatch
):
    """BENCH_DETAIL.json carries, per query, the Janino compiles of its
    second run: 0 for a query whose classes are cached, nonzero for one
    that generates different code on every run."""
    fresh = itertools.count(1000)
    monkeypatch.setattr(
        api,
        "REGISTRY",
        {
            "same_code": SimpleNamespace(
                builder=lambda s, _sf: s.range(8).selectExpr(
                    "id * 5 + 11 AS v"
                )
            ),
            "new_code": SimpleNamespace(
                builder=lambda s, _sf: s.range(8).selectExpr(
                    f"id * {next(fresh)} AS v"
                )
            ),
        },
    )
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMALL)
    monkeypatch.delenv("SPARK_GRAFT_CONF_JSON", raising=False)
    bench.main()
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["errors"] == {}
    assert detail["codegen_compiles"]["same_code"] == 0
    assert detail["codegen_compiles"]["new_code"] > 0
    assert set(detail["codegen_compiles"]) == set(detail["queries"])


def test_detail_records_heap_after_each_query(spark, tmp_path, monkeypatch):
    """BENCH_DETAIL.json carries, per query, the driver heap in use
    after that query's release and full GC, so state a query leaves
    live shows up as a step at that query."""
    pinned = []

    def pin_64mb(s, _sf):
        pinned.append(s._jvm.java.nio.ByteBuffer.allocate(64 * 2**20))
        return s.range(8)

    monkeypatch.setattr(
        api,
        "REGISTRY",
        {
            "a_plain": SimpleNamespace(builder=lambda s, _sf: s.range(8)),
            "b_pins_64mb": SimpleNamespace(builder=pin_64mb),
        },
    )
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMALL)
    monkeypatch.delenv("SPARK_GRAFT_CONF_JSON", raising=False)
    try:
        bench.main()
    finally:
        pinned.clear()
    heap = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())["heap_mb"]
    assert set(heap) == {"a_plain", "b_pins_64mb"}
    # both runs of b_pins_64mb pinned a buffer: 128 MB more live heap
    assert heap["b_pins_64mb"] - heap["a_plain"] > 120
    max_mb = spark._jvm.Runtime.getRuntime().maxMemory() / 2**20
    assert 0 < heap["a_plain"] < max_mb


def test_ladder_records_every_rung_and_missing_tables_as_errors(
    spark, tmp_path, monkeypatch
):
    """The SF ladder times every registered query on every rung; a
    query whose input table a rung lacks becomes an error entry of
    that rung instead of stopping the ladder."""
    import shutil

    from tools import scaling_probe

    docs_only = tmp_path / "docs_only"
    docs_only.mkdir()
    shutil.copyfile(
        f"{SF_SMALL}/documents.parquet", docs_only / "documents.parquet"
    )
    monkeypatch.setattr(
        api,
        "REGISTRY",
        {
            "reads_documents": SimpleNamespace(
                builder=lambda s, sf: s.read.parquet(
                    f"{sf}/documents.parquet"
                ).select("doc_id")
            ),
            "reads_orders": SimpleNamespace(
                builder=lambda s, sf: s.read.parquet(
                    f"{sf}/orders.parquet"
                ).select("o_orderkey")
            ),
        },
    )
    monkeypatch.setattr(scaling_probe, "_REPO", str(tmp_path))
    scaling_probe.run_ladder(
        spark, [("small", SF_SMALL), ("docs_only", str(docs_only))]
    )
    raw = json.loads((tmp_path / "SCALING_RAW.json").read_text())
    assert raw["cpus"] == spark.sparkContext.defaultParallelism
    assert set(raw["rungs"]) == {"small", "docs_only"}
    for rung in raw["rungs"].values():
        assert rung["seconds"]["reads_documents"] > 0
    assert raw["rungs"]["small"]["errors"] == {}
    assert set(raw["rungs"]["docs_only"]["errors"]) == {"reads_orders"}
    assert "reads_orders" not in raw["rungs"]["docs_only"]["seconds"]
