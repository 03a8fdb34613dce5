"""Streaming + multimodal + plan-shape + pipeline-sink tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_portfolio_project_spark.operators import multimodal as M
from etl_portfolio_project_spark.operators import relational as R
from etl_portfolio_project_spark.operators import similarity as S
from etl_portfolio_project_spark.pipelines import loan_pipeline
from etl_portfolio_project_spark.plans import explain
from etl_portfolio_project_spark.sources.registry import load_table
from etl_portfolio_project_spark.streaming import events as E

from .conftest import SF_SMALL


def test_stream_tumbling_equals_batch(spark):
    """Streaming (complete mode) over bounded input ≡ batch window agg."""
    stream = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in E.stream_tumbling_5min(spark, SF_SMALL).collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in R.events_tumbling_5min(spark, SF_SMALL)
        .select("window_start", "event_type", "n_events", "total_value")
        .collect()
    }
    assert stream == batch


def test_stream_append_mode_emits_subset(spark):
    """Append mode only emits watermark-finalized windows — a strict
    subset of complete mode on bounded input."""
    appended = E.stream_tumbling_append_demo(spark, SF_SMALL).collect()
    total = {
        r.window_start
        for r in E.stream_tumbling_5min(spark, SF_SMALL).collect()
    }
    assert {r.w.start for r in appended} <= total


def test_stream_dedup_drops_replays(spark):
    """Feeding the same file twice (two glob matches) still counts
    each event_id once — covered here by count equality on unique
    input; replay behavior is the dropDuplicates contract."""
    out = E.stream_dedup_events(spark, SF_SMALL).collect()
    from etl_portfolio_project_spark.sources.registry import load_table

    n = load_table(spark, SF_SMALL, "events").count()
    assert sum(r.n_events for r in out) == n


def test_foreachbatch_parquet_sink(spark, tmp_path):
    out = E.stream_to_parquet_sink(spark, SF_SMALL, str(tmp_path / "sink"))
    from etl_portfolio_project_spark.sources.registry import load_table

    n_in = load_table(spark, SF_SMALL, "events").count()
    n_out = E.read_epoch_outputs(spark, out).count()
    assert n_in == n_out


def test_read_epoch_outputs_names_an_empty_sink(spark, tmp_path):
    (tmp_path / "_checkpoint").mkdir()
    with pytest.raises(E.NoEpochOutputError, match="epoch_"):
        E.read_epoch_outputs(spark, str(tmp_path))


def test_multimodal_decode_stub_is_marked(spark):
    with pytest.raises(NotImplementedError):
        M.decode_payload(b"bytes", "jpeg")


def _png_stages(spark):
    """Capture the registered query's own (synth, decode) closures by
    walking the builder with a probe in place of the input frame."""
    import unittest.mock as mock

    fns = []

    class _Probe:
        def mapInPandas(self, fn, schema):
            fns.append(fn)
            return self

    with mock.patch.object(M, "balanced_docs", return_value=_Probe()):
        M.multimodal_png_decode(spark, SF_SMALL)
    # r14: synth+decode ship as ONE fused stage (_fuse_stages) — one
    # mapInPandas call whose closure captures the original (synth,
    # decode) pair; unpack them so the CRC test still drives the
    # decode stage in isolation
    assert len(fns) == 1
    cells = [
        c.cell_contents
        for c in (fns[0].__closure__ or ())
        if isinstance(c.cell_contents, tuple)
    ]
    assert cells and len(cells[0]) == 2, "fused stage shape changed"
    return cells[0][0], cells[0][1]


def test_png_decoder_verifies_crc(spark):
    """The PNG decode stage is a REAL codec: a single flipped bit in
    the stream must fail the chunk CRC check, not silently produce
    wrong pixels. (The oracle proves value correctness; this proves
    the integrity path the oracle can't see.) Driven directly on the
    query's own closures, outside Spark, for a crisp failure."""
    import pandas as pd

    synth, decode = _png_stages(spark)
    pngs = next(synth(iter([pd.DataFrame({"doc_id": [0, 1, 2, 3]})])))
    ok = next(decode(iter([pngs])))  # untampered: decodes fine
    assert len(ok) == 4
    assert set(ok["n_filters_used"]) == {5}  # all five filters exercised
    bad = pngs.copy()
    corrupted = bytearray(bad["payload"][0])
    corrupted[50] ^= 1
    bad.loc[0, "payload"] = bytes(corrupted)
    with pytest.raises(AssertionError):
        next(decode(iter([bad])))


def test_multimodal_arrow_plumbing(spark):
    feats = M.multimodal_features(spark, SF_SMALL)
    rows = feats.collect()
    assert feats.schema == M.FEATURE_SCHEMA
    assert len(rows) == 500
    for r in rows[:20]:
        assert r.media_format in M.FORMATS
        assert len(r.payload_md5) == 32
        assert r.n_bytes > 0


def test_pipeline_sinks_roundtrip(spark, tmp_path):
    paths = loan_pipeline.run_pipeline(spark, SF_SMALL, str(tmp_path))
    final = spark.read.parquet(paths["loan_final"])
    sched = spark.read.parquet(paths["loan_monthly_schedule"])
    assert final.count() == 1500
    assert sched.count() > 0
    # overwrite semantics: second run replaces, not appends (S5/S6)
    paths2 = loan_pipeline.run_pipeline(spark, SF_SMALL, str(tmp_path))
    assert spark.read.parquet(paths2["loan_final"]).count() == 1500


def test_schedule_sink_encoding(spark, tmp_path):
    """The schedule sink writes its near-unique money columns plain (no
    dictionary page) while the low-cardinality columns keep theirs, and
    the sink still equals the loan_monthly_schedule oracle."""
    import glob

    import pyarrow.parquet as pq

    from etl_portfolio_project_spark import api
    from tools.verify_local import compare, duck_con

    sched = loan_pipeline.run_pipeline(spark, SF_SMALL, str(tmp_path))[
        "loan_monthly_schedule"
    ]
    files = sorted(glob.glob(f"{sched}/*.parquet"))
    assert files
    has_dict: dict[str, set[bool]] = {}
    for path in files:
        meta = pq.read_metadata(path)
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for c in range(rg.num_columns):
                chunk = rg.column(c)
                has_dict.setdefault(chunk.path_in_schema, set()).add(
                    chunk.has_dictionary_page
                )
    for col in ("total_demand_till_month", "arrear"):
        assert has_dict[col] == {False}, (col, has_dict)
    for col in ("loan_id", "emi_due_date", "dpd_days", "dpd_bucket"):
        assert has_dict[col] == {True}, (col, has_dict)

    got = spark.read.parquet(sched).toPandas()
    want = duck_con(SF_SMALL).execute(
        api.REGISTRY["loan_monthly_schedule"].oracle
    ).df()
    problems = compare("loan_monthly_schedule", got, want)
    assert not problems, problems


# --- plan-shape assertions (SURVEY.md §4 discipline) ----------------------


def test_filter_pushdown_reaches_scan(spark):
    df = R.filter_pushdown(spark, SF_SMALL)
    explain.assert_pushed_filters(df, "l_quantity", "l_discount", "l_shipdate")


def test_loan_final_projection_pruned(spark):
    """The orders scan under loan_final must not read all columns."""
    df = loan_pipeline.loan_final(spark, SF_SMALL).select("loan_id", "arrear")
    # only o_orderkey/o_orderdate/o_totalprice + o_custkey are needed
    explain.assert_read_schema_only(df, "orders", 4)


def test_dim_join_broadcasts(spark):
    df = loan_pipeline.joined_loans(spark, SF_SMALL)
    explain.assert_broadcast_join(df)


def test_schedule_no_shuffle(spark):
    """The schedule expansion is narrow: explode plus the closed-form
    running total, so no exchange at all."""
    from etl_portfolio_project_spark.sources import views
    from etl_portfolio_project_spark.operators.schedule import monthly_schedule

    loans = views.loans(spark, SF_SMALL).withColumn(
        "emi_collected", F.lit(None).cast("double")
    )
    df = monthly_schedule(loans, views.AS_OF)
    assert explain.count_shuffles(df) == 0, explain.physical_plan(df)


def test_stateful_operator_across_multiple_microbatches(spark, tmp_path):
    """The stream_user_stats state is claimed batch-boundary-invariant
    (commutative monoid). Prove it: split the input into 3 files,
    throttle to 1 file per micro-batch (3 genuine state transitions),
    and require the final per-user stats to equal the batch GROUP BY."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_portfolio_project_spark.sources.registry import load_table
    from etl_portfolio_project_spark.streaming import events as E
    from etl_portfolio_project_spark.streaming import stateful as ST
    from pyspark.sql.streaming.state import GroupStateTimeout

    # DELIBERATE raw physical read (not load_table — r11 hygiene
    # sweep): the re-split copy must preserve the file's physical ts
    # type so read_events_stream's dtype branch is what gets exercised
    src = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    split_dir = str(tmp_path / "events_split")
    src.repartition(3).write.mode("overwrite").parquet(split_dir)

    e = E.read_events_stream(
        spark, split_dir, glob="part-*.parquet", max_files_per_trigger=1
    )
    res = e.groupBy("user_id").applyInPandasWithState(
        ST._make_update_fn(),
        outputStructType=ST._OUT_SCHEMA,
        stateStructType=ST._STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    E._run_to_table(res, "multi_batch_user_stats", "update")
    emitted = spark.table("multi_batch_user_stats")
    assert emitted.count() > emitted.select("user_id").distinct().count(), (
        "only one emission per user — the stream did not actually run "
        "multiple micro-batches"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        emitted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "n_large", "first_ts_us", "last_ts_us")
    )
    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("value") > ST.LARGE_VALUE, 1).otherwise(0)
            ).cast("long").alias("n_large"),
            F.unix_micros(F.min("ts")).alias("first_ts_us"),
            F.unix_micros(F.max("ts")).alias("last_ts_us"),
        )
    )
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_tws_processor_logic_with_fake_state():
    """The transformWithStateInPandas query is not registered (its
    state server needs google.protobuf — r4 permanent decision), but
    its processor's monoid state logic is real code: drive
    handleInputRows directly with a fake ValueState across two
    'micro-batches' and check count/extrema accumulate correctly."""
    import pandas as pd

    from etl_portfolio_project_spark.streaming.stateful import (
        _make_extrema_processor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.state = FakeValueState()

        def getValueState(self, name, schema):
            return self.state

    proc = _make_extrema_processor()
    handle = FakeHandle()
    proc.init(handle)
    out1 = list(
        proc.handleInputRows(
            (7,), [pd.DataFrame({"value": [2.0, 5.0, -1.0]})], None
        )
    )
    assert out1[0].iloc[0].to_dict() == {
        "user_id": 7, "n_events": 3, "min_value": -1.0, "max_value": 5.0
    }
    # second micro-batch: state carries over and extrema widen
    out2 = list(
        proc.handleInputRows(
            (7,), [pd.DataFrame({"value": [9.0]}), pd.DataFrame({"value": []})],
            None,
        )
    )
    assert out2[0].iloc[0].to_dict() == {
        "user_id": 7, "n_events": 4, "min_value": -1.0, "max_value": 9.0
    }
    assert handle.state.get() == (4, -1.0, 9.0)
    proc.close()


def test_stream_user_extrema_tws_matches_batch(spark):
    """transformWithStateInPandas parity vs the batch aggregate —
    runs only where google.protobuf exists (the operator's state
    server needs it; absent in the grading container)."""
    from etl_portfolio_project_spark.streaming import stateful

    if not stateful.tws_available():
        import pytest

        pytest.skip("google.protobuf not installed; tws gated off")
    from etl_portfolio_project_spark.sources.registry import load_table

    got = stateful.stream_user_extrema_tws(spark, SF_SMALL)
    exp = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_scd1_upsert_across_multiple_microbatches(spark, tmp_path):
    """stream_latest_user_event claims batch-split invariance (argmax
    over a total order). Prove it: 3 files, 1 per micro-batch → the
    merged latest-state must equal the batch argmax."""
    from pyspark.sql import Window

    from etl_portfolio_project_spark.sources.registry import load_table
    from etl_portfolio_project_spark.streaming import events as E

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # DELIBERATE raw physical read (see the split-invariance test
    # above): preserves the physical ts type for the re-split files
    src = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    split_dir = str(tmp_path / "events_split_scd1")
    src.repartition(3).write.mode("overwrite").parquet(split_dir)

    e = E.read_events_stream(
        spark, split_dir, glob="part-*.parquet", max_files_per_trigger=1
    ).select("user_id", "ts", "event_id", "event_type", "value")
    got = E.run_latest_user_event_merge(spark, e)

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    exp = (
        load_table(spark, SF_SMALL, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_streaming_with_rocksdb_state_store(spark):
    """Production state backend: the same watermarked streaming
    aggregation runs on the RocksDB state store provider (bounded
    JVM heap — state spills to local disk; what a real cluster uses
    for billions of keys) and produces results identical to the
    default in-memory provider."""
    from etl_portfolio_project_spark.sources.registry import load_table

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = E.stream_tumbling_5min(spark, SF_SMALL)
        exp = (
            load_table(spark, SF_SMALL, "events")
            .groupBy(
                F.window("ts", "5 minutes").alias("w"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        )
        g = got.select("window_start", "event_type", "n_events")
        assert g.exceptAll(exp).count() == 0
        assert exp.exceptAll(g).count() == 0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_louter_sentinels_survive_ns_vintage_events(spark, tmp_path):
    """ADVICE r3 regression: on TIMESTAMP(NANOS) testdata (the round-1
    vintage) the sentinel rows must still land in 2100, not 1970 — a
    wrong-unit sentinel silently drops the outer join's NULL tail.
    Synthesize a genuine ns-typed copy of events and require the
    stream result to match the µs-vintage run exactly, NULL tail
    included."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_portfolio_project_spark.streaming import events as E

    t = pq.read_table(f"{SF_SMALL}/events.parquet")
    i = t.schema.get_field_index("ts")
    ns_col = t.column("ts").cast(pa.timestamp("ns"))
    t2 = t.set_column(i, pa.field("ts", pa.timestamp("ns")), ns_col)
    d = str(tmp_path / "ns_vintage")
    os.makedirs(d)
    pq.write_table(t2, f"{d}/events.parquet")

    got = E.stream_click_purchase_left_join(spark, d)
    # materialize BEFORE the second builder call: re-running swaps the
    # single live tmpdir generation, deleting the first run's files
    got_rows = sorted(map(tuple, got.collect()))
    assert any(None in r for r in got_rows), (
        "no NULL-tail rows — sentinels failed to advance the watermark "
        "past the real data on the ns-vintage file"
    )
    base = E.stream_click_purchase_left_join(spark, SF_SMALL)
    assert got_rows == sorted(map(tuple, base.collect()))


def test_stream_incremental_dedup_kept_only_index(spark, tmp_path):
    """The index must hold KEPT docs only: with A (batch 0), B (batch
    1, near-dup of A), C (batch 2, near-dup of B but not of A), the
    run must DROP B (dup of surviving A) but KEEP C — C's only match
    was dropped and never entered the index. An all-history index
    would wrongly drop C."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_portfolio_project_spark.operators import dedup as D

    # 3-word-shingle docs; doc_id % 4 = batch. A=0, B=1, C=2.
    # Suffix-extension keeps all original shingles, so the Jaccards
    # are exact: A = 20 words → 18 shingles; B = A+1 word → 19
    # shingles, J(A,B) = 18/19 ≈ 0.947 ≥ τ → B dropped; C = A+3 words
    # → 21 shingles, J(C,B) = 19/21 ≈ 0.905 ≥ τ (dup of B only) but
    # J(C,A) = 18/21 ≈ 0.857 < τ — C survives IFF the index is
    # kept-only (B, its sole match, never entered it).
    base = ["w%02d" % i for i in range(20)]
    a_text = " ".join(base)
    b_text = a_text + " zz1"
    c_text = b_text + " zz2 zz3"
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": pa.array([a_text, b_text, c_text], pa.string()),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["src0"] * 3, pa.string()),
            "n_chars": pa.array(
                [len(a_text), len(b_text), len(c_text)], pa.int64()
            ),
        }
    )
    d = tmp_path / "chain"
    d.mkdir()
    pq.write_table(tbl, str(d / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in D.stream_incremental_dedup(spark, str(d)).collect()
    }
    assert len(out) == 3
    assert not out[0]["is_dup"]   # A: first batch, empty index → kept
    assert out[1]["is_dup"]       # B: dup of surviving A → dropped
    # C: its only ≥τ match (B) was dropped and never entered the
    # index; vs the surviving A, J = 18/21 < τ → C is KEPT. An
    # all-history index would have dropped it.
    assert not out[2]["is_dup"]
    assert out[2]["n_candidates"] >= 1  # C did band-collide with A


def test_stream_incremental_dedup_matches_batch_oracle_semantics(spark):
    """At sf0.001 the streaming run must equal the unrolled
    sequential CTE oracle (same check the driver does; kept here as a
    fast regression for the foreachBatch index maintenance)."""
    import duckdb

    from etl_portfolio_project_spark.operators import dedup as D

    got = {
        (r["doc_id"]): (r["batch_id"], r["n_candidates"], r["n_dups"], r["is_dup"])
        for r in D.stream_incremental_dedup(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/documents.parquet')"
    )
    exp = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(D.STREAM_INCREMENTAL_DEDUP_SQL).fetchall()
    }
    assert got == exp


def test_stream_incremental_dedup_random_corpora_match_oracle(
    spark, tmp_path
):
    """Randomized differential: three seeded random corpora — with
    short docs (< shingle width), exact dup chains within and across
    batches, and template-vocab near-dups — must match the unrolled
    sequential CTE oracle exactly. Catches corner cases the fixed
    harness corpus can't (all-NULL signatures, first-batch dups,
    index misses)."""
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_portfolio_project_spark.operators import dedup as D

    vocab = ["w%d" % i for i in range(12)]
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        texts = []
        for i in range(40):
            n = rng.choice([1, 2, 5, 12, 20])  # incl. < SHINGLE_N
            texts.append(" ".join(rng.choice(vocab) for _ in range(n)))
        # plant exact dups: some same-batch (Δ doc_id multiple of 4),
        # some cross-batch
        for src, dst in [(0, 4), (1, 3), (2, 10), (5, 6)]:
            texts[dst] = texts[src]
        tbl = pa.table(
            {
                "doc_id": pa.array(range(40), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * 40, pa.string()),
                "source": pa.array(["s0"] * 40, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        d = tmp_path / f"rand{seed}"
        d.mkdir()
        pq.write_table(tbl, str(d / "documents.parquet"))
        got = {
            r["doc_id"]: (
                r["batch_id"], r["n_candidates"], r["n_dups"], r["is_dup"]
            )
            for r in D.stream_incremental_dedup(spark, str(d)).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet')"
        )
        exp = {
            r[0]: (r[1], r[2], r[3], r[4])
            for r in con.execute(D.STREAM_INCREMENTAL_DEDUP_SQL).fetchall()
        }
        assert got == exp, f"seed {seed}"


def test_multimodal_resize_matches_full_decode(spark):
    """Differential: the thumbnail's channel sums must equal sampling
    the FULL decoded image (bmp_decode's proven geometry) at the
    integer floor grid — recomputed here in numpy from the real
    payload bytes, independently of the operator's own decode."""
    import numpy as np

    rows = {r.doc_id: r for r in M.multimodal_resize(spark, SF_SMALL).collect()}
    assert len(rows) == 500

    synth = M._bmp_synth_stage()
    import pandas as pd

    pdf = pd.DataFrame({"doc_id": list(range(0, 500, 50))})
    payloads = dict(
        zip(*(lambda d: (d["doc_id"], d["payload"]))(next(synth(iter([pdf])))))
    )
    for doc_id, payload in payloads.items():
        buf = bytes(payload)
        w = int.from_bytes(buf[18:22], "little", signed=True)
        h = int.from_bytes(buf[22:26], "little", signed=True)
        off = int.from_bytes(buf[10:14], "little")
        stride = (3 * w + 3) // 4 * 4
        img = (
            np.frombuffer(buf, dtype=np.uint8, count=h * stride, offset=off)
            .reshape(h, stride)[::-1, : 3 * w]
            .reshape(h, w, 3)
            .astype(np.int64)
        )
        sx = (np.arange(M.RS_W) * w) // M.RS_W
        sy = (np.arange(M.RS_H) * h) // M.RS_H
        thumb = img[sy[:, None], sx[None, :]]
        r = rows[int(doc_id)]
        assert r.src_width == w and r.src_height == h
        assert (r.out_width, r.out_height) == (M.RS_W, M.RS_H)
        assert r.sum_r == int(thumb[:, :, 2].sum())
        assert r.sum_g == int(thumb[:, :, 1].sum())
        assert r.sum_b == int(thumb[:, :, 0].sum())


def test_multimodal_audio_resample_matches_full_decode(spark):
    """Differential: the resampled features must equal decimating the
    FULL decoded waveform (recomputed here with the wave module from
    the real payload bytes, independently of the operator's chain),
    and the payload byte count must match a real 44-byte-header WAV
    of the decimated length."""
    import io
    import wave

    import numpy as np

    rows = {
        r.doc_id: r
        for r in M.multimodal_audio_resample(spark, SF_SMALL).collect()
    }
    assert len(rows) == 500

    synth = M._wav_synth_stage()
    import pandas as pd

    pdf = pd.DataFrame({"doc_id": list(range(0, 500, 50))})
    payloads = dict(
        zip(*(lambda d: (d["doc_id"], d["payload"]))(next(synth(iter([pdf])))))
    )
    for doc_id, payload in payloads.items():
        w = wave.open(io.BytesIO(bytes(payload)), "rb")
        n = w.getnframes()
        s = np.frombuffer(w.readframes(n), dtype="<i2").astype(np.int64)
        w.close()
        out = s[:: M.RSMP_FACTOR]
        r = rows[int(doc_id)]
        assert (r.n_frames_in, r.n_frames_out) == (n, len(out))
        assert r.sample_rate_out == 8000 // M.RSMP_FACTOR
        assert r.n_payload_bytes_out == 44 + 2 * len(out)
        assert r.sum_sq_out == int((out * out).sum())
        assert r.peak_abs_out == int(np.abs(out).max())
        assert r.pos_weighted_out == int(
            (np.arange(len(out)) * out).sum()
        )


def test_stream_inc_dedup_checkpoint_restart(spark, tmp_path):
    """Restart-under-checkpoint proof (r5 verdict #5): run the stream
    over batches 0-1 WITH a checkpoint, stop, add batches 2-3, and
    resume with the SAME checkpoint in a fresh query (fresh driver
    state — the restart). The resumed run must (a) produce each doc's
    decision exactly ONCE (no duplicate results: per-epoch overwrite +
    checkpointed offsets), and (b) judge post-restart batches against
    the PRE-restart index recovered from the on-disk manifests (no
    index reset) — doc C is a near-dup of phase-1's A and must be
    dropped WITH candidates; a reset index would keep it with zero
    candidates. Epoch 2 also triggers compaction ACROSS the restart
    boundary (events.INDEX_COMPACT=3), so the manifest chain through a
    compacted generation is exercised too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_portfolio_project_spark.operators import dedup as D

    base = ["w%02d" % i for i in range(20)]
    a_text = " ".join(base)                 # doc 0 → batch 0: kept
    b_text = a_text + " zz1"                # doc 1 → batch 1: dup of A
    c_text = a_text + " zz9"                # doc 2 → batch 2: dup of A
    e_text = " ".join("q%02d" % i for i in range(20))  # doc 3: unique
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    texts = [a_text, b_text, c_text, e_text]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * 4, pa.string()),
                "source": pa.array(["src0"] * 4, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(corpus / "documents.parquet"),
    )

    run = tmp_path / "run"
    in_dir, res_dir = run / "in", run / "res"
    idx_root, ck = run / "idx", run / "ck"
    in_dir.mkdir(parents=True)

    # phase 1: batches 0 and 1 only, checkpointed
    D._sid_write_batches(str(corpus), str(in_dir), [0, 1])
    D._sid_run_stream(
        spark, str(in_dir), str(res_dir), str(idx_root), str(ck)
    )
    phase1 = E.read_epoch_outputs(spark, str(res_dir)).collect()
    assert sorted(r.doc_id for r in phase1) == [0, 1]

    # phase 2: two more batches arrive; RESTART from the checkpoint
    # (fresh query, fresh driver state — only disk survives)
    D._sid_write_batches(str(corpus), str(in_dir), [2, 3])
    D._sid_run_stream(
        spark, str(in_dir), str(res_dir), str(idx_root), str(ck)
    )

    rows = E.read_epoch_outputs(spark, str(res_dir)).select(
        "doc_id", "batch_id", "n_candidates", "n_dups", "is_dup"
    ).collect()
    # (a) no duplicate results across the restart
    assert sorted(r.doc_id for r in rows) == [0, 1, 2, 3]
    out = {r.doc_id: r for r in rows}
    assert not out[0].is_dup          # A: empty index
    assert out[1].is_dup              # B: dup of surviving A
    # (b) no index reset: C collides with phase-1's A via the
    # manifest-recovered index and is dropped; a reset index would
    # have kept it with n_candidates == 0
    assert out[2].is_dup and out[2].n_candidates >= 1
    assert not out[3].is_dup          # unique doc stays kept
    # the restart's epoch 2 compacted generations 0-2: the live
    # manifest must point INTO idx_root, not at raw epoch artifacts
    import json as _json

    with open(str(res_dir / "manifest_3.json")) as f:
        gens = _json.load(f)
    assert gens == [str(idx_root / "gen_2_c")]


def test_image_phash_neardup_matches_python(spark):
    """Differential: recompute the keyed pixel synthesis, the
    assignment-form grid hashes, and the banded near-dup pairs in
    plain Python; the operator must surface exactly the planted
    one-pixel perturbation pairs (ham ≤ PHASH_HAM_MAX) and nothing
    else at this corpus size."""
    import hashlib

    from etl_portfolio_project_spark.operators import multimodal as M

    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id")
        .collect()
    ]

    def hashes(doc_id: int):
        planted = doc_id % M.PHASH_PLANT_MOD == 1
        s = doc_id - 1 if planted else doc_id
        w, h = 16 + s % 8, M.BMP_H
        k = int(hashlib.md5(str(s).encode()).hexdigest()[:12], 16)
        gray = [[0] * w for _ in range(h)]
        for c in range(3):
            kc = (k >> (16 * c)) & 255
            ac = 11 + ((k >> (16 * c + 8)) & 31) * 7
            bc = 19 + ((k >> (16 * c + 13)) & 7) * 29
            for y in range(h):
                for x in range(w):
                    d = 1 if (planted and c == 0 and x == 0 and y == 0) else 0
                    gray[y][x] += (kc + ac * x + bc * y + d) % 256

        def grid(ncols):
            s8 = [[0] * ncols for _ in range(8)]
            c8 = [[0] * ncols for _ in range(8)]
            for y in range(h):
                for x in range(w):
                    i, j = (y * 8) // h, (x * ncols) // w
                    s8[i][j] += gray[y][x]
                    c8[i][j] += 1
            return s8, c8

        ts = sum(map(sum, gray))
        tc = w * h
        s8, c8 = grid(8)
        abits = [
            1 if s8[i][j] * tc > ts * c8[i][j] else 0
            for i in range(8)
            for j in range(8)
        ]
        s9, c9 = grid(9)
        dbits = [
            1 if s9[i][j + 1] * c9[i][j] > s9[i][j] * c9[i][j + 1] else 0
            for i in range(8)
            for j in range(8)
        ]
        pack = lambda bits: sum(b << p for p, b in enumerate(bits))
        return pack(abits), pack(dbits)

    ah = {d: hashes(d) for d in doc_ids}
    expected = {}
    for d in doc_ids:
        if d % M.PHASH_PLANT_MOD == 1 and (d - 1) in ah:
            ha = bin(ah[d][0] ^ ah[d - 1][0]).count("1")
            if ha <= M.PHASH_HAM_MAX:
                expected[(d - 1, d)] = (
                    ha, bin(ah[d][1] ^ ah[d - 1][1]).count("1")
                )

    rows = M.image_phash_neardup(spark, SF_SMALL).collect()
    got = {(r.id1, r.id2): (r.ham_ahash, r.ham_dhash) for r in rows}
    assert got == expected
    assert len(expected) >= 10  # the plant actually fires
    from etl_portfolio_project_spark import caches

    caches.release_all()


def test_jpeg_codec_roundtrip_and_tamper(spark):
    """The JPEG stages are a REAL codec: the decoder re-derives the
    Huffman tables from the DHT bytes and Huffman-decodes the entropy
    stream, so (a) coefficients round-trip exactly (encode→decode ==
    the keyed layout), and (b) tampering the stream breaks the decode
    loudly or changes the output — never silently agrees. Driven on
    the query's own closures outside Spark."""
    import hashlib

    import pandas as pd

    from etl_portfolio_project_spark.operators import multimodal as M

    synth = M._jpeg_synth_stage()
    decode = M._jpeg_decode_stage()
    ids = [0, 1, 2, 3, 7, 25]
    jpegs = next(synth(iter([pd.DataFrame({"doc_id": ids})])))
    out = next(decode(iter([jpegs])))
    assert list(out["width"]) == [M.JPEG_W] * len(ids)
    assert list(out["n_blocks"]) == [2] * len(ids)
    for row in out.itertuples():
        k = int(hashlib.md5(str(row.doc_id).encode()).hexdigest()[:12], 16)
        b0, b1 = M._jpeg_coefs_py(k)
        assert row.dc0_q == b0[0]
        assert row.n_nonzero_ac == sum(
            1 for z in range(1, 64) for b in (b0, b1) if b[z] != 0
        )
    # the payload is a genuine baseline JPEG container
    p = bytes(jpegs["payload"][0])
    assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
    assert b"\xff\xdb" in p and b"\xff\xc0" in p and b"\xff\xc4" in p
    # tamper: flip a bit in the entropy-coded segment (after SOS)
    sos = p.index(b"\xff\xda")
    bad = jpegs.copy()
    corrupted = bytearray(p)
    corrupted[sos + 10] ^= 0x40
    bad.loc[0, "payload"] = bytes(corrupted)
    try:
        tampered = next(decode(iter([bad])))
        same = tampered.iloc[0].equals(out.iloc[0])
    except (AssertionError, IndexError):
        same = False
    assert not same


def test_worker_closures_pickle_self_contained(tmp_path):
    """The worker-closure rule, enforced mechanically: every factory-
    produced Arrow/stateful worker function must UNPICKLE in a process
    that cannot import the package (the grading driver imports
    __spark_entry__.py by file path, so executors never have
    `etl_portfolio_project_spark` on their path — a module-level
    function captured in a closure pickles by reference and dies on
    the worker with ModuleNotFoundError; the r8 JPEG synth stage
    shipped exactly this bug until the vanilla driver-sim caught it)."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    from etl_portfolio_project_spark.operators import multimodal as MM
    from etl_portfolio_project_spark.streaming import stateful as ST

    factories = [
        MM._bmp_synth_stage,
        MM._bmp_phash_synth_stage,
        MM._phash_decode_stage,
        MM._jpeg_synth_stage,
        MM._jpeg_decode_stage,
        MM._wav_synth_stage,
        ST._make_update_fn,
        ST._make_extrema_processor,
    ]
    blobs = tmp_path / "closures.pkl"
    with open(blobs, "wb") as f:
        cloudpickle.dump(
            {fn.__name__: cloudpickle.dumps(fn()) for fn in factories}, f
        )
    probe = (
        "import pickle, sys;"
        "blobs = pickle.load(open(sys.argv[1], 'rb'));"
        "failed = [];"
        "exec('for name, b in blobs.items():\\n"
        " try: pickle.loads(b)\\n"
        " except Exception as e: failed.append((name, repr(e)))');"
        "print(failed); sys.exit(1 if failed else 0)"
    )
    r = subprocess.run(
        [sys.executable, "-c", probe, str(blobs)],
        cwd=str(tmp_path),  # NOT the repo — the package must be absent
        env={"PATH": "/usr/bin:/bin"},
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, (
        f"worker closures not self-contained:\n{r.stdout}\n{r.stderr}"
    )


def test_stream_embedding_index_checkpoint_restart(spark, tmp_path):
    """Restart-under-checkpoint proof for the embedding-index stream
    (the `test_stream_inc_dedup_checkpoint_restart` shape): run
    batches 0-1 checkpointed, stop, add batches 2-3, resume with the
    SAME checkpoint in a fresh query. The resume must (a) produce each
    vector's probe decision exactly once, and (b) probe post-restart
    batches against the manifest-recovered PRE-restart index — vector
    C (batch 2) is near-identical to phase-1's A and must report it
    similar; a reset index would call C novel. Epoch 2 also compacts
    across the restart boundary (events.INDEX_COMPACT=3)."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_portfolio_project_spark.operators import similarity as S

    dim = S.DIM
    a = [1.0] * dim                      # vec 0 → batch 0
    b = [1.0] * (dim - 1) + [1.01]      # vec 1 → batch 1: ~A
    c = [1.0] * (dim - 1) + [0.99]      # vec 2 → batch 2: ~A (post-restart)
    d = [(-1.0) ** i * 1.0 for i in range(dim)]  # vec 3: alternating, ⊥ A
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    vecs = [a, b, c, d]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0, 1, 2, 3], pa.int64()),
                "embedding": pa.array(
                    vecs, pa.list_(pa.float32())
                ),
                "label": pa.array([0] * 4, pa.int32()),
            }
        ),
        str(corpus / "embeddings.parquet"),
    )

    run = tmp_path / "run"
    in_dir, res_dir = run / "in", run / "res"
    idx_root, ck = run / "idx", run / "ck"
    in_dir.mkdir(parents=True)

    S._sei_write_batches(str(corpus), str(in_dir), [0, 1])
    S._sei_run_stream(
        spark, str(in_dir), str(res_dir), str(idx_root), str(ck)
    )
    phase1 = E.read_epoch_outputs(spark, str(res_dir)).collect()
    assert sorted(r.vec_id for r in phase1) == [0, 1]

    S._sei_write_batches(str(corpus), str(in_dir), [2, 3])
    S._sei_run_stream(
        spark, str(in_dir), str(res_dir), str(idx_root), str(ck)
    )
    rows = E.read_epoch_outputs(spark, str(res_dir)).select(
        "vec_id", "n_candidates", "n_sim", "nearest_id", "is_novel"
    ).collect()
    # (a) exactly one decision per vector across the restart
    assert sorted(r.vec_id for r in rows) == [0, 1, 2, 3]
    out = {r.vec_id: r for r in rows}
    assert out[0].is_novel and out[0].n_candidates == 0  # empty index
    assert out[1].n_sim >= 1 and not out[1].is_novel     # B ~ A
    assert out[1].nearest_id == 0
    # (b) no index reset: C sees phase-1's A through the recovered
    # manifests; a reset index would report zero candidates
    assert out[2].n_sim >= 1 and not out[2].is_novel
    assert out[2].nearest_id in (0, 1)
    # D is orthogonal to everything: whatever buckets it shares, no
    # cosine reaches the τ threshold
    assert out[3].n_sim == 0 and out[3].is_novel
    # epoch 2 compacted generations 0-2 across the restart: the live
    # manifest points INTO idx_root
    with open(str(res_dir / "manifest_3.json")) as f:
        gens = _json.load(f)
    assert gens == [str(idx_root / "gen_2_c")]


def test_stream_embedding_index_arrival_order_invariants(spark):
    vecs = {
        r.vec_id: r
        for r in S.stream_embedding_index_ingest(spark, SF_SMALL).collect()
    }
    src = {
        r.vec_id: r.embedding
        for r in load_table(spark, SF_SMALL, "embeddings").collect()
    }
    assert set(vecs) == set(src)  # every vector decided exactly once
    for vid, r in vecs.items():
        assert r.batch_id == vid % S.SE_NBATCH
        emb = src[vid]
        valid = (
            emb is not None
            and len(emb) == S.DIM
            and all(x is not None for x in emb)
        )
        assert r.is_valid == valid, (vid, r)
        if not valid:
            assert r.n_candidates == 0 and not r.is_novel
            assert r.nearest_id is None
            continue
        assert 0 <= r.n_sim <= r.n_candidates
        assert r.is_novel == (r.n_sim == 0)
        if r.batch_id == 0:
            # the index is empty when batch 0 arrives
            assert r.n_candidates == 0 and r.is_novel
        if r.nearest_id is not None:
            # neighbors only ever come from STRICTLY earlier batches
            assert vecs[r.nearest_id].batch_id < r.batch_id
            assert vecs[r.nearest_id].is_valid
