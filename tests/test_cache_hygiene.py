"""Cache / temp-dir lifetime guards (VERDICT r2 "What's wrong" #3,
ADVICE r2 tmpdir leak).

Re-running a builder must NOT accumulate persisted RDDs or temp dirs:
`caches.claim` / `tmpdirs.claim` keep at most one live generation per
logical key, so a 121-query bench session (2 runs each) stays bounded.
"""

from __future__ import annotations

import gc
import weakref

import pytest
from pyspark.sql import functions as F

from etl_portfolio_project_spark import caches, tmpdirs
from etl_portfolio_project_spark.operators import dedup, similarity

from .conftest import SF_SMALL


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_repeated_runs_do_not_accumulate_persisted_rdds(spark):
    # The exact-count assertions below are GLOBAL: with a session-
    # scoped spark fixture, any earlier test file that warmed the
    # shared tier (or left a claim live) would shift them — reset both
    # tiers first so this test is order-independent (ADVICE r7).
    caches.release_all()
    caches.release_shared_all()
    # Exercise the three persisting builders twice each, consuming the
    # result each time (as every harness does), and check the live
    # count of CLAIMED caches stays at one generation per key.
    for _ in range(2):
        dedup.neardup_clusters(spark, SF_SMALL).count()
        similarity.ann_lsh_topk(spark, SF_SMALL).count()
        similarity.ann_ivf_topk(spark, SF_SMALL).count()
    # neardup claims its rep table + pair table + the PPJoin prefix
    # index (r13 opt: the index feeds both self-join sides — claimed
    # + eagerly materialized under `neardup_clusters_pp_pref`, still
    # 1 generation); the LSH bucket index and the IVF quantized index
    # moved to the session-lifetime shared tier (r7) — memoized, one
    # entry each, NOT rebuilt on the second loop iteration.
    assert caches.live_count() == 3  # one generation per claimed key
    assert caches.shared_live_count() == 2  # lsh bb + ivf quantized

    # JVM-side: the only persistent RDDs beyond the claimed generations
    # are localCheckpoint RDDs awaiting ContextCleaner GC; a second
    # round must not GROW the total (the leak mode was +N per run).
    before = _n_persistent(spark)
    dedup.neardup_clusters(spark, SF_SMALL).count()
    similarity.ann_lsh_topk(spark, SF_SMALL).count()
    similarity.ann_ivf_topk(spark, SF_SMALL).count()
    after = _n_persistent(spark)
    assert after <= before + 1, (
        f"persistent RDDs grew {before} -> {after} across one re-run; "
        "a builder is leaking persist() generations"
    )


def test_tmpdir_generations_are_swapped_not_accumulated(spark):
    from etl_portfolio_project_spark.streaming import events

    # If another test already ran this stream, its key pre-exists and
    # the claim swaps in place (+0); a fresh key claims EXACTLY once.
    # The key-aware expectation (not a relaxed range) keeps the test
    # able to catch a bare-mkdtemp regression: an unregistered temp
    # dir would leave live_count flat where +1 is required.
    key = "stream_res_stream_tumbling_5min"
    expected_delta = 0 if tmpdirs.is_live(key) else 1
    keys_before = tmpdirs.live_count()
    events.stream_tumbling_5min(spark, SF_SMALL).count()
    first = tmpdirs.live_count()
    events.stream_tumbling_5min(spark, SF_SMALL).count()
    second = tmpdirs.live_count()
    assert tmpdirs.is_live(key), "stream sink no longer claims its key"
    assert first == keys_before + expected_delta
    assert second == first  # re-run swapped the generation in place


def test_cc_driver_and_distributed_paths_agree(spark):
    """neardup_clusters' two phases (driver union-find vs distributed
    min-label propagation) must produce the identical fixpoint."""
    a = sorted(map(tuple, dedup.neardup_clusters(spark, SF_SMALL).collect()))
    orig = dedup.CC_DRIVER_FINISH_MAX_EDGES
    try:
        dedup.CC_DRIVER_FINISH_MAX_EDGES = -1  # force distributed loop
        b = sorted(
            map(tuple, dedup.neardup_clusters(spark, SF_SMALL).collect())
        )
    finally:
        dedup.CC_DRIVER_FINISH_MAX_EDGES = orig
        caches.release_all()  # claimed pairs/edges caches must not leak
    assert a == b and len(a) > 0


def test_reclaim_of_identical_plan_stays_cached(spark):
    """Re-running a builder re-claims an IDENTICAL logical plan; the
    claim must not evict the cache entry both generations share (the
    CacheManager matches by plan), or every re-run loses its cache
    and the plan re-derives the full upstream pipeline."""
    from etl_portfolio_project_spark.plans import explain

    dedup.neardup_pagerank(spark, SF_SMALL).collect()
    df = dedup.neardup_pagerank(spark, SF_SMALL)  # second build
    n = explain.count_shuffles(df)
    assert n <= 20, (
        f"second build planned {n} exchanges — the re-claim evicted "
        "the shared cache entry"
    )


def test_shared_index_memoizes_and_survives_release_all(spark):
    """shared_index: (a) a repeat call returns the SAME DataFrame
    without re-running the build fn, (b) release_all() skips the
    shared tier (per-query bench isolation must not evict the
    session-lifetime index), (c) release_shared_all() drops it."""
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(7)

    a = caches.shared_index("__test_shared", build)
    b = caches.shared_index("__test_shared", build)
    assert a is b and calls["n"] == 1
    a.count()
    assert a.storageLevel.useMemory

    caches.release_all()
    c = caches.shared_index("__test_shared", build)
    assert c is a and calls["n"] == 1  # survived release_all

    caches.release_shared_all()
    assert caches.shared_live_count() == 0
    assert not a.storageLevel.useMemory
    d = caches.shared_index("__test_shared", build)
    assert calls["n"] == 2  # rebuilt after shared release
    caches.release_shared_all()
    assert d is not a


def test_claim_unpersists_previous_generation(spark):
    df1 = spark.range(10).withColumn("x", F.col("id") * 2)
    c1 = caches.claim("__test_key", df1)
    c1.count()
    assert c1.storageLevel.useMemory
    c2 = caches.claim("__test_key", spark.range(5))
    c2.count()
    assert not c1.storageLevel.useMemory  # superseded generation freed
    caches.release("__test_key")
    assert not c2.storageLevel.useMemory


def test_pagerank_driver_and_distributed_paths_agree(spark):
    """neardup_pagerank's two phases (driver fixed-point loop vs the
    distributed unrolled join chain) must produce bit-identical
    integer ranks."""
    a = sorted(map(tuple, dedup.neardup_pagerank(spark, SF_SMALL).collect()))
    orig = dedup.CC_DRIVER_FINISH_MAX_EDGES
    try:
        dedup.CC_DRIVER_FINISH_MAX_EDGES = -1  # force distributed loop
        b = sorted(
            map(tuple, dedup.neardup_pagerank(spark, SF_SMALL).collect())
        )
    finally:
        dedup.CC_DRIVER_FINISH_MAX_EDGES = orig
        caches.release_all()  # claimed pairs/edges caches must not leak
    assert a == b and len(a) > 0


def test_release_all_empties_tracked_caches(spark):
    """bench.py isolates queries with release_all(); it must leave no
    tracked generation behind (each live entry is a plan tree the
    CacheManager compares against every later query's analysis)."""
    dedup.neardup_pagerank(spark, SF_SMALL).count()
    similarity.ann_ivf_topk(spark, SF_SMALL).count()
    assert caches.live_count() > 0
    caches.release_all()
    assert caches.live_count() == 0


def test_release_all_frees_a_dropped_dataframe(spark):
    """A DataFrame a builder has called a method on sits in a py4j
    reference cycle, so dropping it frees neither the Python handle nor
    the JVM Dataset (with its plan and broadcasts) until Python's
    cyclic GC runs. release_all() runs it and sends py4j's releases,
    so when it returns one JVM GC reclaims the Dataset."""
    gc.disable()  # the automatic collector must not do the work here
    try:
        df = spark.range(10).selectExpr("id * 3 AS v")
        df.count()
        py_ref = weakref.ref(df._jdf)
        jvm_ref = spark._jvm.java.lang.ref.WeakReference(df._jdf)
        del df
        assert py_ref() is not None  # held by its own cycle
        caches.release_all()
        assert py_ref() is None
        spark._jvm.System.gc()
        # refersTo(null) reads the reference without handing Python a
        # new handle to the Dataset
        assert jvm_ref.refersTo(None)
    finally:
        gc.enable()


def _stored_rdds(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {info.id() for info in infos}


@pytest.mark.parametrize(
    "builder",
    [similarity.stream_embedding_index_ingest, dedup.stream_incremental_dedup],
)
def test_stream_runs_leave_no_checkpoint_blocks(spark, builder):
    """Every epoch after the first localCheckpoints its batch-side
    table. The block must be dropped when the epoch ends: left to GC,
    the last epoch's block outlived the query, release_all(), Python
    GC and JVM GC, one more per run."""
    before = _stored_rdds(spark)
    left = []
    for _ in range(2):
        builder(spark, SF_SMALL).count()
        caches.release_all()
        left.append(_stored_rdds(spark) - before)
    assert left == [set(), set()]


def test_cc_long_diameter_graph_hits_checkpoint_branch(spark):
    """A path graph of diameter 12 forces >10 label-propagation
    rounds, firing the every-5-iterations localCheckpoint + unpersist
    branch (twice) that harness-sized graphs (diameter ≤3) never
    reach. The fixpoint must still be the component minimum for every
    vertex."""
    n = 13
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(100, 101), (101, 102)],
        "id1 long, id2 long",
    )
    labels = dedup._cc_label_propagation(pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {**{i: 0 for i in range(n)},
                   **{v: 100 for v in (100, 101, 102)}}
    caches.release_all()


def test_large_small_star_cc_agrees_with_union_find_and_label_prop(spark):
    """The alternating-star CC (the billion-edge primitive the
    label-prop docstring references) must produce the identical
    fixpoint as union-find AND distributed label propagation on
    path (high-diameter), clustered, and random graphs."""
    import random

    cases = {
        "path-31": [(i, i + 1) for i in range(30)],
        "cliquey": [(0, 1), (1, 2), (2, 0), (5, 6), (10, 11), (11, 12),
                    (12, 10), (100, 5)],
    }
    rng = random.Random(11)
    cases["random"] = [
        (a, b)
        for a, b in ((rng.randrange(120), rng.randrange(120))
                     for _ in range(90))
        if a != b
    ]
    for name, edge_list in cases.items():
        pairs = spark.createDataFrame(edge_list, "id1 long, id2 long")
        star = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup._cc_large_small_star(pairs).collect()
        }
        caches.release_all()
        verts = {v for e in edge_list for v in e}
        uf = dedup._cc_union_find(edge_list, verts)
        assert star == uf, name
        lp = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup._cc_label_propagation(pairs).collect()
        }
        caches.release_all()
        assert star == lp, name


def test_claim_if_large_threshold(spark, tmp_path):
    """Below min_bytes → lazy passthrough (no live claim); at/above →
    claimed + materialized (the 100 TB branch)."""
    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)
    df = spark.range(10)

    before = caches.live_count()
    out = caches.claim_if_large(
        "test_cil_small", df, [str(small)], min_bytes=1 << 20
    )
    assert caches.live_count() == before  # lazy passthrough, no claim
    assert not out.storageLevel.useMemory

    out2 = caches.claim_if_large(
        "test_cil_big", df, [str(small)], min_bytes=512
    )
    assert caches.live_count() == before + 1
    assert out2.storageLevel.useMemory
    caches.release("test_cil_big")

    # missing path → size unknown → scale-safe default is to claim
    out3 = caches.claim_if_large(
        "test_cil_missing", spark.range(10), [str(tmp_path / "nope.bin")],
        min_bytes=1 << 20,
    )
    assert out3.storageLevel.useMemory
    caches.release("test_cil_missing")


def test_cc_star_caches_are_registry_tracked(spark):
    """_cc_large_small_star's intra-round persists route through
    caches.claim (r4 ADVICE #7): after a run, the only surviving
    tracked cache is the labels claim — the edges and per-round
    intermediates were released in the builder's finally — and a
    release_all() leaves nothing live."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id1 long, id2 long"
    )
    caches.release_all()
    dedup._cc_large_small_star(pairs).count()
    assert caches.live_count() == 1  # cc_star_labels only
    caches.release_all()
    assert caches.live_count() == 0
