"""Grouped distributed-rank helpers (VERDICT r9 item 1): each helper
must be bit-identical to the plain per-group window it replaces —
including NULL group keys, ties, groups smaller than k, and groups
split across range partitions — while its plan never sorts a whole
group in one task."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

def _key(rows):
    return sorted(
        [tuple(r) for r in rows],
        key=lambda t: tuple((x is None, x) for x in t),
    )


from etl_portfolio_project_spark.operators.ranking import (
    grouped_bottomk_survivors,
    grouped_ranged_cumsum,
    grouped_ranged_row_number,
)


def _toy(spark, n=500, groups=("a", "b", None, "d")):
    # deterministic values with heavy ties; NULL group key included
    rows = [
        (
            groups[i % len(groups)],
            i,
            (i * 2654435761) % 97,  # tie-heavy value
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "g string, id long, v long")


def test_grouped_row_number_matches_window(spark):
    df = _toy(spark)
    got = grouped_ranged_row_number(
        df, ["g"], [F.col("v"), F.col("id")], out="rn", group_total="n"
    )
    w = Window.partitionBy("g").orderBy("v", "id")
    wc = Window.partitionBy("g")
    want = df.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count(F.lit(1)).over(wc).cast("long")
    )
    assert _key(got.select(*want.columns).collect()) == _key(want.collect())


def test_grouped_row_number_single_group_and_tiny(spark):
    # one group (degenerate grouping) and a 1-row frame
    df = _toy(spark, n=40, groups=("only",))
    got = grouped_ranged_row_number(df, ["g"], [F.col("v"), F.col("id")])
    w = Window.partitionBy("g").orderBy("v", "id")
    want = df.withColumn("rn", F.row_number().over(w).cast("long"))
    assert _key(got.collect()) == _key(want.collect())
    one = _toy(spark, n=1)
    assert grouped_ranged_row_number(
        one, ["g"], [F.col("v"), F.col("id")]
    ).collect()[0].rn == 1


def test_grouped_cumsum_matches_window(spark):
    df = _toy(spark)
    got = grouped_ranged_cumsum(
        df, ["g"], [F.col("id")], "v", out="cum_before"
    )
    w = (
        Window.partitionBy("g")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn(
        "cum_before",
        F.coalesce(F.sum("v").over(w), F.lit(0)).cast("long"),
    )
    assert _key(got.collect()) == _key(want.collect())


def test_bottomk_survivors_exact_and_pruned(spark):
    df = _toy(spark, n=2000, groups=("a", "b", None))
    k = 7
    surv = grouped_bottomk_survivors(df, ["g"], "v", k, buckets=16)
    # every row of true rank ≤ k survives
    w = Window.partitionBy("g").orderBy("v", "id")
    want_top = (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
    got = {tuple(r) for r in surv.collect()}
    for r in want_top.collect():
        assert tuple(r) in got
    # and the prune actually prunes (tie-heavy 97-value domain still
    # leaves >k survivors, but far fewer than the corpus)
    assert surv.count() < df.count()


def test_bottomk_small_group_keeps_all(spark):
    df = _toy(spark, n=12, groups=("a", "b"))
    surv = grouped_bottomk_survivors(df, ["g"], "v", 64, buckets=16)
    assert surv.count() == 12  # NULL boundary → keep-all fallback


def test_bottomk_rank_after_prune_equals_true_rank(spark):
    # ranks computed on the survivor set equal the full-relation ranks
    # for every kept row (the property every consumer relies on)
    df = _toy(spark, n=3000, groups=("a", "b", "c", None))
    k = 10
    surv = grouped_bottomk_survivors(df, ["g"], "v", k, buckets=32)
    w = Window.partitionBy("g").orderBy("v", "id")
    got = (
        surv.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("g", "id", "rn")
    )
    want = (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("g", "id", "rn")
    )
    assert _key(got.collect()) == _key(want.collect())


def test_lazy_ranged_checkpoint_branch_consistency(spark):
    """grouped_ranged_row_number with the lazy localCheckpoint must
    still hand BOTH branches (rank window + size aggregate) the same
    pid assignment: per-group rank sequences must be a dense 1..n with
    the correct group totals (an offset/rank mismatch from divergent
    pids would break density)."""
    from etl_portfolio_project_spark.operators.ranking import (
        grouped_ranged_row_number,
    )

    df = (
        spark.range(0, 5000)
        .selectExpr("id", "id % 7 AS g", "CAST(id * 37 % 4999 AS DOUBLE) v")
    )
    got = grouped_ranged_row_number(
        df, ["g"], [F.col("v"), F.col("id")], out="rn", group_total="n"
    )
    rows = got.groupBy("g", "n").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("rn").alias("mn"),
        F.max("rn").alias("mx"),
        F.count_distinct("rn").alias("d"),
    ).collect()
    assert rows
    for r in rows:
        assert r.mn == 1 and r.mx == r.cnt == r.d == r.n


@pytest.mark.parametrize("eager_consumers", [2])
def test_lazy_ranged_checkpoint_repeated_actions(spark, eager_consumers):
    """Two separate ACTIONS on one helper result must agree (the lazy
    checkpoint materializes once; later actions reuse it)."""
    from etl_portfolio_project_spark.operators.ranking import (
        ranged_row_number,
    )

    df = spark.range(0, 2000).selectExpr(
        "id", "CAST(pmod(id * 131, 1999) AS DOUBLE) v"
    )
    got = ranged_row_number(df, [F.col("v"), F.col("id")], out="rn")
    first = {r.id: r.rn for r in got.collect()}
    for _ in range(eager_consumers):
        again = {r.id: r.rn for r in got.collect()}
        assert again == first
