"""End-to-end loan pipeline — the engine's flagship.

Re-expresses the reference's whole program
(/root/reference/main.py:10-224) as ONE lazy Catalyst plan per sink:

  source join (S1/J1)  → left-join extensions (J2) → fuzzy clean (F1)
  → metric block (M1–M12) → loan_final sink (S5)
  → schedule expansion (T1–T6) → loan_monthly_schedule sink (S6)

Where the reference materializes eagerly between every stage, here the
shared prefix (`loan_final`'s plan) is built once; callers writing
both sinks should `.persist()` it, mirroring the reference's reuse of
`final_df` at /root/reference/main.py:192,204.

Scale notes:
- J1 joins fact `loans` to dim `customers`: the dim side is broadcast
  (no shuffle of the 100 TB fact). On a real cluster with a huge
  customer dim, AQE picks sort-merge and both sides shuffle on the
  key — the engine leaves that choice to Catalyst/AQE and only hints
  broadcast for the known-small harness dims.
- J2 (loans ⟕ extensions) is key-key on `loan_id`; with both sides
  large this is a shuffle join on a high-cardinality key → no skew.
- Everything after the joins is narrow (projections, explode): the
  schedule expansion is zero-shuffle.
- The parquet schedule sink writes `total_demand_till_month` and
  `arrear` without a dictionary. Both are emi × month terms, nearly
  unique per row, so a dictionary only costs: parquet-mr fills it and
  falls back to plain for the first, and keeps a larger-than-plain one
  for the second. `dpd_days` keeps its dictionary (dropping it too
  measured slower and larger).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.fuzzy import with_region_cleaned
from ..operators.metrics import with_loan_metrics
from ..operators.schedule import monthly_schedule
from ..sources import views
from ..sources.registry import balanced


def joined_loans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+J1+J2: customers ⋈ loans ⟕ extensions.

    The reference pushes J1 into Postgres (/root/reference/main.py:25-41)
    and the Mongo projection server-side (main.py:53); here both appear
    as explicit joins/selects and Catalyst pushes projections into the
    parquet scans.
    """
    loans = views.loans(spark, sf_dir)
    customers = views.customers(spark, sf_dir)
    extensions = views.extensions(spark, sf_dir)
    j1 = loans.join(F.broadcast(customers), "customer_id", "inner")
    return j1.join(extensions, "loan_id", "left")


def loan_final(
    spark: SparkSession, sf_dir: str, as_of: dt.date = views.AS_OF
) -> DataFrame:
    """The `test.loan_final` analog (/root/reference/main.py:204-210)."""
    df = joined_loans(spark, sf_dir)
    df = with_region_cleaned(df)
    return with_loan_metrics(df, as_of)


def loan_monthly_schedule(
    spark: SparkSession, sf_dir: str, as_of: dt.date = views.AS_OF
) -> DataFrame:
    """The `test.loan_monthly_schedule` analog (/root/reference/main.py:213-219).

    The expansion itself is fully narrow (explode + closed-form running
    total, schedule.py); `balanced` inserts one round-robin exchange of
    the slim pre-explosion rows ONLY when the source scan under-splits
    (single-file harness tables), so the ~30x fan-out and per-month
    expressions run at full cluster width. At scale the scan already
    has thousands of splits and the pipeline stays zero-shuffle."""
    return monthly_schedule(balanced(joined_loans(spark, sf_dir)), as_of)


#: near-unique schedule money columns written without a parquet
#: dictionary (see the module docstring)
_PLAIN_SCHEDULE_COLUMNS = ("total_demand_till_month", "arrear")


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    as_of: dt.date = views.AS_OF,
    file_format: str = "parquet",
) -> dict[str, str]:
    """Execute both sinks with full-replace semantics (S5/S6).

    The reference's `to_sql(if_exists="replace")` becomes
    `mode("overwrite")`. The shared plan prefix is persisted once.
    Fails fast — no reference-style swallow-all try/except
    (/root/reference/main.py:223-224, SURVEY.md §2.12).
    """
    final_df = loan_final(spark, sf_dir, as_of).persist()
    try:
        final_path = f"{out_dir}/loan_final"
        sched_path = f"{out_dir}/loan_monthly_schedule"
        final_df.write.mode("overwrite").format(file_format).save(final_path)
        sched_writer = monthly_schedule(final_df, as_of).write
        if file_format == "parquet":
            sched_writer = sched_writer.options(
                **{
                    f"parquet.enable.dictionary#{c}": "false"
                    for c in _PLAIN_SCHEDULE_COLUMNS
                }
            )
        sched_writer.mode("overwrite").format(file_format).save(sched_path)
        return {"loan_final": final_path, "loan_monthly_schedule": sched_path}
    finally:
        final_df.unpersist()
