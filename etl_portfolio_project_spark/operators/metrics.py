"""The loan-metric block (M1–M12, SURVEY.md §2.5).

Reference: `calculate_loan_metrics`, a row-wise pandas apply
(/root/reference/main.py:82-141). Here the whole block is pure
Catalyst column expressions — no UDF, fully whole-stage-codegen'd,
so at 100 TB it runs JVM-side as a single narrow projection stage
(no shuffle, no Python workers).

Fidelity notes (all verified against the reference semantics):
- duration is a CALENDAR month diff (year*12+month), not
  `months_between` (/root/reference/main.py:90).
- `emi_collected` is deliberately NOT coalesced to 0: the reference's
  `row.get(...) or 0` keeps NaN (NaN is truthy), so left-join misses
  propagate NaN ≡ SQL NULL. Spark's NULL-skipping `greatest` then
  reproduces pandas `max(0, nan) == 0` exactly (SURVEY.md §2.11).
- `add_months` shares end-of-month clamping with `pd.DateOffset`
  (/root/reference/main.py:118).
- Arithmetic is ordered exactly as the Python source so doubles are
  bit-identical to an IEEE re-execution (and to the DuckDB oracle).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: loan_final DPD bucket labels — en-dash, " DPD" suffix
#: (/root/reference/main.py:122-131). NOTE: the monthly-schedule
#: bucket uses a DIFFERENT label scheme (see schedule.py).
FINAL_BUCKETS = [(30, "1–30 DPD"), (60, "31–60 DPD"), (90, "61–90 DPD")]
FINAL_BUCKET_OVER = "90+ DPD"

def month_diff(later: Column, earlier: Column) -> Column:
    """Calendar month difference, day-of-month ignored (M1)."""
    return (
        (F.year(later) - F.year(earlier)) * F.lit(12)
        + (F.month(later) - F.month(earlier))
    ).cast("long")


def dpd_bucket_expr(dpd: Column) -> Column:
    """5-way DPD bucket CASE (M11, /root/reference/main.py:122-131)."""
    expr = F.when(dpd == 0, "Current")
    for bound, label in FINAL_BUCKETS:
        expr = expr.when(dpd <= bound, label)
    return expr.otherwise(FINAL_BUCKET_OVER)


def with_loan_metrics(df: DataFrame, as_of: dt.date) -> DataFrame:
    """Append the 9 derived metric columns to a loan frame.

    Expects columns: disbursement_amount, interest_rate,
    disbursement_date, due_date, emi_collected (nullable).
    """
    P = F.col("disbursement_amount")
    R = F.col("interest_rate") / F.lit(100)  # main.py:84
    disb = F.col("disbursement_date")
    due = F.col("due_date")
    ec = F.col("emi_collected")  # NOT coalesced — see module docstring

    dur = month_diff(due, disb)  # main.py:90
    T = dur / F.lit(12)  # main.py:91
    interest = (P * R) * T  # main.py:94 (left-assoc)
    total_payable = P + interest  # main.py:95
    emi = F.when(dur > 0, total_payable / dur).otherwise(F.lit(0.0))  # main.py:96

    md_raw = (
        (F.lit(as_of.year) - F.year(disb)) * F.lit(12)
        + (F.lit(as_of.month) - F.month(disb))
    ).cast("long")  # main.py:99
    months_due = F.greatest(F.lit(0).cast("long"), F.least(md_raw, dur))  # main.py:100

    total_demand = emi * months_due  # main.py:103
    total_to_be_collected = total_payable - ec  # main.py:106 (unclamped, NULL-prop)
    arrear = F.greatest(F.lit(0.0), total_demand - ec)  # main.py:111
    target_amount = F.greatest(F.lit(0.0), (arrear + emi) - ec)  # main.py:114
    amount_to_be_returned = F.greatest(F.lit(0.0), -((arrear + emi) - ec))  # main.py:115

    as_of_lit = F.lit(as_of)
    dpd_days = F.when(
        arrear > F.lit(0),
        F.greatest(
            F.lit(0).cast("long"),
            F.datediff(as_of_lit, F.add_months(disb, months_due.cast("int"))).cast(
                "long"
            ),
        ),
    ).otherwise(F.lit(0).cast("long"))  # main.py:118-119

    return df.withColumns(
        {
            "emi_amount": emi,
            "total_demand": total_demand,
            "arrear": arrear,
            "target_amount": target_amount,
            "amount_to_be_returned": amount_to_be_returned,
            "months_due": months_due,
            "dpd_days": dpd_days,
            "dpd_bucket": dpd_bucket_expr(dpd_days),
            "total_to_be_collected": total_to_be_collected,
        }
    )


def metrics_sql(as_of_sql: str, from_clause: str, passthrough: Sequence[str]) -> str:
    """DuckDB oracle for the metric block.

    Arithmetic is layered (subqueries) in exactly the operation order
    of `with_loan_metrics` so double results are bit-identical.
    `from_clause` ("FROM ...") must yield `passthrough` plus
    disbursement_amount, interest_rate, disbursement_date, due_date,
    emi_collected.
    """
    pt = ", ".join(passthrough)
    return f"""
    SELECT {pt},
           emi_amount, total_demand, arrear, target_amount,
           amount_to_be_returned, months_due, dpd_days,
           CASE WHEN dpd_days = 0 THEN 'Current'
                WHEN dpd_days <= 30 THEN '1–30 DPD'
                WHEN dpd_days <= 60 THEN '31–60 DPD'
                WHEN dpd_days <= 90 THEN '61–90 DPD'
                ELSE '90+ DPD' END AS dpd_bucket,
           total_to_be_collected
    FROM (
      SELECT *,
        greatest(CAST(0.0 AS DOUBLE), (arrear + emi_amount) - emi_collected)
          AS target_amount,
        greatest(CAST(0.0 AS DOUBLE), -((arrear + emi_amount) - emi_collected))
          AS amount_to_be_returned,
        CASE WHEN arrear > 0
             THEN greatest(CAST(0 AS BIGINT),
                  CAST(date_diff('day',
                       CAST(disbursement_date
                            + to_months(CAST(months_due AS INTEGER)) AS DATE),
                       {as_of_sql}) AS BIGINT))
             ELSE CAST(0 AS BIGINT) END AS dpd_days
      FROM (
        SELECT *,
          emi_amount * months_due AS total_demand,
          total_payable - emi_collected AS total_to_be_collected,
          greatest(CAST(0.0 AS DOUBLE),
                   emi_amount * months_due - emi_collected) AS arrear
        FROM (
          SELECT *,
            CASE WHEN dur > 0 THEN total_payable / dur
                 ELSE CAST(0.0 AS DOUBLE) END AS emi_amount
          FROM (
            SELECT *,
              disbursement_amount
                + (disbursement_amount * (interest_rate / 100)) * (dur / 12)
                AS total_payable,
              greatest(CAST(0 AS BIGINT), least(md_raw, dur)) AS months_due
            FROM (
              SELECT *,
                CAST((year(due_date) - year(disbursement_date)) * 12
                     + (month(due_date) - month(disbursement_date)) AS BIGINT)
                  AS dur,
                CAST((year({as_of_sql}) - year(disbursement_date)) * 12
                     + (month({as_of_sql}) - month(disbursement_date)) AS BIGINT)
                  AS md_raw
              {from_clause}
            )
          )
        )
      )
    )
    """
