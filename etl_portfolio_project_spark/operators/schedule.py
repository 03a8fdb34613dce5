"""Month-wise loan schedule (T1–T6, SURVEY.md §2.6).

Reference: `generate_monthly_schedule` — a Python loop per loan
building one mini-DataFrame each, concatenated at the end
(/root/reference/main.py:146-193). Here the expansion is a single
distributed pass:

    explode(sequence(1, duration))            -- T1, no UDTF
    + closed-form running total per loan      -- T2, no window needed
    + pure column expressions for T3–T5

Per-loan terms (duration, EMI, last elapsed month) are computed once
per loan below the explode; only the per-month terms run per month.

Scale design: the whole pipeline is NARROW — the explode is a Generate
and the running total is computed in closed form (see the T2 comment
below), so the schedule needs ZERO shuffles: at 100 TB it streams
straight from scan to sink, embarrassingly parallel. (A window
`sum() over (partition by loan_id order by month)` would be the
generic fallback for a non-constant per-month payment stream; the
reference's semantics add the same value each elapsed month, which is
what admits the closed form.)

Fidelity traps handled (golden-output critical):
- `sequence(1, n)` DESCENDS for n < 1 in Spark, while Python
  `range(1, n+1)` is empty → gate with `when(n >= 1, ...)` else empty
  array, so zero/negative-duration loans emit NO rows
  (/root/reference/main.py:159).
- T2's quirky running total adds the FULL cumulative `emi_collected`
  once per month whose due date has elapsed — reproduced literally,
  not "fixed" (/root/reference/main.py:158-163).
- NaN poisoning: for loans with no extension row, `collected` is
  NaN ≡ NULL in elapsed months; pandas' running float becomes NaN
  forever after. A plain Spark window SUM would *skip* NULLs, so the
  closed-form total is NULL whenever `emi_collected` is NULL and at
  least one month has elapsed, 0.0 before that (SURVEY.md §2.11).
- Second DPD bucket label scheme differs from loan_final's
  (/root/reference/main.py:167-176) — separate CASE, not shared.
- `round` is Python banker's rounding (/root/reference/main.py:182-185).
  The engine rounds with the deterministic scaled half-up form
  `floor(x*100 + 0.5)/100` instead: Spark's `bround` rounds the JAVA
  string repr of the double (pre-JDK19 `Double.toString` is not
  correctly-rounded-shortest), so no SQL engine can reproduce it
  exactly, while the floor form is pure IEEE arithmetic — bit-identical
  across Spark, DuckDB, and NumPy. It diverges from Python `round`
  only when x*100 sits within 1 ulp of a .5 tie (~0.04% of schedule
  rows, by exactly one cent) — a documented deviation.
- Output column names: the reference emits Title-Case names and a
  DYNAMIC name embedding the run date ("DPD (as of ...)",
  /root/reference/main.py:186). The engine uses fixed snake_case
  names — a documented, deliberate schema deviation (SURVEY.md §7.5).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: monthly-schedule bucket labels (/root/reference/main.py:167-176) —
#: en-dash, no " DPD" suffix, boundaries named differently than M11.
SCHEDULE_BUCKETS = [(30, "0–30"), (60, "30–60"), (90, "60–90")]
SCHEDULE_BUCKET_OVER = "90+"


def round2(col: Column) -> Column:
    """Deterministic 2-dp rounding: floor(x*100 + 0.5)/100 (see module
    docstring for why not `bround`). NULL-propagating."""
    return F.floor(col * F.lit(100) + F.lit(0.5)) / F.lit(100)


def round2_sql(expr: str) -> str:
    """DuckDB counterpart of `round2`, same IEEE op order."""
    return f"floor(({expr}) * 100 + 0.5) / 100"


def schedule_bucket_expr(dpd: Column) -> Column:
    expr = F.when(dpd == 0, "Current")
    for bound, label in SCHEDULE_BUCKETS:
        expr = expr.when(dpd <= bound, label)
    return expr.otherwise(SCHEDULE_BUCKET_OVER)


def monthly_schedule(df: DataFrame, as_of: dt.date) -> DataFrame:
    """Expand a loan frame into its per-month schedule.

    Expects columns: loan_id, disbursement_amount, interest_rate,
    disbursement_date, due_date, emi_collected (nullable).
    Returns one row per (loan, month 1..duration).
    """
    P = F.col("disbursement_amount")
    disb = F.col("disbursement_date")
    due = F.col("due_date")

    dur = (
        (F.year(due) - F.year(disb)) * F.lit(12) + (F.month(due) - F.month(disb))
    ).cast("int")  # main.py:154
    # main.py:155 — NOTE: different arithmetic shape than metrics.py
    # (P * (1 + R*T) here vs P + P*R*T there); kept faithful per-op.
    total_payable = P * (
        F.lit(1) + (F.col("interest_rate") / F.lit(100)) * (dur / F.lit(12))
    )
    emi = F.when(dur > 0, total_payable / dur).otherwise(F.lit(0.0))  # main.py:156

    # Running total (T2) in CLOSED FORM — no window, no shuffle. The
    # reference adds the full cumulative `emi_collected` once per
    # elapsed month (main.py:158-163), so after month m the total is
    # emi_collected × elapsed(m) with elapsed(m) = #{j ≤ m :
    # add_months(disb,j) ≤ as_of}. Due dates are strictly increasing
    # in j, so elapsed(m) = least(m, E) where E is the last elapsed
    # month index: E = md if add_months(disb, md) ≤ as_of else md-1
    # (md = calendar month diff to as_of; E clamped ≥ 0). Integer
    # arithmetic → engine-exact (a double window SUM would not be:
    # accumulation order differs between engines in the last ulp).
    as_of_lit = F.lit(as_of)
    md_asof = (
        (F.lit(as_of.year) - F.year(disb)) * F.lit(12)
        + (F.lit(as_of.month) - F.month(disb))
    ).cast("int")
    last_elapsed = F.greatest(
        F.lit(0),
        F.when(F.add_months(disb, md_asof) <= as_of_lit, md_asof).otherwise(
            md_asof - F.lit(1)
        ),
    )

    # Per-loan terms go in a select BELOW the explode: Catalyst puts
    # every select item next to `explode()` in a Project above the
    # Generate and never moves it back, so there they would run once
    # per generated month instead of once per loan.
    per_loan = df.select(
        "loan_id",
        disb.alias("__disb"),
        F.col("emi_collected").alias("__ec"),
        emi.alias("emi_amount"),
        last_elapsed.alias("__last_elapsed"),
        dur.alias("__dur"),
    )
    n = F.col("__dur")
    base = per_loan.select(
        "*",
        F.explode(
            F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("month"),
    )

    due_m = F.add_months(F.col("__disb"), F.col("month"))  # main.py:160
    demand = F.col("emi_amount") * F.col("month")  # main.py:161
    collected = F.when(due_m <= as_of_lit, F.col("__ec")).otherwise(F.lit(0.0))

    stepped = base.withColumns(
        {
            "emi_due_date": due_m,
            "total_demand_till_month": demand,
            "collected": collected,
        }
    )
    elapsed = F.least(F.col("month"), F.col("__last_elapsed")).cast("long")
    # NaN-poisoning: pandas' float accumulator goes NaN forever once a
    # NaN (≡ NULL, left-join miss) is added — i.e. whenever
    # emi_collected IS NULL and at least one month elapsed.
    total_collected = (
        F.when(elapsed == 0, F.lit(0.0))
        .when(F.col("__ec").isNull(), F.lit(None).cast("double"))
        .otherwise(F.col("__ec") * elapsed)
    )

    arrear = F.greatest(
        F.lit(0.0), F.col("total_demand_till_month") - total_collected
    )  # main.py:164
    dpd = F.when(
        arrear > F.lit(0),
        F.greatest(
            F.lit(0).cast("long"),
            F.datediff(as_of_lit, F.col("emi_due_date")).cast("long"),
        ),
    ).otherwise(F.lit(0).cast("long"))  # main.py:165

    return stepped.select(
        F.col("loan_id"),
        F.col("month").cast("long").alias("month"),
        F.date_format("emi_due_date", "dd-MMM-yyyy").alias("emi_due_date"),
        round2(F.col("emi_amount")).alias("emi_amount"),
        round2(F.col("collected")).alias("emi_collected"),
        round2(F.col("total_demand_till_month")).alias("total_demand_till_month"),
        round2(arrear).alias("arrear"),
        dpd.alias("dpd_days"),
        schedule_bucket_expr(dpd).alias("dpd_bucket"),
    )


def schedule_sql(as_of_sql: str, from_clause: str) -> str:
    """DuckDB oracle for `monthly_schedule`, op-order-identical."""
    _arrear = (
        "greatest(CAST(0.0 AS DOUBLE), total_demand_till_month - total_collected)"
    )
    return f"""
    SELECT loan_id,
           CAST(month AS BIGINT) AS month,
           strftime(emi_due_date, '%d-%b-%Y') AS emi_due_date,
           {round2_sql('emi_amount')} AS emi_amount,
           {round2_sql('collected')} AS emi_collected,
           {round2_sql('total_demand_till_month')} AS total_demand_till_month,
           {round2_sql(_arrear)} AS arrear,
           CASE WHEN greatest(CAST(0.0 AS DOUBLE),
                              total_demand_till_month - total_collected) > 0
                THEN greatest(CAST(0 AS BIGINT),
                     CAST(date_diff('day', emi_due_date, {as_of_sql}) AS BIGINT))
                ELSE CAST(0 AS BIGINT) END AS dpd_days,
           CASE WHEN (CASE WHEN greatest(CAST(0.0 AS DOUBLE),
                               total_demand_till_month - total_collected) > 0
                      THEN greatest(CAST(0 AS BIGINT),
                           CAST(date_diff('day', emi_due_date, {as_of_sql}) AS BIGINT))
                      ELSE CAST(0 AS BIGINT) END) = 0 THEN 'Current'
                WHEN (CASE WHEN greatest(CAST(0.0 AS DOUBLE),
                               total_demand_till_month - total_collected) > 0
                      THEN greatest(CAST(0 AS BIGINT),
                           CAST(date_diff('day', emi_due_date, {as_of_sql}) AS BIGINT))
                      ELSE CAST(0 AS BIGINT) END) <= 30 THEN '0–30'
                WHEN (CASE WHEN greatest(CAST(0.0 AS DOUBLE),
                               total_demand_till_month - total_collected) > 0
                      THEN greatest(CAST(0 AS BIGINT),
                           CAST(date_diff('day', emi_due_date, {as_of_sql}) AS BIGINT))
                      ELSE CAST(0 AS BIGINT) END) <= 60 THEN '30–60'
                WHEN (CASE WHEN greatest(CAST(0.0 AS DOUBLE),
                               total_demand_till_month - total_collected) > 0
                      THEN greatest(CAST(0 AS BIGINT),
                           CAST(date_diff('day', emi_due_date, {as_of_sql}) AS BIGINT))
                      ELSE CAST(0 AS BIGINT) END) <= 90 THEN '60–90'
                ELSE '90+' END AS dpd_bucket
    FROM (
      SELECT *,
        CASE WHEN least(CAST(month AS BIGINT), last_elapsed) = 0
               THEN CAST(0.0 AS DOUBLE)
             WHEN __ec IS NULL THEN NULL
             ELSE __ec * least(CAST(month AS BIGINT), last_elapsed)
        END AS total_collected
      FROM (
        SELECT *,
          CAST(__disb + to_months(month) AS DATE) AS emi_due_date,
          emi_amount * month AS total_demand_till_month,
          CASE WHEN CAST(__disb + to_months(month) AS DATE) <= {as_of_sql}
               THEN __ec ELSE CAST(0.0 AS DOUBLE) END AS collected,
          CAST(greatest(0, CASE
            WHEN CAST(__disb + to_months(md_asof) AS DATE) <= {as_of_sql}
              THEN md_asof ELSE md_asof - 1 END) AS BIGINT) AS last_elapsed
        FROM (
          SELECT loan_id, disbursement_date AS __disb, emi_collected AS __ec,
                 CASE WHEN dur > 0 THEN total_payable / dur
                      ELSE CAST(0.0 AS DOUBLE) END AS emi_amount,
                 CAST(m.month AS INTEGER) AS month,
                 CAST((year({as_of_sql}) - year(disbursement_date)) * 12
                      + (month({as_of_sql}) - month(disbursement_date))
                      AS INTEGER) AS md_asof
          FROM (
            SELECT *,
              disbursement_amount * (1 + (interest_rate / 100) * (dur / 12))
                AS total_payable
            FROM (
              SELECT *,
                CAST((year(due_date) - year(disbursement_date)) * 12
                     + (month(due_date) - month(disbursement_date)) AS INTEGER)
                  AS dur
              {from_clause}
            )
          ), UNNEST(generate_series(1, CAST(dur AS BIGINT))) AS m(month)
        )
      )
    )
    """
