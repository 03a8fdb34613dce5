"""The similarity family's two vector folds (`similarity._fold_spark`,
`similarity._fold_duck`) are left folds from 0.0, evaluated by the real
engines.

The input puts 1e16 first and small terms after it. Each small term is
below half an ulp of 1e16, so a left fold from 0.0 drops every one of
them, while any other association (pairwise, tree, Kahan, `math.fsum`)
keeps some. Each fold must equal Python's left fold bit for bit and
differ from `math.fsum`, so a fold that reassociates fails.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from etl_portfolio_project_spark.operators import similarity as S

A = [1e16] + [1.0] * 63
B = [1.0] * 64
#: squared-distance input: (1e8 - 0)^2 = 1e16 exactly, then 63 ones
A_SQ = [1e8] + [1.0] * 63
B_SQ = [0.0] * 64
#: slice pair with different offsets: a[2..33] against b[1..32]; the
#: first element of A_SLICE and the 9.0s of B_SLICE enter only if an
#: offset is wrong
A_SLICE = [7.0, 1e16] + [1.0] * 62
B_SLICE = [1.0] * 32 + [9.0] * 32
#: 17-digit literals, the `_duck_lits` case (LSH hyperplane values)
LITS = S.LSH_PLANES[0][0]


def _left_fold(terms) -> float:
    acc = 0.0
    for t in terms:
        acc += t
    return acc


def _dot_terms(xs, ys):
    return [x * y for x, y in zip(xs, ys)]


def _sqdiff_terms(xs, ys):
    return [(x - y) * (x - y) for x, y in zip(xs, ys)]


CASES = {
    # name: (Spark a expr, Spark b expr, term, Python terms)
    "dot": ("a", "b", S._MUL, _dot_terms(A, B)),
    "sqdist": ("a_sq", "b_sq", S._SQDIFF, _sqdiff_terms(A_SQ, B_SQ)),
    "slice": (
        "slice(a_slice, 2, 32)",
        "slice(b_slice, 1, 32)",
        S._MUL,
        _dot_terms(A_SLICE[1:33], B_SLICE[0:32]),
    ),
}


def _assert_left_fold(got: float, terms: list[float]) -> None:
    want = _left_fold(terms)
    assert got.hex() == want.hex()
    assert got.hex() != math.fsum(terms).hex()


@pytest.mark.parametrize("case", sorted(CASES))
def test_fold_spark_is_a_left_fold(spark, case):
    a, b, term, terms = CASES[case]
    spark.createDataFrame(
        [(A, B, A_SQ, B_SQ, A_SLICE, B_SLICE)],
        "a array<double>, b array<double>, a_sq array<double>, "
        "b_sq array<double>, a_slice array<double>, b_slice array<double>",
    ).createOrReplaceTempView("fold_input")
    got = spark.sql(
        f"SELECT {S._fold_spark(a, b, term)} AS v FROM fold_input"
    ).first()["v"]
    _assert_left_fold(got, terms)


def _duck(expr: str) -> float:
    with duckdb.connect() as con:
        return con.execute(
            f"SELECT {expr} FROM (SELECT $a::DOUBLE[] AS a, $b::DOUBLE[] AS b, "
            "$a_sq::DOUBLE[] AS a_sq, $b_sq::DOUBLE[] AS b_sq, "
            "$a_slice::DOUBLE[] AS a_slice, $b_slice::DOUBLE[] AS b_slice)",
            {"a": A, "b": B, "a_sq": A_SQ, "b_sq": B_SQ,
             "a_slice": A_SLICE, "b_slice": B_SLICE},
        ).fetchone()[0]


def test_fold_duck_columns_is_a_left_fold():
    cols = S._duck_cols
    _assert_left_fold(
        _duck(S._fold_duck(cols("a"), cols("b"), S._MUL)), CASES["dot"][3]
    )
    _assert_left_fold(
        _duck(S._fold_duck(cols("a_sq"), cols("b_sq"), S._SQDIFF)),
        CASES["sqdist"][3],
    )
    _assert_left_fold(
        _duck(S._fold_duck(cols("a_slice", 2, 32), cols("b_slice", 1, 32), S._MUL)),
        CASES["slice"][3],
    )
    # the oracle-facing wrapper is the same fold
    _assert_left_fold(_duck(S.dot_sql("a", "b")), CASES["dot"][3])


def test_fold_duck_quoted_literals_is_a_left_fold():
    got = _duck(S._fold_duck(S._duck_cols("a"), S._duck_lits(LITS), S._MUL))
    _assert_left_fold(got, _dot_terms(A, LITS))
