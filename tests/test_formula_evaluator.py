"""Reference-parity tests for the standard-precision evaluator.

Reproduces the reference's FormulaEvaluator suite (reference
tests/test_FormulaEvaluator_pt1.py:13-302; fixtures per FIXTURES.md
A1): seed-42 matrices, expected = the same expression computed
directly in pandas with ``replace([inf,-inf,nan], 0)`` under
``fill_invalid=True``.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pytest

from ssb_coefficient_maker_spark.api import FormulaEvaluator


@pytest.fixture(scope="module")
def fixtures():
    rng = np.random.default_rng(seed=42)
    a = pd.DataFrame(rng.integers(1, 10, (3, 3))).astype(float)
    b = pd.DataFrame(rng.integers(1, 5, (3, 3))).astype(float)
    c = pd.DataFrame(rng.integers(1, 3, (3, 3))).astype(float)
    d = pd.DataFrame(rng.integers(2, 6, (3, 3))).astype(float)
    e = pd.DataFrame(rng.integers(0, 1, (3, 3))).astype(float)
    f = pd.DataFrame(np.tile(rng.integers(0, 5, 3), (3, 1))).astype(float)
    g = pd.DataFrame(np.diag(rng.integers(1, 10, 3))).astype(float)
    h_vals = g.to_numpy().copy()
    h_vals[0, 1] = 1
    h = pd.DataFrame(h_vals).astype(float)
    i_vals = rng.integers(1, 10, (3, 3)).astype(float)
    i_vals[0, 1] = np.nan
    i_vals[2, 2] = np.nan
    i = pd.DataFrame(i_vals)
    j_vals = np.zeros((3, 3))
    j_vals[0, 0] = 5
    j_vals[2, 1] = 3
    j = pd.DataFrame(j_vals)
    return {"a": a, "b": b, "c": c, "d": d, "e": e, "f": f, "g": g, "h": h, "i": i, "j": j}


@pytest.fixture(scope="module")
def evaluator(spark, fixtures):
    return FormulaEvaluator(fixtures, fill_invalid=True, spark=spark)


def pandas_expected(fixtures, pd_formula):
    env = dict(fixtures)
    with np.errstate(divide="ignore", invalid="ignore"):
        result = eval(pd_formula, {"np": np}, env)
    return result.replace([np.inf, -np.inf, np.nan], 0)


FORMULAS = [
    # (engine formula, equivalent direct-pandas expression)
    ("(a - b) / c", "(a - b) / c"),                      # ref pt1:64-81
    ("(a + b) / (c / d) + b", "(a + b) / (c / d) + b"),  # ref pt1:83-99
    ("(a ** 2.0) * (a ** c)", "(a ** 2.0) * (a ** c)"),  # ref pt1:102-118
    ("a ** b - c", "a ** b - c"),                        # ref pt1:121-137
    ("a / e", "a / e"),                                  # all-zero denominator, ref pt1:140-156
    ("a + f", "a + f"),                                  # ref pt1:159-172
    ("a / g", "a / g"),                                  # diagonal, ref pt1:175-196
    ("b / h", "b / h"),                                  # near-diagonal, ref pt1:199-222
    ("a * i", "a * i"),                                  # NaN propagation
    ("c / j", "c / j"),                                  # sparse denominator, ref pt1:225-248
    ("(a + g) / (h - j)", "(a + g) / (h - j)"),          # ref pt1:251-267
    ("1 / g", "1 / g"),                                  # reciprocal, ref pt1:270-286
    ("i.fillna(0) * a", "i.fillna(0) * a"),              # method call, ref pt1:289-302
]


@pytest.mark.parametrize("formula,pd_formula", FORMULAS, ids=[f[0] for f in FORMULAS])
def test_formula_parity(evaluator, fixtures, formula, pd_formula):
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        result = evaluator.evaluate_to_pandas(formula)
    expected = pandas_expected(fixtures, pd_formula)
    assert list(result.columns) == list(expected.columns)
    assert list(result.index) == list(expected.index)
    np.testing.assert_allclose(result.values, expected.values, rtol=1e-12)


def test_no_fill_keeps_inf(spark, fixtures):
    fe = FormulaEvaluator(fixtures, fill_invalid=False, spark=spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = fe.evaluate_to_pandas("a / g")
    exp = fixtures["a"] / fixtures["g"]
    np.testing.assert_allclose(res.values, exp.values, rtol=1e-12)


def test_all_invalid_raises(spark, fixtures):
    zero = pd.DataFrame(np.zeros((3, 3)))
    fe = FormulaEvaluator({"z": zero}, fill_invalid=False, spark=spark)
    with pytest.raises(ValueError, match="invalid"):
        fe.evaluate_formula("z / z")


def test_partial_invalid_warns(spark, fixtures):
    fe = FormulaEvaluator(fixtures, fill_invalid=False, spark=spark)
    with pytest.warns(UserWarning, match="invalid"):
        fe.evaluate_formula("a / g")


def test_vector_broadcast_across_columns(spark):
    # DF ∘ Series: series value i combines with column i (reference
    # coeff_maker.py:757-763 positional broadcast).
    rng = np.random.default_rng(seed=42)
    m = pd.DataFrame(rng.integers(1, 10, (3, 3))).astype(float)
    v = pd.Series([2.0, 3.0, 4.0])
    fe = FormulaEvaluator({"m": m, "v": v}, fill_invalid=True, spark=spark)
    res = fe.evaluate_to_pandas("m * v")
    exp = m * v.to_numpy()  # positional: column i × v[i]
    np.testing.assert_allclose(res.values, exp.values, rtol=1e-12)


def test_vector_vector_returns_labeled_series(spark):
    v = pd.Series([1.0, 2.0, 3.0], index=["x", "y", "z"])
    w = pd.Series([10.0, 20.0, 30.0], index=["x", "y", "z"])
    fe = FormulaEvaluator({"v": v, "w": w}, spark=spark)
    res = fe.evaluate_formula("v + w")
    assert isinstance(res, pd.Series)
    np.testing.assert_allclose(res.values, [11.0, 22.0, 33.0])
    assert list(res.index) == ["x", "y", "z"]


def test_series_result_keeps_pandas_labels(spark):
    # pandas keeps a Series' index labels and their type; so does the
    # ADP mode, and the float mode must not turn them into strings
    u = pd.Series([1.0, 2.0], index=[10, 20])
    exp = u * 2
    for adp in (False, True):
        res = FormulaEvaluator({"u": u}, adp_enabled=adp, spark=spark).evaluate_formula("u * 2")
        assert list(res.index) == list(exp.index) == [10, 20]
        np.testing.assert_allclose(res.astype(float).values, exp.values)


def test_scalar_formula(spark):
    fe = FormulaEvaluator({}, spark=spark)
    assert fe.evaluate_formula("1 + 2 * 3") == 7.0


def test_misaligned_indexes_fill(spark):
    # SURVEY §1.3: union of row labels, NaN for missing → 0 under fill
    d1 = pd.DataFrame({"x": [1.0, 2.0]}, index=[0, 1])
    d2 = pd.DataFrame({"x": [10.0, 20.0]}, index=[1, 2])
    fe = FormulaEvaluator({"d1": d1, "d2": d2}, fill_invalid=True, spark=spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = fe.evaluate_to_pandas("d1 + d2")
    exp = (d1 + d2).replace([np.inf, -np.inf, np.nan], 0)
    assert list(res.index) == list(exp.index)
    np.testing.assert_allclose(res.values, exp.values)


def test_union_of_columns(spark):
    d1 = pd.DataFrame({"x": [1.0], "y": [2.0]})
    d2 = pd.DataFrame({"y": [10.0], "z": [20.0]})
    fe = FormulaEvaluator({"d1": d1, "d2": d2}, fill_invalid=True, spark=spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = fe.evaluate_to_pandas("d1 + d2")
    exp = (d1 + d2).replace([np.inf, -np.inf, np.nan], 0)
    assert sorted(map(str, res.columns)) == sorted(map(str, exp.columns))
    np.testing.assert_allclose(
        res[sorted(res.columns, key=str)].values, exp[sorted(exp.columns, key=str)].values
    )


def test_missing_variable_raises(spark, fixtures):
    fe = FormulaEvaluator(fixtures, spark=spark)
    with pytest.raises(KeyError, match="nonexistent"):
        fe.evaluate_formula("a + nonexistent")


def test_comparison_formula(spark, fixtures):
    fe = FormulaEvaluator(fixtures, fill_invalid=True, spark=spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = fe.evaluate_to_pandas("(a > b) * a")
    exp = ((fixtures["a"] > fixtures["b"]).astype(float) * fixtures["a"]).replace(
        [np.inf, -np.inf, np.nan], 0
    )
    np.testing.assert_allclose(res.values, exp.values)


def test_where_function(spark, fixtures):
    # where(cond, a, b) == np.where elementwise (numpy semantics)
    fe = FormulaEvaluator(fixtures, fill_invalid=True, spark=spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = fe.evaluate_to_pandas("where(a > b, a, b)")
    a, b = fixtures["a"], fixtures["b"]
    exp = pd.DataFrame(
        np.where((a > b).to_numpy(), a.to_numpy(), b.to_numpy()),
        index=a.index, columns=a.columns,
    )
    np.testing.assert_allclose(res.values, exp.values)
