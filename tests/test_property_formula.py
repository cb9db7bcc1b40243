"""Property-based tests: random formulas × random matrices, Spark
result vs direct pandas evaluation (the reference's own oracle style,
SURVEY.md §5, upgraded with hypothesis)."""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ssb_coefficient_maker_spark.api import FormulaEvaluator
from ssb_coefficient_maker_spark.functions import safe_div, safe_floordiv, safe_mod

NAMES = ["a", "b", "c"]


@st.composite
def formulas(draw, depth: int = 0):
    """Random arithmetic formulas over a/b/c with literals."""
    if depth >= 2:
        return draw(st.sampled_from(NAMES + ["2", "0.5", "3.0"]))
    kind = draw(st.integers(0, 3))
    if kind == 0:
        return draw(st.sampled_from(NAMES))
    if kind == 1:
        return draw(st.sampled_from(["1", "2", "0.5"]))
    op = draw(st.sampled_from(["+", "-", "*", "/"]))
    left = draw(formulas(depth=depth + 1))
    right = draw(formulas(depth=depth + 1))
    return f"({left} {op} {right})"


@pytest.fixture(scope="module")
def matrices():
    rng = np.random.default_rng(seed=123)
    return {
        n: pd.DataFrame(rng.integers(-5, 6, (4, 3))).astype(float) for n in NAMES
    }


@pytest.fixture(scope="module")
def shared_evaluator(spark, matrices):
    return FormulaEvaluator(matrices, fill_invalid=True, spark=spark)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(formula=formulas())
def test_random_formula_matches_pandas(shared_evaluator, matrices, formula):
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        try:
            got = shared_evaluator.evaluate_to_pandas(formula)
        except ValueError:
            # all-invalid result raises by policy when every cell is
            # invalid; pandas oracle must agree it is all-invalid
            import re as _re

            env = {k: v for k, v in matrices.items()}
            env["__builtins__"] = {}
            np_f = _re.sub(r"(?<![\w.])(\d+(?:\.\d+)?)", r"np.float64(\1)", formula)
            with np.errstate(divide="ignore", invalid="ignore"):
                exp = eval(np_f, {"np": np}, env)
            if np.isscalar(exp):
                return
            assert (~np.isfinite(exp.to_numpy())).all()
            return
    env = {k: v for k, v in matrices.items()}
    # literals in the oracle must be numpy scalars: the engine is IEEE
    # everywhere (scalar 1/0 -> inf, like the matrix path), while plain
    # Python int division raises
    env["__builtins__"] = {}
    import re as _re

    np_formula = _re.sub(r"(?<![\w.])(\d+(?:\.\d+)?)", r"np.float64(\1)", formula)
    with np.errstate(divide="ignore", invalid="ignore"):
        exp = eval(np_formula, {"np": np}, env)
    if np.isscalar(exp) or not hasattr(exp, "replace"):
        assert got == pytest.approx(float(exp), nan_ok=True)
        return
    exp = exp.replace([np.inf, -np.inf, np.nan], 0)
    np.testing.assert_allclose(got.values, exp.values, rtol=1e-9, atol=1e-12)


# ------------------------------------------------------------------
# Every binary operator over a grid of special values: the wide,
# triplet and Series-only paths (and, for / % //, the exported shims)
# must all give numpy's answer, NaN-aware and signed-zero-aware. ``**`` may differ by one ulp: Java's
# StrictMath.pow and C's pow round the last bit differently.

GRID = [-5.0, -1e-20, -0.0, 0.0, 0.1, 0.7, 1.0, 3.0, np.inf, -np.inf, np.nan]
GRID_OPS = {
    "x + y": np.add,
    "x - y": np.subtract,
    "x * y": np.multiply,
    "x / y": np.divide,
    "x % y": np.mod,
    "x // y": np.floor_divide,
    "x ** y": np.power,
    "pow(x, y)": np.power,
    "x < y": np.less,
    "x <= y": np.less_equal,
    "x > y": np.greater,
    "x >= y": np.greater_equal,
    "x == y": np.equal,
    "x != y": np.not_equal,
}


@pytest.fixture(scope="module")
def grid(spark):
    """``x[i, j] = GRID[i]`` and ``y[i, j] = GRID[j]``: every pair once,
    as wide frames (x, y), triplet matrices (tx, ty) and Series (u, v)."""
    from ssb_coefficient_maker_spark.plans.triplet import TripletMatrix

    n = len(GRID)
    cols = [f"c{j}" for j in range(n)]
    x = pd.DataFrame(np.repeat(GRID, n).reshape(n, n), columns=cols)
    y = pd.DataFrame(np.tile(GRID, n).reshape(n, n), columns=cols)

    def triplet(m: pd.DataFrame) -> TripletMatrix:
        long = pd.DataFrame({
            "__row_id__": np.repeat([str(i) for i in range(n)], n),
            "__col_id__": np.tile(cols, n),
            "value": m.to_numpy().ravel(),
        })
        return TripletMatrix(spark.createDataFrame(long))

    data = {"x": x, "y": y, "tx": triplet(x), "ty": triplet(y),
            "u": pd.Series(x.to_numpy().ravel()), "v": pd.Series(y.to_numpy().ravel())}
    return FormulaEvaluator(data, validation="defer", spark=spark), x, y


def _assert_numpy_exact(path: str, formula: str, res, exp, rtol: float = 0.0) -> None:
    """``res`` equals numpy's ``exp`` cell for cell: NaN where numpy has
    NaN, otherwise within ``rtol`` and with numpy's sign bit."""
    res = np.asarray(res, dtype=np.float64).reshape(exp.shape)
    nan = np.isnan(exp)
    with np.errstate(invalid="ignore"):
        close = np.isclose(res, exp, rtol=rtol, atol=0.0) & (np.signbit(res) == np.signbit(exp))
    same = np.where(nan, np.isnan(res), close)
    bad = [(idx, res[idx], exp[idx]) for idx in zip(*np.nonzero(~same))]
    assert not bad, f"{path} {formula}: (cell, got, numpy) {bad}"


# the exported shims, over SQL text operands (here column names)
SHIMS = {"x / y": safe_div, "x % y": safe_mod, "x // y": safe_floordiv}


@pytest.mark.parametrize("formula", list(GRID_OPS))
def test_operator_grid_matches_numpy(spark, grid, formula):
    fe, x, y = grid
    n = len(GRID)
    with np.errstate(all="ignore"):
        exp = GRID_OPS[formula](x.to_numpy(), y.to_numpy()).astype(np.float64)
    got = {
        "wide": fe.evaluate_to_pandas(formula).loc[range(n), list(x.columns)],
        "triplet": fe.evaluate_to_pandas(formula.replace("x", "tx").replace("y", "ty"))
        .loc[range(n), list(x.columns)],
        "series": fe.evaluate_to_pandas(formula.replace("x", "u").replace("y", "v")),
    }
    if formula in SHIMS:
        pairs = spark.createDataFrame(pd.DataFrame(
            {"i": range(n * n), "x": x.to_numpy().ravel(), "y": y.to_numpy().ravel()}))
        shim = pairs.select("i", SHIMS[formula]("x", "y")).toPandas().sort_values("i")
        got["shim"] = shim.iloc[:, 1]
    rtol = 1e-15 if "pow" in formula or "**" in formula else 0.0
    for path, res in got.items():
        _assert_numpy_exact(path, formula, res, exp, rtol)


# Literals as written in a formula: signed zero, a decimal fraction that
# must stay a double (0.1 + 0.2 is 0.30000000000000004, not DECIMAL
# 0.3), a subnormal, the largest finite magnitudes and an overflow to
# inf. Each result keeps a finite cell: an all-invalid one raises.
LITERAL_FORMULAS = [
    "x * -0.0",
    "-x - -0.0",
    "where(x, x / -0.0, -0.0)",
    "0.1 + 0.2 + x",
    "x * 3",
    "x * 1e-320",
    "1e-320 / x",
    "x * 1e308",
    "abs(x) < 1e400",
    "where(x, x * -1e400, x)",
]
NUMPY_FUNCS = {"abs": np.abs, "where": lambda c, a, b: np.where(np.nan_to_num(c) != 0, a, b)}


@pytest.mark.parametrize("formula", LITERAL_FORMULAS)
def test_literals_match_numpy(grid, formula):
    fe, x, _ = grid
    n = len(GRID)
    with np.errstate(all="ignore"):
        exp = np.asarray(eval(formula, NUMPY_FUNCS, {"x": x.to_numpy()}), dtype=np.float64)
    for path, name in (("wide", "x"), ("triplet", "tx")):
        res = fe.evaluate_to_pandas(formula.replace("x", name)).loc[range(n), list(x.columns)]
        _assert_numpy_exact(path, formula, res, exp)
