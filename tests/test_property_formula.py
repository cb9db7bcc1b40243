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
from ssb_coefficient_maker_spark.formula.parser import CALLS, OPERATORS, Call
from ssb_coefficient_maker_spark.functions import safe_div, safe_floordiv, safe_mod

NAMES = ["a", "b", "c"]
LEAVES = NAMES + ["0", "2", "0.5"]

def _compare(f):
    """A numpy comparison as 1.0 or 0.0, as the engine gives it."""
    return lambda a, b: f(a, b).astype(np.float64)


# The oracle: numpy, written here, for every operator symbol and every
# elementwise call in the parser's tables. A construct the tables gain
# fails the draw below until it has an oracle here.
ORACLE_OPS = {
    "+": np.add,
    "-": np.subtract,
    "*": np.multiply,
    "/": np.divide,
    "%": np.mod,
    "//": np.floor_divide,
    "**": np.power,
    "<": _compare(np.less),
    "<=": _compare(np.less_equal),
    ">": _compare(np.greater),
    ">=": _compare(np.greater_equal),
    "==": _compare(np.equal),
    "!=": _compare(np.not_equal),
}
ORACLE_CALLS = {
    "abs": np.abs,
    "pow": np.power,
    "where": lambda c, a, b: np.where(np.nan_to_num(c) != 0, a, b),
    "fillna": lambda x, v: np.where(np.isnan(x), v, x),
}
SYMBOLS = sorted(sym for sym, _ in OPERATORS.values())
ELEMENTWISE = sorted(name for name, sig in CALLS.items() if sig.node is Call)


@st.composite
def formulas(draw, depth: int = 0):
    """A random formula over a/b/c and literals, drawn from the parser's
    tables (every operator and comparison, unary minus, every
    elementwise call), with its numpy oracle: ``(text, oracle)``, where
    ``oracle`` maps the operands' arrays to the expected result."""
    kind = "leaf" if depth >= 3 else draw(st.sampled_from(["leaf", "op", "op", "neg", "call"]))
    if kind == "leaf":
        text = draw(st.sampled_from(LEAVES))
        if text in NAMES:
            return text, lambda env: env[text]
        return text, lambda env: np.float64(text)
    if kind == "neg":
        text, inner = draw(formulas(depth=depth + 1))
        return f"(-{text})", lambda env: np.negative(inner(env))
    if kind == "op":
        sym = draw(st.sampled_from(SYMBOLS))
        (left, lf), (right, rf) = draw(formulas(depth=depth + 1)), draw(formulas(depth=depth + 1))
        return f"({left} {sym} {right})", lambda env: ORACLE_OPS[sym](lf(env), rf(env))
    name = draw(st.sampled_from(ELEMENTWISE))
    args = [draw(formulas(depth=depth + 1)) for _ in CALLS[name].params]
    texts = [t for t, _ in args]
    if CALLS[name].method:  # the receiver is the first argument
        text = f"({texts[0]}).{name}({', '.join(texts[1:])})"
    else:
        text = f"{name}({', '.join(texts)})"
    return text, lambda env: ORACLE_CALLS[name](*(f(env) for _, f in args))


@pytest.fixture(scope="module")
def matrices():
    rng = np.random.default_rng(seed=123)
    out = {n: pd.DataFrame(rng.integers(-5, 6, (4, 3))).astype(float) for n in NAMES}
    # NaN and infinite cells, for fillna, where and the comparisons
    out["a"].iloc[0, 0], out["b"].iloc[1, 1], out["c"].iloc[2, 2] = np.nan, np.inf, -np.inf
    return out


@pytest.fixture(scope="module")
def shared_evaluator(spark, matrices):
    return FormulaEvaluator(matrices, fill_invalid=True, spark=spark)


@pytest.fixture(scope="module")
def triplet_evaluator(spark, matrices):
    """The same operands as ``TripletMatrix`` copies: every formula
    over them takes the triplet route."""
    from ssb_coefficient_maker_spark.plans.triplet import TripletMatrix

    def triplet(m: pd.DataFrame) -> TripletMatrix:
        rows, cols = m.shape
        return TripletMatrix(spark.createDataFrame(pd.DataFrame({
            "__row_id__": np.repeat([str(i) for i in range(rows)], cols),
            "__col_id__": np.tile([str(j) for j in range(cols)], rows),
            "value": m.to_numpy().ravel(),
        })))

    return FormulaEvaluator({n: triplet(m) for n, m in matrices.items()}, fill_invalid=True,
                            spark=spark)


def _assert_matches(evaluator, formula: str, exp: np.ndarray) -> None:
    """``formula``'s result equals ``exp``, with the evaluator's fill:
    NaN and ±Inf cells read 0, and an all-invalid result raises."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        try:
            got = evaluator.evaluate_to_pandas(formula)
        except ValueError:
            assert not np.isfinite(exp).any(), formula
            return
    if exp.ndim == 0:  # a formula over literals only
        assert float(got) == pytest.approx(float(exp), nan_ok=True), formula
        return
    rows, cols = exp.shape
    got = got.loc[range(rows), range(cols)].to_numpy(dtype=np.float64)
    np.testing.assert_allclose(got, np.where(np.isfinite(exp), exp, 0.0), rtol=1e-9,
                               atol=1e-12, err_msg=formula)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(drawn=formulas())
def test_random_formula_matches_pandas(shared_evaluator, triplet_evaluator, matrices, drawn):
    """Each drawn formula gives numpy's answer on the driver route
    (pandas operands) and on the triplet route (``TripletMatrix``
    copies of the same operands).
    Series are left out: the triplet route broadcasts them by label,
    not by position (README "Label deviations")."""
    formula, oracle = drawn
    with np.errstate(all="ignore"):
        exp = np.asarray(oracle({n: m.to_numpy() for n, m in matrices.items()}), dtype=np.float64)
    for evaluator in (shared_evaluator, triplet_evaluator):
        _assert_matches(evaluator, formula, exp)


# ------------------------------------------------------------------
# Every binary operator over a grid of special values: the wide route
# over pandas frames (driver) and over Spark frames, the triplet and
# Series-only paths (and, for / % //, the exported shims) must all give
# numpy's answer, NaN-aware and signed-zero-aware. ``**`` may differ by
# one ulp: Java's StrictMath.pow and C's pow round the last bit
# differently.

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
    as pandas frames (x, y: the driver route), Spark frames with a
    ``__row_id__`` column (sx, sy: the wide route's join and SQL
    projection), triplet matrices (tx, ty) and Series (u, v)."""
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

    def spark_frame(m: pd.DataFrame):
        return spark.createDataFrame(m.assign(__row_id__=[str(i) for i in range(n)]))

    data = {"x": x, "y": y, "sx": spark_frame(x), "sy": spark_frame(y),
            "tx": triplet(x), "ty": triplet(y),
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
        **{path: fe.evaluate_to_pandas(formula.replace("x", f"{p}x").replace("y", f"{p}y"))
           .loc[range(n), list(x.columns)] for path, p in (("spark", "s"), ("triplet", "t"))},
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
    for path, name in (("wide", "x"), ("spark", "sx"), ("triplet", "tx")):
        res = fe.evaluate_to_pandas(formula.replace("x", name)).loc[range(n), list(x.columns)]
        _assert_numpy_exact(path, formula, res, exp)
