"""Operand labels and forms against pandas: label text that only looks
numeric, repeated labels, the collected column axis, the Series-length
refusals and the triplet path's label-keyed Series broadcast."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ssb_coefficient_maker_spark import CoefficientCalculator, FormulaEvaluator
from ssb_coefficient_maker_spark.formula.parser import FormulaError
from ssb_coefficient_maker_spark.plans.triplet import wide_to_triplet


def _frame(index, columns) -> pd.DataFrame:
    values = np.arange(1.0, 1.0 + len(index) * len(columns)).reshape(len(index), len(columns))
    return pd.DataFrame(values / 10.0, index=index, columns=columns)


def _collected(spark, path: str, a: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``(engine result, pandas result)`` of one path over ``a``."""
    if path == "adp":
        got = FormulaEvaluator({"a": a}, spark=spark, adp_enabled=True).evaluate_to_pandas("a * 2")
        return got.astype(np.float64), a * 2
    if path == "leontief":
        cmap = pd.DataFrame({"name": ["L"], "formula": ["leontief(a, 1e-12)"]})
        calc = CoefficientCalculator({"a": a / 10}, cmap, "name", "formula", spark=spark)
        inv = np.linalg.inv(np.eye(len(a)) - a.to_numpy() / 10)
        return calc.compute_coefficients_to_pandas()["L"], pd.DataFrame(inv, a.index, a.columns)
    fe = FormulaEvaluator({"a": a, "b": a * 2}, spark=spark)
    if path == "wide":
        return fe.evaluate_to_pandas("a + b"), a + a * 2
    return fe.evaluate_to_pandas("a.T"), a.T


@pytest.mark.parametrize("path", ["wide", "triplet", "adp", "leontief"])
@pytest.mark.parametrize(
    "labels",
    [["01", "02"], [1, 2], ["1", "2"], pd.DatetimeIndex(["2020-01-01", "2020-02-01"])],
    ids=["text", "int", "numeric-text", "datetime"],
)
def test_labels_come_back_as_given(spark, path, labels):
    """A pandas operand's labels come back as registered, on every
    route and through ``compute_coefficients_to_pandas`` (the leontief
    case): ``"01"`` stays ``"01"``, int labels stay ints, the text
    ``"1"`` stays text and timestamps stay timestamps."""
    got, exp = _collected(spark, path, _frame(labels, labels))
    pd.testing.assert_frame_equal(got, exp, atol=1e-8)


def test_triplet_collect_matches_pandas_axes(spark):
    """A collected triplet result has pandas' unnamed column axis."""
    a = _frame(["r1", "r2", "r3"], ["x", "y"])
    fe = FormulaEvaluator({"a": a}, spark=spark)
    pd.testing.assert_frame_equal(fe.evaluate_to_pandas("a.T"), a.T)


@pytest.mark.parametrize("adp", [False, True])
@pytest.mark.parametrize(
    "index, columns, repeated",
    [(["r", "r"], ["x", "y"], "'r'"), (["r", "s"], ["x", "x"], "'x'"),
     ([1, "1"], ["x", "y"], "'1'"), (["r", "s"], [0, "0"], "'0'")],
)
def test_repeated_labels_refused(spark, adp, index, columns, repeated):
    """Repeated labels (also ones that repeat only as strings) are refused
    at registration, naming them: pandas aligns them one-to-one, the
    outer join on the label would multiply them."""
    with pytest.raises(ValueError, match=rf"labels repeat \(as strings\): \[{repeated}\]"):
        FormulaEvaluator({"a": _frame(index, columns)}, spark=spark, adp_enabled=adp)


@pytest.mark.parametrize("adp", [False, True])
def test_series_length_refusals(spark, adp):
    a = _frame(["r1", "r2"], ["x", "y"])
    s, t = pd.Series([1.0, 2.0]), pd.Series([1.0, 2.0, 3.0])
    fe = FormulaEvaluator({"a": a, "s": s, "t": t}, spark=spark, adp_enabled=adp)
    with pytest.raises(FormulaError, match="vector operands disagree on length"):
        fe.evaluate_formula("s + t")
    with pytest.raises(FormulaError, match="has length 3 but the frame operands have 2 columns"):
        fe.evaluate_to_pandas("a + t")


def test_triplet_series_broadcast_is_label_keyed(spark):
    """The wide path broadcasts a Series positionally, like pandas; the
    triplet path looks each column label up in the Series' index."""
    a = pd.DataFrame([[1.0, 2.0], [3.0, 4.0]], index=["r1", "r2"], columns=["x", "y"])
    s = pd.Series([10.0, 20.0], index=["y", "x"])
    fe = FormulaEvaluator({"a": a, "s": s}, spark=spark)
    positional = pd.DataFrame([[11.0, 22.0], [13.0, 24.0]], index=a.index, columns=a.columns)
    by_label = pd.DataFrame([[21.0, 12.0], [23.0, 14.0]], index=a.index, columns=a.columns)
    pd.testing.assert_frame_equal(fe.evaluate_to_pandas("a + s"), positional)
    pd.testing.assert_frame_equal(fe.evaluate_to_pandas("a.T.T + s"), by_label)
    t = FormulaEvaluator({"t": wide_to_triplet(fe.datasets["a"]), "s": s}, spark=spark)
    pd.testing.assert_frame_equal(t.evaluate_to_pandas("t + s"), by_label)


@pytest.mark.parametrize("index, repeated", [(["x", "x"], "'x'"), ([1, "1"], "'1'")])
def test_triplet_refuses_repeated_series_labels(spark, index, repeated):
    """The triplet route broadcasts a Series by label, so a Series whose
    labels repeat (also only as strings) is refused by name on the
    driver; the wide and ADP routes broadcast positionally and keep
    working."""
    a = pd.DataFrame([[1.0, 2.0], [3.0, 4.0]], index=["r1", "r2"], columns=["x", "y"])
    s = pd.Series([1.0, 2.0], index=index)
    positional = pd.DataFrame([[2.0, 4.0], [4.0, 6.0]], index=a.index, columns=a.columns)
    for adp in (False, True):
        fe = FormulaEvaluator({"a": a, "s": s}, spark=spark, adp_enabled=adp)
        got = fe.evaluate_to_pandas("a + s")
        pd.testing.assert_frame_equal(got.astype(np.float64), positional)
    fe = FormulaEvaluator({"a": a, "s": s}, spark=spark)
    with pytest.raises(FormulaError, match=rf"Series 's' repeats index labels.*\[{repeated}\]"):
        fe.evaluate_to_pandas("a.T.T + s")


def test_int_and_text_label_align_as_one(spark):
    """README "Label deviations": labels travel as text, so ``1`` in one
    operand and ``"1"`` in another align as one label, which comes back
    as the first one registered (pandas keeps two rows)."""
    a = pd.DataFrame({"x": [1.0]}, index=[1])
    b = pd.DataFrame({"x": [2.0]}, index=["1"])
    got = FormulaEvaluator({"a": a, "b": b}, spark=spark).evaluate_to_pandas("a + b")
    pd.testing.assert_frame_equal(got, pd.DataFrame({"x": [3.0]}, index=[1]))


EDGE_SHAPES = {
    "empty": pd.DataFrame({"x": [], "y": []}, dtype=np.float64),
    "one-row": pd.DataFrame({"x": [1.5], "y": [-2.0]}, index=["r"]),
    "all-nan": pd.DataFrame({"x": [np.nan, np.nan], "y": [np.nan, np.nan]}),
}
EDGE_ROUTES = {"wide": ("a + 1", False), "triplet": ("a.T.T + 1", False), "adp": ("a + 1", True)}


def _edge(spark, shape: str, route: str) -> pd.DataFrame:
    formula, adp = EDGE_ROUTES[route]
    fe = FormulaEvaluator({"a": EDGE_SHAPES[shape]}, spark=spark, adp_enabled=adp)
    return fe.evaluate_to_pandas(formula).astype(np.float64)


@pytest.mark.parametrize(
    "shape, route",
    [("empty", "wide"), ("empty", "adp"), ("one-row", "wide"), ("one-row", "triplet"),
     ("one-row", "adp")],
)
def test_edge_shapes_match_pandas(spark, shape, route):
    """An empty or single-row operand gives pandas' answer on every
    route but one (the empty triplet result, below)."""
    pd.testing.assert_frame_equal(_edge(spark, shape, route), EDGE_SHAPES[shape] + 1)


def test_empty_triplet_result_has_no_columns(spark):
    """README "Label deviations": an empty triplet result collects with
    no columns, where pandas keeps the operand's two; the long form has
    no rows to carry its column labels."""
    assert (EDGE_SHAPES["empty"] + 1).shape == (0, 2)
    assert _edge(spark, "empty", "triplet").shape == (0, 0)


@pytest.mark.parametrize("route", EDGE_ROUTES)
def test_all_nan_operand_raises_all_invalid(spark, route):
    """An all-NaN operand gives an all-NaN result, which every route
    refuses with the reference's all-invalid ``ValueError``."""
    with pytest.raises(ValueError, match=r"All values in the result of formula .* are invalid"):
        _edge(spark, "all-nan", route)
