"""Every materializing entry point audits on the action that consumes
the result, and every audit site reaches the same verdict."""

from __future__ import annotations

import uuid
import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame

from ssb_coefficient_maker_spark.api import CoefficientCalculator, FormulaEvaluator
from ssb_coefficient_maker_spark.plans.triplet import COL_ID, VALUE
from ssb_coefficient_maker_spark.session import ROW_ID

LABELS = ["r0", "r1", "r2"]


def _square(values) -> pd.DataFrame:
    return pd.DataFrame(np.reshape(values, (3, 3)).astype(float), index=LABELS, columns=LABELS)


def _jobs(spark, action) -> int:
    """The Spark jobs ``action`` runs."""
    sc = spark.sparkContext
    group = f"audit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "formula, adp",
    [("a + b * c", False), ("a.T + b", False), ("a * b + c", True)],
    ids=["wide", "triplet", "adp"],
)
def test_collect_is_one_action(spark, formula, adp):
    """``evaluate_to_pandas`` runs no more jobs than a bare collect of
    the same plan: the audit rides the collect, and a triplet result
    pivots on the driver."""
    a = pd.DataFrame(np.arange(1.0, 13.0).reshape(4, 3))
    data = {"a": a.iloc[:3], "b": a.iloc[:3] * 2, "c": a.iloc[1:] + 1}
    fe = FormulaEvaluator(data, adp_enabled=adp, spark=spark)
    bare = FormulaEvaluator(data, adp_enabled=adp, spark=spark, validation="defer")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        collect = _jobs(spark, lambda: fe.evaluate_to_pandas(formula))
    assert collect <= _jobs(spark, lambda: bare.evaluate_formula(formula).toPandas())


def _floats(result) -> pd.DataFrame:
    """A collected or lazy result as floats under string labels, sorted."""
    if isinstance(result, DataFrame):
        pdf = result.toPandas()
        if COL_ID in pdf.columns:
            result = pdf.pivot(index=ROW_ID, columns=COL_ID, values=VALUE)
        else:
            result = pdf.set_index(ROW_ID)
    out = result.astype(float)
    out.index = out.index.astype(str).rename(None)
    out.columns = out.columns.astype(str).rename(None)
    return out.sort_index().sort_index(axis=1)


def _outcome(action):
    """``(values, invalid count, message)`` of one entry point; the
    message is the audit's warning or ``ValueError`` text."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        try:
            values, invalid = action()
        except ValueError as exc:
            return None, None, str(exc)
    messages = [str(w.message) for w in caught if issubclass(w.category, UserWarning)]
    return _floats(values), invalid, messages


def _entry_points(spark, tmp_path, data, formula, adp, fill):
    def evaluator(validation="eager"):
        return FormulaEvaluator(
            data, adp_enabled=adp, fill_invalid=fill, spark=spark, validation=validation
        )

    def eager_formula():
        fe = evaluator()
        return fe.evaluate_formula(formula), fe.last_invalid_count

    def to_pandas(validation):
        fe = evaluator(validation)
        return fe.evaluate_to_pandas(formula), fe.last_invalid_count

    def to_parquet():
        path = str(tmp_path / uuid.uuid4().hex)
        metrics = evaluator().evaluate_to_parquet(formula, path)
        return spark.read.parquet(path), metrics["invalid"]

    return {
        "evaluate_formula": eager_formula,
        "to_pandas eager": lambda: to_pandas("eager"),
        "to_pandas defer": lambda: to_pandas("defer"),
        "to_parquet": to_parquet,
    }


ROUTES = {
    # route: (formula, ADP, partly invalid inputs, all invalid inputs)
    "wide": ("a / b", False,
             (_square(np.arange(1, 10)), _square([[1, 0, 2], [3, 4, 0], [5, 6, 7]])),
             (_square(np.zeros(9)), _square(np.zeros(9)))),
    "triplet": ("a.T / b", False,
                (_square(np.arange(1, 10)), _square([[1, 0, 2], [3, 4, 0], [5, 6, 7]])),
                (_square(np.zeros(9)), _square(np.zeros(9)))),
    "adp": ("a * b", True,
            (_square(np.arange(1, 10)), _square([[1, np.nan, 2], [3, 4, 5], [np.nan, 6, 7]])),
            (_square(np.arange(1, 10)), _square(np.full(9, np.nan)))),
}


@pytest.mark.parametrize("fill", [False, True], ids=["raw", "fill"])
@pytest.mark.parametrize("inputs", ["partly", "all", "empty"])
@pytest.mark.parametrize("route", list(ROUTES))
def test_audit_sites_agree(spark, tmp_path, route, inputs, fill):
    """The eager audit of ``evaluate_formula`` and the audits observed on
    ``evaluate_to_pandas`` (both validation modes) and
    ``evaluate_to_parquet`` give the same values, invalid count and
    warning or error."""
    formula, adp, partly, every = ROUTES[route]
    a, b = {"partly": partly, "all": every, "empty": (partly[0][:0], partly[1][:0])}[inputs]
    outcomes = {
        name: _outcome(action)
        for name, action in _entry_points(spark, tmp_path, {"a": a, "b": b}, formula, adp,
                                          fill).items()
    }
    first_values, first_invalid, first_message = outcomes["evaluate_formula"]
    for name, (values, invalid, message) in outcomes.items():
        assert message == first_message, name
        assert invalid == first_invalid, name
        if values is None:
            assert first_values is None, name
        else:
            pd.testing.assert_frame_equal(values, first_values, check_dtype=False, obj=name)
    if inputs == "all" and not fill:
        assert "are invalid" in first_message
    elif inputs == "partly":
        assert first_invalid > 0
        assert bool(first_message) is not fill


@pytest.mark.parametrize("route", ["driver", "spark"])
@pytest.mark.parametrize(
    "entry", ["evaluate_formula", "evaluate_to_pandas", "evaluate_to_parquet",
              "compute_coefficients"])
def test_audit_warning_names_the_callers_line(spark, tmp_path, route, entry):
    """The audit's ``UserWarning`` points at the caller's file, not at
    a line inside the package, on every entry point and either route
    (pandas operands on the driver, a Spark-frame operand in Spark)."""
    a, z = _square(range(1, 10)), _square([0, 1, 1, 1, 1, 1, 1, 1, 1])  # one a / 0
    if route == "spark":
        z = spark.createDataFrame(z.rename_axis(ROW_ID).reset_index())
    data = {"a": a, "z": z}
    fe = FormulaEvaluator(data, spark=spark)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        if entry == "evaluate_to_parquet":
            fe.evaluate_to_parquet("a / z", str(tmp_path / "out"))
        elif entry == "compute_coefficients":
            cmap = pd.DataFrame({"name": ["q"], "formula": ["a / z"]})
            CoefficientCalculator(data, cmap, "name", "formula", spark=spark).compute_coefficients()
        else:
            getattr(fe, entry)("a / z")
    [w] = [w for w in caught if "Result of formula" in str(w.message)]
    assert w.filename == __file__
