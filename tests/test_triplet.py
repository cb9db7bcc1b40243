"""Triplet (long-form) matrix path: results must equal the wide path."""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ssb_coefficient_maker_spark.api import FormulaEvaluator
from ssb_coefficient_maker_spark.catalog import matrix_from_pandas
from ssb_coefficient_maker_spark.plans.triplet import (
    TripletMatrix,
    compile_formula_triplet,
    triplet_to_wide,
    wide_to_triplet,
)
from ssb_coefficient_maker_spark.formula.parser import parse_formula


@pytest.fixture(scope="module")
def pdfs():
    rng = np.random.default_rng(seed=99)
    a = pd.DataFrame(rng.integers(1, 10, (5, 4))).astype(float)
    b = pd.DataFrame(rng.integers(1, 5, (5, 4))).astype(float)
    return a, b


def test_roundtrip_wide_triplet_wide(spark, pdfs):
    a, _ = pdfs
    m = matrix_from_pandas(spark, a)
    t = wide_to_triplet(m)
    assert t.df.count() == 20
    wide = triplet_to_wide(t).toPandas().sort_values("__row_id__")
    for c in ["0", "1", "2", "3"]:
        np.testing.assert_allclose(
            wide[c].to_numpy(), a[int(c)].to_numpy()
        )


@pytest.mark.parametrize("formula", ["(a - b) / c_scalar", "a * b + 1", "a / b"])
def test_triplet_matches_wide(spark, pdfs, formula):
    a, b = pdfs
    datasets_wide = {"a": a, "b": b, "c_scalar": 2.0}
    fe_wide = FormulaEvaluator(datasets_wide, fill_invalid=True, spark=spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        expected = fe_wide.evaluate_to_pandas(formula)

    ma = matrix_from_pandas(spark, a)
    mb = matrix_from_pandas(spark, b)
    datasets_trip = {
        "a": wide_to_triplet(ma),
        "b": wide_to_triplet(mb),
        "c_scalar": 2.0,
    }
    expr = parse_formula(formula)
    tdf = compile_formula_triplet(expr, datasets_trip)
    wide_back = triplet_to_wide(TripletMatrix(tdf)).toPandas()
    wide_back = wide_back.sort_values("__row_id__").set_index("__row_id__")
    got = wide_back[[str(c) for c in expected.columns]].to_numpy()
    exp_filled = expected.to_numpy()
    # triplet path is pre-validation here; apply the same fill manually
    got = np.where(np.isfinite(got), got, 0.0)
    np.testing.assert_allclose(got, exp_filled, rtol=1e-12)


def test_wide_spark_frame_auto_triplets(spark):
    # a Spark matrix wider than the threshold auto-switches to triplet
    import ssb_coefficient_maker_spark.catalog as cat

    old = cat.WIDE_MATRIX_THRESHOLD
    cat.WIDE_MATRIX_THRESHOLD = 3
    try:
        wide_df = spark.range(4).select(
            F.col("id").alias("__row_id__"),
            *[(F.col("id") * 1.0 + i).alias(f"c{i}") for i in range(6)],
        )
        fe = FormulaEvaluator({"w": wide_df}, spark=spark)
        from ssb_coefficient_maker_spark.plans.triplet import TripletMatrix as TM

        assert isinstance(fe.datasets["w"], TM)
        res = fe.evaluate_formula("w * 2")
        assert set(res.columns) == {"__row_id__", "__col_id__", "value"}
        got = {(r["__row_id__"], r["__col_id__"]): r["value"] for r in res.collect()}
        assert got[("2", "c3")] == 10.0  # (2 + 3) * 2
    finally:
        cat.WIDE_MATRIX_THRESHOLD = old


def test_triplet_vector_label_broadcast(spark, pdfs):
    # triplet vector broadcast is label-based: labels match column ids
    a, _ = pdfs
    v = pd.Series([10.0, 20.0, 30.0, 40.0], index=["0", "1", "2", "3"])
    ma = matrix_from_pandas(spark, a)
    fe = FormulaEvaluator({"a": wide_to_triplet(ma), "v": v}, spark=spark)
    res = fe.evaluate_to_pandas("a * v")
    exp = a * np.array([10.0, 20.0, 30.0, 40.0])
    np.testing.assert_allclose(res.to_numpy(), exp.to_numpy())


def test_triplet_fill_keeps_col_id(spark, pdfs):
    a, b = pdfs
    z = pd.DataFrame(np.zeros((5, 4)))
    ma = matrix_from_pandas(spark, a)
    mz = matrix_from_pandas(spark, z)
    fe = FormulaEvaluator(
        {"a": wide_to_triplet(ma), "z": wide_to_triplet(mz)},
        fill_invalid=True,
        spark=spark,
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = fe.evaluate_formula("a / z")
    assert set(res.columns) == {"__row_id__", "__col_id__", "value"}
    vals = [r["value"] for r in res.collect()]
    assert all(v == 0.0 for v in vals)  # a/0 -> inf -> filled


def test_triplet_defer_validation_matches_eager(spark):
    """validation='defer' on the triplet path must skip the eager
    audit job (last_invalid_count None) yet produce identical values
    to eager mode — the audit is an action-time concern, not a
    result-shaping one (same contract as the wide path)."""
    import pandas as pd

    from ssb_coefficient_maker_spark.api import FormulaEvaluator
    from ssb_coefficient_maker_spark.plans.triplet import TripletMatrix

    long = pd.DataFrame(
        {
            "__row_id__": ["r1", "r1", "r2", "r2"],
            "__col_id__": ["x", "y", "x", "y"],
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    )
    a = TripletMatrix(spark.createDataFrame(long))
    b = TripletMatrix(spark.createDataFrame(long))

    def run(validation):
        ev = FormulaEvaluator({"a": a, "b": b}, spark=spark, validation=validation)
        out = (
            ev.evaluate_formula("a / (a + b)")
            .orderBy("__row_id__", "__col_id__")
            .collect()
        )
        return ev.last_invalid_count, [round(r["value"], 12) for r in out]

    eager_count, eager_vals = run("eager")
    defer_count, defer_vals = run("defer")
    assert eager_count == 0
    assert defer_count is None
    assert eager_vals == defer_vals == [0.5, 0.5, 0.5, 0.5]


def test_collected_triplet_orders_numeric_column_labels(spark):
    """A collected triplet result orders int column labels numerically,
    like pandas (they were in string order: 0, 1, 10, 11, 2, ...)."""
    a = pd.DataFrame(np.arange(144.0).reshape(12, 12))
    got = FormulaEvaluator({"a": a}, spark=spark).evaluate_to_pandas("a.T")
    assert list(got.columns) == list(range(12))
    pd.testing.assert_frame_equal(got, a.T)
