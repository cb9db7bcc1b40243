"""Validator unit tests (reference tests/test_ResultValidator.py;
fixtures per FIXTURES.md A3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ssb_coefficient_maker_spark.catalog import Matrix, matrix_from_pandas
from ssb_coefficient_maker_spark.validation import (
    audit_cells,
    audit_exprs,
    fill_invalid,
    fill_matrix,
    invalid_status,
    validate,
)

NAN = float("nan")
INF = float("inf")


def _in_spark(spark, pdf: pd.DataFrame) -> Matrix:
    """``pdf`` as a Matrix that carries no driver cells, so that it is
    audited and filled in Spark."""
    m = matrix_from_pandas(spark, pdf)
    return Matrix(m.df, m.value_cols)


@pytest.fixture(scope="module")
def mixed(spark):
    # DataFrame({'A':[1.0, nan, 3.0], 'B':[inf, 5.0, -inf]}) — 3 invalid cells
    pdf = pd.DataFrame({"A": [1.0, NAN, 3.0], "B": [INF, 5.0, -INF]})
    return _in_spark(spark, pdf)


@pytest.fixture(scope="module")
def all_bad(spark):
    pdf = pd.DataFrame({"A": [NAN] * 3, "B": [INF] * 3})
    return _in_spark(spark, pdf)


@pytest.fixture(scope="module")
def all_good(spark):
    pdf = pd.DataFrame({"A": [1.0, 2.0, 3.0], "B": [4.0, 5.0, 6.0]})
    return _in_spark(spark, pdf)


def test_invalid_count(mixed):
    status = invalid_status(mixed.df, mixed.value_cols)
    assert status.n_cells == 6
    assert status.n_invalid == 3
    assert status.has_nan and status.has_inf
    assert status.some_invalid and not status.all_invalid


def test_all_invalid_status(all_bad):
    status = invalid_status(all_bad.df, all_bad.value_cols)
    assert status.all_invalid
    assert status.n_invalid == 6


def test_all_valid_status(all_good):
    status = invalid_status(all_good.df, all_good.value_cols)
    assert status.n_invalid == 0
    assert not status.has_nan and not status.has_inf


def test_fill(mixed):
    filled = fill_invalid(mixed.df, mixed.value_cols)
    pdf = filled.toPandas().sort_values("__row_id__")
    np.testing.assert_allclose(pdf["A"].values, [1.0, 0.0, 3.0])
    np.testing.assert_allclose(pdf["B"].values, [0.0, 5.0, 0.0])


def test_validate_raises_on_all_invalid(all_bad):
    with pytest.raises(ValueError, match="All values"):
        validate(all_bad, "x / y")


def test_validate_mixture_message(all_bad):
    with pytest.raises(ValueError, match="mixes"):
        validate(all_bad, "x * v", mixed_operands=True)


def test_validate_warns_on_partial(mixed):
    with pytest.warns(UserWarning, match="50.0%"):
        _, count = validate(mixed, "a + b")
    assert count == 3


def test_validate_fill_path(mixed, recwarn, capsys):
    # fill is the intended mode: NO warning (reference prints only
    # under verbose, coeff_maker.py:104-112)
    filled, count = validate(mixed, "a + b", fill=True)
    assert count == 3
    assert not [w for w in recwarn if issubclass(w.category, UserWarning)]
    status = invalid_status(filled.df, mixed.value_cols)
    assert status.n_invalid == 0
    # verbose prints the fill count
    validate(mixed, "a + b", fill=True, verbose=True)
    out = capsys.readouterr().out
    assert "Replaced 3 invalid values (NaN/Inf) with zeros" in out
    assert "WARNING: Result contains 3/6 (50.00%) invalid values" in out


def test_validate_clean_no_warning(all_good, recwarn):
    _, count = validate(all_good, "a + b")
    assert count == 0
    assert not [w for w in recwarn if issubclass(w.category, UserWarning)]


def test_null_counts_as_invalid(spark):
    df = spark.createDataFrame(
        [("0", 1.0), ("1", None)], schema="__row_id__ string, A double"
    )
    status = invalid_status(df, ["A"])
    assert status.n_invalid == 1


@pytest.mark.parametrize("rows", [slice(None), slice(0)], ids=["mixed", "empty"])
def test_driver_audit_and_fill_match_spark(spark, rows):
    """A result held on the driver is counted and filled in numpy: the
    same ``audit_exprs`` row as Spark's aggregate (None sums over no
    rows included) and the same filled cells as the lazy fill."""
    m = matrix_from_pandas(spark, pd.DataFrame({"A": [1.0, NAN, 3.0], "B": [INF, 5.0, -INF]})[rows])
    spark_row = m.df.agg(*audit_exprs(m.value_cols)).collect()[0].asDict()
    assert audit_cells(m.cells, m.value_cols) == spark_row
    filled = fill_invalid(m.df, m.value_cols).toPandas().sort_values("__row_id__", ignore_index=True)
    pd.testing.assert_frame_equal(fill_matrix(m).cells, filled, check_dtype=False)
