"""Formulas, fills and audits are built as Spark SQL text: labels that
Spark's name parser would misread must reach every path quoted, and a
plan step costs a fixed number of py4j round trips, not one per
expression node per output column."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ssb_coefficient_maker_spark import CoefficientCalculator, FormulaEvaluator
from ssb_coefficient_maker_spark.plans.triplet import wide_to_triplet

# a NACE-style code with a dot, a backtick, a quote and a backslash
LABELS = ["C10.1", "C10.2", "x`y", "it's", "b\\c"]
ROWS = ["r1", "r2", "r3"]


@pytest.fixture(scope="module")
def labelled(spark):
    a = pd.DataFrame(
        [[1.0, 2.0, 3.0, 4.0, 5.0], [6.0, 7.0, 8.0, 9.0, 10.0], [-1.0, -2.0, -3.0, -4.0, -5.0]],
        index=ROWS, columns=LABELS,
    )
    b = pd.DataFrame(
        [[2.0, 0.0, 1.0, 4.0, 8.0], [3.0, 5.0, 0.5, 2.0, 1.0], [1.0, 1.0, 1.0, 1.0, -2.0]],
        index=ROWS, columns=LABELS,
    )
    s = pd.Series([0.5, 1.5, 2.5, 3.5, 4.5], index=LABELS)
    sa = spark.createDataFrame(a.rename_axis("__row_id__").reset_index())
    return a, b, s, sa


def _filled(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.replace([np.inf, -np.inf], np.nan).fillna(0.0)


def _check(got: pd.DataFrame, exp: pd.DataFrame) -> None:
    got = got.astype(np.float64)
    assert sorted(got.columns) == sorted(exp.columns)
    assert sorted(got.index) == sorted(exp.index)
    pd.testing.assert_frame_equal(got.loc[exp.index, exp.columns], exp, check_names=False)


def test_labels_spark_would_misread(spark, labelled, tmp_path):
    a, b, s, sa = labelled
    data = {"a": a, "b": b, "s": s, "sa": sa}
    fe = FormulaEvaluator(data, fill_invalid=True, spark=spark)
    exp = _filled(a / b)
    # wide, with the fill and the audit over the same labels
    _check(fe.evaluate_to_pandas("a / b"), exp)
    # a Spark DataFrame operand (catalog.matrix_from_spark)
    _check(fe.evaluate_to_pandas("sa - b"), a - b)
    # triplet: wide_to_triplet's stack() text, and a Series broadcast
    # keyed by column label (a map literal)
    _check(fe.evaluate_to_pandas("a.T.T / b"), exp)
    t = FormulaEvaluator({"t": wide_to_triplet(fe.datasets["a"]), "s": s}, spark=spark)
    _check(t.evaluate_to_pandas("t * s"), a * s)
    # fused
    cmap = pd.DataFrame({"name": ["q", "d"], "formula": ["a / b", "a - b"]})
    calc = CoefficientCalculator(data, cmap, "name", "formula", fill_invalid=True, spark=spark)
    (group,), _ = calc.compute_coefficients_fused()
    fused = group.df.toPandas().set_index("__row_id__")
    for name, want in (("q", exp), ("d", a - b)):
        _check(fused[[f"{name}_{c}" for c in LABELS]].set_axis(LABELS, axis=1), want)
    # parquet
    path = str(tmp_path / "q")
    assert fe.evaluate_to_parquet("a / b", path)["invalid"] == 1
    _check(spark.read.parquet(path).toPandas().set_index("__row_id__"), exp)
    # ADP, with its string fill and audit
    adp = FormulaEvaluator({"a": a, "b": b}, adp_enabled=True, fill_invalid=True, spark=spark)
    _check(adp.evaluate_to_pandas("a - b * 2"), a - b * 2)


def _round_trips(monkeypatch, fn) -> int:
    """py4j gateway round trips ``fn`` makes; py4j's own garbage
    collection messages are left out."""
    from py4j import protocol
    from py4j.java_gateway import GatewayClient

    original = GatewayClient.send_command
    calls = 0

    def counted(client, command, *args, **kwargs):
        nonlocal calls
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            calls += 1
        return original(client, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", counted)
        fn()
    return calls


def test_round_trips_per_output_column(spark, monkeypatch):
    formula = "where(U > M, U / Z, 0)"
    rng = np.random.default_rng(7)
    per_width = {}
    for width in (8, 64):
        data = {n: pd.DataFrame(rng.integers(0, 3, (4, width)).astype(float)) for n in "UMZ"}
        defer = FormulaEvaluator(data, fill_invalid=True, validation="defer", spark=spark)
        defer.evaluate_to_pandas(formula)  # warm up
        per_width[width] = (
            _round_trips(monkeypatch, lambda: defer.evaluate_formula(formula)),
            _round_trips(monkeypatch, lambda: defer.evaluate_to_pandas(formula)),
        )
    (lazy8, collect8), (lazy64, collect64) = per_width[8], per_width[64]
    assert (lazy64 - lazy8) / 56 <= 8, (lazy8, lazy64)
    assert (collect64 - collect8) / 56 <= 16, (collect8, collect64)
