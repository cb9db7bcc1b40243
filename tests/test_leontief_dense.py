"""``leontief()`` on a small sector vocabulary: one collect of A and the
Neumann series in numpy on the driver, with the cells, values and
refusals of the per-term Spark loop."""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import SparkSession

from ssb_coefficient_maker_spark.api import FormulaEvaluator
from ssb_coefficient_maker_spark.plans import triplet as T
from ssb_coefficient_maker_spark.session import ROW_ID

SCHEMA = f"{ROW_ID} string, {T.COL_ID} string, {T.VALUE} double"


def _jobs(spark, action) -> int:
    """The Spark jobs ``action`` runs."""
    sc = spark.sparkContext
    group = f"leontief-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _a10(seed=1):
    """A productive 10-sector technical-coefficient matrix (column sums
    0.1-0.2), as triplet rows."""
    n = 10
    rng = np.random.default_rng(seed)
    labels = [f"A{i:02d}" for i in range(n)]
    a = rng.uniform(0.0, 1.0, (n, n))
    a *= rng.uniform(0.1, 0.2, n) / a.sum(axis=0)
    rows = [(r, c, float(a[i, j])) for i, r in enumerate(labels) for j, c in enumerate(labels)]
    return rows, labels, a


def _half_sparse(n=8, seed=3):
    rng = np.random.default_rng(seed)
    a = rng.uniform(0.0, 1.0, (n, n)) * (rng.random((n, n)) < 0.5)
    a *= 0.5 / np.maximum(a.sum(axis=0), 1.0)
    return [(f"s{i}", f"s{j}", float(a[i, j])) for i in range(n) for j in range(n) if a[i, j]]


def _divergent(n=3):
    return [(f"d{i}", f"d{j}", 1.6 / n) for i in range(n) for j in range(n)]


nan, inf = float("nan"), float("inf")
CASES = {
    "sparse_nilpotent": ([("r0", "r1", 0.5), ("r1", "r2", 0.5)], 1e-10),
    "duplicate_cells": ([("a", "b", 0.2), ("a", "b", 0.1), ("b", "a", 0.3), ("a", "a", 0.1)], 1e-10),
    "present_zero_cell": ([("a", "b", 0.0), ("b", "a", 0.4), ("b", "c", 0.2)], 1e-10),
    "peak_below_tol": ([("a", "b", 1e-12)], 1e-10),
    "nan_cell": ([("a", "b", nan), ("b", "a", 0.3)], 1e-10),
    "divergent": (_divergent(), 1e-10),
    "inf_cell": ([("a", "b", inf), ("b", "c", 0.3)], 1e-10),
    "cancelling_duplicates": ([("a", "b", 0.5), ("a", "b", -0.5), ("b", "a", 0.3)], 0.1),
    "half_sparse_8x8": (_half_sparse(), 1e-10),
    # A² overflows to Inf; a dense A³ would then read Inf·0 = NaN in
    # cells the loop never creates, so the series goes back to the loop
    "overflowing_cycle": ([("a", "b", 1e200), ("b", "c", 1e200), ("c", "a", 1e200)], 1e-10),
}


def _run(spark, rows, tol):
    """Cells of leontief(A) as {(row, col): value}, or the refusal."""
    a = T.TripletMatrix(spark.createDataFrame(rows, SCHEMA))
    try:
        out = T.leontief_total_requirements(a, tol=tol, max_terms=12)
    except ValueError as exc:
        return str(exc)
    return {(r[ROW_ID], r[T.COL_ID]): r[T.VALUE] for r in out.df.collect()}


@pytest.mark.parametrize("case", list(CASES))
def test_dense_series_matches_per_term_loop(spark, monkeypatch, case):
    rows, tol = CASES[case]
    dense = _run(spark, rows, tol)
    monkeypatch.setattr(T, "DENSE_LABELS", 0)  # every A takes the loop
    loop = _run(spark, rows, tol)
    if isinstance(loop, str):
        assert dense == loop
        return
    assert isinstance(dense, dict) and sorted(dense) == sorted(loop)
    keys = sorted(loop)
    np.testing.assert_allclose([dense[k] for k in keys], [loop[k] for k in keys], rtol=1e-12)


def test_dense_series_keeps_present_cells_and_refusals(spark):
    """What the series returns, spelled out for three of the cases."""
    got = _run(spark, *CASES["present_zero_cell"])
    # the identity over {a, b, c} and A's three cells; A²'s cells are
    # all 0 (each goes through the present zero), so its peak is under
    # tol and A² is not added
    assert got == {("a", "a"): 1.0, ("b", "b"): 1.0, ("c", "c"): 1.0,
                   ("a", "b"): 0.0, ("b", "a"): 0.4, ("b", "c"): 0.2}
    got = _run(spark, *CASES["peak_below_tol"])
    assert got == {("a", "a"): 1.0, ("b", "b"): 1.0}
    got = _run(spark, *CASES["cancelling_duplicates"])
    assert got == {("a", "a"): 1.0, ("b", "b"): 1.0, ("a", "b"): 0.0, ("b", "a"): 0.3}
    assert "NaN entry" in _run(spark, *CASES["nan_cell"])
    assert "did not converge within 12 terms" in _run(spark, *CASES["divergent"])


def test_leontief_formula_runs_one_job(spark, monkeypatch):
    """One collect of A, and nothing else: the result stays on the
    driver, where it is audited and pivoted, so it never becomes a
    Spark frame. The per-term loop ran 28 jobs here (one checkpoint and
    sum per term)."""
    rows, labels, a = _a10()
    fe = FormulaEvaluator({"A": T.TripletMatrix(spark.createDataFrame(rows, SCHEMA))}, spark=spark)
    made = []
    create = SparkSession.createDataFrame
    monkeypatch.setattr(SparkSession, "createDataFrame",
                        lambda self, *args, **kwargs: made.append(1) or create(self, *args, **kwargs))
    out = {}
    assert _jobs(spark, lambda: out.update(r=fe.evaluate_to_pandas("leontief(A, 1e-8)"))) == 1
    assert made == []
    got = out["r"].loc[labels, labels].to_numpy()
    assert np.abs(got - np.linalg.inv(np.eye(10) - a)).max() < 1e-7


def test_large_vocabulary_and_inf_take_the_loop(spark, monkeypatch):
    """Over the label bound, or with an Inf cell, A takes the per-term
    loop and gives its answer: one checkpoint job per term."""
    rows, labels, a = _a10()
    monkeypatch.setattr(T, "DENSE_LABELS", 9)
    fe = FormulaEvaluator({"A": T.TripletMatrix(spark.createDataFrame(rows, SCHEMA))}, spark=spark)
    out = {}
    assert _jobs(spark, lambda: out.update(r=fe.evaluate_to_pandas("leontief(A, 1e-8)"))) > 2
    got = out["r"].loc[labels, labels].to_numpy()
    assert np.abs(got - np.linalg.inv(np.eye(10) - a)).max() < 1e-7
    monkeypatch.undo()

    got = _run(spark, [("a", "b", inf), ("b", "c", 0.3)], 1e-10)
    # A's Inf reaches (a, c) through A² and no other cell: in a dense
    # product Inf·0 would poison every cell of row a
    assert got == {("a", "a"): 1.0, ("b", "b"): 1.0, ("c", "c"): 1.0,
                   ("a", "b"): inf, ("b", "c"): 0.3, ("a", "c"): inf}
