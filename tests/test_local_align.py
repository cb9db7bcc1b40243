"""Driver-side alignment of pandas-registered operands
(``plans.alignment._aligned_join``): a formula whose frame operands
all carry their ingested cells is aligned with one pandas concat and
shipped as one local relation, and gives what the Spark join chain
gives on every route."""

from __future__ import annotations

import uuid
import warnings
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from test_audit_sites import _jobs

from ssb_coefficient_maker_spark.api import CoefficientCalculator, FormulaEvaluator
from ssb_coefficient_maker_spark.plans import alignment
from ssb_coefficient_maker_spark.session import ROW_ID

INF = np.inf


def _frame(values, index, columns) -> pd.DataFrame:
    return pd.DataFrame(np.asarray(values, dtype=float), index=index, columns=columns)


CASES = {
    # rows r0/r3 and columns x/z are each on one side only
    "misaligned": (
        _frame(np.arange(1, 7).reshape(3, 2), ["r0", "r1", "r2"], ["x", "y"]),
        _frame(np.arange(2, 8).reshape(3, 2), ["r1", "r2", "r3"], ["y", "z"]),
        _frame(np.ones((2, 2)), ["r2", "r1"], ["y", "x"]),
    ),
    "lacks_column": (
        _frame(np.arange(1, 10).reshape(3, 3), ["r0", "r1", "r2"], ["x", "y", "z"]),
        _frame(np.arange(1, 7).reshape(3, 2), ["r0", "r1", "r2"], ["x", "y"]),
        _frame(np.full((3, 3), 0.5), ["r0", "r1", "r2"], ["x", "y", "z"]),
    ),
    "nonfinite": (
        _frame([[1, np.nan, INF], [-INF, 2, 0]], ["r0", "r1"], ["x", "y", "z"]),
        _frame([[0, INF, 2], [np.nan, -INF, 3]], ["r0", "r1"], ["x", "y", "z"]),
        _frame([[1, 2, 3], [4, 5, 6]], ["r0", "r1"], ["x", "y", "z"]),
    ),
    # look-alike, dotted and backquoted labels on both axes
    "labels": (
        _frame(np.arange(1, 10).reshape(3, 3), ["01", "1", "C10.1"], ["01", "1", "x`y"]),
        _frame(np.arange(1, 7).reshape(3, 2), ["1", "x`y", "01"], ["x`y", "01"]),
        _frame(np.full((2, 3), 2.0), ["C10.1", "1"], ["1", "C10.1", "01"]),
    ),
    "empty": (
        _frame(np.arange(1, 7).reshape(2, 3), ["r0", "r1"], ["x", "y", "z"]),
        _frame(np.arange(1, 7).reshape(2, 3), ["r0", "r1"], ["x", "y", "z"]),
        _frame(np.empty((0, 2)), [], ["x", "y"]),
    ),
}
FORMULAS = {"p": "a * b - c", "q": "(a + b) * c"}


@pytest.fixture
def paths(monkeypatch):
    """Run an action on the driver path, then with the join forced
    (``LOCAL_ALIGN_CELLS`` 0); returns both outcomes and how many
    alignments each made on the driver."""
    local = alignment._local_join
    made = Counter()

    def counted(bound):
        def run(*args):
            made[bound] += 1
            return local(*args)
        return run

    def both(action):
        outcomes = []
        for bound in (alignment.LOCAL_ALIGN_CELLS, 0):
            monkeypatch.setattr(alignment, "LOCAL_ALIGN_CELLS", bound)
            monkeypatch.setattr(alignment, "_local_join", counted(bound))
            outcomes.append(_outcome(action))
        monkeypatch.undo()
        return outcomes, made[alignment.LOCAL_ALIGN_CELLS], made[0]

    return both


def _outcome(action):
    """``(result, invalid count or manifest, warnings or error text)``."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        try:
            result, invalid = action()
        except ValueError as exc:
            return None, None, str(exc)
    return result, invalid, [str(w.message) for w in caught if w.category is UserWarning]


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    """A collected Spark frame in label order."""
    return pdf.sort_values(ROW_ID, kind="stable").reset_index(drop=True)


def _assert_same(outcomes):
    (got, invalid, messages), (want, want_invalid, want_messages) = outcomes
    assert messages == want_messages
    assert invalid == want_invalid
    if want is None:
        assert got is None
    else:
        pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("fill", [False, True], ids=["raw", "fill"])
@pytest.mark.parametrize("case", list(CASES))
def test_wide_paths_agree(spark, paths, case, fill):
    a, b, c = CASES[case]

    def action():
        fe = FormulaEvaluator({"a": a, "b": b, "c": c}, fill_invalid=fill, spark=spark)
        return fe.evaluate_to_pandas(FORMULAS["p"]), fe.last_invalid_count

    outcomes, local, joined = paths(action)
    assert (local, joined) == (1, 0)
    _assert_same(outcomes)


@pytest.mark.parametrize("case", list(CASES))
def test_fused_paths_agree(spark, paths, case):
    a, b, c = CASES[case]
    cmap = pd.DataFrame({"name": list(FORMULAS), "formula": list(FORMULAS.values())})

    def action():
        calc = CoefficientCalculator({"a": a, "b": b, "c": c}, cmap, "name", "formula",
                                     fill_invalid=True, spark=spark)
        [group], extras = calc.compute_coefficients_fused()
        assert not extras
        return _sorted(group.df.toPandas()), group.result_cols

    outcomes, local, joined = paths(action)
    assert (local, joined) == (1, 0)
    _assert_same(outcomes)


@pytest.mark.parametrize("case", list(CASES))
def test_fused_sink_paths_agree(spark, tmp_path, paths, case):
    a, b, c = CASES[case]
    cmap = pd.DataFrame({"name": list(FORMULAS), "formula": list(FORMULAS.values())})

    def action():
        calc = CoefficientCalculator({"a": a, "b": b, "c": c}, cmap, "name", "formula",
                                     spark=spark)
        manifest = calc.compute_coefficients_fused_to_parquet(str(tmp_path / uuid.uuid4().hex))
        [path] = {entry["path"] for name, entry in manifest.items() if name != "extras"}
        for entry in manifest.values():
            entry.pop("path", None)
        return _sorted(spark.read.parquet(path).toPandas()), manifest

    outcomes, local, joined = paths(action)
    assert (local, joined) == (1, 0)
    _assert_same(outcomes)


ADP_CASES = {
    # a cell absent on one side is NaN, present NaN and ±Inf cells stay
    "absent": (
        _frame([[1.5, np.nan], [INF, 2.25]], ["r0", "r1"], ["x", "y"]),
        _frame([[3.0, 1e-20], [-INF, 4.0]], ["r1", "r2"], ["y", "z"]),
        _frame([[0.1, 0.2]], ["1"], ["x", "y"]),
    ),
    "labels": CASES["labels"],
    "empty": CASES["empty"],
}


@pytest.mark.parametrize("fill", [False, True], ids=["raw", "fill"])
@pytest.mark.parametrize("case", list(ADP_CASES))
def test_adp_paths_agree(spark, paths, case, fill):
    a, b, c = ADP_CASES[case]

    def action():
        fe = FormulaEvaluator({"a": a, "b": b, "c": c}, adp_enabled=True, fill_invalid=fill,
                              spark=spark)
        # mpf NaN is unequal to itself: compare the cells' text
        return fe.evaluate_to_pandas(FORMULAS["p"]).map(str), fe.last_invalid_count

    outcomes, local, joined = paths(action)
    assert (local, joined) == (1, 0)
    _assert_same(outcomes)


U = _frame(np.arange(1, 10).reshape(3, 3), ["r0", "r1", "r2"], ["x", "y", "z"])


def test_three_operand_formula_runs_one_job(spark):
    """The aligned join of three pandas operands is one local relation:
    the collect is the only job (the join chain runs three)."""
    fe = FormulaEvaluator({"U": U, "M": U - 5, "Z": U.where(U > 4, 0.0)}, fill_invalid=True,
                          spark=spark)
    assert _jobs(spark, lambda: fe.evaluate_to_pandas("where(U > M, U / Z, 0)")) == 1


def _plan_nodes(df) -> Counter:
    """Node names of ``df``'s executed physical plan, after an action:
    AQE's final plan and the plans inside its query stages."""
    df.collect()
    names, todo = Counter(), [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        names[name] += 1
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        todo.extend(node.children().apply(i) for i in range(node.children().length()))
    return names


def test_spark_operand_keeps_the_join(spark):
    """A Spark-DataFrame operand carries no cells: its formula joins."""
    s = spark.createDataFrame(U.rename_axis(ROW_ID).reset_index())
    fe = FormulaEvaluator({"a": U, "s": s}, spark=spark, validation="defer")
    assert _plan_nodes(fe.evaluate_formula("a + s"))["SortMergeJoin"] == 1


def test_bound_keeps_the_join(spark, monkeypatch):
    """Three pandas operands align on the driver up to the bound and
    join above it."""
    data = {"a": U, "b": U * 2, "c": U + 1}
    cells = 3 * 9  # 3 row labels × 9 operand columns
    for bound, joins in ((cells, 0), (cells - 1, 2)):
        monkeypatch.setattr(alignment, "LOCAL_ALIGN_CELLS", bound)
        fe = FormulaEvaluator(data, spark=spark, validation="defer")
        assert _plan_nodes(fe.evaluate_formula("a * b - c"))["SortMergeJoin"] == joins, bound
