"""The driver route of pandas-registered operands
(``plans.alignment._aligned_join`` and ``_evaluate_cells``): a formula
whose frame operands all carry their ingested cells is aligned with
one pandas concat, a float formula is evaluated there in numpy, and
either gives what the Spark join chain and its SQL projection give on
every entry point."""

from __future__ import annotations

import uuid
import warnings
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import SparkSession
from test_audit_sites import _jobs

from ssb_coefficient_maker_spark.api import CoefficientCalculator, FormulaEvaluator
from ssb_coefficient_maker_spark.formula.parser import CALLS, OPERATORS, Call
from ssb_coefficient_maker_spark.functions.math import ident
from ssb_coefficient_maker_spark.plans import alignment
from ssb_coefficient_maker_spark.plans.triplet import COL_ID, VALUE
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
    """Run an action on the driver route, then with the join forced
    (``LOCAL_ALIGN_CELLS`` 0); returns both outcomes and how many times
    each called ``hook``, the driver route's own step: the numpy
    evaluation of a float formula, or the driver alignment that ADP
    ships to its executor."""
    made = Counter()

    def both(action, hook="_evaluate_cells"):
        original = getattr(alignment, hook)
        outcomes = []
        for bound in (alignment.LOCAL_ALIGN_CELLS, 0):
            def counted(*args, bound=bound):
                made[bound] += 1
                return original(*args)

            monkeypatch.setattr(alignment, "LOCAL_ALIGN_CELLS", bound)
            monkeypatch.setattr(alignment, hook, counted)
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


KEYS = (ROW_ID, COL_ID)


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    """A collected Spark frame in label order (row, then column label
    for a triplet)."""
    keys = [k for k in KEYS if k in pdf.columns]
    return pdf.sort_values(keys, kind="stable").reset_index(drop=True)


def _nan_null(df) -> dict:
    """Spark's own count of NaN and of NULL cells per value column of
    ``df``: a collect to pandas reads both as NaN."""
    cols = [c for c in df.columns if c not in KEYS]
    row = df.selectExpr(*(f"sum(CAST({test}({ident(c)}) AS INT))" for c in cols
                          for test in ("isnan", "isnull"))).collect()[0]
    return {c: (row[2 * i], row[2 * i + 1]) for i, c in enumerate(cols)}


def _assert_same(outcomes):
    (got, invalid, messages), (want, want_invalid, want_messages) = outcomes
    assert messages == want_messages
    assert invalid == want_invalid
    if want is None:
        assert got is None
    else:
        pd.testing.assert_frame_equal(got, want)


def _entry_points(spark, tmp_path, data, formula, fill):
    """Each single-formula entry point as an action giving ``(result,
    invalid count or parquet metrics)``; a Spark result is collected,
    and its NaN and NULL cells are also counted in Spark
    (``_nan_null``)."""
    def evaluator(validation="eager"):
        return FormulaEvaluator(data, fill_invalid=fill, spark=spark, validation=validation)

    def to_pandas():
        fe = evaluator()
        return fe.evaluate_to_pandas(formula), fe.last_invalid_count

    def evaluate(validation):
        fe = evaluator(validation)
        df = fe.evaluate_formula(formula)
        return _sorted(df.toPandas()), (fe.last_invalid_count, _nan_null(df))

    def to_parquet():
        path = str(tmp_path / uuid.uuid4().hex)
        metrics = evaluator().evaluate_to_parquet(formula, path)
        assert metrics.pop("path") == path
        written = spark.read.parquet(path)
        return _sorted(written.toPandas()), (metrics, _nan_null(written))

    return {"to_pandas": to_pandas, "eager": lambda: evaluate("eager"),
            "defer": lambda: evaluate("defer"), "to_parquet": to_parquet}


@pytest.mark.parametrize("fill", [False, True], ids=["raw", "fill"])
@pytest.mark.parametrize("case", list(CASES))
def test_wide_paths_agree(spark, tmp_path, paths, case, fill):
    a, b, c = CASES[case]
    data = {"a": a, "b": b, "c": c}
    action = _entry_points(spark, tmp_path, data, FORMULAS["p"], fill)["to_pandas"]
    outcomes, local, joined = paths(action)
    assert (local, joined) == (1, 0)
    _assert_same(outcomes)


@pytest.mark.parametrize("entry", ["eager", "defer", "to_parquet"])
@pytest.mark.parametrize("fill", [False, True], ids=["raw", "fill"])
@pytest.mark.parametrize("case", list(CASES))
def test_entry_points_agree(spark, tmp_path, paths, case, fill, entry):
    """``evaluate_formula`` (its DataFrame collected) in either
    validation mode, and ``evaluate_to_parquet`` (read back)."""
    a, b, c = CASES[case]
    data = {"a": a, "b": b, "c": c}
    outcomes, local, joined = paths(_entry_points(spark, tmp_path, data, FORMULAS["p"], fill)[entry])
    assert (local, joined) == (1, 0)
    _assert_same(outcomes)


@pytest.mark.parametrize("fill", [False, True], ids=["raw", "fill"])
@pytest.mark.parametrize("case", list(CASES))
def test_single_frame_paths_agree(spark, tmp_path, paths, case, fill):
    """One frame operand and a scalar (``a * k``) take the driver route
    too."""
    data = {"a": CASES[case][0], "k": -2.5}
    outcomes, local, joined = paths(_entry_points(spark, tmp_path, data, "a * k", fill)["to_pandas"])
    assert (local, joined) == (1, 0)
    _assert_same(outcomes)


def _call(name: str) -> str:
    """An elementwise call of the parser's table over a, b, c."""
    args = ["a", "b", "c"][:len(CALLS[name].params)]
    if CALLS[name].method:
        return f"({args[0]}).{name}({', '.join(args[1:])})"
    return f"{name}({', '.join(args)})"


# a Series broadcast with a scalar, and one formula per operator symbol
# and per elementwise call of the parser's tables, over NaN and ±Inf
# cells ("nonfinite")
OPERAND_FORMULAS = [
    "a * s + k - b",
    "-a",
    *(f"a {sym} b" for sym in sorted(sym for sym, _ in OPERATORS.values())),
    *(_call(name) for name, sig in sorted(CALLS.items()) if sig.node is Call),
]


@pytest.mark.parametrize("formula", OPERAND_FORMULAS)
def test_operators_agree(spark, tmp_path, paths, formula):
    a, b, c = CASES["nonfinite"]
    data = {"a": a, "b": b, "c": c, "s": pd.Series([np.nan, -INF, 0.5]), "k": 3.0}
    outcomes, local, joined = paths(_entry_points(spark, tmp_path, data, formula, False)["to_pandas"])
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
        written = spark.read.parquet(path)
        return _sorted(written.toPandas()), (manifest, _nan_null(written))

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

    outcomes, local, joined = paths(action, "_local_join")
    assert (local, joined) == (1, 0)
    _assert_same(outcomes)


U = _frame(np.arange(1, 10).reshape(3, 3), ["r0", "r1", "r2"], ["x", "y", "z"])


def test_three_operand_formula_runs_no_job(spark):
    """A float formula over three pandas operands is aligned, evaluated,
    audited and filled on the driver: collecting it, and the eager
    audit of ``evaluate_formula``, run no Spark job (the join chain
    runs three)."""
    fe = FormulaEvaluator({"U": U, "M": U - 5, "Z": U.where(U > 4, 0.0)}, fill_invalid=True,
                          spark=spark)
    formula = "where(U > M, U / Z, 0)"
    assert _jobs(spark, lambda: fe.evaluate_to_pandas(formula)) == 0
    assert _jobs(spark, lambda: fe.evaluate_formula(formula)) == 0
    assert fe.last_invalid_count == 4  # U / 0 where U <= 4


def test_registration_makes_no_spark_frame(spark, monkeypatch):
    """A pandas operand becomes a Spark frame only when a plan first
    reads it, and then once."""
    made = Counter()
    create = SparkSession.createDataFrame

    def counted(self, *args, **kwargs):
        made["frames"] += 1
        return create(self, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", counted)
    fe = FormulaEvaluator({n: U * i for i, n in enumerate("abcde")}, spark=spark)
    assert made["frames"] == 0
    a = fe.datasets["a"]
    assert a.df is a.df
    assert made["frames"] == 1


def test_nested_floor_division_matches_numpy(spark):
    """A legal formula whose SQL text grows geometrically with its
    nesting (``//``) runs on the driver over pandas operands."""
    rng = np.random.default_rng(7)
    frames = {n: pd.DataFrame(rng.integers(-3, 4, (4, 3)).astype(float)) for n in "abcd"}
    fe = FormulaEvaluator(frames, fill_invalid=True, spark=spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        got = fe.evaluate_to_pandas("a // b // c // d")
    a, b, c, d = (frames[n].to_numpy() for n in "abcd")
    with np.errstate(all="ignore"):
        exp = np.floor_divide(np.floor_divide(np.floor_divide(a, b), c), d)
    pd.testing.assert_frame_equal(
        got, pd.DataFrame(np.where(np.isfinite(exp), exp, 0.0)), check_index_type=False,
        check_column_type=False)


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


def _cells(rows) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=[ROW_ID, COL_ID, VALUE])


# a productive 4-sector A, plus a column label "z" whose row A lacks:
# leontief(A)'s (z, z) cell is exactly 1
_A = [(f"s{i}", f"s{j}", 0.05 * (1 + (i + 2 * j) % 3)) for i in range(4) for j in range(4)]
LEONTIEF = "leontief(A, 1e-3)"
TRIPLET_FORMULAS = {
    "plain": LEONTIEF,
    "scaled": f"{LEONTIEF} * k - 1",
    "inf": f"where({LEONTIEF} > 1, {LEONTIEF} / 0, 0)",
    "all_invalid": f"({LEONTIEF} - 1) / 0",  # NaN on (z, z), else ±Inf
    "series": f"{LEONTIEF} * s",
}


def _triplet_data(spark) -> dict:
    return {
        "A": spark.createDataFrame(_cells(_A + [("s0", "z", 0.1)])),
        "k": 2.5,
        # lacks s1, s3 and z (NaN cells there), and has x, which A lacks
        "s": pd.Series([2.0, -1.0, 0.5], index=["s0", "s2", "x"]),
    }


@pytest.mark.parametrize("entry", ["to_pandas", "eager", "defer", "to_parquet"])
@pytest.mark.parametrize("fill", [False, True], ids=["raw", "fill"])
@pytest.mark.parametrize("formula", list(TRIPLET_FORMULAS))
def test_triplet_paths_agree(spark, tmp_path, paths, formula, fill, entry):
    """A formula over a dense ``leontief()`` result, which carries its
    cells, is aligned and evaluated on the driver, and gives what the
    Spark join and its SQL projection give on every entry point."""
    action = _entry_points(spark, tmp_path, _triplet_data(spark), TRIPLET_FORMULAS[formula],
                           fill)[entry]
    outcomes, local, joined = paths(action, "_local_join")
    assert (local, joined) == (1, 0)
    _assert_same(outcomes)


@pytest.mark.parametrize("entry", ["to_pandas", "to_parquet"])
def test_triplet_spark_operand_keeps_the_join(spark, tmp_path, paths, entry):
    """A Spark ``TripletMatrix`` operand carries no cells: a formula
    that mixes it with a dense ``leontief()`` result joins in Spark,
    whatever the bound, and gives the pandas answer."""
    data = _triplet_data(spark)
    b_cells = [("s0", "s0", 1.0), ("s1", "s2", -2.0), ("x", "s0", 3.0)]
    data["B"] = spark.createDataFrame(_cells(b_cells))
    formula = f"{LEONTIEF} + B"
    outcomes, local, joined = paths(_entry_points(spark, tmp_path, data, formula, False)[entry],
                                    "_local_join")
    assert (local, joined) == (0, 0)
    _assert_same(outcomes)
    if entry == "to_pandas":
        got = outcomes[0][0]
        lt = FormulaEvaluator({"A": data["A"]}, spark=spark).evaluate_to_pandas(LEONTIEF)
        b = _cells(b_cells).pivot(index=ROW_ID, columns=COL_ID, values=VALUE)
        want = lt.add(b)  # pandas alignment: NaN where either side lacks a cell
        pd.testing.assert_frame_equal(got, want.loc[got.index, got.columns],
                                      check_names=False)
