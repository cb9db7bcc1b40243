"""ADP (arbitrary-decimal-precision) parity tests.

Reproduces the reference's ADP suite intent (reference
tests/test_FormulaEvaluator_pt2.py:327-645; fixtures per FIXTURES.md
A4) — including DIVISION, which is broken in the reference under
pandas ≥2.x (SURVEY.md §2 Part A warts) but works here.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import mpmath
import numpy as np
import pandas as pd
import pytest

from ssb_coefficient_maker_spark.adp import ADP_ZERO_DIV_MSG, drop_zip_finders
from ssb_coefficient_maker_spark.api import FormulaEvaluator

DPS = 50


@pytest.fixture(scope="module")
def adp_eval(spark):
    def build(data, dps=DPS):
        return FormulaEvaluator(
            data, adp_enabled=True, decimal_precision=dps, spark=spark
        )

    return build


def test_tiny_addition_exact(adp_eval):
    # small_hp + small_hp == exactly 2e-30 (reference pt2:383-409)
    small = pd.DataFrame(np.full((2, 2), 1e-30))
    fe = adp_eval({"small": small})
    res = fe.evaluate_to_pandas("small + small")
    with mpmath.workdps(DPS):
        expected = mpmath.mpf("2e-30")
        for v in res.values.ravel():
            assert mpmath.almosteq(v, expected, rel_eps=mpmath.mpf("1e-45"))


def test_small_times_large_is_one(adp_eval):
    # 1e-20 * 1e20 == 1 exactly (reference pt2:412-426)
    small = pd.DataFrame(np.full((2, 2), 1e-20))
    large = pd.DataFrame(np.full((2, 2), 1e20))
    fe = adp_eval({"small": small, "large": large})
    res = fe.evaluate_to_pandas("small * large")
    for v in res.values.ravel():
        assert v == 1


def test_precise_fraction_division(adp_eval):
    # unit fractions ratio, exact at 50 digits (reference pt2:429-467)
    with mpmath.workdps(DPS):
        num = pd.DataFrame(
            [[mpmath.mpf(1) / 3, mpmath.mpf(1) / 7], [mpmath.mpf(1) / 9, mpmath.mpf(1) / 11]],
            dtype=object,
        )
        den = pd.DataFrame(
            [[mpmath.mpf(1) / 13, mpmath.mpf(1) / 17], [mpmath.mpf(1) / 19, mpmath.mpf(1) / 23]],
            dtype=object,
        )
        fe = adp_eval({"num": num, "den": den})
        res = fe.evaluate_to_pandas("num / den")
        expected = [
            [mpmath.mpf(13) / 3, mpmath.mpf(17) / 7],
            [mpmath.mpf(19) / 9, mpmath.mpf(23) / 11],
        ]
        for r in range(2):
            for col in range(2):
                assert mpmath.almosteq(
                    res.iloc[r, col], expected[r][col], rel_eps=mpmath.mpf("1e-45")
                )


def test_adp_zero_division_raises(adp_eval, tmp_path):
    # reference pt2:470-488 — ADP division by zero must raise, on the
    # driver, as the driver-side route raises it: on the collect, the
    # parquet write and the eager audit alike
    a = pd.DataFrame(np.ones((2, 2)))
    z = pd.DataFrame(np.zeros((2, 2)))
    fe = adp_eval({"a": a, "z": z})
    for action in (lambda: fe.evaluate_to_pandas("a / z"),
                   lambda: fe.evaluate_to_parquet("a / z", str(tmp_path / "out")),
                   lambda: fe.evaluate_formula("a / z")):
        with pytest.raises(ZeroDivisionError, match=f"^{ADP_ZERO_DIV_MSG}$"):
            action()


def test_loan_payment_formula(adp_eval):
    # payment = P*r/(1-(1+r)^-n) with monthly rate (reference pt2:519-575)
    principal = pd.DataFrame({"v": [1e6, 2e6, 5e6]})
    rate = pd.DataFrame({"v": [0.0325 / 12, 0.0310 / 12, 0.0295 / 12]})
    periods = pd.DataFrame({"v": [360.0, 240.0, 180.0]})
    fe = adp_eval({"p": principal, "r": rate, "n": periods})
    res = fe.evaluate_to_pandas("(p * r) / (1 - (1 + r) ** (-n))")
    with mpmath.workdps(DPS):
        for row, (pv, rv, nv) in enumerate(
            [(1e6, 0.0325 / 12, 360), (2e6, 0.0310 / 12, 240), (5e6, 0.0295 / 12, 180)]
        ):
            p_, r_, n_ = mpmath.mpf(repr(pv)), mpmath.mpf(repr(rv)), mpmath.mpf(nv)
            expected = (p_ * r_) / (1 - (1 + r_) ** (-n_))
            assert mpmath.almosteq(res.iloc[row, 0], expected, rel_eps=mpmath.mpf("1e-40"))


def test_adp_beats_float64(adp_eval):
    # small * large * small at 1e±16: ADP relative error < 1e-40
    # (reference pt2:578-645)
    with mpmath.workdps(DPS):
        small = pd.DataFrame([[mpmath.mpf("1e-16")]], dtype=object)
        large = pd.DataFrame([[mpmath.mpf("1e16")]], dtype=object)
        fe = adp_eval({"s": small, "l": large})
        res = fe.evaluate_to_pandas("s * l * s")
        expected = mpmath.mpf("1e-16")
        rel_err = abs(res.iloc[0, 0] - expected) / expected
        assert rel_err < mpmath.mpf("1e-40")


def test_adp_power_works(adp_eval):
    # the reference REJECTS '**' in ADP mode (coeff_maker.py:744-749);
    # our engine supports it — deliberate improvement, documented.
    a = pd.DataFrame([[2.0, 3.0]])
    fe = adp_eval({"a": a})
    res = fe.evaluate_to_pandas("a ** 2")
    assert res.iloc[0, 0] == 4 and res.iloc[0, 1] == 9


def test_adp_fill_invalid(spark):
    # i (with NaN cells) * a, ADP mode, fill → zeros where NaN was
    import numpy as np

    a = pd.DataFrame(np.ones((2, 2)) * 3.0)
    i = pd.DataFrame([[1.0, float("nan")], [2.0, 4.0]])
    fe = FormulaEvaluator(
        {"a": a, "i": i}, adp_enabled=True, decimal_precision=30,
        fill_invalid=True, spark=spark,
    )
    res = fe.evaluate_to_pandas("a * i")  # no warning: fill is intended mode
    assert res.iloc[0, 1] == 0
    assert res.iloc[1, 1] == 12


def test_adp_partial_invalid_warns(spark):
    import numpy as np

    a = pd.DataFrame(np.ones((2, 2)))
    i = pd.DataFrame([[1.0, float("nan")], [2.0, 4.0]])
    fe = FormulaEvaluator({"a": a, "i": i}, adp_enabled=True, spark=spark)
    with pytest.warns(UserWarning, match="invalid"):
        fe.evaluate_formula("a * i")


def test_adp_series_only_formula(adp_eval):
    # Series-only ADP formulas evaluate with adp.MP_OPS, not the numpy
    # ops (which would operate on the string carrier): 'u + v' must be
    # high-precision addition, not string concatenation.
    u = pd.Series([1.5, 2.0])
    v = pd.Series([2.0, 1e-30])
    fe = adp_eval({"u": u, "v": v})
    res = fe.evaluate_formula("u + v")
    assert isinstance(res, pd.Series)
    assert res.iloc[0] == mpmath.mpf("3.5")
    with mpmath.workdps(DPS):
        assert mpmath.almosteq(
            res.iloc[1], mpmath.mpf("2") + mpmath.mpf("1e-30"),
            rel_eps=mpmath.mpf("1e-45"),
        )


def test_adp_series_scalar_and_comparison(adp_eval):
    u = pd.Series([1.0, 4.0], index=[10, 20])
    fe = adp_eval({"u": u, "c": 2.0})
    res = fe.evaluate_formula("u * c")
    assert list(res.index) == [10, 20]
    assert [float(x) for x in res] == [2.0, 8.0]
    cmp_res = fe.evaluate_formula("u > c")
    assert [float(x) for x in cmp_res] == [0.0, 1.0]


def test_adp_series_length_mismatch_raises(adp_eval):
    from ssb_coefficient_maker_spark.formula.parser import FormulaError

    fe = adp_eval({"u": pd.Series([1.0, 2.0]), "v": pd.Series([1.0, 2.0, 3.0])})
    with pytest.raises(FormulaError, match="length"):
        fe.evaluate_formula("u + v")


def test_adp_floordiv_mod_zero_division_guarded(adp_eval):
    # '//' and '%' by zero surface the same guarded ADP diagnostic as '/'
    a = pd.DataFrame([[1.0]])
    z = pd.DataFrame([[0.0]])
    fe = adp_eval({"a": a, "z": z})
    for op in ("//", "%"):
        with pytest.raises(ZeroDivisionError, match=f"^{ADP_ZERO_DIV_MSG}$"):
            fe.evaluate_to_pandas(f"a {op} z")


def test_adp_evaluate_to_parquet_single_pass(spark, tmp_path):
    """ADP production sink: exact strings written, invalid metrics on
    the same action, fill path replaces invalid strings."""
    import mpmath

    # NaN input propagates as the invalid cell (ADP division by zero
    # raises the guarded ADP_ZERO_DIV_MSG by design - reference A4)
    a = pd.DataFrame({"x": [1.0, float("nan")], "y": [1e30, 4.0]})
    b = pd.DataFrame({"x": [3.0, 5.0], "y": [1e-30, 2.0]})
    fe = FormulaEvaluator(
        {"a": a, "b": b}, adp_enabled=True, decimal_precision=40, spark=spark
    )
    metrics = fe.evaluate_to_parquet("a / b", str(tmp_path / "adp_out"))
    assert metrics["rows"] == 2 and metrics["cells"] == 4
    assert metrics["invalid"] == 1  # nan / 5.0
    back = (
        spark.read.parquet(str(tmp_path / "adp_out"))
        .toPandas()
        .sort_values("__row_id__")
        .reset_index(drop=True)
    )
    # exact 60-digit-scale division the float64 path cannot represent
    with mpmath.workdps(40):
        expected = mpmath.mpf("1e30") / mpmath.mpf("1e-30")
        assert abs(mpmath.mpf(back["y"][0]) - expected) / expected < mpmath.mpf("1e-35")
    # unfilled: the NaN cell survives as an invalid string
    assert back["x"][1].lower() == "nan"

    fe_fill = FormulaEvaluator(
        {"a": a, "b": b}, adp_enabled=True, decimal_precision=40,
        fill_invalid=True, spark=spark,
    )
    m2 = fe_fill.evaluate_to_parquet("a / b", str(tmp_path / "adp_fill"))
    assert m2["invalid"] == 1
    filled = (
        spark.read.parquet(str(tmp_path / "adp_fill"))
        .toPandas().sort_values("__row_id__").reset_index(drop=True)
    )
    assert filled["x"][1] == "0.0"


# ------------------------------------------------------------------
# Property fuzz of the Series-only ADP route (plans.alignment.eval_driver
# with adp.MP_OPS)
# — round-2 VERDICT item 7: the vector path gets the same treatment as
# the matrix path in test_property_formula.py. Random formulas ×
# random precisions vs an INDEPENDENT mpmath oracle (plain Python eval
# over mpf operands, not formula.parser.evaluate).

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_VEC_NAMES = ["u", "v"]
_VEC_LITS = ["2", "0.5", "3.0", "1e-25"]


@st.composite
def _vec_formulas(draw, depth: int = 0):
    if depth >= 2:
        return draw(st.sampled_from(_VEC_NAMES + _VEC_LITS))
    kind = draw(st.integers(0, 2))
    if kind == 0:
        return draw(st.sampled_from(_VEC_NAMES))
    if kind == 1:
        return draw(st.sampled_from(_VEC_LITS))
    op = draw(st.sampled_from(["+", "-", "*", "/", "**"]))
    left = draw(_vec_formulas(depth=depth + 1))
    # keep exponents small literals so magnitudes stay in mpf comfort
    right = (
        draw(st.sampled_from(["2", "0.5"]))
        if op == "**"
        else draw(_vec_formulas(depth=depth + 1))
    )
    return f"({left} {op} {right})"


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(formula=_vec_formulas(), dps=st.sampled_from([20, 30, 50]))
def test_adp_vector_fuzz_vs_mpmath(spark, formula, dps):
    import re as _re

    # strictly positive operands: '**' stays real-valued (zero
    # denominators can still arise from e.g. 'u - u' — handled below)
    u_vals = [1.5, 2.0, 1e-30, 7.25]
    v_vals = [3.0, 0.125, 4.0, 1e20]
    # literals enter the engine DECIMALLY (mpf('1e-25'), not the
    # nearest binary double) — the oracle must ingest them the same way
    mp_formula = _re.sub(
        r"(?<![\w.])(\d+(?:\.\d+)?(?:e-?\d+)?)", r"mpf('\1')", formula
    )

    def oracle_env(i):
        return {
            "u": mpmath.mpf(repr(u_vals[i])),
            "v": mpmath.mpf(repr(v_vals[i])),
            "mpf": mpmath.mpf,
            "__builtins__": {},
        }

    fe = FormulaEvaluator(
        {"u": pd.Series(u_vals), "v": pd.Series(v_vals)},
        adp_enabled=True,
        decimal_precision=dps,
        spark=spark,
    )
    try:
        got = fe.evaluate_formula(formula)
    except ZeroDivisionError:
        # engine raised the guarded ADP zero-division diagnostic; the
        # oracle must agree that SOME element divides by zero
        with mpmath.workdps(dps):
            hits = 0
            for i in range(4):
                try:
                    eval(mp_formula, oracle_env(i))  # noqa: S307
                except ZeroDivisionError:
                    hits += 1
            assert hits > 0, formula
        return
    def realize(x):
        # the engine is real-valued: complex oracle results (negative
        # base ** fractional exponent) map to NaN, like the float
        # path's numpy semantics
        if isinstance(x, mpmath.mpc):
            return mpmath.mpf("nan")
        return mpmath.mpf(x) if isinstance(x, int) else x

    if not any(n in formula for n in _VEC_NAMES):
        # all-literal formula: scalar result by design (matches the
        # float path's scalar route)
        with mpmath.workdps(dps):
            expected = realize(eval(mp_formula, oracle_env(0)))  # noqa: S307
            if mpmath.isnan(expected):
                assert mpmath.isnan(mpmath.mpf(str(float(got)))), (formula, got)
            else:
                assert float(got) == pytest.approx(float(expected))
        return
    assert isinstance(got, pd.Series) and len(got) == 4
    with mpmath.workdps(dps):
        eps = mpmath.mpf(10) ** (-(dps - 5))
        for i in range(4):
            expected = realize(eval(mp_formula, oracle_env(i)))  # noqa: S307
            if mpmath.isnan(expected):
                assert mpmath.isnan(got.iloc[i]), (formula, i, got.iloc[i])
                continue
            assert mpmath.almosteq(got.iloc[i], expected, rel_eps=eps), (
                formula,
                i,
                got.iloc[i],
                expected,
            )


def test_adp_literal_only_zero_division_guard(spark):
    """Round-4 Hypothesis falsifying example, pinned: a literal-only
    ADP formula must raise the guarded zero-division diagnostic, not
    fall through to the numpy float path and return inf
    (reference tests/test_FormulaEvaluator_pt2.py:470-488 semantics).
    """
    fe = FormulaEvaluator(
        {"u": pd.Series([1.0]), "v": pd.Series([2.0])},
        adp_enabled=True,
        decimal_precision=30,
        spark=spark,
    )
    with pytest.raises(ZeroDivisionError):
        fe.evaluate_formula("(2 / (2 - 2))")
    # and a well-defined literal-only formula still yields the scalar
    got = fe.evaluate_formula("(3 / 2) + 1")
    assert float(got) == pytest.approx(2.5)


def test_adp_complex_power_coerces_to_nan(spark):
    """Round-5 Hypothesis falsifying example, pinned: a negative base
    with fractional exponent is COMPLEX in mpmath; the engine is
    real-valued (float path: numpy (-1)**0.5 -> NaN), so every ADP
    path must yield NaN, not leak an mpc. (The reference rejects **
    under ADP outright, coeff_maker.py:744-749 — supporting it is our
    documented deviation, so the domain must at least be consistent.)"""
    # literal-only scalar path
    fe = FormulaEvaluator(
        {"u": pd.Series([1.0])}, adp_enabled=True, decimal_precision=20, spark=spark
    )
    got = fe.evaluate_formula("((2 - 3.0) ** 0.5)")
    assert mpmath.isnan(got)
    # vector path
    fe2 = FormulaEvaluator(
        {"u": pd.Series([4.0, -1.0])},
        adp_enabled=True,
        decimal_precision=20,
        spark=spark,
    )
    vec = fe2.evaluate_formula("u ** 0.5")
    assert float(vec.iloc[0]) == pytest.approx(2.0)
    assert mpmath.isnan(vec.iloc[1])
    # matrix path (mapInPandas mpf kernel)
    fe3 = FormulaEvaluator(
        {"a": pd.DataFrame({"x": [4.0, -1.0]})},
        adp_enabled=True,
        decimal_precision=20,
        fill_invalid=True,
        spark=spark,
    )
    out = fe3.evaluate_to_pandas("a ** 0.5")
    assert float(out["x"].iloc[0]) == 2.0
    assert float(out["x"].iloc[1]) == 0.0  # NaN filled to 0


# ------------------------------------------------------------------
# One route for evaluate_formula and evaluate_to_parquet under ADP.


def _triplet(spark):
    from ssb_coefficient_maker_spark.plans.triplet import TripletMatrix

    long = pd.DataFrame(
        {
            "__row_id__": ["0", "0", "1", "1"],
            "__col_id__": ["x", "y", "x", "y"],
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    )
    return TripletMatrix(spark.createDataFrame(long))


def test_adp_triplet_only_parquet_takes_the_triplet_route(spark, tmp_path):
    """With only a TripletMatrix operand, ADP evaluate_to_parquet writes
    the same float64 triplet result evaluate_formula returns."""
    fe = FormulaEvaluator({"T": _triplet(spark)}, adp_enabled=True, spark=spark)
    meta = fe.evaluate_to_parquet("T * 2", str(tmp_path / "t"))
    assert meta["rows"] == 4 and meta["invalid"] == 0
    cols = ["__row_id__", "__col_id__", "value"]
    written = spark.read.parquet(str(tmp_path / "t")).toPandas()[cols]
    evaluated = fe.evaluate_formula("T * 2").toPandas()[cols]
    pd.testing.assert_frame_equal(
        written.sort_values(cols).reset_index(drop=True),
        evaluated.sort_values(cols).reset_index(drop=True),
    )


def test_adp_matrix_times_triplet_refused_on_driver(spark, tmp_path):
    fe = FormulaEvaluator(
        {"a": pd.DataFrame({"x": [1.0, 2.0], "y": [3.0, 4.0]}), "T": _triplet(spark)},
        adp_enabled=True,
        spark=spark,
    )
    with pytest.raises(NotImplementedError, match="TripletMatrix.*float64"):
        fe.evaluate_formula("a * T")
    with pytest.raises(NotImplementedError, match="TripletMatrix.*float64"):
        fe.evaluate_to_parquet("a * T", str(tmp_path / "mix"))


def test_adp_parquet_unknown_dataset_named(spark, tmp_path):
    fe = FormulaEvaluator({"a": pd.DataFrame({"x": [1.0]})}, adp_enabled=True, spark=spark)
    for call in (
        lambda: fe.evaluate_formula("a * nope"),
        lambda: fe.evaluate_to_parquet("a * nope", str(tmp_path / "unknown")),
    ):
        with pytest.raises(KeyError, match="references unknown dataset"):
            call()


def test_adp_colliding_operand_column_names_align(spark):
    """ADP reads the aligned join through the same positional aliases:
    'a' with column '_x' and 'a_' with column 'x' do not collide."""
    a = pd.DataFrame({"_x": [1.0, 2.0], "y": [3.0, 4.0]})
    a_ = pd.DataFrame({"x": [10.0, 20.0], "y": [30.0, 40.0]})
    fe = FormulaEvaluator(
        {"a": a, "a_": a_}, adp_enabled=True, fill_invalid=True, spark=spark
    )
    got = fe.evaluate_to_pandas("a + a_")
    expected = (a + a_).fillna(0.0)
    assert [[float(v) for v in row] for row in got[expected.columns].to_numpy()] == (
        expected.to_numpy().tolist()
    )


# ------------------------------------------------------------ routing table
# README "Routing" under ADP: a formula with a matrix op or a
# TripletMatrix operand takes the float64 triplet route, so it is refused
# when an ADP DataFrame or Series operand would be demoted on it.
_ROUTING_OPS = {
    "none": "{m}",
    ".T": "{m}.T",
    "@": "{m} @ {m}",
    "neumann": "neumann({m}, 2)",
    "leontief": "leontief({m})",
}
_ROUTING_NAMES = {".T": "transpose ('.T')", "@": "matmul ('@')", "neumann": "neumann()",
                  "leontief": "leontief()"}
_ROUTING_MIXES = ["a", "s", "t", "as", "at", "st", "ast"]


def _routing_outcome(mix: str, op: str) -> str:
    matrix_op = op != "none"
    if "a" not in mix and "t" not in mix:
        return "formula_error" if matrix_op else "driver"
    if (matrix_op or "t" in mix) and ("a" in mix or "s" in mix):
        return "refused"
    return "triplet" if matrix_op or "t" in mix else "adp"


@pytest.mark.parametrize("op", list(_ROUTING_OPS))
@pytest.mark.parametrize("mix", _ROUTING_MIXES)
def test_adp_routing_table(spark, mix, op):
    """Every ADP operand mix × matrix op is refused with one
    NotImplementedError naming the demoted operands, or routed: ADP
    frames to mpf, TripletMatrix-only formulas to float64, Series-only
    formulas to the driver. A refusal names the matrix op the formula
    uses, and no other."""
    from ssb_coefficient_maker_spark.formula.parser import FormulaError
    from ssb_coefficient_maker_spark.plans.triplet import TripletMatrix

    labels = ["x", "y"]
    a = pd.DataFrame([[0.1, 0.2], [0.3, 0.1]], index=labels, columns=labels)
    long = pd.DataFrame({"__row_id__": ["x", "x", "y", "y"], "__col_id__": labels * 2,
                         "value": [0.1, 0.2, 0.3, 0.1]})
    data = {"a": a, "s": pd.Series([1.0, 2.0], index=labels),
            "t": TripletMatrix(spark.createDataFrame(long))}
    m = "a" if "a" in mix else "t" if "t" in mix else "s"
    formula = " + ".join([_ROUTING_OPS[op].format(m=m), *(n for n in mix if n != m)])
    fe = FormulaEvaluator({n: data[n] for n in mix}, adp_enabled=True, spark=spark)
    outcome = _routing_outcome(mix, op)
    named = [_ROUTING_NAMES[op]] if op in _ROUTING_NAMES else []
    if outcome == "refused":
        with pytest.raises(NotImplementedError, match="float64") as err:
            fe.evaluate_to_pandas(formula)
        assert all(f"'{n}'" in str(err.value) for n in mix)  # names the operands
        assert [n for n in _ROUTING_NAMES.values() if n in str(err.value)] == named
    elif outcome == "formula_error":
        with pytest.raises(FormulaError, match="matrix operand") as err:
            fe.evaluate_to_pandas(formula)
        assert [n for n in _ROUTING_NAMES.values() if n in str(err.value)] == named
    else:
        res = fe.evaluate_to_pandas(formula)
        if outcome == "driver":
            assert isinstance(res, pd.Series) and isinstance(res.iloc[0], mpmath.mpf)
        elif outcome == "adp":
            assert isinstance(res.iloc[0, 0], mpmath.mpf)
        else:
            assert (res.dtypes == np.float64).all()


# -------------------------------------------------------- ingestion contract
def test_float_ingestion_refuses_text_cells(spark):
    """Both cell codecs refuse a text cell that is not a number when the
    frame is registered, on the driver."""
    for adp_enabled in (False, True):
        with pytest.raises(ValueError, match="could not convert string to float: 'abc'"):
            FormulaEvaluator({"a": pd.DataFrame({"x": [1.0, "abc"]})}, adp_enabled=adp_enabled,
                             spark=spark)


def test_adp_ingestion_carries_cells_exactly(spark):
    """Under ADP a registered cell collects as the mpf it stands for: an
    mpf at full precision, an int, a float as its shortest decimal
    (``0.1`` is the exact decimal 0.1), NaN and None as NaN."""
    with mpmath.workdps(35):
        digits = mpmath.mpf("1.2345678901234567890123456789012345")
        a = pd.DataFrame({"x": [digits, 7, 0.1, np.nan, None]}, dtype=object)
        fe = FormulaEvaluator({"a": a}, adp_enabled=True, decimal_precision=35, spark=spark)
        with pytest.warns(UserWarning, match="2 invalid value"):
            got = fe.evaluate_to_pandas("a")["x"].tolist()
        assert got[:3] == [digits, mpmath.mpf(7), mpmath.mpf("0.1")]
        assert got[2] != mpmath.mpf(0.1)  # not the float64 artifact
        assert all(isinstance(v, mpmath.mpf) and mpmath.isnan(v) for v in got[3:])


# ---------------------------------------------------------- worker imports
def _zip_finders() -> list:
    return [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]


def _add_to_zip(archive, files: dict[str, str]) -> None:
    with zipfile.ZipFile(archive, "a") as zf:
        for name, text in files.items():
            zf.writestr(name, text)


def test_drop_zip_finders_rereads_archives_lazily(tmp_path, monkeypatch):
    """No zip finder is left cached, and a module added in place to an
    archive already on the path still imports after
    ``importlib.invalidate_caches()``: the dropped archive is read again
    when an import needs it, not from a stale directory."""
    archive = tmp_path / "adp_zip_probe.zip"
    _add_to_zip(archive, {
        "adp_zip_probe/__init__.py": "",
        "adp_zip_probe/sub/__init__.py": "",
        "adp_zip_probe/sub/old.py": "VALUE = 1\n",
    })
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("adp_zip_probe.sub.old").VALUE == 1
        assert _zip_finders()
        drop_zip_finders()
        assert _zip_finders() == []

        _add_to_zip(archive, {"adp_zip_probe/sub/new.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("adp_zip_probe.sub.new").VALUE == 2
    finally:
        for name in [n for n in sys.modules if n.split(".")[0] == "adp_zip_probe"]:
            del sys.modules[name]
        drop_zip_finders()


def test_adp_workers_import_after_dropping_zip_finders(adp_eval, spark):
    """After ADP tasks have dropped their workers' zip finders, a later
    Python task in the same session, in a worker an ADP task left
    without zip finders, imports a pyspark module that worker had not
    loaded. (Later tasks of the job reuse workers that have it.)"""
    fe = adp_eval({"a": pd.DataFrame(np.arange(6.0).reshape(2, 3)), "b": pd.DataFrame(np.ones((2, 3)))})
    for formula in ("a + b", "a * b", "a - b"):
        fe.evaluate_to_pandas(formula)

    def dot(batches):
        import sys
        import zipimport

        dropped = not any(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        loaded = "pyspark.ml.linalg" in sys.modules
        from pyspark.ml.linalg import DenseVector

        value = DenseVector([1.0, 2.0]).dot(DenseVector([3.0, 4.0]))
        for pdf in batches:
            yield pd.DataFrame({"dot": value, "dropped": dropped, "loaded": loaded}, index=pdf.index)

    out = spark.range(16, numPartitions=16).mapInPandas(
        dot, "dot double, dropped boolean, loaded boolean").toPandas()
    assert len(out) == 16 and (out["dot"] == 11.0).all()
    assert out["dropped"].any()
    assert not out.loc[out["dropped"], "loaded"].any()
