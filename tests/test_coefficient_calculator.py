"""CoefficientCalculator parity tests (reference
tests/test_CoefficientCalculator.py; fixtures per FIXTURES.md A2)."""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ssb_coefficient_maker_spark.api import CoefficientCalculator


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(seed=42)
    a = pd.DataFrame(rng.integers(1, 10, (3, 3))).astype(float)
    b = pd.DataFrame(rng.integers(1, 5, (3, 3))).astype(float)
    c = pd.Series(rng.integers(1, 10, 3)).astype(float)
    return {"a": a, "b": b, "c": c}


@pytest.fixture(scope="module")
def coefficient_map():
    return pd.DataFrame(
        {
            "result_name": [
                "sum_ab",
                "diff_ab",
                "a_times_c",
                "a_divided_by_b",
                "empty_formula",
            ],
            "formula": ["a + b", "a - b", "a * c", "a / b", ""],
            "description": ["sum", "difference", "scaled", "ratio", "blank"],
        }
    )


@pytest.fixture(scope="module")
def calculator(spark, data, coefficient_map):
    return CoefficientCalculator(
        data,
        coefficient_map,
        result_name_col="result_name",
        formula_name_col="formula",
        adp_enabled=False,
        fill_invalid=True,
        spark=spark,
    )


def test_expected_keys(calculator):
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        results = calculator.compute_coefficients()
    # empty formula skipped (reference coeff_maker.py:993-995)
    assert set(results) == {"sum_ab", "diff_ab", "a_times_c", "a_divided_by_b"}


def test_values_match_pandas(calculator, data):
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        results = calculator.compute_coefficients_to_pandas()
    a, b, c = data["a"], data["b"], data["c"]
    np.testing.assert_allclose(results["sum_ab"].values, (a + b).values)
    np.testing.assert_allclose(results["diff_ab"].values, (a - b).values)
    np.testing.assert_allclose(results["a_times_c"].values, (a * c.to_numpy()).values)
    np.testing.assert_allclose(results["a_divided_by_b"].values, (a / b).values)


def test_missing_variable_skipped(spark, data, coefficient_map):
    cmap = pd.concat(
        [
            coefficient_map,
            pd.DataFrame(
                {
                    "result_name": ["missing_var"],
                    "formula": ["a + nonexistent_var"],
                    "description": ["broken"],
                }
            ),
        ],
        ignore_index=True,
    )
    calc = CoefficientCalculator(
        data, cmap, "result_name", "formula", fill_invalid=True, spark=spark
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        results = calc.compute_coefficients()
    assert "missing_var" not in results
    assert "sum_ab" in results


def test_nan_formula_skipped(spark, data):
    cmap = pd.DataFrame(
        {"result_name": ["ok", "nanf"], "formula": ["a + b", np.nan]}
    )
    calc = CoefficientCalculator(data, cmap, "result_name", "formula", spark=spark)
    results = calc.compute_coefficients()
    assert set(results) == {"ok"}


def test_header_validation(spark, data, coefficient_map):
    # reference: missing mandatory column → KeyError (coeff_maker.py:938-954)
    with pytest.raises(KeyError, match="wrong_col"):
        CoefficientCalculator(
            data, coefficient_map, "wrong_col", "formula", spark=spark
        )
    with pytest.raises(KeyError, match="nope"):
        CoefficientCalculator(
            data, coefficient_map, "result_name", "nope", spark=spark
        )


def test_extra_columns_allowed(calculator):
    # description column tolerated (reference tests:173-197)
    assert "description" in calculator.coefficient_map.columns


def test_spark_native_batch_over_lineitem(spark, sf_dir):
    """End-to-end Spark-native batch: matrices derived from lineitem
    pivots, a 4-formula coefficient map, lazy results verified against
    a direct SQL computation."""
    from pyspark.sql import functions as F

    from ssb_coefficient_maker_spark.sources.loaders import load_table

    li = load_table(spark, sf_dir, "lineitem")
    price = (
        li.groupBy(F.col("l_orderkey").alias("__row_id__"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_extendedprice"))
    )
    qty = (
        li.groupBy(F.col("l_orderkey").alias("__row_id__"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_quantity"))
    )
    cmap = pd.DataFrame(
        {
            "name": ["unit_price", "share", "scaled", "broken"],
            "formula": [
                "price / qty",
                "price / (price + qty)",
                "price * 0.25",
                "price + not_registered",
            ],
        }
    )
    calc = CoefficientCalculator(
        {"price": price, "qty": qty},
        cmap,
        "name",
        "formula",
        fill_invalid=True,
        validation="defer",
        spark=spark,
    )
    results = calc.compute_coefficients()
    assert set(results) == {"unit_price", "share", "scaled"}  # 'broken' skipped
    # verify one cell chain against direct SQL
    li.createOrReplaceTempView("cc_lineitem")
    expected = spark.sql(
        """
        SELECT l_orderkey,
               sum(CASE WHEN l_returnflag='A' THEN l_extendedprice END)
             / sum(CASE WHEN l_returnflag='A' THEN l_quantity END) AS up_A
        FROM cc_lineitem GROUP BY l_orderkey
        HAVING up_A IS NOT NULL
        ORDER BY l_orderkey LIMIT 5
        """
    ).collect()
    got = {
        r["__row_id__"]: r["A"]
        for r in results["unit_price"]
        .filter(F.col("__row_id__").isin([e["l_orderkey"] for e in expected]))
        .collect()
    }
    for e in expected:
        assert abs(got[e["l_orderkey"]] - e["up_A"]) < 1e-9


def test_fused_matches_unfused(spark):
    import numpy as np

    a = pd.DataFrame({"x": [1.0, 2.0, 3.0], "y": [4.0, 0.0, 6.0]})
    b = pd.DataFrame({"x": [2.0, 4.0, 0.0], "y": [1.0, 5.0, 3.0]})
    cmap = pd.DataFrame(
        {
            "name": ["share", "diff_ratio", "prod", "scalar_only"],
            "formula": ["a / (a + b)", "(a - b) / (a + b)", "a * b", "3 + 4"],
        }
    )
    calc = CoefficientCalculator(
        {"a": a, "b": b}, cmap, "name", "formula",
        fill_invalid=True, validation="defer", spark=spark,
    )
    groups, extras = calc.compute_coefficients_fused()
    assert extras == {"scalar_only": 7.0}
    assert len(groups) == 1  # all three frame formulas share {a, b}
    g = groups[0]
    assert set(g.result_cols) == {"share", "diff_ratio", "prod"}
    fused = g.df.toPandas().sort_values("__row_id__").reset_index(drop=True)

    unfused = calc.compute_coefficients()
    for rname, cols in g.result_cols.items():
        ref = (
            unfused[rname].toPandas().sort_values("__row_id__").reset_index(drop=True)
        )
        for col in cols:
            plain = col[len(rname) + 1 :]
            np.testing.assert_allclose(
                fused[col].to_numpy(), ref[plain].to_numpy(), rtol=1e-12,
                err_msg=f"{rname}.{plain}",
            )


def test_fused_groups_by_frame_set(spark):
    a = pd.DataFrame({"x": [1.0, 2.0]})
    b = pd.DataFrame({"x": [3.0, 4.0]})
    cmap = pd.DataFrame(
        {
            "name": ["both", "only_a", "only_b"],
            "formula": ["a + b", "a * 2", "b - 1"],
        }
    )
    calc = CoefficientCalculator(
        {"a": a, "b": b}, cmap, "name", "formula", spark=spark, validation="defer"
    )
    groups, extras = calc.compute_coefficients_fused()
    assert not extras
    assert {frozenset(g.result_cols) for g in groups} == {
        frozenset({"both"}), frozenset({"only_a"}), frozenset({"only_b"}),
    }


def test_fused_single_scan_plan(spark, sf_dir):
    """The fused plan must scan each parquet input once: 3 formulas
    over the same two lineitem pivots -> exactly 2 parquet scans (one
    per pivot), not 6."""
    from ssb_coefficient_maker_spark.queries import q58_fused_coeffmap

    df = q58_fused_coeffmap(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("parquet") == 2, plan


def test_fused_to_parquet_one_write_per_group(spark, tmp_path):
    import numpy as np

    a = pd.DataFrame({"x": [1.0, 2.0], "y": [3.0, 0.0]})
    b = pd.DataFrame({"x": [2.0, 0.0], "y": [1.0, 2.0]})
    cmap = pd.DataFrame(
        {
            "name": ["share", "prod", "konst"],
            "formula": ["a / (a + b)", "a * b", "7"],
        }
    )
    cc = CoefficientCalculator(
        {"a": a, "b": b}, cmap, "name", "formula",
        fill_invalid=True, validation="defer", spark=spark,
    )
    manifest = cc.compute_coefficients_fused_to_parquet(str(tmp_path / "out"))
    assert manifest["extras"]["konst"] == 7
    assert manifest["share"]["path"] == manifest["prod"]["path"]  # one group
    assert manifest["share"]["rows"] == 2
    back = spark.read.parquet(manifest["share"]["path"]).toPandas().sort_values("__row_id__")
    got = back[manifest["share"]["columns"]].to_numpy()
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        exp = (a / (a + b)).fillna(0.0).to_numpy()
    assert np.allclose(got, exp)
    assert np.allclose(back[manifest["prod"]["columns"]].to_numpy(), (a * b).to_numpy())


def test_fused_adp_rows_keep_their_own_plans(spark, tmp_path):
    """Under ADP no row fuses: ``compute_coefficients_fused`` returns no
    groups and every row's result as ``compute_coefficients`` gives it,
    and the fused parquet sink writes each matrix row at ``extra=`` as
    decimal strings, at full precision."""
    a = pd.DataFrame({"x": [1.0, 2.0, 3.0]}, index=["r1", "r2", "r3"])
    b = pd.DataFrame({"x": [3.0, 3.0, 3.0]}, index=["r1", "r2", "r3"])
    cmap = pd.DataFrame({"name": ["q", "p", "k"], "formula": ["a / b", "a * b", "1 / 3"]})
    cc = CoefficientCalculator(
        {"a": a, "b": b}, cmap, "name", "formula", adp_enabled=True, decimal_precision=40,
        spark=spark,
    )
    groups, extras = cc.compute_coefficients_fused()
    assert groups == []
    single = cc.compute_coefficients()
    assert list(extras) == list(single) == ["q", "p", "k"]
    assert extras["k"] == single["k"]
    for name in ("q", "p"):
        pd.testing.assert_frame_equal(
            extras[name].toPandas().sort_values("__row_id__", ignore_index=True),
            single[name].toPandas().sort_values("__row_id__", ignore_index=True),
        )
    manifest = cc.compute_coefficients_fused_to_parquet(str(tmp_path / "out"))
    assert manifest["q"]["path"] == str(tmp_path / "out" / "extra=q")
    back = spark.read.parquet(manifest["q"]["path"]).toPandas().sort_values("__row_id__")
    assert list(back["x"]) == ["0." + "3" * 40, "0." + "6" * 39 + "7", "1.0"]


def test_fused_result_column_collision_refused(spark, tmp_path):
    """Result ``a`` over column ``b_c`` and result ``a_b`` over column
    ``c`` would both be ``a_b_c``: both fused methods refuse the group
    on the driver, naming the column (the sink failed in Spark with an
    ambiguous reference)."""
    from ssb_coefficient_maker_spark.formula.parser import FormulaError

    x = pd.DataFrame([[1.0, 2.0], [3.0, 4.0]], index=["r1", "r2"], columns=["c", "b_c"])
    cmap = pd.DataFrame({"name": ["a", "a_b"], "formula": ["x * 1", "x * 2"]})
    cc = CoefficientCalculator({"x": x}, cmap, "name", "formula", spark=spark)
    with pytest.raises(FormulaError, match=r"\['a_b_c'\].*rename a result"):
        cc.compute_coefficients_fused()
    with pytest.raises(FormulaError, match=r"\['a_b_c'\].*rename a result"):
        cc.compute_coefficients_fused_to_parquet(str(tmp_path / "out"))
    assert set(cc.compute_coefficients_to_pandas()) == {"a", "a_b"}  # per row: no clash


def test_fused_compiler_groups_by_frame_set_in_first_seen_order(spark):
    """``compile_formulas_fused`` gives one plan per frame-operand set,
    in the order the sets are first seen; no formulas give no plans."""
    from ssb_coefficient_maker_spark.catalog import matrix_from_pandas
    from ssb_coefficient_maker_spark.formula.parser import parse_formula
    from ssb_coefficient_maker_spark.plans.alignment import compile_formulas_fused

    datasets = {
        "a": matrix_from_pandas(spark, pd.DataFrame({"x": [1.0, 2.0]})),
        "b": matrix_from_pandas(spark, pd.DataFrame({"x": [3.0, 4.0]})),
        "s": pd.Series([2.0]),
        "k": 3.0,
    }
    forms = {"u": "b * k", "v": "a + b", "w": "b + s", "z": "b + a"}
    plans = compile_formulas_fused({n: parse_formula(f) for n, f in forms.items()}, datasets)
    assert [list(cols) for _, cols in plans] == [["u", "w"], ["v", "z"]]
    got = plans[1][0].toPandas().sort_values("__row_id__")
    assert list(got["v_x"]) == list(got["z_x"]) == [4.0, 6.0]
    assert compile_formulas_fused({}, datasets) == []


def test_fused_falls_back_for_triplet_operands(spark):
    """A formula touching a wide (TripletMatrix) operand must not be
    fused (the fused compiler has no triplet path) — it evaluates via
    the standard path and lands in extras, matching unfused values."""
    import numpy as np

    from ssb_coefficient_maker_spark.catalog import WIDE_MATRIX_THRESHOLD

    n_cols = WIDE_MATRIX_THRESHOLD + 1
    wide_pdf = pd.DataFrame({f"c{i}": [float(i), float(i * 2)] for i in range(n_cols)})
    wide_pdf.insert(0, "__row_id__", ["0", "1"])
    wide = spark.createDataFrame(wide_pdf)  # wide SPARK frame → TripletMatrix
    a = pd.DataFrame({"x": [1.0, 2.0], "y": [3.0, 4.0]})
    cmap = pd.DataFrame(
        {"name": ["wide_r", "plain"], "formula": ["t * 2", "a + 1"]}
    )
    cc = CoefficientCalculator(
        {"t": wide, "a": a}, cmap, "name", "formula", validation="defer", spark=spark
    )
    groups, extras = cc.compute_coefficients_fused()
    assert "wide_r" in extras  # not fused, standard path
    (g,) = groups  # 'plain' fused on its own
    assert list(g.result_cols) == ["plain"]
    got = extras["wide_r"]
    unfused = cc.compute_coefficients()["wide_r"]
    gp = got.toPandas().sort_values("__row_id__").reset_index(drop=True)
    up = unfused.toPandas().sort_values("__row_id__").reset_index(drop=True)
    pd.testing.assert_frame_equal(gp, up)


def test_fused_equals_unfused_property(spark):
    """Property fuzz: random formula batches over one operand set —
    the fused plan's values must equal each formula's standalone
    evaluation, including NaN/Inf cells (division by zero) and the
    fill path."""
    import itertools
    import warnings

    import numpy as np

    rng = np.random.default_rng(5)
    ops = ["+", "-", "*", "/"]
    names = ["a", "b", "c"]
    frames = {
        n: pd.DataFrame(
            {
                "x": rng.choice([0.0, 1.0, -2.5, 3.25], size=4),
                "y": rng.choice([0.0, 0.5, 4.0], size=4),
            }
        )
        for n in names
    }
    combos = list(itertools.product(ops, repeat=2))  # all 16, incl. inner '/'
    cmap = pd.DataFrame(
        {
            "name": [f"f{i}" for i in range(len(combos))],
            "formula": [f"(a {o1} b) {o2} c" for o1, o2 in combos],
        }
    )
    for fill in (False, True):
        cc = CoefficientCalculator(
            dict(frames), cmap, "name", "formula",
            fill_invalid=fill, validation="defer", spark=spark,
        )
        groups, extras = cc.compute_coefficients_fused()
        assert not extras
        (g,) = groups  # one shared frame set -> one group
        fused = g.df.toPandas().sort_values("__row_id__").reset_index(drop=True)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            for rname, cols in g.result_cols.items():
                o1, o2 = combos[int(rname[1:])]
                a, b, c = frames["a"], frames["b"], frames["c"]
                exp = eval(f"(a {o1} b) {o2} c")
                if fill:
                    exp = exp.replace([np.inf, -np.inf], np.nan).fillna(0.0)
                got = fused[cols].to_numpy()
                np.testing.assert_allclose(
                    got, exp.to_numpy(), rtol=1e-12, atol=1e-12, equal_nan=True
                )


def test_verbose_tracing_surfaces(spark, capsys):
    """A18 parity: verbose=True must trace parse and batch-skip
    decisions to stdout (the reference prints under verbose,
    coeff_maker.py:640-696, 993-1006); non-verbose must stay silent."""
    import pandas as pd

    from ssb_coefficient_maker_spark.api import CoefficientCalculator, FormulaEvaluator

    a = pd.DataFrame({"x": [1.0, 2.0]})
    b = pd.DataFrame({"x": [3.0, 4.0]})
    cmap = pd.DataFrame(
        {
            "result": ["ok", "bad_parse", "missing_var"],
            "formula": ["a + b", "a +* b", "a + nosuch"],
        }
    )
    calc = CoefficientCalculator(
        coefficient_map=cmap,
        data_dict={"a": a, "b": b},
        result_name_col="result",
        formula_name_col="formula",
        verbose=True,
    )
    results = calc.compute_coefficients()
    out = capsys.readouterr().out
    assert set(results) == {"ok"}
    assert "Parsing formula: a + b" in out
    assert "Successfully computed coefficient: ok" in out
    assert "Skipping coefficient bad_parse" in out and "unparseable" in out
    assert "Skipping coefficient missing_var: Missing variables" in out

    # silent when verbose=False
    calc_quiet = CoefficientCalculator(
        coefficient_map=cmap,
        data_dict={"a": a, "b": b},
        result_name_col="result",
        formula_name_col="formula",
    )
    calc_quiet.compute_coefficients()
    quiet_out = capsys.readouterr().out
    assert "Parsing formula" not in quiet_out
    assert "Skipping coefficient" not in quiet_out


@st.composite
def _fuzz_cmaps(draw):
    """Random coefficient maps: shared/disjoint frame-operand sets,
    frame-vector-scalar mixes, vector/scalar-only extras, and every
    skip class (empty, unknown variable, unparseable)."""
    frames_pool = ["a", "b", "c", "d"]
    rows = []
    n = draw(st.integers(4, 8))
    for i in range(n):
        kind = draw(
            st.sampled_from(
                ["frames", "frames", "frames", "mixed", "vec", "scalar",
                 "empty", "unknown", "unparseable"]
            )
        )
        if kind == "frames":
            k = draw(st.integers(1, 3))
            opnds = draw(st.permutations(frames_pool))[:k]
            f = opnds[0]
            for o in opnds[1:]:
                f = f"({f} {draw(st.sampled_from(['+', '-', '*', '/']))} {o})"
        elif kind == "mixed":
            base = draw(st.sampled_from(frames_pool))
            f = f"({base} {draw(st.sampled_from(['*', '+', '/']))} v) + s"
        elif kind == "vec":
            f = "v * 2 + s"
        elif kind == "scalar":
            f = "s * 3"
        elif kind == "empty":
            f = draw(st.sampled_from(["", "   "]))
        elif kind == "unknown":
            f = "a + zz_missing"
        else:
            f = "a +* b"
        rows.append({"name": f"r{i}", "formula": f})
    return pd.DataFrame(rows)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cmap=_fuzz_cmaps(), fill=st.booleans())
def test_fused_compiler_fuzz(spark, cmap, fill):
    """Property fuzz of the fused batch compiler (round-3 VERDICT
    next-round #7): for ANY coefficient map, compute_coefficients_fused
    must (a) group/route/skip exactly like the per-formula loop and
    (b) produce bit-equal values for every result, including NaN/Inf
    cells and the fill path."""
    import warnings

    import numpy as np

    rng = np.random.default_rng(77)
    cols = ["x", "y", "z"]
    datasets = {
        n: pd.DataFrame(
            rng.choice([0.0, 1.0, -2.5, 3.25, 4.0], size=(4, 3)), columns=cols
        )
        for n in ["a", "b", "c", "d"]
    }
    datasets["v"] = pd.Series([2.0, 0.0, -1.5], index=cols)
    datasets["s"] = 2.5

    def mk():
        return CoefficientCalculator(
            dict(datasets), cmap, "name", "formula",
            fill_invalid=fill, validation="defer", spark=spark,
        )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        groups, extras = mk().compute_coefficients_fused()
        unfused = mk().compute_coefficients()

    fused_names = set(extras) | {n for g in groups for n in g.result_cols}
    assert fused_names == set(unfused)  # identical skip/route decisions

    for g in groups:
        fused_pdf = g.df.toPandas().sort_values("__row_id__").reset_index(drop=True)
        for rname, rcols in g.result_cols.items():
            ref = (
                unfused[rname]
                .toPandas()
                .sort_values("__row_id__")
                .reset_index(drop=True)
            )
            for col in rcols:
                plain = col[len(rname) + 1 :]
                np.testing.assert_allclose(
                    fused_pdf[col].to_numpy(), ref[plain].to_numpy(),
                    rtol=1e-12, atol=0, equal_nan=True,
                    err_msg=f"{rname}.{plain} (formula set: {cmap.formula.tolist()})",
                )
    for name, val in extras.items():
        ref = unfused[name]
        if isinstance(val, pd.Series):
            pd.testing.assert_series_equal(val, ref)
        else:
            assert val == ref


def _triplet(spark, pdf):
    from ssb_coefficient_maker_spark.plans.triplet import TripletMatrix

    long = pdf.stack().rename_axis(["__row_id__", "__col_id__"]).reset_index(name="value")
    return TripletMatrix(spark.createDataFrame(long))


def test_to_pandas_collects_triplet_results_wide(spark):
    """compute_coefficients_to_pandas collects a triplet result as the
    same wide matrix evaluate_to_pandas gives, not the long frame."""
    t = pd.DataFrame(
        [[0.1, 0.2, 0.0], [0.0, 0.1, 0.3], [0.2, 0.0, 0.1]],
        index=list("xyz"), columns=list("xyz"),
    )
    cmap = pd.DataFrame({"name": ["inv", "dbl"], "formula": ["leontief(T, 1e-6)", "T * 2"]})
    calc = CoefficientCalculator({"T": _triplet(spark, t)}, cmap, "name", "formula", spark=spark)
    got = calc.compute_coefficients_to_pandas()
    for name, formula in zip(cmap["name"], cmap["formula"]):
        assert got[name].shape == (3, 3)
        pd.testing.assert_frame_equal(got[name], calc.evaluator.evaluate_to_pandas(formula))
    np.testing.assert_allclose(
        got["inv"].loc[list("xyz"), list("xyz")].to_numpy(),
        np.linalg.inv(np.eye(3) - t.to_numpy()), atol=1e-5,
    )
    assert np.allclose(got["dbl"].loc[list("xyz"), list("xyz")].to_numpy(), 2 * t.to_numpy())


def test_to_pandas_collects_adp_results_as_mpf(spark):
    import mpmath

    a = pd.DataFrame({"x": [1.0, 2.0], "y": [3.0, 4.0]})
    cmap = pd.DataFrame({"name": ["third"], "formula": ["a / 3"]})
    calc = CoefficientCalculator(
        {"a": a}, cmap, "name", "formula", adp_enabled=True, decimal_precision=40, spark=spark
    )
    got = calc.compute_coefficients_to_pandas()["third"]
    assert got.shape == (2, 2)
    assert all(isinstance(v, mpmath.mpf) for v in got.to_numpy().ravel())
    with mpmath.workdps(40):
        assert mpmath.almosteq(got.loc[0, "x"], mpmath.mpf(1) / 3, rel_eps=mpmath.mpf("1e-35"))


def test_fused_manifest_counts_invalid_before_fill(spark, tmp_path):
    """The fused sink's manifest counts the invalid cells a fill then
    replaces — the same count evaluate_to_parquet reports."""
    a = pd.DataFrame({"x": [1.0, 2.0, 3.0], "y": [4.0, 5.0, 6.0]})
    b = pd.DataFrame({"x": [0.0, 1.0, 0.0], "y": [1.0, 0.0, 2.0]})
    cmap = pd.DataFrame({"name": ["ratio"], "formula": ["a / b"]})
    calc = CoefficientCalculator(
        {"a": a, "b": b}, cmap, "name", "formula",
        fill_invalid=True, validation="defer", spark=spark,
    )
    manifest = calc.compute_coefficients_fused_to_parquet(str(tmp_path / "fused"))
    single = calc.evaluator.evaluate_to_parquet("a / b", str(tmp_path / "single"))
    assert manifest["ratio"]["invalid"] == single["invalid"] == 3
    back = spark.read.parquet(manifest["ratio"]["path"]).toPandas()
    assert np.isfinite(back[manifest["ratio"]["columns"]].to_numpy()).all()  # filled


def test_colliding_operand_column_names_align(spark):
    """'a' with column '_x' and 'a_' with column 'x' must not collide in
    the aligned join (as 'name__col' both were 'a___x'): the wide and
    fused paths give the pandas answer."""
    a = pd.DataFrame({"_x": [1.0, 2.0], "y": [3.0, 4.0]})
    a_ = pd.DataFrame({"x": [10.0, 20.0], "y": [30.0, 40.0]})
    expected = (a + a_).fillna(0.0)
    cmap = pd.DataFrame({"name": ["s"], "formula": ["a + a_"]})
    calc = CoefficientCalculator(
        {"a": a, "a_": a_}, cmap, "name", "formula", fill_invalid=True, spark=spark
    )
    wide = calc.evaluator.evaluate_to_pandas("a + a_")
    pd.testing.assert_frame_equal(wide[expected.columns], expected)
    (group,), _ = calc.compute_coefficients_fused()
    fused = group.df.toPandas().sort_values("__row_id__")
    for c in expected.columns:
        np.testing.assert_array_equal(fused[f"s_{c}"].to_numpy(), expected[c].to_numpy())


@pytest.mark.parametrize("method", ["compute_coefficients", "compute_coefficients_to_pandas"])
def test_verbose_batch_parses_each_row_once(spark, capsys, method):
    """A map row is parsed, and its names extracted, once: the batch
    evaluates the tree its skip rules parsed, and its messages keep the
    formula text."""
    data = {"a": pd.DataFrame({"x": [1.0, 2.0]}), "b": pd.DataFrame({"x": [3.0, 4.0]})}
    cmap = pd.DataFrame({"result": ["sum", "share"], "formula": ["a + b", "a / b"]})
    calc = CoefficientCalculator(data, cmap, "result", "formula", verbose=True, spark=spark)
    capsys.readouterr()
    getattr(calc, method)()
    lines = capsys.readouterr().out.splitlines()
    for prefix in ("Parsing formula:", "Parsed expression:", "Variables in expression:",
                   "Evaluating formula:"):
        assert sum(line.startswith(prefix) for line in lines) == 2, prefix
    assert "Evaluating formula: a / b" in lines
    assert sum(line.startswith("Note: Formula contains division") for line in lines) == 1
