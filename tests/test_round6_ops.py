"""Round-6 regression tests: the round-5 ADVICE items.

1. (medium) ADP scalar-branch routing: a TripletMatrix operand is
   neither Matrix nor Vector, so the old 'no Vector operand' guard
   routed it into the ADP scalar evaluator's int/float-only resolver
   (KeyError). It must fall through to the triplet path.
2. (low) evaluate_formula returns a native float for scalar-only
   formulas in BOTH modes (the ADP path used to leak an mpmath.mpf).
3. (low) PinnedCache.store must not unpersist a frame the caller is
   re-storing under the same key (identity match).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ssb_coefficient_maker_spark import FormulaEvaluator


def _triplet_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "__row_id__": ["0", "0", "1", "1"],
                "__col_id__": ["x", "y", "x", "y"],
                "value": [1.0, 2.0, 3.0, 4.0],
            }
        )
    )


def test_adp_triplet_operand_routes_to_triplet_path(spark):
    """adp_enabled=True + TripletMatrix operand: must evaluate via the
    triplet plan (documented float64 demotion for triplet inputs), not
    KeyError inside the ADP scalar evaluator (round-5 ADVICE)."""
    fe = FormulaEvaluator(
        {"t": _triplet_df(spark), "k": 2.0},
        adp_enabled=True,
        spark=spark,
    )
    res = fe.evaluate_formula("t * k")
    got = {
        (r["__row_id__"], r["__col_id__"]): r["value"] for r in res.collect()
    }
    assert got[("1", "y")] == 8.0


def test_adp_triplet_plus_vector_refused_loudly(spark):
    """Same hazard in the Vector branch: TripletMatrix + Vector under
    ADP must not reach the ADP Series evaluator's Vector-only resolver
    (KeyError) nor the float64 triplet plan (silent all-NaN from the
    string-carried ADP Series) — it is refused with a clear error,
    the same pattern as the ADP-fusion guard."""
    fe = FormulaEvaluator(
        {"t": _triplet_df(spark), "u": pd.Series([10.0, 20.0])},
        adp_enabled=True,
        spark=spark,
    )
    with pytest.raises(NotImplementedError, match="TripletMatrix"):
        fe.evaluate_formula("t + u")


def test_adp_scalar_only_returns_native_float(spark):
    """evaluate_formula's contract: 'a float for scalar-only formulas'
    — in ADP mode too (the mpf is coerced after the zero-div guard)."""
    fe = FormulaEvaluator(
        {"k": 3.0}, adp_enabled=True, decimal_precision=30, spark=spark
    )
    got = fe.evaluate_formula("k * 2 + 1")
    assert type(got) is float and got == 7.0
    fe_off = FormulaEvaluator({"k": 3.0}, spark=spark)
    assert type(fe_off.evaluate_formula("k * 2 + 1")) is float
    # the zero-division guard still fires before the coercion
    with pytest.raises(ZeroDivisionError):
        fe.evaluate_formula("k / (k - 3)")


def test_a18_verbose_trace_message_shapes(spark, capsys):
    """A18 parity: verbose traces mirror the reference's message
    shapes (coeff_maker.py:640-645 init banner, :686-716 parse/var
    traces, :812-841 evaluation banner + division note + completion
    line, :385-415 validation warnings, :994-1014 calculator skip/
    success lines). Documented deviations: traces are verbose-gated
    (the reference's calculator prints unconditionally) and a lazy
    Spark result reports 'lazy (Spark DataFrame)' instead of a
    pandas shape."""
    import warnings

    from ssb_coefficient_maker_spark import CoefficientCalculator

    fe = FormulaEvaluator(
        {"a": pd.DataFrame({"x": [1.0, 2.0]}), "k": 2.0},
        verbose=True,
        spark=spark,
    )
    out = capsys.readouterr().out
    assert "FormulaEvaluator initialized with 2 variables" in out
    assert "Settings: precision_mode=numpy, fill_invalid=False" in out

    fe.evaluate_formula("a * k")
    out = capsys.readouterr().out
    assert "Evaluating formula: a * k" in out
    assert "Parsing formula: a * k" in out
    assert "Parsed expression:" in out
    assert "Variables in expression:" in out
    assert (
        "Formula evaluation complete. Result shape: lazy (Spark DataFrame)"
        in out
    )
    assert "Note: Formula contains division" not in out

    # division note, fill branch, and the validation fill trace
    fe_fill = FormulaEvaluator(
        {
            "a": pd.DataFrame({"x": [1.0, 2.0]}),
            "b": pd.DataFrame({"x": [0.0, 1.0]}),
        },
        fill_invalid=True,
        verbose=True,
        spark=spark,
    )
    capsys.readouterr()
    fe_fill.evaluate_formula("a / b")
    out = capsys.readouterr().out
    assert (
        "Note: Formula contains division. Invalid values will be "
        "replaced with zeros." in out
    )
    assert "WARNING: Result contains 1/2 (50.00%) invalid values" in out
    assert " - Result contains Inf values (division by zero)" in out
    assert "Invalid values will be replaced with zeros" in out
    assert "Replaced 1 invalid values (NaN/Inf) with zeros" in out

    # warn path (no fill): division note names the warning branch
    fe_warn = FormulaEvaluator(
        {
            "a": pd.DataFrame({"x": [1.0, 2.0]}),
            "b": pd.DataFrame({"x": [0.0, 1.0]}),
        },
        verbose=True,
        spark=spark,
    )
    capsys.readouterr()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        fe_warn.evaluate_formula("a / b")
    out = capsys.readouterr().out
    assert (
        "Note: Formula contains division. Invalid values will "
        "trigger warnings or errors." in out
    )

    # calculator skip/success shapes
    cmap = pd.DataFrame(
        {
            "name": ["good", "no_formula", "missing_var"],
            "formula": ["a * 2", "", "a + zz"],
        }
    )
    calc = CoefficientCalculator(
        {"a": pd.DataFrame({"x": [1.0]})},
        cmap,
        result_name_col="name",
        formula_name_col="formula",
        verbose=True,
        spark=spark,
    )
    capsys.readouterr()
    res = calc.compute_coefficients()
    out = capsys.readouterr().out
    assert "Successfully computed coefficient: good" in out
    assert "Skipping coefficient no_formula: No formula provided" in out
    assert (
        "Skipping coefficient missing_var: Missing variables ['zz']" in out
    )
    assert set(res) == {"good"}


def test_plan_audit_global_window_detector_fires(spark):
    """Negative control for the round-6 plan-audit extension: an
    unpartitioned window directly over a raw scan (the q166 class of
    scale bug) must be counted; the same window over an aggregate
    must not."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import plan_audit
    from pyspark.sql import Window

    raw = spark.range(100).withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    plan = raw._jdf.queryExecution().executedPlan()
    assert plan_audit._unbounded_global_windows(plan) == 1

    reduced = (
        spark.range(100)
        .groupBy((F.col("id") % 5).alias("g"))
        .count()
        .withColumn("r", F.row_number().over(Window.orderBy("g")))
    )
    plan2 = reduced._jdf.queryExecution().executedPlan()
    assert plan_audit._unbounded_global_windows(plan2) == 0


def test_cdc_survives_shifted_insertion(spark):
    """The property that motivates q185 over q172: insert a prefix
    into a copy of a document and the FIXED-size chunk digests share
    (almost) nothing, while the CDC digests still overlap heavily —
    boundaries re-align after the insertion because they depend only
    on local content."""
    import hashlib
    import random

    from ssb_coefficient_maker_spark.operators.dedup import (
        cdc_bounds_expr,
    )

    rng = random.Random(42)
    base = " ".join(
        "".join(rng.choice("abcdefghijklmnop ") for _ in range(8))
        for _ in range(400)
    )
    shifted = "INSERTED-PREFIX-OF-ODD-LENGTH-37b " + base
    df = spark.createDataFrame(
        [("orig", base), ("shifted", shifted)], ["doc", "text"]
    )
    out = (
        df.withColumn("b", cdc_bounds_expr("text"))
        .selectExpr(
            "doc",
            "zip_with(slice(b, 1, size(b) - 1), slice(b, 2, size(b) - 1),"
            " (a, c) -> md5(substring(text, a + 1, c - a))) AS ds",
        )
        .collect()
    )
    cdc = {r["doc"]: set(r["ds"]) for r in out}
    assert len(cdc["orig"]) > 10  # enough chunks to be meaningful
    cdc_overlap = len(cdc["orig"] & cdc["shifted"]) / len(cdc["orig"])
    assert cdc_overlap > 0.8, f"CDC overlap only {cdc_overlap:.2f}"

    def fixed_digests(text: str, chunk: int = 64) -> set:
        return {
            hashlib.md5(text[i : i + chunk].encode()).hexdigest()
            for i in range(0, len(text), chunk)
        }

    fx_orig, fx_shift = fixed_digests(base), fixed_digests(shifted)
    fixed_overlap = len(fx_orig & fx_shift) / len(fx_orig)
    assert fixed_overlap < 0.1, (
        f"fixed-size unexpectedly robust: {fixed_overlap:.2f}"
    )
    assert cdc_overlap > fixed_overlap + 0.5


def test_oracle_types_portable(sf_dir):
    """Hard CI gate (round-5 VERDICT item 9): every registry oracle
    must BIND (DuckDB DESCRIBE — no execution) without HUGEINT /
    unsigned / DECIMAL columns, the type class whose pandas rendering
    diverges from Spark's and breaks the driver's type-sensitive
    hash. New oracles must cast from day one."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import check_oracles

    from ssb_coefficient_maker_spark.queries import REGISTRY
    from ssb_coefficient_maker_spark.sources.loaders import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    bad = check_oracles.oracle_type_violations(con, REGISTRY)
    assert not bad, f"oracles binding banned types: {bad}"


def test_pinned_cache_restore_same_frames_keeps_persistence(spark):
    """Re-storing the very frames already pinned under a key must not
    strip their cached state (round-5 ADVICE, cachereg.py:66)."""
    from ssb_coefficient_maker_spark.cachereg import PinnedCache

    cache = PinnedCache("test_identity_restore")
    df = spark.range(5).persist()
    df.count()
    try:
        cache.store("corpus", "p", "v1", pinned=[df])
        cache.store("corpus", "p", "v2", pinned=[df])  # same frame object
        assert df.storageLevel.useMemory  # NOT unpersisted
        assert cache.lookup("corpus", "p") == "v2"
        # a genuinely replaced frame is still freed
        df2 = spark.range(7).persist()
        df2.count()
        cache.store("corpus", "p", "v3", pinned=[df2])
        assert not df.storageLevel.useMemory
        assert df2.storageLevel.useMemory
    finally:
        cache.release()


# -- plan-shape pins for the round-6 queries ---------------------------------


def _plan_of(name, spark, sf_dir):
    from ssb_coefficient_maker_spark import queries as Q

    df = Q.REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan()


def test_q191_no_window_in_plan(spark, sf_dir):
    """q191's claim: sliding distinct WITHOUT any window function —
    the fan-out/explode construction must keep WindowExec out of the
    plan entirely."""
    plan = _plan_of("q191_dau_wau_stickiness", spark, sf_dir)
    assert "Window" not in plan.toString()


def test_sequence_queries_window_only_partitioned(spark, sf_dir):
    """q190 sessionization and q205 transitions promise per-user/
    customer windows only: every WindowExec in their plans must carry
    a non-empty partition spec."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import plan_audit

    for name in ("q190_sessionization", "q205_priority_transitions"):
        plan = _plan_of(name, spark, sf_dir)
        for node in plan_audit._walk(plan):
            if node.nodeName() == "Window":
                assert not node.partitionSpec().isEmpty(), name


def test_q206_q185_python_plan_contract(spark, sf_dir):
    """q206 RLE advertises a pure-JVM pipeline: no Python evaluation
    node of any kind. q185 CDC (round 7) deliberately runs its gear
    boundary rule as ONE Arrow-vectorized pandas_udf — exactly one
    ArrowEvalPython, never a row-at-a-time BatchEvalPython (see
    SCALE_NOTES: the Arrow seam measured 3.5x the JVM md5 expression
    at sf1)."""
    s = _plan_of("q206_jvm_rle", spark, sf_dir).toString()
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    assert "MapInPandas" not in s and "FlatMapGroupsInPandas" not in s

    s = _plan_of("q185_cdc_chunking", spark, sf_dir).toString()
    assert "BatchEvalPython" not in s
    assert s.count("ArrowEvalPython") == 1, "gear bounds = one Arrow batch op"


def test_q208_compiles_to_semi_plus_anti(spark, sf_dir):
    """q208's EXISTS / NOT EXISTS must compile to one semi-join and
    one anti-join — not correlated re-execution."""
    s = _plan_of("q208_waiting_suppliers", spark, sf_dir).toString()
    assert "LeftSemi" in s and "LeftAnti" in s


def test_q187_melt_after_aggregate(spark, sf_dir):
    """q187's contract: the stack() generator expands the AGGREGATE's
    rows, so the plan's Generate node must sit above the aggregation
    (exactly one Generate, and the subtree below it contains the
    HashAggregate)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import plan_audit

    plan = _plan_of("q187_unpivot_metrics", spark, sf_dir)
    gens = [
        n for n in plan_audit._walk(plan) if n.nodeName() == "Generate"
    ]
    assert len(gens) == 1
    below = {n.nodeName() for n in plan_audit._walk(gens[0])}
    assert "HashAggregate" in below
