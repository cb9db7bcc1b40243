"""Arbitrary-decimal-precision (ADP) mode — the mpmath escape hatch.

The reference's ADP mode converts every cell to ``mpmath.mpf`` at
``decimal_precision`` digits (reference coeff_maker.py:647-671) and
then evaluates with ``pd.eval`` over object arrays — which is broken
for division under pandas ≥2.x (5 of the reference's own tests fail;
SURVEY.md §2 Part A warts) and loops per-cell for fills.

Spark's ``DecimalType(38, s)`` cannot host the reference's own ADP
test values (1e±30 in one column needs floating, not fixed, point), so
the Spark-native design is:

- ADP matrices travel as **string columns** (exact decimal repr — the
  only Arrow-safe lossless carrier for mpf).
- The whole formula evaluates inside ONE Arrow-batched
  ``mapInPandas`` per result: strings → mpf at the requested
  precision → formula tree evaluated per cell → strings out.
  One Python stage, vectorized per batch, distributed over rows;
  division WORKS (unlike the reference).

This is explicitly the slow path (SURVEY.md §7 risk 5): opt-in, not
part of the benchmark surface.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssb_coefficient_maker_spark.catalog import Matrix, Vector, _stringify
from ssb_coefficient_maker_spark.formula.parser import (
    BinOp,
    Call,
    FormulaError,
    FormulaExpr,
    Num,
    UnaryOp,
    Var,
)
from ssb_coefficient_maker_spark.plans.alignment import (
    _aligned_join,
    _check_vectors,
    _operand_col,
    _operands,
    _union_cols,
)
from ssb_coefficient_maker_spark.session import ROW_ID
from ssb_coefficient_maker_spark.validation import Carrier, validate

ADP_ZERO_DIV_MSG = "ADP division by zero in formula evaluation"


def _to_decimal_str(value: Any, dps: int) -> str:
    """Lossless string carrier for one cell.

    Floats use ``repr`` (shortest round-trip decimal — '1e-20' stays
    the exact decimal 1e-20 at high precision, matching the user's
    written literal rather than the float64 artifact); mpf values are
    serialized at full working precision.
    """
    import mpmath

    if value is None:
        return "nan"
    if isinstance(value, str):
        return value
    if hasattr(value, "_mpf_"):
        with mpmath.workdps(dps):
            return mpmath.nstr(value, dps)
    if isinstance(value, (int, np.integer)):
        return str(int(value))
    return repr(float(value))


def adp_matrix_from_pandas(spark: SparkSession, pdf: pd.DataFrame, dps: int) -> Matrix:
    """Ingest a pandas frame (floats or mpf objects) as string columns."""
    cols = _stringify(pdf.columns)
    out = pd.DataFrame({ROW_ID: _stringify(pdf.index)})
    for src, dst in zip(pdf.columns, cols):
        out[dst] = [_to_decimal_str(v, dps) for v in pdf[src]]
    schema = T.StructType(
        [T.StructField(ROW_ID, T.StringType(), False)]
        + [T.StructField(c, T.StringType(), True) for c in cols]
    )
    # coalesce to the partition count the ROW COUNT warrants: Arrow
    # conversion slices into defaultParallelism chunks regardless of
    # size, and the ADP mapInPandas then pays one python worker per
    # ~10-row chunk (catalog._rightsized has the measurement)
    from ssb_coefficient_maker_spark.catalog import _rightsized

    return Matrix(
        df=_rightsized(spark.createDataFrame(out, schema=schema), len(out)),
        value_cols=cols,
    )


def adp_vector_from_pandas(series: pd.Series, dps: int) -> Vector:
    vals = np.array([_to_decimal_str(v, dps) for v in series], dtype=object)
    return Vector(labels=_stringify(series.index), values=vals)


def _real_pow(lhs, rhs, mp):
    """``**`` restricted to the real domain: mpmath returns a COMPLEX
    mpc for a negative base with fractional exponent, but this engine
    is real-valued everywhere (the float path's numpy ``(-1)**0.5``
    yields NaN) — coerce complex results to mpf NaN so both precision
    modes agree on the domain. (The reference sidesteps this by
    rejecting ``**`` under ADP entirely, coeff_maker.py:744-749; we
    support it, documented deviation.)"""
    res = lhs**rhs
    if isinstance(res, mp.mpc):
        return mp.mpf("nan")
    return res


def _mp_eval(expr: FormulaExpr, resolve, mpmath_mod) -> Any:
    mp = mpmath_mod
    if isinstance(expr, Num):
        return mp.mpf(repr(expr.value))
    if isinstance(expr, Var):
        return resolve(expr.name)
    if isinstance(expr, UnaryOp):
        val = _mp_eval(expr.operand, resolve, mp)
        return -val if expr.op == "-" else val
    if isinstance(expr, BinOp):
        lhs = _mp_eval(expr.left, resolve, mp)
        rhs = _mp_eval(expr.right, resolve, mp)
        if expr.op == "+":
            return lhs + rhs
        if expr.op == "-":
            return lhs - rhs
        if expr.op == "*":
            return lhs * rhs
        if expr.op == "/":
            if rhs == 0:
                raise ZeroDivisionError(ADP_ZERO_DIV_MSG)
            return lhs / rhs
        if expr.op == "**":
            return _real_pow(lhs, rhs, mp)
        if expr.op == "%":
            if rhs == 0:
                raise ZeroDivisionError(ADP_ZERO_DIV_MSG)
            return lhs % rhs
        if expr.op == "//":
            if rhs == 0:
                raise ZeroDivisionError(ADP_ZERO_DIV_MSG)
            return mp.floor(lhs / rhs)
        cmps = {
            "<": lhs < rhs,
            "<=": lhs <= rhs,
            ">": lhs > rhs,
            ">=": lhs >= rhs,
            "==": lhs == rhs,
            "!=": lhs != rhs,
        }
        return mp.mpf(1) if cmps[expr.op] else mp.mpf(0)
    if isinstance(expr, Call):
        args = [_mp_eval(a, resolve, mp) for a in expr.args]
        if expr.func == "abs":
            return abs(args[0])
        if expr.func == "pow":
            return _real_pow(args[0], args[1], mp)
        if expr.func == "fillna":
            return args[1] if mp.isnan(args[0]) else args[0]
        if expr.func == "where":
            cond = args[0]
            truthy = (not mp.isnan(cond)) and cond != 0
            return args[1] if truthy else args[2]
    raise FormulaError(f"ADP cannot evaluate node {expr!r}")


def adp_eval_vectors(
    expr: FormulaExpr,
    vectors: dict[str, Vector],
    scalars: dict[str, float],
    dps: int,
) -> pd.Series:
    """Vector-only ADP evaluation (reference supports Series under ADP,
    coeff_maker.py:647-671): mpf per cell, driver-side (vectors are
    small/driver-resident by construction), positional alignment with
    equal-length check — same semantics as the float path's
    ``_eval_vectors`` (plans/alignment.py) but at ``dps`` digits.

    Returns an object-dtype pandas Series of mpf values labeled by the
    first vector's labels.
    """
    import mpmath

    sizes = {vec.size for vec in vectors.values()}
    if len(sizes) > 1:
        raise FormulaError(f"vector operands disagree on length: {sizes}")
    first = next(iter(vectors.values()))
    with mpmath.workdps(dps):
        scalar_mpf = {n: mpmath.mpf(repr(v)) for n, v in scalars.items()}
        out = []
        for i in range(first.size):

            def resolve(name: str):
                if name in vectors:
                    raw = vectors[name].values[i]
                    if raw is None:
                        return mpmath.mpf("nan")
                    return mpmath.mpf(str(raw))
                return scalar_mpf[name]

            out.append(_mp_eval(expr, resolve, mpmath))
    labels = list(first.labels)
    try:
        labels = [int(x) for x in labels]
    except (TypeError, ValueError):
        pass
    return pd.Series(out, index=labels, dtype=object)


def adp_eval_scalar(
    expr: FormulaExpr,
    scalars: dict[str, float],
    dps: int,
):
    """Scalar/literal-only ADP evaluation.

    A formula like ``'(2 / (2 - 2))'`` has no Matrix or Vector
    operand, so neither ADP driver path fires — but falling through
    to the numpy float path silently yields ``inf`` where the
    reference's ADP mode raises its zero-division diagnostic
    (coeff_maker.py ADP zero-div guard; reference
    tests/test_FormulaEvaluator_pt2.py:470-488). Evaluate through
    ``_mp_eval`` at ``dps`` digits so the guard fires for every
    operand shape. Returns an mpf (callers treat it as a float).
    """
    import mpmath

    with mpmath.workdps(dps):
        scalar_mpf = {n: mpmath.mpf(repr(v)) for n, v in scalars.items()}
        return _mp_eval(expr, lambda n: scalar_mpf[n], mpmath)


def compile_adp_formula(
    expr: FormulaExpr,
    datasets: dict[str, Matrix | Vector | float],
    dps: int,
) -> tuple[DataFrame, list[str]]:
    """Compile an ADP formula: aligned join + one mapInPandas stage."""
    frames, vectors, scalars = _operands(expr, datasets)
    if not frames:
        raise FormulaError("ADP mode requires at least one matrix operand")
    out_cols = _union_cols(frames)
    _check_vectors(vectors, out_cols)
    # per output column: the aligned-join column of each frame operand
    # that has it (an absent one reads as NaN, like pandas alignment)
    sources = [
        {
            name: _operand_col(i, pos)
            for i, (name, m) in enumerate(frames.items())
            if out_c in m.value_cols
        }
        for pos, out_c in enumerate(out_cols)
    ]
    vec_values = {n: [str(v) for v in vec.values] for n, vec in vectors.items()}
    frame_names = set(frames)  # the closure ships to workers: names only

    joined = _aligned_join(frames, out_cols)
    out_schema = T.StructType(
        [T.StructField(ROW_ID, T.StringType(), False)]
        + [T.StructField(c, T.StringType(), True) for c in out_cols]
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import mpmath

        with mpmath.workdps(dps):

            def cell(raw: Any) -> Any:
                if raw is None or (isinstance(raw, float) and np.isnan(raw)):
                    return mpmath.mpf("nan")
                return mpmath.mpf(str(raw))

            for pdf in batches:
                data = {ROW_ID: pdf[ROW_ID]}
                for pos, out_c in enumerate(out_cols):
                    resolved_cols = {
                        name: [cell(v) for v in pdf[src]]
                        for name, src in sources[pos].items()
                    }
                    out_vals = []
                    for i in range(len(pdf)):
                        def resolve(name: str):
                            if name in frame_names:
                                col = resolved_cols.get(name)
                                return col[i] if col is not None else mpmath.mpf("nan")
                            if name in vec_values:
                                return mpmath.mpf(vec_values[name][pos])
                            return mpmath.mpf(repr(scalars[name]))

                        out_vals.append(mpmath.nstr(_mp_eval(expr, resolve, mpmath), dps))
                    data[out_c] = out_vals
                yield pd.DataFrame(data)

    return joined.mapInPandas(run, schema=out_schema), out_cols


def adp_to_pandas(df: DataFrame, value_cols: list[str], dps: int) -> pd.DataFrame:
    """Collect an ADP result back to pandas as mpf objects (sorted rows)."""
    import mpmath

    pdf = df.toPandas()
    numeric = pd.to_numeric(pdf[ROW_ID], errors="coerce")
    if not numeric.isna().any():
        pdf = pdf.assign(__sort__=numeric).sort_values("__sort__").drop(columns="__sort__")
        idx = pd.Index(pd.to_numeric(pdf[ROW_ID]).values)
    else:
        pdf = pdf.sort_values(ROW_ID)
        idx = pd.Index(pdf[ROW_ID].values)
    with mpmath.workdps(dps):
        out = pd.DataFrame(
            {c: [mpmath.mpf(v) for v in pdf[c]] for c in value_cols},
            index=idx,
            dtype=object,
        )
    try:
        out.columns = [int(c) for c in value_cols]
    except ValueError:
        pass
    out.index.name = None
    return out


# ---------------------------------------------------------------- validation
# ADP results travel as strings; mpmath.nstr renders invalids as
# 'nan' / '+inf' / '-inf', so the audit is a plain IN aggregate
# through the shared validator (validation.py) — no per-cell Python
# loop (the reference loops cell-by-cell in ADP fill, reference
# coeff_maker.py:274-279). The predicates are SQL text: they are built
# per column, and a Column-API ``isin`` costs a py4j round trip per
# literal (~40 calls per predicate against ~3 for one parsed one).
_INF_SQL = "'+inf', '-inf', 'inf'"


def _quoted(c: str) -> str:
    return "`" + c.replace("`", "``") + "`"


def adp_invalid_cond(c: str):
    """Invalid predicate for one string-carried ADP column."""
    q = _quoted(c)
    return F.expr(f"{q} IS NULL OR lower({q}) IN ('nan', {_INF_SQL})")


def adp_inf_cond(c: str):
    return F.expr(f"lower({_quoted(c)}) IN ({_INF_SQL})")


ADP = Carrier(adp_invalid_cond, adp_inf_cond, "0.0")


def validate_adp(df: DataFrame, value_cols: list[str], formula_str: str, **kwargs):
    """Audit an ADP (string-carried) result; fill, warn, or raise."""
    return validate(df, value_cols, formula_str, carrier=ADP, **kwargs)
