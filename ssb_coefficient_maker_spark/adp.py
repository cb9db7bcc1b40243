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
  precision → formula evaluated over each batch column through
  ``MP_OPS`` (object arrays of mpf) → strings out.
  One Python stage, vectorized per batch, distributed over rows;
  division WORKS (unlike the reference).

This is explicitly the slow path (SURVEY.md §7 risk 5): opt-in, not
part of the benchmark surface.
"""

from __future__ import annotations

import operator
from typing import Any, Iterable, Iterator

import mpmath
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ssb_coefficient_maker_spark.catalog import Matrix, labelled, unique_labels
from ssb_coefficient_maker_spark.formula.parser import (
    COMPARISONS,
    FormulaError,
    FormulaExpr,
    evaluate,
)
from ssb_coefficient_maker_spark.functions.math import ident, string
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
    cols = unique_labels(pdf.columns, "column")
    out = pd.DataFrame({ROW_ID: unique_labels(pdf.index, "row")})
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


def adp_vector_from_pandas(series: pd.Series, dps: int) -> pd.Series:
    """A pandas Series as decimal strings, keeping its index."""
    return series.map(lambda v: _to_decimal_str(v, dps))


def _to_mpf(value: Any) -> Any:
    """A carried cell, a literal or a scalar operand as an mpf at the
    working precision: strings are exact decimals, None and NaN are
    NaN, and floats go through their shortest round-trip repr."""
    if isinstance(value, str):
        return mpmath.mpf(value)
    if value is None or value != value:
        return mpmath.mpf("nan")
    return mpmath.mpf(repr(float(value)))


def _real_pow(lhs, rhs):
    """``**`` restricted to the real domain: mpmath returns a COMPLEX
    mpc for a negative base with fractional exponent, but this engine
    is real-valued everywhere (the float path's numpy ``(-1)**0.5``
    yields NaN) — coerce complex results to mpf NaN so both precision
    modes agree on the domain. (The reference sidesteps this by
    rejecting ``**`` under ADP entirely, coeff_maker.py:744-749; we
    support it, documented deviation.)"""
    res = lhs**rhs
    return mpmath.mpf("nan") if isinstance(res, mpmath.mpc) else res


def _guarded(fn):
    """``fn`` with ADP's zero-division guard: a zero divisor raises."""

    def op(lhs, rhs):
        if rhs == 0:
            raise ZeroDivisionError(ADP_ZERO_DIV_MSG)
        return fn(lhs, rhs)

    return op


def _ufunc(fn, nin: int = 2):
    """``fn`` over mpf scalars and object arrays of them, broadcasting."""
    return np.frompyfunc(fn, nin, 1)


# The mpmath backend of ``formula.parser.evaluate``, over mpf scalars
# and object arrays of mpf; precision is the caller's
# ``mpmath.workdps``. Its ufuncs do not pickle: code shipped to
# workers imports this table at run time.
MP_OPS = {
    "num": _ufunc(_to_mpf, 1),
    "neg": operator.neg,
    "+": operator.add,
    "-": operator.sub,
    "*": operator.mul,
    "/": _ufunc(_guarded(operator.truediv)),
    "%": _ufunc(_guarded(operator.mod)),
    "//": _ufunc(_guarded(lambda lhs, rhs: mpmath.floor(lhs / rhs))),
    "**": _ufunc(_real_pow),
    **{
        sym: _ufunc(lambda lhs, rhs, op=op: mpmath.mpf(int(op(lhs, rhs))))
        for sym, op in COMPARISONS.items()
    },
    "abs": operator.abs,
    "pow": _ufunc(_real_pow),
    "where": _ufunc(lambda c, a, b: a if not mpmath.isnan(c) and c != 0 else b, 3),
    "fillna": _ufunc(lambda x, v: v if mpmath.isnan(x) else x),
}


def compile_adp_formula(
    expr: FormulaExpr,
    datasets: dict[str, Matrix | pd.Series | float],
    dps: int,
) -> tuple[DataFrame, list[str]]:
    """Compile an ADP formula: aligned join + one mapInPandas stage."""
    frames, vectors, scalars = _operands(expr, datasets)
    if not frames:
        raise FormulaError("ADP mode requires at least one matrix operand")
    out_cols = _union_cols(frames)
    _check_vectors(vectors, out_cols)
    # per output column: the aligned-join column of each frame operand
    # that has it, and every operand's carried value (a frame's is None,
    # read as NaN where the column is absent, like pandas alignment)
    sources = [
        {
            name: _operand_col(i, pos)
            for i, (name, m) in enumerate(frames.items())
            if out_c in m.value_cols
        }
        for pos, out_c in enumerate(out_cols)
    ]
    carried = [
        {**dict.fromkeys(frames), **{n: v.values[pos] for n, v in vectors.items()}, **scalars}
        for pos in range(len(out_cols))
    ]

    joined = _aligned_join(frames, out_cols)
    out_schema = T.StructType(
        [T.StructField(ROW_ID, T.StringType(), False)]
        + [T.StructField(c, T.StringType(), True) for c in out_cols]
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ssb_coefficient_maker_spark.adp import MP_OPS

        num = MP_OPS["num"]
        with mpmath.workdps(dps):
            consts = [{n: num(v) for n, v in c.items()} for c in carried]
            for pdf in batches:
                data = {ROW_ID: pdf[ROW_ID]}
                for pos, out_c in enumerate(out_cols):
                    values = {
                        **consts[pos],
                        **{n: num(pdf[src].to_numpy()) for n, src in sources[pos].items()},
                    }
                    out = evaluate(expr, values.__getitem__, MP_OPS)
                    data[out_c] = [mpmath.nstr(v, dps) for v in out]
                yield pd.DataFrame(data)

    return joined.mapInPandas(run, schema=out_schema), out_cols


def adp_to_pandas(df: DataFrame, value_cols: list[str], dps: int) -> pd.DataFrame:
    """Collect an ADP result back to pandas as mpf objects (sorted rows)."""
    pdf = df.toPandas()
    with mpmath.workdps(dps):
        for c in value_cols:
            pdf[c] = pd.Series([mpmath.mpf(v) for v in pdf[c]], index=pdf.index, dtype=object)
    return labelled(pdf, value_cols)


# ---------------------------------------------------------------- validation
# ADP results travel as strings; mpmath.nstr renders invalids as
# 'nan' / '+inf' / '-inf', so the audit is a plain IN aggregate
# through the shared validator (validation.py) — no per-cell Python
# loop (the reference loops cell-by-cell in ADP fill, reference
# coeff_maker.py:274-279).
_INF_SQL = "'+inf', '-inf', 'inf'"


def adp_invalid_cond(c: str) -> str:
    """Invalid predicate for one string-carried ADP column."""
    q = ident(c)
    return f"({q} IS NULL OR lower({q}) IN ('nan', {_INF_SQL}))"


def adp_inf_cond(c: str) -> str:
    return f"(lower({ident(c)}) IN ({_INF_SQL}))"


ADP = Carrier(adp_invalid_cond, adp_inf_cond, string("0.0"))


def validate_adp(df: DataFrame, value_cols: list[str], formula_str: str, **kwargs):
    """Audit an ADP (string-carried) result; fill, warn, or raise."""
    return validate(df, value_cols, formula_str, carrier=ADP, **kwargs)
