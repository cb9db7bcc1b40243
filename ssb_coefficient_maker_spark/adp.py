"""Arbitrary-decimal-precision (ADP) mode — the mpmath escape hatch.

The reference's ADP mode converts every cell to ``mpmath.mpf`` at
``decimal_precision`` digits (reference coeff_maker.py:647-671) and
then evaluates with ``pd.eval`` over object arrays — which is broken
for division under pandas ≥2.x (5 of the reference's own tests fail;
SURVEY.md §2 Part A warts) and loops per-cell for fills.

Spark's ``DecimalType(38, s)`` cannot host the reference's own ADP
test values (1e±30 in one column needs floating, not fixed, point), so
ADP differs from float mode in three places only:

- its cell codec (``decimal_codec``): registered cells travel as
  **decimal strings** (exact decimal repr — the only Arrow-safe
  lossless carrier for mpf) through the same ingestion as float
  cells (``catalog._matrix_from_pandas``);
- its op table, ``MP_OPS`` (object arrays of mpf);
- its executor: after the same aligned table as the float routes
  (``plans.alignment.align``), the whole formula evaluates inside ONE
  Arrow-batched ``mapInPandas`` per result: strings → mpf at the
  requested precision → formula evaluated over each batch column
  through ``MP_OPS`` → strings out. One Python stage, vectorized per
  batch, distributed over rows; division WORKS (unlike the reference).

A Python stage pays a fixed cost per task besides its batches: Spark
re-reads, before each task, the directory of every zip archive its
worker has imported from (``pyspark.zip``, and a Spark jar on the
worker path), 0.12-0.15 s CPU per task on a 4-vCPU host. Each ADP task
therefore drops its worker's zip finders once its imports are done
(``drop_zip_finders``), so the next task re-reads none; an import that
needs an archive later reads it once, as it is on disk then.

This is explicitly the slow path (SURVEY.md §7 risk 5): opt-in.
"""

from __future__ import annotations

import operator
import sys
import zipimport
from contextlib import contextmanager
from typing import Any, Iterable, Iterator

import mpmath
import numpy as np
import pandas as pd
from pyspark.errors import PythonException
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ssb_coefficient_maker_spark.catalog import Codec, Matrix, labelled
from ssb_coefficient_maker_spark.formula.parser import (
    COMPARISONS,
    FormulaError,
    FormulaExpr,
    evaluate,
)
from ssb_coefficient_maker_spark.functions.math import ident, string
from ssb_coefficient_maker_spark.plans.alignment import align
from ssb_coefficient_maker_spark.session import ROW_ID
from ssb_coefficient_maker_spark.validation import Carrier, validate

ADP_ZERO_DIV_MSG = "ADP division by zero in formula evaluation"


def _to_decimal_str(value: Any, dps: int) -> str:
    """Lossless string carrier for one cell.

    Floats use ``repr`` (shortest round-trip decimal — '1e-20' stays
    the exact decimal 1e-20 at high precision, matching the user's
    written literal rather than the float64 artifact); mpf values are
    serialized at full working precision; text is carried as given,
    once ``mpmath.mpf`` has parsed it, so text that is not a number is
    refused here, when it is registered.
    """
    if value is None:
        return "nan"
    if isinstance(value, str):
        mpmath.mpf(value)
        return value
    if hasattr(value, "_mpf_"):
        with mpmath.workdps(dps):
            return mpmath.nstr(value, dps)
    if isinstance(value, (int, np.integer)):
        return str(int(value))
    return repr(float(value))


def decimal_codec(dps: int) -> Codec:
    """ADP's cell codec: every cell of a registered DataFrame or Series
    travels as the exact decimal string ``_to_decimal_str`` writes at
    ``dps`` digits."""
    return Codec(lambda s: s.map(lambda v: _to_decimal_str(v, dps)), T.StringType())


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


@contextmanager
def zero_division_refused() -> Iterator[None]:
    """Re-raise the zero-division guard of a formula evaluated in a
    Python worker, which reaches the driver as a ``PythonException``
    with the executor's traceback, as the ``ZeroDivisionError`` the
    driver-side route raises for the same rule."""
    try:
        yield
    except PythonException as exc:
        if f"ZeroDivisionError: {ADP_ZERO_DIV_MSG}" not in str(exc):
            raise
        raise ZeroDivisionError(ADP_ZERO_DIV_MSG) from None


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


def drop_zip_finders() -> None:
    """Forget every zip archive this process has imported from: its
    finders in ``sys.path_importer_cache`` and its directory in
    zipimport's cache. An import that needs an archive again builds its
    finder afresh, reading the archive as it is on disk at that time,
    so imports see what ``importlib.invalidate_caches()`` would have
    shown them; dropping the finders alone would not, because a new
    finder reuses the cached directory."""
    # pyspark.worker_util.setup_spark_files calls
    # importlib.invalidate_caches() before every task, and under CPython
    # 3.11 each cached zipimporter's invalidate_caches() re-reads the
    # whole directory of its archive (one finder per imported package).
    directories = getattr(zipimport, "_zip_directory_cache", {})
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
            directories.pop(finder.archive, None)


def compile_adp_formula(
    expr: FormulaExpr,
    datasets: dict[str, Matrix | pd.Series | float],
    dps: int,
) -> tuple[DataFrame, list[str]]:
    """Compile an ADP formula: the aligned table (``align``) + one
    mapInPandas stage. The stage captures plain data only: the joined
    column names and the carried values of each output column.

    Each task of the stage costs its Python worker, besides its
    batches, the imports of its first run and Spark's per-task cache
    invalidation. The task calls ``drop_zip_finders`` once, after its
    own imports, so that the invalidation before the worker's next task
    has no zip archive to re-read."""
    joined, out_cols, bindings = align({None: expr}, datasets)
    operands = bindings[None]
    out_schema = T.StructType(
        [T.StructField(ROW_ID, T.StringType(), False)]
        + [T.StructField(c, T.StringType(), True) for c in out_cols]
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ssb_coefficient_maker_spark.adp import MP_OPS, _to_mpf, drop_zip_finders

        drop_zip_finders()
        num = MP_OPS["num"]
        with mpmath.workdps(dps):
            # single values convert directly: the ufunc would make numpy warn
            consts = [{n: _to_mpf(v) for n, v in values.items()} for _, values in operands]
            for pdf in batches:
                data = {ROW_ID: pdf[ROW_ID]}
                for out_c, (columns, _), const in zip(out_cols, operands, consts):
                    values = {
                        **const,
                        **{n: num(pdf[c].to_numpy()) for n, c in columns.items()},
                    }
                    out = evaluate(expr, values.__getitem__, MP_OPS)
                    data[out_c] = [mpmath.nstr(v, dps) for v in out]
                yield pd.DataFrame(data)

    return joined.df.mapInPandas(run, schema=out_schema), out_cols


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


def validate_adp(m: Matrix, formula_str: str, **kwargs):
    """Audit an ADP (string-carried) result; fill, warn, or raise."""
    return validate(m, formula_str, carrier=ADP, **kwargs)
