"""Scalar math functions with numpy/pandas semantics, and ``COLUMN_OPS``,
the Spark ``Column`` backend of ``formula.parser.evaluate``.

Spark's arithmetic differs from numpy exactly where the reference's
formulas rely on IEEE behavior (SURVEY.md §7 risk 1): division by
zero is NULL in Spark but ±Inf/NaN in numpy; ``%`` follows the
dividend's sign in Spark but the divisor's in numpy; ``floor`` returns
a bigint; Java's ``pow`` gives NaN for ``1 ** nan`` and ``(±1) ** ±inf``
where C's gives 1. These shims follow numpy's double loops. They are
plain ``when()`` expression trees — they stay inside whole-stage
codegen, no UDFs. One deviation remains: Java's ``StrictMath.pow`` and
C's ``pow`` may differ in the last ulp.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column
from pyspark.sql import functions as F

from ssb_coefficient_maker_spark.formula.parser import COMPARISONS

INF = float("inf")


def _nan() -> Column:
    return F.lit(float("nan"))


def _over_zero(n: Column, d: Column) -> Column:
    """``n / d`` for a zero ``d``: ``pow(±0, -1)`` is ±Inf, so the
    product carries the signs of both operands (0/0 and NaN give NaN)."""
    return n * F.pow(d, F.lit(-1.0))


def safe_div(n: Column, d: Column) -> Column:
    """Division with numpy semantics: x/±0 → ±Inf, 0/0 → NaN.

    (Verified against the reference's all-zero-denominator fixture,
    reference tests/test_FormulaEvaluator_pt1.py:140-156.)
    """
    return F.when(d != 0, n / d).otherwise(_over_zero(n, d))


def _floor(x: Column) -> Column:
    """``floor`` in double: Spark's returns a bigint (NaN → 0, ±Inf →
    ±9.2e18); a double of magnitude ≥ 2**52 is already integral."""
    return F.when(F.abs(x) < 2.0**52, F.floor(x).cast("double")).otherwise(x)


def _divmod(n: Column, d: Column) -> tuple[Column, Column]:
    """numpy's ``npy_divmod`` for a nonzero divisor: ``(n // d, n % d)``."""
    fmod = n % d  # Java's remainder: the dividend's sign, like C fmod
    adjust = (fmod != 0) & ((d < 0) != (fmod < 0))
    # a zero remainder takes the sign of d (a literal -0.0 in a CASE
    # would fold into 0.0: Catalyst compares the branches with ==)
    mod = F.when(adjust, fmod + d).when(fmod == 0, F.signum(d) * 0.0).otherwise(fmod)
    div = (n - fmod) / d - F.when(adjust, F.lit(1.0)).otherwise(F.lit(0.0))
    floor = _floor(div)
    snapped = F.when(div - floor > 0.5, floor + 1.0).otherwise(floor)
    # a zero quotient takes the sign of n / d
    return F.when(div != 0, snapped).otherwise((n / d) * 0.0), mod


def safe_mod(n: Column, d: Column) -> Column:
    """numpy mod: result takes the divisor's sign; x % ±0 → NaN."""
    return F.when(d == 0, _nan()).otherwise(_divmod(n, d)[1])


def safe_floordiv(n: Column, d: Column) -> Column:
    """numpy floor_divide: n // ±0 is n / ±0 (±Inf or NaN)."""
    return F.when(d == 0, _over_zero(n, d)).otherwise(_divmod(n, d)[0])


def safe_pow(x: Column, y: Column) -> Column:
    """C ``pow``: ``1 ** y`` and ``(±1) ** ±inf`` are 1, where Java's is NaN."""
    one = (x == 1) | ((F.abs(x) == 1) & (F.abs(y) == INF))
    return F.when(one, F.lit(1.0)).otherwise(F.pow(x, y))


def _compare(op):
    """IEEE comparison as 1.0/0.0: any NaN operand compares false (``!=``
    true), where Spark SQL orders NaN above every value and NaN == NaN."""
    nan_result = 1.0 if op is operator.ne else 0.0
    return lambda a, b: (
        F.when(F.isnan(a) | F.isnan(b), F.lit(nan_result)).otherwise(op(a, b).cast("double"))
    )


COLUMN_OPS = {
    "num": F.lit,
    "neg": operator.neg,
    "+": operator.add,
    "-": operator.sub,
    "*": operator.mul,
    "/": safe_div,
    "%": safe_mod,
    "//": safe_floordiv,
    "**": safe_pow,
    **{sym: _compare(op) for sym, op in COMPARISONS.items()},
    "abs": F.abs,
    "pow": safe_pow,
    # numpy.where: a NaN condition is false, any other nonzero true
    "where": lambda c, a, b: F.when(F.isnan(c) | (c == 0), b).otherwise(a),
    "fillna": lambda x, v: F.when(F.isnull(x) | F.isnan(x), v).otherwise(x),
}
