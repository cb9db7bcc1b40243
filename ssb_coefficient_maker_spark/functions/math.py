"""Spark SQL text with numpy/pandas semantics: ``SQL_OPS``, the Spark
backend of ``formula.parser.evaluate``, and the quoting helpers every
label goes through on its way into SQL text.

A formula evaluates to one SQL expression string per output column in
pure Python; each plan step then crosses the py4j gateway once, as one
``selectExpr``. Spark's arithmetic differs from numpy exactly where the
reference's formulas rely on IEEE behavior (SURVEY.md §7 risk 1):
division by zero is NULL in Spark but ±Inf/NaN in numpy; ``%`` follows
the dividend's sign in Spark but the divisor's in numpy; ``floor``
returns a bigint; Java's ``pow`` gives NaN for ``1 ** nan`` and
``(±1) ** ±inf`` where C's gives 1. These shims follow numpy's double
loops. They are plain ``CASE`` expressions — they stay inside
whole-stage codegen, no UDFs. One deviation remains: Java's
``StrictMath.pow`` and C's ``pow`` may differ in the last ulp.

Every emitted sub-expression is atomic — parenthesised, a call, a
``CASE`` or a non-negative literal — so a template can splice it
anywhere: ``- -x`` can never become a ``--`` comment.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ssb_coefficient_maker_spark.formula.parser import COMPARISONS

INF = float("inf")


def ident(name: str) -> str:
    """A label as a Spark SQL identifier: backtick-quoted, so ``C10.1``
    or ``x`y`` names exactly one column."""
    return "`" + str(name).replace("`", "``") + "`"


def string(text: str) -> str:
    """A label as a Spark SQL string literal (backslashes escape)."""
    return "'" + str(text).replace("\\", "\\\\").replace("'", "\\'") + "'"


def num(value: float) -> str:
    """A double literal. A bare ``1.0`` is a DECIMAL in Spark SQL, and
    NaN and ±Inf have no literal syntax: they are a string cast, inside
    a ``coalesce`` that keeps them non-nullable like a literal (a
    nullable operand would leave ``IS NULL`` tests in the audit)."""
    v = float(value)
    if v != v or v in (INF, -INF):
        text = "NaN" if v != v else f"{'-' if v < 0 else ''}Infinity"
        return f"coalesce(CAST('{text}' AS DOUBLE), 0.0D)"
    text = f"{v!r}D"
    return f"({text})" if text[0] == "-" else text


NAN = num(float("nan"))


def or_nan(x: str) -> str:
    """``x`` with NULL read as NaN, non-nullable: one flat ``coalesce``
    (it parses and analyzes faster than ``coalesce(x, NAN)``; the
    optimizer folds both to ``coalesce(x, NaN)``)."""
    return f"coalesce({x}, CAST('NaN' AS DOUBLE), 0.0D)"


def _over_zero(n: str, d: str) -> str:
    """``n / d`` for a zero ``d``: ``pow(±0, -1)`` is ±Inf, so the
    product carries the signs of both operands (0/0 and NaN give NaN)."""
    return f"({n} * pow({d}, {num(-1.0)}))"


def _div(n: str, d: str) -> str:
    """Division with numpy semantics: x/±0 → ±Inf, 0/0 → NaN.

    (Verified against the reference's all-zero-denominator fixture,
    reference tests/test_FormulaEvaluator_pt1.py:140-156.)
    """
    return f"CASE WHEN {d} != 0 THEN {n} / {d} ELSE {_over_zero(n, d)} END"


def _floor(x: str) -> str:
    """``floor`` in double: Spark's returns a bigint (NaN → 0, ±Inf →
    ±9.2e18); a double of magnitude ≥ 2**52 is already integral."""
    return f"CASE WHEN abs({x}) < {num(2.0**52)} THEN CAST(floor({x}) AS DOUBLE) ELSE {x} END"


def _divmod(n: str, d: str) -> tuple[str, str]:
    """numpy's ``npy_divmod`` for a nonzero divisor: ``(n // d, n % d)``."""
    fmod = f"({n} % {d})"  # Java's remainder: the dividend's sign, like C fmod
    adjust = f"({fmod} != 0 AND (({d} < 0) != ({fmod} < 0)))"
    # a zero remainder takes the sign of d (a literal -0.0 in a CASE
    # would fold into 0.0: Catalyst compares the branches with ==)
    zero = num(0.0)
    mod = (f"CASE WHEN {adjust} THEN {fmod} + {d} "
           f"WHEN {fmod} = 0 THEN signum({d}) * {zero} ELSE {fmod} END")
    div = f"(({n} - {fmod}) / {d} - CASE WHEN {adjust} THEN {num(1.0)} ELSE {zero} END)"
    floor = _floor(div)
    snapped = f"CASE WHEN {div} - {floor} > {num(0.5)} THEN {floor} + {num(1.0)} ELSE {floor} END"
    # a zero quotient takes the sign of n / d
    return f"CASE WHEN {div} != 0 THEN {snapped} ELSE ({n} / {d}) * {zero} END", mod


def _mod(n: str, d: str) -> str:
    """numpy mod: result takes the divisor's sign; x % ±0 → NaN."""
    return f"CASE WHEN {d} = 0 THEN {NAN} ELSE {_divmod(n, d)[1]} END"


def _floordiv(n: str, d: str) -> str:
    """numpy floor_divide: n // ±0 is n / ±0 (±Inf or NaN)."""
    return f"CASE WHEN {d} = 0 THEN {_over_zero(n, d)} ELSE {_divmod(n, d)[0]} END"


def _pow(x: str, y: str) -> str:
    """C ``pow``: ``1 ** y`` and ``(±1) ** ±inf`` are 1, where Java's is NaN."""
    one = f"({x} = 1 OR (abs({x}) = 1 AND abs({y}) = {num(INF)}))"
    return f"CASE WHEN {one} THEN {num(1.0)} ELSE pow({x}, {y}) END"


def _compare(sym: str):
    """IEEE comparison as 1.0/0.0: any NaN operand compares false (``!=``
    true), where Spark SQL orders NaN above every value and NaN == NaN."""
    nan_result = num(1.0 if sym == "!=" else 0.0)
    return lambda a, b: (
        f"CASE WHEN isnan({a}) OR isnan({b}) THEN {nan_result} "
        f"ELSE CAST({a} {sym} {b} AS DOUBLE) END"
    )


SQL_OPS = {
    "num": num,
    "neg": lambda a: f"(-{a})",
    **{sym: lambda a, b, sym=sym: f"({a} {sym} {b})" for sym in "+-*"},
    "/": _div,
    "%": _mod,
    "//": _floordiv,
    "**": _pow,
    **{sym: _compare(sym) for sym in COMPARISONS},
    "abs": lambda x: f"abs({x})",
    "pow": _pow,
    # numpy.where: a NaN condition is false, any other nonzero true
    "where": lambda c, a, b: f"CASE WHEN isnan({c}) OR {c} = 0 THEN {b} ELSE {a} END",
    "fillna": lambda x, v: f"CASE WHEN {x} IS NULL OR isnan({x}) THEN {v} ELSE {x} END",
}


def _shim(op: str, *args: str) -> Column:
    return F.expr(SQL_OPS[op](*(f"({a})" for a in args)))


def safe_div(n: str, d: str) -> Column:
    """``n / d`` with numpy semantics over SQL text operands (such as
    column names): x/±0 → ±Inf, 0/0 → NaN."""
    return _shim("/", n, d)


def safe_mod(n: str, d: str) -> Column:
    """numpy ``n % d`` over SQL text operands: the divisor's sign; x % ±0 → NaN."""
    return _shim("%", n, d)


def safe_floordiv(n: str, d: str) -> Column:
    """numpy ``n // d`` over SQL text operands: n // ±0 is n / ±0."""
    return _shim("//", n, d)
