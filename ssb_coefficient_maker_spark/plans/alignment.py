"""Alignment planner: compile a formula over named matrices to ONE
Spark plan.

pandas semantics being reproduced (SURVEY.md §1.3, verified against the
reference by execution):

- frame ∘ frame — label alignment: union of row labels, union of
  column labels; a cell missing on either side is NaN.
- frame ∘ vector — the vector broadcasts positionally across the
  frame's columns (reference coeff_maker.py:757-763): column *i* is
  combined with vector value *i*.
- x / 0 → ±Inf, 0 / 0 → NaN (numpy), whereas Spark yields NULL —
  every division is wrapped in an IEEE-semantics shim.

Plan shape (the scale-critical design, SURVEY.md §4): all N frame
variables of a formula are combined with a single chained full-outer
join on ``__row_id__`` — same join key throughout, so Catalyst plans
one hash-partitioning of each input and the arithmetic lands in one
whole-stage-codegen'd ``Project`` on top. The reference instead
materializes every intermediate eagerly (pandas), which at 100 TB
would mean N-1 full materializations; here there are zero.

NULL handling: after the outer join, absent cells are NULL; each
column reference is wrapped ``coalesce(col, NaN)`` so downstream
arithmetic propagates NaN exactly like numpy (Java double arithmetic
is IEEE-754, identical to numpy's elementwise results).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ssb_coefficient_maker_spark.catalog import Matrix, Vector
from ssb_coefficient_maker_spark.formula.parser import (
    BinOp,
    Call,
    FormulaError,
    FormulaExpr,
    Leontief,
    MatMul,
    Neumann,
    Num,
    Transpose,
    UnaryOp,
    Var,
    extract_variables,
)
from ssb_coefficient_maker_spark.functions.math import safe_div, safe_floordiv, safe_mod
from ssb_coefficient_maker_spark.session import ROW_ID

INF = float("inf")


def NAN() -> Column:
    return F.lit(float("nan"))


def _binop_column(op: str, left: Column, right: Column) -> Column:
    if op == "+":
        return left + right
    if op == "-":
        return left - right
    if op == "*":
        return left * right
    if op == "/":
        return safe_div(left, right)
    if op == "%":
        return safe_mod(left, right)
    if op == "//":
        return safe_floordiv(left, right)
    if op == "**":
        return F.pow(left, right)
    if op in ("<", "<=", ">", ">=", "==", "!="):
        cmp = {
            "<": left < right,
            "<=": left <= right,
            ">": left > right,
            ">=": left >= right,
            "==": left == right,
            "!=": left != right,
        }[op]
        # Spark SQL orders NaN above all values and NaN==NaN is true;
        # numpy is IEEE (any NaN compare → False, except != → True).
        nan_result = F.lit(1.0) if op == "!=" else F.lit(0.0)
        return (
            F.when(F.isnan(left) | F.isnan(right), nan_result)
            .otherwise(cmp.cast("double"))
        )
    raise FormulaError(f"unknown operator {op!r}")


class CompiledFormula:
    """Result of compiling a formula against a catalog of datasets."""

    def __init__(self, df: DataFrame | None, value_cols: list[str], scalar: float | None = None, vector: Vector | None = None):
        self.df = df
        self.value_cols = value_cols
        self.scalar = scalar
        self.vector = vector

    @property
    def is_scalar(self) -> bool:
        return self.df is None and self.vector is None


def _operands(
    expr: FormulaExpr, datasets: dict[str, Matrix | Vector | float]
) -> tuple[dict[str, Matrix], dict[str, Vector], dict[str, float]]:
    """A formula's frame, vector and scalar operands, in first-seen order."""
    names = extract_variables(expr)
    missing = [n for n in names if n not in datasets]
    if missing:
        raise KeyError(f"formula references unknown dataset(s): {missing}")
    frames = {n: d for n in names if isinstance(d := datasets[n], Matrix)}
    vectors = {n: d for n in names if isinstance(d := datasets[n], Vector)}
    scalars = {n: float(d) for n in names if isinstance(d := datasets[n], (int, float))}
    return frames, vectors, scalars


def _union_cols(frames: dict[str, Matrix]) -> list[str]:
    """Union of the frame operands' value columns, first-seen order."""
    return list(dict.fromkeys(c for m in frames.values() for c in m.value_cols))


def _check_vectors(vectors: dict[str, Vector], out_cols: list[str]) -> None:
    for vname, vec in vectors.items():
        if vec.size != len(out_cols):
            raise FormulaError(
                f"vector {vname!r} has length {vec.size} but the frame "
                f"operands have {len(out_cols)} columns; the reference "
                f"broadcasts vectors positionally across columns "
                f"(reference README.md:76)"
            )


def compile_formula(
    expr: FormulaExpr,
    datasets: dict[str, Matrix | Vector | float],
) -> CompiledFormula:
    """Compile a parsed formula into a single lazy Spark DataFrame —
    the one-formula case of ``compile_formulas_fused``. Scalar- and
    vector-only formulas evaluate driver-side instead.

    Mirrors reference ``_perform_evaluation`` (coeff_maker.py:720-798)
    but lazily and in one plan.
    """
    frames, vectors, scalars = _operands(expr, datasets)
    if not frames and not vectors:
        return CompiledFormula(None, [], scalar=_eval_scalar(expr, scalars))
    if not frames:
        return CompiledFormula(None, [], vector=_eval_vectors(expr, vectors, scalars))
    df, result_cols = compile_formulas_fused({None: expr}, datasets)
    return CompiledFormula(df, result_cols[None])


def compile_formulas_fused(
    exprs: dict[str | None, FormulaExpr],
    datasets: dict[str, Matrix | Vector | float],
) -> tuple[DataFrame, dict[str | None, list[str]]]:
    """Compile SEVERAL formulas over one shared operand set into ONE
    plan: a single aligned join of the union of frame operands, then
    one projection per (formula × column).

    The reference's batch workload (coeff_maker.py:989-1012) loops N
    formulas over one ``data_dict``; evaluated independently, each
    formula re-scans (and re-pivots/re-aggregates) every shared input
    N times. Fused, each input is scanned ONCE: one chained
    full-outer join on ``__row_id__``, with all N formulas' arithmetic
    landing in one whole-stage-codegen'd ``Project`` on top.

    Every formula must use the same FRAME-operand set (that is what
    makes the row universe — the outer-join key space — identical, so
    per-formula row semantics are exactly the unfused ones). Vector
    and scalar operands may differ freely; they compile to literals.
    Raises ``FormulaError`` if the frame sets differ — the caller
    (``CoefficientCalculator.compute_coefficients_fused``) groups by
    frame set before calling.

    Returns ``(df, result_cols)``: ``df`` has ``__row_id__`` plus
    columns named ``{result}_{col}`` (plain ``{col}`` for a ``None``
    result name, the single-formula case); ``result_cols`` maps each
    result name to its column list.
    """
    if not exprs:
        raise FormulaError("compile_formulas_fused: no formulas given")
    per_formula = {rname: _operands(expr, datasets) for rname, expr in exprs.items()}
    for rname, (frames, _, _) in per_formula.items():
        if not frames:
            raise FormulaError(
                f"formula {rname!r} has no frame operand; evaluate vector/"
                f"scalar formulas directly (driver-side) instead of fusing"
            )
    frame_sets = {frozenset(frames) for frames, _, _ in per_formula.values()}
    if len(frame_sets) > 1:
        raise FormulaError(
            f"fused formulas must share one frame-operand set (the row "
            f"universe of the aligned join); got {sorted(map(sorted, frame_sets))}"
        )

    frames = next(iter(per_formula.values()))[0]
    out_cols = _union_cols(frames)
    joined = _aligned_join(frames, out_cols)
    slot = {name: (i, set(m.value_cols)) for i, (name, m) in enumerate(frames.items())}
    projections = [F.col(ROW_ID)]
    result_cols: dict[str | None, list[str]] = {}
    for rname, (_, vectors, scalars) in per_formula.items():
        _check_vectors(vectors, out_cols)

        def col_ref(var: str, pos: int, vectors=vectors, scalars=scalars) -> Column:
            if var in slot:
                i, present = slot[var]
                if out_cols[pos] in present:
                    return F.coalesce(F.col(_operand_col(i, pos)), NAN())
                return NAN()  # column absent from this operand → NaN (pandas align)
            if var in vectors:
                return F.lit(float(vectors[var].values[pos]))
            return F.lit(scalars[var])

        cols = [out_c if rname is None else f"{rname}_{out_c}" for out_c in out_cols]
        for pos, alias in enumerate(cols):
            col = _to_column(exprs[rname], lambda v: col_ref(v, pos))
            projections.append(col.cast("double").alias(alias))
        result_cols[rname] = cols
    return joined.select(projections), result_cols


def _operand_col(i: int, pos: int) -> str:
    """Aligned-join alias of frame operand ``i``'s value at output
    column ``pos``. Positional, so no operand or column name can make
    two aliases collide (``a`` with column ``_x`` and ``a_`` with
    column ``x`` would both be ``a___x`` as ``name__col``)."""
    return f"__op{i}_{pos}__"


def _aligned_join(frames: dict[str, Matrix], out_cols: list[str]) -> DataFrame:
    """Chained full-outer join of all frame operands on ROW_ID.

    Every operand's value columns are renamed ``_operand_col(i, pos)``
    before joining so the projection can reference them unambiguously.
    The join key is identical at every step → one exchange per input,
    one sort-merge (or broadcast under AQE) cascade, no re-shuffle.
    """
    pos = {c: j for j, c in enumerate(out_cols)}
    # operands keep their native row-id type (so a long key can reuse
    # upstream partitioning); only heterogeneous key types force a
    # unifying cast to string
    key_types = {m.df.schema[ROW_ID].dataType.simpleString() for m in frames.values()}
    unify = len(key_types) > 1
    prefixed: list[DataFrame] = []
    for i, m in enumerate(frames.values()):
        rid = F.col(ROW_ID).cast("string") if unify else F.col(ROW_ID)
        sel = [rid.alias(ROW_ID)] + [
            F.col(c).alias(_operand_col(i, pos[c])) for c in m.value_cols
        ]
        prefixed.append(m.df.select(sel))
    return reduce(lambda a, b: a.join(b, on=ROW_ID, how="full_outer"), prefixed)


def _to_column(expr: FormulaExpr, resolve) -> Column:
    if isinstance(expr, (Transpose, MatMul, Neumann, Leontief)):
        # the evaluator routes matrix-op formulas onto the triplet
        # path (api.py) before this wide-path projection is built;
        # reaching here means a direct compile_formula call
        op = {
            Transpose: "transpose ('.T')",
            MatMul: "matmul ('@')",
            Neumann: "neumann()",
            Leontief: "leontief()",
        }[type(expr)]
        raise FormulaError(
            f"{op} is supported on the triplet path only — "
            "evaluate via FormulaEvaluator (which routes automatically) "
            "or compile_formula_triplet"
        )
    if isinstance(expr, Num):
        return F.lit(expr.value)
    if isinstance(expr, Var):
        return resolve(expr.name)
    if isinstance(expr, UnaryOp):
        inner = _to_column(expr.operand, resolve)
        return -inner if expr.op == "-" else inner
    if isinstance(expr, BinOp):
        return _binop_column(
            expr.op, _to_column(expr.left, resolve), _to_column(expr.right, resolve)
        )
    if isinstance(expr, Call):
        args = [_to_column(a, resolve) for a in expr.args]
        if expr.func == "abs":
            return F.abs(args[0])
        if expr.func == "pow":
            return F.pow(args[0], args[1])
        if expr.func == "where":
            cond, yes, no = args
            # numpy.where: NaN condition is truthy-false; nonzero = true
            return F.when(F.isnan(cond) | (cond == 0), no).otherwise(yes)
        if expr.func == "fillna":
            target, fill = args
            return F.when(F.isnull(target) | F.isnan(target), fill).otherwise(target)
        raise FormulaError(f"unknown function {expr.func!r}")
    raise FormulaError(f"cannot compile node {expr!r}")


# ---------------------------------------------------------------- driver-side
# Vector∘vector and scalar-only formulas never touch the cluster: the
# operands are driver-resident by construction (vectors are small).
# The reference leaks a raw ndarray in this case (SURVEY.md §1.3 wart);
# we return a proper labeled Vector.

import numpy as np  # noqa: E402


def _eval_scalar(expr: FormulaExpr, scalars: dict[str, float]) -> float:
    return float(_np_eval(expr, lambda n: np.float64(scalars[n])))


def _eval_vectors(
    expr: FormulaExpr, vectors: dict[str, Vector], scalars: dict[str, float]
) -> Vector:
    sizes = {v.size for v in vectors.values()}
    if len(sizes) > 1:
        raise FormulaError(f"vector operands disagree on length: {sizes}")
    first = next(iter(vectors.values()))

    def resolve(name: str):
        if name in vectors:
            return vectors[name].values
        return np.float64(scalars[name])

    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.asarray(_np_eval(expr, resolve), dtype=np.float64)
    return Vector(labels=first.labels, values=out)


def _np_eval(expr: FormulaExpr, resolve):
    if isinstance(expr, Num):
        return np.float64(expr.value)
    if isinstance(expr, Var):
        return resolve(expr.name)
    if isinstance(expr, UnaryOp):
        val = _np_eval(expr.operand, resolve)
        return -val if expr.op == "-" else val
    if isinstance(expr, BinOp):
        left = _np_eval(expr.left, resolve)
        right = _np_eval(expr.right, resolve)
        ops = {
            "+": np.add,
            "-": np.subtract,
            "*": np.multiply,
            "/": np.divide,
            "%": np.mod,
            "//": np.floor_divide,
            "**": np.power,
            "<": np.less,
            "<=": np.less_equal,
            ">": np.greater,
            ">=": np.greater_equal,
            "==": np.equal,
            "!=": np.not_equal,
        }
        with np.errstate(divide="ignore", invalid="ignore"):
            out = ops[expr.op](left, right)
        return out.astype(np.float64) if expr.op in ("<", "<=", ">", ">=", "==", "!=") else out
    if isinstance(expr, Call):
        args = [_np_eval(a, resolve) for a in expr.args]
        if expr.func == "abs":
            return np.abs(args[0])
        if expr.func == "pow":
            return np.power(args[0], args[1])
        if expr.func == "fillna":
            return np.where(np.isnan(args[0]), args[1], args[0])
        if expr.func == "where":
            with np.errstate(invalid="ignore"):
                cond = np.nan_to_num(np.asarray(args[0], dtype=np.float64), nan=0.0)
            return np.where(cond != 0, args[1], args[2])
    raise FormulaError(f"cannot evaluate node {expr!r}")
