"""Long/triplet matrix form: ``(__row_id__, __col_id__, value)``.

The wide form (one Spark column per matrix column) stresses Catalyst
beyond a few thousand columns — every formula projection is O(width)
expressions (SURVEY.md §7 risk 3). The triplet form makes width a
ROW dimension: a matrix of any width is three columns, formulas
become joins on ``(__row_id__, __col_id__)``, and the same numpy
semantics shims apply to the single ``value`` column. A triplet is
normalized once, when a ``TripletMatrix`` is made: STRING labels, and
a NULL value read as NaN; the ops below take their operands as they
are.

Trade-offs, by design:
- frame∘frame: full-outer join on the composite key — one shuffle per
  operand, identical shape to the wide path's row join.
- vector broadcast is **label-based** here (map-literal lookup on
  ``__col_id__``, zero shuffle) — positional order doesn't exist in
  an unordered long form. The wide path keeps the reference's
  positional semantics; the triplet path documents this deviation,
  and refuses a Series whose index labels repeat (the map literal
  would keep one value per label).
- results stay in triplet form; ``triplet_to_wide`` pivots back for
  moderate widths (it must enumerate columns).
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ssb_coefficient_maker_spark.catalog import Matrix
from ssb_coefficient_maker_spark.formula.parser import (
    BinOp,
    Call,
    FormulaError,
    FormulaExpr,
    Leontief,
    MatMul,
    MatrixOp,
    Neumann,
    Transpose,
    UnaryOp,
    Var,
    evaluate,
    extract_variables,
)
from ssb_coefficient_maker_spark.functions.math import SQL_OPS, ident, num, or_nan, string
from ssb_coefficient_maker_spark.plans.alignment import align
from ssb_coefficient_maker_spark.session import ROW_ID

COL_ID = "__col_id__"
VALUE = "value"


class TripletMatrix:
    """A matrix in long form: DataFrame (__row_id__, __col_id__, value).

    The one place a triplet is normalized: both labels are STRING and
    a NULL value is read as NaN, so every triplet op can take its
    operands as they are — a NULL cell poisons the sums it enters
    instead of being skipped by SUM. Its one value column makes it a
    frame operand of the aligned join (``plans.alignment.align``)."""

    value_cols = (VALUE,)

    def __init__(self, df: DataFrame):
        missing = {ROW_ID, COL_ID, VALUE} - set(df.columns)
        if missing:
            raise ValueError(f"triplet matrix missing column(s) {missing}")
        self.df = df.selectExpr(f"CAST({ROW_ID} AS STRING) AS {ROW_ID}",
                                f"CAST({COL_ID} AS STRING) AS {COL_ID}",
                                f"{or_nan(f'CAST({VALUE} AS DOUBLE)')} AS {VALUE}")


def wide_to_triplet(m: Matrix) -> TripletMatrix:
    """Unpivot a wide Matrix via stack() — a narrow, shuffle-free
    transform (each input row yields `width` output rows)."""
    width = len(m.value_cols)
    pairs = ", ".join(f"{string(c)}, {ident(c)}" for c in m.value_cols)
    df = m.df.selectExpr(
        ROW_ID, f"stack({width}, {pairs}) AS ({COL_ID}, {VALUE})"
    )
    return TripletMatrix(df)


def transpose_triplet(t: TripletMatrix) -> TripletMatrix:
    """``m.T`` in long form: swap the (row, col) key — one projection,
    no shuffle, any width. (The wide form would need a full unpivot +
    re-pivot; this is why transpose routes formulas onto the triplet
    path.)"""
    return TripletMatrix(t.df.selectExpr(f"{COL_ID} AS {ROW_ID}", f"{ROW_ID} AS {COL_ID}", VALUE))


def matmul_triplet(a: TripletMatrix, b: TripletMatrix) -> TripletMatrix:
    """``a @ b`` in long form: contract a's column labels against b's
    row labels — an equi-join on the contraction key followed by a
    sum aggregate on the output key. ONE shuffle for the join (keyed
    on the contraction label; b's side is broadcast when small) plus
    a partially-aggregated (map-side combine) sum — the same shape at
    any matrix width, which is why ``@`` routes formulas onto the
    triplet path rather than the wide one (a wide matmul would be a
    width² expression explosion Catalyst can't survive).

    Semantics: label-based INNER contraction — an output cell
    (r, c) = Σ_k a[r,k]·b[k,c] over the contraction labels k present
    on BOTH sides; labels on one side only contribute nothing, and an
    (r, c) with no shared k is absent from the result (a deliberate,
    documented deviation from pandas ``DataFrame.dot``, which raises
    unless the label sets match exactly — checking set equality here
    would cost an eager job per evaluation). NaN propagates through
    the sum exactly as in pandas: any NaN term poisons its cell.
    """
    kl = "__mm_k__"
    left = a.df.selectExpr(ROW_ID, f"{COL_ID} AS {kl}", f"{VALUE} AS __mm_a__")
    right = b.df.selectExpr(f"{ROW_ID} AS {kl}", COL_ID, f"{VALUE} AS __mm_b__")
    prod = left.join(right, kl).selectExpr(ROW_ID, COL_ID, "__mm_a__ * __mm_b__ AS __mm_p__")
    out = prod.groupBy(ROW_ID, COL_ID).agg(F.expr(f"sum(__mm_p__) AS {VALUE}"))
    return TripletMatrix(out)


def identity_triplet(a: TripletMatrix) -> TripletMatrix:
    """The identity matrix over ``a``'s label universe (union of its
    row and column labels), in triplet form — the ``I`` of the
    Leontief construction ``(I - A)^-1``. One map-side-combined
    distinct over two narrow projections; for a coefficient matrix
    the label set is the sector vocabulary, small by construction at
    any data scale."""
    lbl = "__lbl__"
    labels = (
        a.df.selectExpr(f"{ROW_ID} AS {lbl}")
        .union(a.df.selectExpr(f"{COL_ID} AS {lbl}"))
        .distinct()
    )
    return TripletMatrix(
        labels.selectExpr(f"{lbl} AS {ROW_ID}", f"{lbl} AS {COL_ID}", f"{num(1.0)} AS {VALUE}")
    )


def neumann_series(a: TripletMatrix, terms: int) -> TripletMatrix:
    """Truncated Neumann series ``I + A + A² + ... + A^terms`` on the
    triplet path — the distributed form of the Leontief
    total-requirements construction (the reference's domain is
    input-output coefficient matrices, reference
    ``coeff_maker.py:1-13``; total requirements = ``(I - A)^-1``,
    whose convergent expansion is exactly this series). A dense
    inverse does not distribute; the series is ``terms`` contraction
    joins (matmul_triplet — one shuffle each, map-side-combined sums)
    plus ONE final union + groupBy-sum, the plan a 1000-executor
    cluster actually runs.

    SEMANTICS — sparse linear algebra, not pandas alignment: an
    absent triplet cell is ZERO here (so terms with disjoint support
    add, not poison), unlike the elementwise formula path where
    absence is NaN under pd.eval union alignment. A present-but-NaN
    cell still poisons every sum it touches (``TripletMatrix`` reads a
    NULL cell as NaN, and the final sum propagates NaN).

    Fixed ``terms`` keeps the whole series ONE lazy plan (no driver
    actions); for the convergence-checked variant see
    ``leontief_total_requirements``.
    """
    if terms < 0:
        raise ValueError(f"neumann_series needs terms >= 0, got {terms}")
    parts = [identity_triplet(a).df]
    term = a
    for _ in range(terms):
        parts.append(term.df)
        term = matmul_triplet(term, a)
    return _series_sum(parts)


def _series_sum(parts: list[DataFrame]) -> TripletMatrix:
    total = (
        reduce(lambda x, y: x.unionByName(y), parts)
        .groupBy(ROW_ID, COL_ID)
        .agg(F.expr(f"sum({VALUE}) AS {VALUE}"))
    )
    return TripletMatrix(total)


def leontief_total_requirements(
    a: TripletMatrix,
    *,
    tol: float = 1e-10,
    max_terms: int = 100,
) -> TripletMatrix:
    """Leontief total-requirements matrix ``(I - A)^-1`` via the
    convergence-checked Neumann iteration: accumulate ``A^k`` terms
    until the largest remaining entry falls under ``tol`` (the
    dropped tail is then bounded by ``tol / (1 - ‖A‖)``). Converges
    iff A's spectral radius < 1 — for a technical-coefficient matrix
    that is the standard productive-economy condition (column sums
    < 1); raises after ``max_terms`` otherwise, naming the last
    term's magnitude.

    Execution contract: each term is materialized once via an eager
    ``localCheckpoint`` — it feeds both the running union and the
    next contraction, and checkpointing CUTS THE LINEAGE, without
    which the k-deep join chain's logical plan grows until the driver
    chokes on it (a tol of 1e-12 on a 0.55-spectral-radius matrix is
    ~46 terms). The term's ``max(abs(value))`` is observed on that
    checkpoint, so each iteration is one action and the driver sees k
    scalars, never a matrix. Terms shrink geometrically, so the
    checkpoint footprint is a small multiple of nnz(A), reclaimed by
    the context cleaner when the result is dropped. (localCheckpoint
    blocks are executor-local and non-replicated; a long-lived
    production run on a real cluster would checkpoint terms to a
    reliable store / materialized table instead — same plan shape.)
    """
    if max_terms < 1:
        raise ValueError(f"max_terms must be >= 1, got {max_terms}")
    parts = [identity_triplet(a).df]
    term = a
    for _ in range(max_terms):
        obs = Observation()
        term_df = term.df.observe(obs, F.expr(f"max(abs({VALUE})) AS peak")).localCheckpoint()
        peak = obs.get["peak"]
        if peak is None or peak < tol:
            break
        if peak != peak:  # NaN peak: an invalid cell reached this term
            raise ValueError(
                "leontief_total_requirements: NaN entry encountered — "
                "fill or drop invalid cells before inverting"
            )
        parts.append(term_df)
        term = matmul_triplet(TripletMatrix(term_df), a)
    else:
        raise ValueError(
            f"leontief_total_requirements did not converge within "
            f"{max_terms} terms (last term max |value| = {peak:.3g}) — "
            "is the spectral radius < 1 (column sums < 1)?"
        )
    return _series_sum(parts)


def triplet_to_wide(t: TripletMatrix, columns: list[str] | None = None) -> DataFrame:
    """Pivot back to wide form (requires enumerable columns)."""
    if columns is None:
        columns = sorted(r[0] for r in t.df.select(COL_ID).distinct().collect())
    return (
        t.df.groupBy(ROW_ID)
        .pivot(COL_ID, columns)
        .agg(F.first(VALUE))
    )


def _rewrite_matrix_ops(
    expr: FormulaExpr,
    datasets: dict[str, TripletMatrix | Matrix | pd.Series | float],
) -> tuple[FormulaExpr, dict[str, TripletMatrix]]:
    """Replace every matrix-shaped subtree — a ``MatrixOp`` over matrix
    operands — with a synthetic variable bound
    to its triplet result, after which the elementwise join/project
    machinery needs no matrix-op awareness. Compositions of the
    matrix ops among themselves are supported (``a.T @ b``,
    ``(a @ b).T``, ``a @ b @ c``); transpose/matmul of an ELEMENTWISE
    compound (e.g. ``(a + b).T``) refuses loudly — supporting that
    would mean materializing intermediate results mid-formula."""
    # Matrix ops are frozen dataclasses with value equality, so
    # the memo resolves '(a @ b) * 2 - a @ b' and '(a @ b).T - a @ b'
    # to ONE contraction join, and ``names`` binds each distinct
    # subtree at an elementwise position to one synthetic operand
    # (no alignment join between identical results). Synthetic names
    # are not identifiers, so they cannot collide with a dataset name.
    memo: dict[FormulaExpr, TripletMatrix] = {}
    names: dict[FormulaExpr, Var] = {}

    def as_matrix(node: FormulaExpr, ctx: str) -> TripletMatrix:
        """Resolve a matrix-shaped subtree to a TripletMatrix, once."""
        if node in memo:
            return memo[node]
        if isinstance(node, Var):
            d = datasets[node.name]  # KeyError parity with unknown variables
            if isinstance(d, Matrix):
                t = wide_to_triplet(d)
            elif isinstance(d, TripletMatrix):
                t = d
            else:
                hint = (
                    " — for a matrix-vector product, register the Series "
                    "as a single-COLUMN DataFrame when it is the right "
                    "operand (m @ v) or a single-ROW DataFrame when it is "
                    "the left (v @ m); the contraction joins the left's "
                    "column labels against the right's row labels"
                    if isinstance(d, pd.Series)
                    else ""
                )
                raise FormulaError(
                    f"{ctx} of non-matrix operand {node.name!r} "
                    f"({type(d).__name__}) is not defined{hint}"
                )
        elif isinstance(node, Transpose):
            t = transpose_triplet(as_matrix(node.operand, node.name))
        elif isinstance(node, MatMul):
            t = matmul_triplet(as_matrix(node.left, node.name),
                               as_matrix(node.right, node.name))
        elif isinstance(node, Neumann):
            t = neumann_series(as_matrix(node.operand, node.name), node.terms)
        elif isinstance(node, Leontief):
            # NOTE: unlike every other matrix op this runs DRIVER-SIDE
            # actions at compile time (one scalar max per term + a
            # localCheckpoint lineage cut) — the convergence depth is
            # data-dependent by definition; see
            # leontief_total_requirements's execution contract.
            t = leontief_total_requirements(as_matrix(node.operand, node.name), tol=node.tol)
        else:
            raise FormulaError(
                f"{ctx} is supported on matrix variables and compositions of "
                "matrix ops over them, not on elementwise "
                "compound expressions — bind the subexpression to a name first"
            )
        memo[node] = t
        return t

    def rw(node: FormulaExpr) -> FormulaExpr:
        if isinstance(node, MatrixOp):
            return names.setdefault(node, Var(f"@{len(names)}"))
        if isinstance(node, BinOp):
            return BinOp(node.op, rw(node.left), rw(node.right))
        if isinstance(node, UnaryOp):
            return UnaryOp(node.op, rw(node.operand))
        if isinstance(node, Call):
            return Call(node.func, tuple(rw(a) for a in node.args))
        return node

    return rw(expr), {v.name: as_matrix(node, "") for node, v in names.items()}


def compile_formula_triplet(
    expr: FormulaExpr,
    datasets: dict[str, TripletMatrix | Matrix | pd.Series | float],
) -> DataFrame:
    """Compile a formula over triplet matrices into one lazy plan.

    Same construction as the wide path, through the same front end
    (``plans.alignment.align``): all frame operands meet in a chained
    full-outer join — here on the composite (row, col) key, with
    string row labels — and the whole arithmetic lands in one
    projection over the single value column. Only the vector
    broadcast differs: it is keyed by column label, not position, so
    a Series whose index labels repeat (as strings) is refused.

    The formula's own wide operands are unpivoted first, once each,
    and then ``m.T`` and ``a @ b`` are rewritten: each matrix-op
    subtree becomes a synthetic operand bound to its triplet result
    (transpose_triplet — a projection; matmul_triplet — a contraction
    join + sum), after which the join/project machinery below needs
    no matrix-op awareness. Pandas-parity alignment falls out of the
    full-outer join: ``a + b.T`` aligns a(r,c) with b(c,r) on labels,
    NaN where either side is absent — exactly pd.eval's union
    alignment.
    """
    operands = dict(datasets)
    for name in extract_variables(expr):
        d = datasets.get(name)
        if isinstance(d, Matrix):
            operands[name] = wide_to_triplet(d)
        elif isinstance(d, pd.Series) and (labels := pd.Index(d.index.map(str))).has_duplicates:
            raise FormulaError(
                f"Series {name!r} repeats index labels (as strings) "
                f"{list(labels[labels.duplicated()].unique())}: the triplet route "
                "broadcasts a Series by column label, so each label must be unique"
            )
    expr, rewritten = _rewrite_matrix_ops(expr, operands)
    joined, _, bindings = align({None: expr}, {**operands, **rewritten}, COL_ID)
    [(columns, values)] = bindings[None]

    def resolve(var: str) -> str:
        if var in columns:
            return or_nan(columns[var])
        if isinstance(v := values[var], pd.Series):
            # label-based broadcast: map literal keyed by column label
            kv = ", ".join(f"{string(k)}, {num(x)}" for k, x in v.items())
            return or_nan(f"map({kv})[{COL_ID}]")
        return num(v)

    return joined.selectExpr(ROW_ID, COL_ID, f"{evaluate(expr, resolve, SQL_OPS)} AS {VALUE}")
