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

Plan shape: all N frame operands of a formula meet in a chain of
full-outer joins on ``__row_id__`` (``_aligned_join``), and the
arithmetic lands in one whole-stage-codegen'd ``Project`` on top. A
full-outer ``USING`` join outputs ``coalesce(l.key, r.key)``, which
carries no partitioning, so every join after the first re-shuffles the
joined side built so far: an N-operand formula shuffles its
intermediate result N-1 times (ROADMAP item 2). The reference instead
materializes every intermediate eagerly (pandas); here nothing is
materialized before the action that consumes the result.

``align`` is the one front end of every compiler — wide, fused,
triplet (``plans/triplet.py``) and ADP (``adp.py``): it splits the
operands, joins the frames and says, for each output column, which
joined column holds each frame operand's value. The compilers only
evaluate the formula over that.

NULL handling: after the outer join, absent cells are NULL; each
column reference in the formula's SQL text reads ``coalesce(col,
NaN)`` (``functions.math.or_nan``, non-nullable), and an operand
without the output column reads NaN itself, so downstream
arithmetic propagates NaN exactly like numpy (Java double arithmetic
is IEEE-754, identical to numpy's elementwise results).
"""

from __future__ import annotations

from collections import Counter
from functools import reduce
from typing import Any, Mapping

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ssb_coefficient_maker_spark.catalog import Matrix
from ssb_coefficient_maker_spark.formula.parser import (
    COMPARISONS,
    FormulaError,
    FormulaExpr,
    evaluate,
    extract_variables,
)
from ssb_coefficient_maker_spark.functions.math import SQL_OPS, ident, num, or_nan
from ssb_coefficient_maker_spark.session import ROW_ID


Bindings = list[tuple[dict[str, str], dict[str, Any]]]


def align(
    exprs: Mapping[Any, FormulaExpr],
    datasets: Mapping[str, Any],
    col_key: str | None = None,
) -> tuple[DataFrame, list[str], dict[Any, Bindings]]:
    """Align the operands of formulas that share one frame-operand set.

    Each formula's operands split into frames, pandas Series and
    scalars (``_operands``). The frames fix the row universe of the
    join, so the caller passes formulas that read the same frames:
    ``compile_formulas_fused`` groups them so, and every other compiler
    passes one formula. The frames meet in one aligned join
    (``_aligned_join``) on ``__row_id__``, and on ``col_key`` too when
    given (the triplet route's column label). The output columns are
    the union of the frames' value columns, in first-seen order.

    Returns ``(joined, out_cols, bindings)``: ``bindings[name][pos]``
    is ``(columns, values)`` for formula ``name`` at output column
    ``pos``. ``columns`` maps each frame operand that has the column to
    its joined column; ``values`` maps every other operand to a plain
    value: NaN for a frame without the column (pandas alignment), a
    scalar's float, a Series' value at ``pos`` (positional broadcast,
    reference coeff_maker.py:757-763), or with ``col_key`` the whole
    Series (the triplet route broadcasts by label, so its width is not
    checked).
    """
    split = {name: _operands(expr, datasets) for name, expr in exprs.items()}
    for name, (frames, _, _) in split.items():
        if not frames:
            raise FormulaError(
                f"formula {name!r} has no matrix operand; evaluate vector/"
                "scalar formulas on the driver (eval_driver)"
            )
    frames = next(iter(split.values()))[0]
    out_cols = list(dict.fromkeys(c for m in frames.values() for c in m.value_cols))
    have = {n: set(m.value_cols) for n, m in frames.items()}
    columns = [{n: _operand_col(i, pos) for i, n in enumerate(frames) if out_c in have[n]}
               for pos, out_c in enumerate(out_cols)]
    bindings = {}
    for name, (_, vectors, scalars) in split.items():
        for vname, vec in vectors.items():
            if col_key is None and vec.size != len(out_cols):
                raise FormulaError(
                    f"vector {vname!r} has length {vec.size} but the frame "
                    f"operands have {len(out_cols)} columns; the reference "
                    f"broadcasts vectors positionally across columns "
                    f"(reference README.md:76)"
                )
        bindings[name] = [
            (cols, {**dict.fromkeys(frames, np.nan), **scalars,
                    **{n: v if col_key else v.values[pos] for n, v in vectors.items()}})
            for pos, cols in enumerate(columns)
        ]
    return _aligned_join(frames, out_cols, col_key), out_cols, bindings


def _operands(
    expr: FormulaExpr, datasets: Mapping[str, Any]
) -> tuple[dict[str, Any], dict[str, pd.Series], dict[str, float]]:
    """A formula's frame, vector and scalar operands, in first-seen
    order. A frame is any operand that is neither a Series nor a
    scalar: a ``Matrix`` on the wide and ADP routes, a
    ``TripletMatrix`` on the triplet route (the router keeps the two
    apart)."""
    names = extract_variables(expr)
    missing = [n for n in names if n not in datasets]
    if missing:
        raise KeyError(f"formula references unknown dataset(s): {missing}")
    frames = {n: d for n in names if not isinstance(d := datasets[n], (pd.Series, int, float))}
    vectors = {n: d for n in names if isinstance(d := datasets[n], pd.Series)}
    scalars = {n: float(d) for n in names if isinstance(d := datasets[n], (int, float))}
    return frames, vectors, scalars


def compile_formula(
    expr: FormulaExpr,
    datasets: dict[str, Matrix | pd.Series | float],
) -> Matrix:
    """Compile a parsed formula with a frame operand into a single lazy
    Spark DataFrame — the one-formula case of
    ``compile_formulas_fused``. Scalar- and vector-only formulas
    evaluate driver-side instead (``eval_driver``).

    Mirrors reference ``_perform_evaluation`` (coeff_maker.py:720-798)
    but lazily and in one plan.
    """
    [(df, result_cols)] = compile_formulas_fused({None: expr}, datasets)
    return Matrix(df, result_cols[None])


def compile_formulas_fused(
    exprs: dict[str | None, FormulaExpr],
    datasets: dict[str, Matrix | pd.Series | float],
) -> list[tuple[DataFrame, dict[str | None, list[str]]]]:
    """Compile SEVERAL formulas into one plan per FRAME-operand set:
    the formulas that read the same frames share a single aligned join
    of them (``align``), then one projection per (formula × column).

    The reference's batch workload (coeff_maker.py:989-1012) loops N
    formulas over one ``data_dict``; evaluated independently, each
    formula re-scans (and re-pivots/re-aggregates) every shared input
    N times. Fused, each input is scanned ONCE per group, with all of
    the group's arithmetic landing in one whole-stage-codegen'd
    ``Project`` on top of the aligned join.

    The frame-operand set is the group key because it fixes the row
    universe — the outer-join key space — so per-formula row semantics
    are exactly the unfused ones. Vector and scalar operands may differ
    freely within a group; they compile to literals. Groups come in
    first-seen order; no formulas give no groups. A group whose result
    columns collide (``a`` over column ``b_c`` and ``a_b`` over column
    ``c`` both make ``a_b_c``) is refused with a ``FormulaError``.

    Returns one ``(df, result_cols)`` per group: ``df`` has
    ``__row_id__`` plus columns named ``{result}_{col}`` (plain
    ``{col}`` for a ``None`` result name, the single-formula case);
    ``result_cols`` maps each result name to its column list.
    """
    groups: dict[frozenset, dict[str | None, FormulaExpr]] = {}
    for rname, expr in exprs.items():
        groups.setdefault(frozenset(_operands(expr, datasets)[0]), {})[rname] = expr
    plans = []
    for group in groups.values():
        joined, out_cols, bindings = align(group, datasets)
        result_cols = {rname: [out_c if rname is None else f"{rname}_{out_c}" for out_c in out_cols]
                       for rname in group}
        counts = Counter(c for cols in result_cols.values() for c in cols)
        if clash := sorted(c for c, k in counts.items() if k > 1):
            raise FormulaError(f"fused results {list(group)} collide on column name(s) {clash} "
                               "(<result>_<column>); rename a result")
        projections = [ROW_ID]
        for rname, expr in group.items():
            for alias, (columns, values) in zip(result_cols[rname], bindings[rname]):
                sql = evaluate(
                    expr, lambda v: or_nan(columns[v]) if v in columns else num(values[v]), SQL_OPS
                )
                projections.append(f"{sql} AS {ident(alias)}")
        plans.append((joined.selectExpr(*projections), result_cols))
    return plans


def _operand_col(i: int, pos: int) -> str:
    """Aligned-join alias of frame operand ``i``'s value at output
    column ``pos``. Positional, so no operand or column name can make
    two aliases collide (``a`` with column ``_x`` and ``a_`` with
    column ``x`` would both be ``a___x`` as ``name__col``)."""
    return f"__op{i}_{pos}__"


def _aligned_join(
    frames: dict[str, Matrix], out_cols: list[str], col_key: str | None = None
) -> DataFrame:
    """Chained full-outer join of all frame operands on ROW_ID, and on
    ``col_key`` too when given (the triplet path's column label).

    Every operand's value columns are renamed ``_operand_col(i, pos)``
    before joining so the projection can reference them unambiguously.
    Each operand is shuffled once on the join key, but a full-outer
    ``USING`` join outputs ``coalesce(l.key, r.key)``, which carries no
    partitioning: every join after the first re-shuffles the joined
    side built so far (N-1 shuffles of it for N operands).
    """
    pos = {c: j for j, c in enumerate(out_cols)}
    keys = [ROW_ID] if col_key is None else [ROW_ID, col_key]
    # operands keep their native row-id type (so a long key can reuse
    # upstream partitioning); only heterogeneous key types force a
    # unifying cast to string (triplet keys are already strings)
    unify = len({m.df.schema[ROW_ID].dataType.simpleString() for m in frames.values()}) > 1
    rid = f"CAST({ROW_ID} AS STRING) AS {ROW_ID}" if unify else ROW_ID
    prefixed = [
        m.df.selectExpr(rid, *keys[1:], *(f"{ident(c)} AS {_operand_col(i, pos[c])}"
                                          for c in m.value_cols))
        for i, m in enumerate(frames.values())
    ]
    return reduce(lambda a, b: a.join(b, on=keys, how="full_outer"), prefixed)


# ---------------------------------------------------------------- driver-side
# Vector∘vector and scalar-only formulas never touch the cluster: the
# operands are driver-resident by construction (vectors are small).
# The reference leaks a raw ndarray in this case (SURVEY.md §1.3 wart);
# we return a Series with the first vector's labels.


def _np_compare(op):
    return lambda a, b: op(a, b).astype(np.float64)


NUMPY_OPS = {
    "num": np.float64,
    "neg": np.negative,
    "+": np.add,
    "-": np.subtract,
    "*": np.multiply,
    "/": np.divide,
    "%": np.mod,
    "//": np.floor_divide,
    "**": np.power,
    **{sym: _np_compare(op) for sym, op in COMPARISONS.items()},
    "abs": np.abs,
    "pow": np.power,
    # numpy.where: a NaN condition is false, any other nonzero true
    "where": lambda c, a, b: np.where(np.nan_to_num(c, nan=0.0) != 0, a, b),
    "fillna": lambda x, v: np.where(np.isnan(x), v, x),
}


def eval_driver(
    expr: FormulaExpr, operands: Mapping[str, pd.Series | float], ops: Mapping[str, Any]
) -> float | pd.Series:
    """Evaluate a formula over Series and scalar operands on the driver
    with one backend's op table (``NUMPY_OPS`` or ``adp.MP_OPS``, whose
    ``num`` also converts each operand). Vectors combine positionally;
    a result with a vector operand is a Series with the first one's
    labels, any other a float."""
    vectors = [d for d in operands.values() if isinstance(d, pd.Series)]
    sizes = {v.size for v in vectors}
    if len(sizes) > 1:
        raise FormulaError(f"vector operands disagree on length: {sizes}")
    values = {n: ops["num"](d.values if isinstance(d, pd.Series) else d)
              for n, d in operands.items()}
    with np.errstate(divide="ignore", invalid="ignore"):
        out = evaluate(expr, values.__getitem__, ops)
    if not vectors:
        return float(out)
    return pd.Series(out, index=vectors[0].index)
