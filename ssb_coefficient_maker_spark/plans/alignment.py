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

Plan shape: the N frame operands of a formula meet in one aligned
table (``_aligned_join``), made in one of two places:

- **on the driver**, when every frame operand carries its pandas
  cells (``Matrix.cells``: it was registered from pandas) and the
  table has at most ``LOCAL_ALIGN_CELLS`` cells (row-label union ×
  operand columns): one pandas outer ``concat`` on the label text. The
  operands are already in driver memory, as the reference's are. A
  float formula is then evaluated there too, with ``NUMPY_OPS`` over
  the table (``compile_formulas_fused``), as the reference's
  ``pd.eval`` is: no shuffle and no Spark job, and the result is a
  Matrix that carries its cells. The ADP compiler ships the table to
  Spark as one local relation;
- **in Spark** otherwise (a Spark-DataFrame or triplet operand, or a
  larger table): a chain of full-outer joins on ``__row_id__``, and
  the arithmetic lands in one whole-stage-codegen'd ``Project`` on
  top. A full-outer ``USING`` join outputs ``coalesce(l.key, r.key)``,
  which carries no partitioning, so every join after the first
  re-shuffles the joined side built so far: an N-operand formula
  shuffles its intermediate result N-1 times (ROADMAP item 2). The
  reference instead materializes every intermediate eagerly (pandas);
  here nothing is materialized before the action that consumes the
  result.

``align`` is the one front end of every compiler — wide, fused,
triplet (``plans/triplet.py``) and ADP (``adp.py``): it splits the
operands, joins the frames and says, for each output column, which
joined column holds each frame operand's value. The compilers only
evaluate the formula over that.

NULL handling: after either alignment, absent cells are missing (NaN
on the driver, NULL in Spark); each column reference in the formula's
SQL text reads ``coalesce(col, NaN)`` (``functions.math.or_nan``,
non-nullable), and an operand without the output column reads NaN
itself, so downstream arithmetic propagates NaN exactly like numpy
(Java double arithmetic is IEEE-754, identical to numpy's elementwise
results).
"""

from __future__ import annotations

from collections import Counter
from functools import reduce
from typing import Any, Mapping

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from ssb_coefficient_maker_spark.catalog import Matrix, cells_schema
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

# Largest aligned table (row-label union × operand columns) that
# ``_aligned_join`` builds on the driver. It is the crossover measured
# for the earlier driver alignment, which shipped the aligned table to
# Spark for every formula and evaluated it there. For the numpy
# evaluation, which ships nothing to a pandas collect, it is not
# measured: the crossover may lie higher.
LOCAL_ALIGN_CELLS = 2**17


def align(
    exprs: Mapping[Any, FormulaExpr],
    datasets: Mapping[str, Any],
) -> tuple[Matrix, list[str], dict[Any, Bindings]]:
    """Align the operands of formulas that share one frame-operand set.

    Each formula's operands split into frames, pandas Series and
    scalars (``_operands``). The frames fix the row universe of the
    join, so the caller passes formulas that read the same frames:
    ``compile_formulas_fused`` groups them so, and every other compiler
    passes one formula. The frames meet in one aligned table
    (``_aligned_join``) keyed on the frames' label ``keys``
    (``__row_id__``, and on the triplet route ``__col_id__`` too): made
    on the driver when every frame carries its cells and the table is
    at most ``LOCAL_ALIGN_CELLS`` cells (a Matrix that carries the
    table as its cells), else by a full-outer join chain in Spark. The
    output columns are the union of the frames' value columns, in
    first-seen order.

    Returns ``(joined, out_cols, bindings)``: ``bindings[name][pos]``
    is ``(columns, values)`` for formula ``name`` at output column
    ``pos``. ``columns`` maps each frame operand that has the column to
    its joined column; ``values`` maps every other operand to a plain
    value: NaN for a frame without the column (pandas alignment), a
    scalar's float, a Series' value at ``pos`` (positional broadcast,
    reference coeff_maker.py:757-763), or over triplets the whole
    Series (the triplet route broadcasts by column label, so its width
    is not checked).
    """
    split = {name: _operands(expr, datasets) for name, expr in exprs.items()}
    for name, (frames, _, _) in split.items():
        if not frames:
            raise FormulaError(
                f"formula {name!r} has no matrix operand; evaluate vector/"
                "scalar formulas on the driver (eval_driver)"
            )
    frames = next(iter(split.values()))[0]
    by_label = len(next(iter(frames.values())).keys) > 1
    out_cols = list(dict.fromkeys(c for m in frames.values() for c in m.value_cols))
    have = {n: set(m.value_cols) for n, m in frames.items()}
    columns = [{n: _operand_col(i, pos) for i, n in enumerate(frames) if out_c in have[n]}
               for pos, out_c in enumerate(out_cols)]
    bindings = {}
    for name, (_, vectors, scalars) in split.items():
        for vname, vec in vectors.items():
            if not by_label and vec.size != len(out_cols):
                raise FormulaError(
                    f"vector {vname!r} has length {vec.size} but the frame "
                    f"operands have {len(out_cols)} columns; the reference "
                    f"broadcasts vectors positionally across columns "
                    f"(reference README.md:76)"
                )
        bindings[name] = [
            (cols, {**dict.fromkeys(frames, np.nan), **scalars,
                    **{n: v if by_label else v.values[pos] for n, v in vectors.items()}})
            for pos, cols in enumerate(columns)
        ]
    return _aligned_join(frames, out_cols), out_cols, bindings


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
    """Compile a parsed formula with a frame operand into one result
    Matrix — the one-formula case of ``compile_formulas_fused``.
    Scalar- and vector-only formulas evaluate driver-side instead
    (``eval_driver``).

    Mirrors reference ``_perform_evaluation`` (coeff_maker.py:720-798):
    on the driver for small pandas operands, else lazily and in one
    plan.
    """
    [(result, _)] = compile_formulas_fused({None: expr}, datasets)
    return result


def compile_formulas_fused(
    exprs: dict[str | None, FormulaExpr],
    datasets: dict[str, Matrix | pd.Series | float],
) -> list[tuple[Matrix, dict[str | None, list[str]]]]:
    """Compile SEVERAL formulas into one plan per FRAME-operand set:
    the formulas that read the same frames share a single aligned join
    of them (``align``), then one projection per (formula × column).
    When that table was made on the driver, each (formula × column) is
    evaluated there instead (``_evaluate_cells``), and the group's
    result carries its cells.

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

    Returns one ``(result, result_cols)`` per group: the Matrix
    ``result`` has ``__row_id__`` plus columns named ``{result}_{col}``
    (plain ``{col}`` for a ``None`` result name, the single-formula
    case); ``result_cols`` maps each result name to its column list.
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
        # (result column, formula, joined columns, plain values) per output
        outputs = [(alias, expr, *binding) for rname, expr in group.items()
                   for alias, binding in zip(result_cols[rname], bindings[rname])]
        if joined.cells is not None:
            plans.append((_evaluate_cells(joined, outputs), result_cols))
            continue
        projections = [ROW_ID]
        for alias, expr, columns, values in outputs:
            sql = evaluate(
                expr, lambda v: or_nan(columns[v]) if v in columns else num(values[v]), SQL_OPS
            )
            projections.append(f"{sql} AS {ident(alias)}")
        result = Matrix(joined.df.selectExpr(*projections), [alias for alias, *_ in outputs])
        plans.append((result, result_cols))
    return plans


def _evaluate_cells(joined: Matrix, outputs: list[tuple]) -> Matrix:
    """A group's formulas evaluated on the driver over its aligned
    table (``joined.cells``) with ``NUMPY_OPS``, one output column at a
    time through ``eval_driver``: a frame operand is its column of the
    table, every other operand the plain value ``align`` bound. The
    result Matrix carries its cells; its ``df`` is made when read."""
    table, keys = joined.cells, joined.keys
    cells = {k: table[k].to_numpy() for k in keys}
    for alias, expr, columns, values in outputs:
        operands = {**values, **{n: table[c] for n, c in columns.items()}}
        cells[alias] = eval_driver(expr, operands, NUMPY_OPS).to_numpy(np.float64)
    return Matrix.from_cells(joined.spark, pd.DataFrame(cells),
                             cells_schema(list(cells)[len(keys):], T.DoubleType(), keys), keys)


def _operand_col(i: int, pos: int) -> str:
    """Aligned-join alias of frame operand ``i``'s value at output
    column ``pos``. Positional, so no operand or column name can make
    two aliases collide (``a`` with column ``_x`` and ``a_`` with
    column ``x`` would both be ``a___x`` as ``name__col``)."""
    return f"__op{i}_{pos}__"


def _aligned_join(frames: dict[str, Matrix], out_cols: list[str]) -> Matrix:
    """All frame operands aligned on their label ``keys`` (ROW_ID, and
    on the triplet path ``__col_id__`` too), with every operand's value
    columns renamed ``_operand_col(i, pos)`` so the formula can
    reference them unambiguously. Two plans, one answer:

    - **On the driver** (``_local_join``) when every operand carries
      its cells (``Matrix.cells``: ingested from pandas, or a result
      the driver computed, such as a dense ``leontief()``) and the
      aligned table has at most ``LOCAL_ALIGN_CELLS`` cells (key union
      × operand columns): one pandas outer concat, whose Matrix
      carries the table as its cells.
    - **Otherwise, in Spark:** a chain of full-outer joins. Each operand
      is shuffled once on the join key, but a full-outer ``USING`` join
      outputs ``coalesce(l.key, r.key)``, which carries no
      partitioning: every join after the first re-shuffles the joined
      side built so far (N-1 shuffles of it for N operands).
    """
    pos = {c: j for j, c in enumerate(out_cols)}
    keys = list(next(iter(frames.values())).keys)
    if all(m.cells is not None for m in frames.values()):
        labels = reduce(pd.Index.union, (pd.MultiIndex.from_frame(m.cells[keys])
                                         for m in frames.values()))
        if len(labels) * sum(len(m.value_cols) for m in frames.values()) <= LOCAL_ALIGN_CELLS:
            return _local_join(frames, pos, keys)
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
    joined = reduce(lambda a, b: a.join(b, on=keys, how="full_outer"), prefixed)
    return Matrix(joined, [_operand_col(i, pos[c]) for i, m in enumerate(frames.values())
                           for c in m.value_cols], keys)


def _local_join(frames: dict[str, Matrix], pos: dict[str, int], keys: list[str]) -> Matrix:
    """The aligned join of driver-resident operands, made on the
    driver: one pandas outer concat on the key columns' label text (a
    cell absent from an operand is NaN, as the outer join's NULL
    reads), with each operand column's Spark type from its Matrix."""
    parts = []
    fields = [T.StructField(k, T.StringType(), False) for k in keys]
    for i, m in enumerate(frames.values()):
        names = [_operand_col(i, pos[c]) for c in m.value_cols]
        parts.append(m.cells.set_index(keys).set_axis(names, axis=1))
        fields += [T.StructField(n, m.schema[c].dataType, True) for n, c in zip(names, m.value_cols)]
    out = pd.concat(parts, axis=1, join="outer").rename_axis(keys).reset_index()
    return Matrix.from_cells(next(iter(frames.values())).spark, out, T.StructType(fields), keys)


# ---------------------------------------------------------------- driver-side
# Vector∘vector and scalar-only formulas never touch the cluster: the
# operands are driver-resident by construction (vectors are small).
# The reference leaks a raw ndarray in this case (SURVEY.md §1.3 wart);
# we return a Series with the first vector's labels. A float formula
# over a driver-aligned table (``_evaluate_cells``) is evaluated here
# too, one output column at a time, its frame columns as the Series.


def _np_compare(op):
    return lambda a, b: op(a, b).astype(np.float64)


NUMPY_OPS = {
    # np.float64 would turn a one-element array into a scalar
    "num": lambda v: np.asarray(v, dtype=np.float64),
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
    # Spark's double arithmetic does not warn either
    with np.errstate(all="ignore"):
        out = evaluate(expr, values.__getitem__, ops)
    if not vectors:
        return float(out)
    return pd.Series(out, index=vectors[0].index)
