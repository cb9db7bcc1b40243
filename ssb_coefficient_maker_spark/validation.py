"""Result validation: NaN/Inf audit, fill, warn, raise.

Reference behavior being reproduced (``_ResultValidator``, reference
coeff_maker.py:39-569):

- invalid = NaN, +Inf, -Inf (and missing values) — reference
  coeff_maker.py:260,295 replace-list.
- ``fill_invalid=True`` → replace invalid cells with 0.0 and warn with
  a count (reference coeff_maker.py:104-112).
- otherwise: all cells invalid → ``ValueError`` (message varies when
  the formula mixed Series and DataFrame operands — the classic
  misalignment cause, reference coeff_maker.py:446-507); some cells
  invalid → ``UserWarning`` with percentage and likely cause
  (reference coeff_maker.py:509-569).

Execution shape: the reference scans the full result 1-3 times on the
driver (status, count, fill — reference coeff_maker.py:93,101,106).
Here the audit is ONE aggregate over all value columns
(``audit_exprs``: partial aggregation map-side), and the fill is a
lazy ``CASE`` projection fused into the result plan by Catalyst. Both
are built as SQL text — one parsed expression per aggregate, one
``selectExpr`` for the fill — not as a py4j ``Column`` tree per column.
When a result is materialized — collected to pandas or written to
parquet — the aggregate is observed on that action (api.py's sink), so
the audit adds no job (``audited_on_action``). ``validate`` runs it as
a job of its own only for ``evaluate_formula``, whose result stays
lazy (``audit_row``). A float result the driver computed (it carries
its cells, ``catalog.Matrix.cells``) is audited and filled in numpy
there instead (``audit_cells``, ``fill_matrix``): the same counts, read
by the same ``status_of`` and ``check``, and no job. These three
functions are the only ones that look where a result's cells live.

One validator serves both value carriers: float64 columns and the
decimal strings of ADP mode (adp.py). A ``Carrier`` names the carrier's
invalid and ±Inf predicates and its fill literal, as SQL text;
everything else — the audit aggregate, the fill projection and the
warn/raise decision (``check``) — is shared by the standalone audit and
the sink.
"""

from __future__ import annotations

import os
import sys
import warnings
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ssb_coefficient_maker_spark.catalog import Matrix
from ssb_coefficient_maker_spark.functions.math import INF, ident, num


def invalid_cond(c: str) -> str:
    q = ident(c)
    return f"({q} IS NULL OR isnan({q}) OR abs({q}) = {num(INF)})"


def inf_cond(c: str) -> str:
    return f"(abs({ident(c)}) = {num(INF)})"


@dataclass(frozen=True)
class Carrier:
    """How a result's value columns carry invalid cells, as SQL text
    over a column name: a predicate for every invalid cell, one for the
    ±Inf subset (the rest are NaN or missing — the classes are
    disjoint), and the fill literal."""

    invalid: Callable[[str], str]
    inf: Callable[[str], str]
    fill: str


FLOAT = Carrier(invalid_cond, inf_cond, num(0.0))


@dataclass
class InvalidStatus:
    """Mirror of reference ``_check_invalid_status`` (coeff_maker.py:315-375)."""

    n_cells: int
    n_invalid: int
    n_inf: int

    @property
    def n_nan(self) -> int:
        return self.n_invalid - self.n_inf

    @property
    def all_invalid(self) -> bool:
        return self.n_cells > 0 and self.n_invalid == self.n_cells

    @property
    def some_invalid(self) -> bool:
        return 0 < self.n_invalid < self.n_cells

    @property
    def has_nan(self) -> bool:
        return self.n_nan > 0

    @property
    def has_inf(self) -> bool:
        return self.n_inf > 0


def audit_exprs(value_cols: list[str], carrier: Carrier = FLOAT) -> list[Column]:
    """The audit's aggregate: a row count plus two sums per column
    (invalid, ±Inf). Run by ``invalid_status`` or observed on a collect
    or write."""
    aggs = ["count(1) AS __rows__"]
    for c in value_cols:
        aggs.append(f"sum(CAST({carrier.invalid(c)} AS BIGINT)) AS {ident(f'__inv__{c}')}")
        aggs.append(f"sum(CAST({carrier.inf(c)} AS BIGINT)) AS {ident(f'__inf__{c}')}")
    return [F.expr(a) for a in aggs]


def audit_cells(cells: pd.DataFrame, value_cols: list[str]) -> dict:
    """The ``audit_exprs`` row of a float result held on the driver,
    counted in numpy: NaN and ±Inf cells are invalid. Over no rows each
    sum is None, as Spark's is."""
    values = cells[value_cols].to_numpy(np.float64)
    invalid, inf = (~np.isfinite(values)).sum(axis=0), np.isinf(values).sum(axis=0)
    row: dict = {"__rows__": len(cells)}
    for c, n_invalid, n_inf in zip(value_cols, invalid, inf):
        row[f"__inv__{c}"] = int(n_invalid) if len(cells) else None
        row[f"__inf__{c}"] = int(n_inf) if len(cells) else None
    return row


def audit_row(m: Matrix, carrier: Carrier = FLOAT) -> dict:
    """``m``'s ``audit_exprs`` row: counted in numpy when ``m`` carries
    its (float) cells (``audit_cells``), else one aggregate job."""
    if m.cells is not None:
        return audit_cells(m.cells, m.value_cols)
    return m.df.agg(*audit_exprs(m.value_cols, carrier)).collect()[0].asDict()


def audited_on_action(m: Matrix, carrier: Carrier = FLOAT) -> tuple[Matrix, Callable[[], dict]]:
    """``m`` set up to count its audit row on the action that
    materializes it, and a getter for that row once the action ran: an
    ``observe`` of ``audit_exprs`` in Spark (no job of its own), or at
    once in numpy when ``m`` carries its cells."""
    if m.cells is not None:
        row = audit_cells(m.cells, m.value_cols)
        return m, lambda: row
    obs = Observation()
    observed = m.df.observe(obs, *audit_exprs(m.value_cols, carrier))
    return Matrix(observed, m.value_cols, m.keys), lambda: obs.get


def status_of(row: dict, value_cols: list[str]) -> InvalidStatus:
    """Read an ``audit_exprs`` result (any subset of its columns)."""
    return InvalidStatus(
        row["__rows__"] * len(value_cols),
        sum(row[f"__inv__{c}"] or 0 for c in value_cols),
        sum(row[f"__inf__{c}"] or 0 for c in value_cols),
    )


def invalid_status(
    df: DataFrame, value_cols: list[str], carrier: Carrier = FLOAT
) -> InvalidStatus:
    """One aggregate pass over all value columns."""
    if not value_cols:
        return InvalidStatus(0, 0, 0)
    return status_of(audit_row(Matrix(df, value_cols), carrier), value_cols)


def fill_invalid(
    df: DataFrame, value_cols: list[str], carrier: Carrier = FLOAT
) -> DataFrame:
    """Lazy fill of invalid cells (reference ``_fill_invalid_values``,
    coeff_maker.py:205-229 — but vectorized, no per-cell loop)."""
    # preserve every non-value column (wide: just ROW_ID; triplet:
    # ROW_ID + __col_id__)
    keep = [ident(c) for c in df.columns if c not in value_cols]
    return df.selectExpr(*keep, *(
        f"CASE WHEN {carrier.invalid(c)} THEN {carrier.fill} ELSE {ident(c)} END AS {ident(c)}"
        for c in value_cols
    ))


def fill_matrix(m: Matrix, carrier: Carrier = FLOAT) -> Matrix:
    """``m`` with its invalid cells filled: in numpy when it carries its
    (float) cells, else as the lazy ``fill_invalid`` projection."""
    if m.cells is None:
        return Matrix(fill_invalid(m.df, m.value_cols, carrier), m.value_cols, m.keys)
    cells = m.cells.copy()
    values = cells[m.value_cols].to_numpy(np.float64)
    cells[m.value_cols] = np.where(np.isfinite(values), values, 0.0)
    return Matrix.from_cells(m.spark, cells, m.schema, m.keys)


def _cause_fragment(status: InvalidStatus) -> str:
    if status.has_nan and status.has_inf:
        return "NaN and Inf values"
    if status.has_inf:
        return "Inf values (likely division by zero)"
    return "NaN values (likely missing data or misaligned indexes)"


def check(
    status: InvalidStatus,
    formula_str: str,
    *,
    fill: bool = False,
    mixed_operands: bool = False,
    verbose: bool = False,
) -> None:
    """The warn/raise decision on an audited result."""
    if verbose and status.n_invalid > 0:
        # reference trace shapes (_log_invalid_details,
        # coeff_maker.py:385-415)
        if status.all_invalid:
            print("WARNING: Result contains all invalid values")
        else:
            pct_v = 100.0 * status.n_invalid / status.n_cells
            print(
                f"WARNING: Result contains {status.n_invalid}/"
                f"{status.n_cells} ({pct_v:.2f}%) invalid values"
            )
            if status.has_nan and status.has_inf:
                print(" - Result contains both NaN and Inf values")
            elif status.has_nan:
                print(" - Result contains NaN values")
            elif status.has_inf:
                print(" - Result contains Inf values (division by zero)")
        if fill:
            print("Invalid values will be replaced with zeros")
    if status.n_invalid == 0:
        return
    if fill:
        # fill_invalid=True is the intended mode (e.g. diagonal-matrix
        # division) — the reference only prints the fill count under
        # verbose (coeff_maker.py:104-112), it does not warn. Warning
        # unconditionally would spam every normal evaluation.
        if verbose:
            print(
                f"Replaced {status.n_invalid} invalid values (NaN/Inf) "
                f"with zeros"
            )
        return
    if status.all_invalid:
        mixed = (
            " The formula mixes vector (Series) and matrix (DataFrame) "
            "operands, which commonly indicates misaligned shapes or labels."
            if mixed_operands
            else ""
        )
        raise ValueError(
            f"All values in the result of formula '{formula_str}' are "
            f"invalid ({_cause_fragment(status)}).{mixed}"
        )
    pct = 100.0 * status.n_invalid / status.n_cells
    warnings.warn(
        f"Result of formula '{formula_str}' contains {status.n_invalid} "
        f"invalid value(s) ({pct:.1f}% of {status.n_cells} cells): "
        f"{_cause_fragment(status)}.",
        UserWarning,
        stacklevel=_caller_level(),
    )


_PACKAGE = os.path.dirname(os.path.abspath(__file__)) + os.sep


def _caller_level() -> int:
    """The ``stacklevel`` that makes ``check``'s warning name the first
    frame outside this package: the user's line, through whichever
    entry point and however many package frames it came."""
    frame, level = sys._getframe(1), 1
    while frame.f_back is not None and frame.f_code.co_filename.startswith(_PACKAGE):
        frame, level = frame.f_back, level + 1
    return level


def validate(
    m: Matrix,
    formula_str: str,
    *,
    fill: bool = False,
    mixed_operands: bool = False,
    verbose: bool = False,
    carrier: Carrier = FLOAT,
) -> tuple[Matrix, int]:
    """Audit a compiled result (``audit_row``); fill, warn, or raise.

    Returns ``(result, invalid_count)`` like reference ``validate``
    (coeff_maker.py:68-141).
    """
    status = status_of(audit_row(m, carrier), m.value_cols)
    check(status, formula_str, fill=fill, mixed_operands=mixed_operands, verbose=verbose)
    if fill and status.n_invalid:
        m = fill_matrix(m, carrier)
    return m, status.n_invalid
