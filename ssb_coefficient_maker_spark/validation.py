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
the audit adds no job. ``validate`` runs it as a job of its own only
for ``evaluate_formula``, whose result stays lazy.

One validator serves both value carriers: float64 columns and the
decimal strings of ADP mode (adp.py). A ``Carrier`` names the carrier's
invalid and ±Inf predicates and its fill literal, as SQL text;
everything else — the audit aggregate, the fill projection and the
warn/raise decision (``check``) — is shared by the standalone audit and
the sink.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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
    row = df.agg(*audit_exprs(value_cols, carrier)).collect()[0].asDict()
    return status_of(row, value_cols)


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
        stacklevel=3,
    )


def validate(
    df: DataFrame,
    value_cols: list[str],
    formula_str: str,
    *,
    fill: bool = False,
    mixed_operands: bool = False,
    verbose: bool = False,
    carrier: Carrier = FLOAT,
) -> tuple[DataFrame, int]:
    """Audit a compiled result; fill, warn, or raise.

    Returns ``(result_df, invalid_count)`` like reference
    ``validate`` (coeff_maker.py:68-141).
    """
    status = invalid_status(df, value_cols, carrier)
    check(status, formula_str, fill=fill, mixed_operands=mixed_operands, verbose=verbose)
    if fill and status.n_invalid:
        df = fill_invalid(df, value_cols, carrier)
    return df, status.n_invalid
