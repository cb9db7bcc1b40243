"""Named-dataset matrix form and matrix <-> pandas conversion.

The reference holds its datasets in a plain ``data_dict: dict[str,
pd.DataFrame | pd.Series]`` (reference coeff_maker.py:592) and relies
on the pandas row index for alignment. Spark has no row order, so a
matrix here is a DataFrame with an explicit ``__row_id__`` column
(string-typed row label) plus one column per matrix column (SURVEY.md
§1.1). Vectors stay pandas Series, as in the reference: they are
small by construction — they broadcast across matrix *columns*
(reference coeff_maker.py:757-763) — so they stay on the driver and
are inlined as literals at compile time (zero shuffle).

A pandas operand enters through one path, ``_matrix_from_pandas``
(a Series through its codec's ``cast``), and a ``Codec`` decides how
its cells travel: ``FLOAT64`` as doubles, or under ADP
``adp.decimal_codec`` as exact decimal strings. As in the reference,
where ADP only casts every cell to ``mpf`` at registration (reference
coeff_maker.py:647-671), precision is a cell type, not a second
ingestion.

A Matrix ingested from pandas also keeps its carried cells on the
driver (``Matrix.cells``): the frame it was created from, already in
driver memory. ``plans.alignment`` aligns a formula whose frame
operands all carry cells, up to ``LOCAL_ALIGN_CELLS`` aligned cells,
with one pandas ``concat`` there instead of a join chain in Spark. A
Matrix wrapped from a Spark DataFrame (``matrix_from_spark``) carries
none.

Scale notes (100 TB): matrices are arbitrarily long (rows are
distributed and meet at the alignment join on ``__row_id__``); a
registered Spark frame wider than ``WIDE_MATRIX_THRESHOLD`` columns is
converted to the long/triplet form (SURVEY.md §7 risk 3,
plans/triplet.py), where width is a row dimension.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ssb_coefficient_maker_spark.functions.math import ident
from ssb_coefficient_maker_spark.session import ROW_ID

WIDE_MATRIX_THRESHOLD = 4000


@dataclass
class Matrix:
    """A named matrix: Spark DataFrame with ROW_ID + value columns
    (doubles, or ADP's decimal strings). ``cells`` is the pandas frame
    ``df`` was created from (``ROW_ID`` label text plus the carried
    value columns) when the matrix was ingested from pandas, else
    None; the alignment planner reads it instead of joining in
    Spark."""

    df: DataFrame
    value_cols: list[str] = field(default_factory=list)
    cells: pd.DataFrame | None = field(default=None, repr=False, compare=False)

    @property
    def columns(self) -> list[str]:
        return list(self.value_cols)


def unique_labels(axis: pd.Index, kind: str) -> list[str]:
    """A pandas axis' labels as the strings Spark carries them in.

    Refuses repeated labels — also ones that only repeat as strings,
    such as ``1`` and ``"1"``: operands align by label through an outer
    join, which would pair every copy of a label with every other."""
    labels = pd.Index([str(x) for x in axis])
    repeated = labels[labels.duplicated()].unique()
    if len(repeated):
        raise ValueError(
            f"{kind} labels repeat (as strings): {list(repeated)}; every row "
            "and column label of a DataFrame operand must be unique, because "
            "operands align by label"
        )
    return list(labels)


@dataclass(frozen=True)
class Codec:
    """How a pandas cell is carried in Spark: ``cast`` maps a pandas
    column or Series to its carried values (same index), and
    ``spark_type`` is the Spark type of a carried column."""

    cast: Callable[[pd.Series], pd.Series]
    spark_type: T.DataType


# the reference's float64 ingestion cast (reference coeff_maker.py:634-638):
# non-castable input raises; ADP's codec is ``adp.decimal_codec``
FLOAT64 = Codec(lambda s: s.astype(np.float64), T.DoubleType())


def matrix_from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> Matrix:
    """Ingest a pandas DataFrame as a float64 Matrix (index ->
    ``__row_id__`` strings); non-castable input raises."""
    return _matrix_from_pandas(spark, pdf, FLOAT64)


def _matrix_from_pandas(spark: SparkSession, pdf: pd.DataFrame, codec: Codec) -> Matrix:
    """The one path from a pandas frame to a Matrix: unique string
    labels, and every column carried through ``codec``."""
    rows, cols = unique_labels(pdf.index, "row"), unique_labels(pdf.columns, "column")
    out = pd.DataFrame({ROW_ID: rows})
    for (_, values), dst in zip(pdf.items(), cols):
        out[dst] = codec.cast(values).to_numpy()
    schema = T.StructType(
        [T.StructField(ROW_ID, T.StringType(), False)]
        + [T.StructField(c, codec.spark_type, True) for c in cols]
    )
    return Matrix(
        df=_rightsized(spark.createDataFrame(out, schema=schema), len(out)),
        value_cols=cols,
        cells=out,
    )


def _rightsized(df: DataFrame, n_rows: int) -> DataFrame:
    """Coalesce a driver-ingested frame to ~10k rows per partition.

    Arrow ``createDataFrame(pandas)`` slices the input into
    ``defaultParallelism`` chunks regardless of size, so a 300-row
    matrix arrives as 32 partitions and every downstream Python stage
    (the ADP ``mapInPandas``) spawns one worker per core for ~10 rows
    each (guide §4.1: the boundary cost is per task, not per row).
    The row count is known exactly on the driver — coalesce (narrow,
    never increases partitions) to the size the data warrants.
    """
    return df.coalesce(max(1, -(-n_rows // 10_000)))


def matrix_from_spark(df: DataFrame) -> Matrix:
    """Wrap an existing Spark DataFrame as a Matrix: its ``__row_id__``
    column holds the row labels, every other column is a value column.
    The row-id column is required — Spark rows are unordered, so an
    explicit key is needed; never synthesize one after a shuffle
    (SURVEY.md §7 risk 2). Its labels are not checked for repeats:
    that would cost a job.
    """
    if ROW_ID not in df.columns:
        raise ValueError(
            f"matrix DataFrame needs an explicit row-id column {ROW_ID!r}; "
            f"got columns {df.columns}"
        )
    value_cols = [c for c in df.columns if c != ROW_ID]
    # keep the row-id's NATIVE type: a long key joins on long (and can
    # reuse upstream hash-partitioning, e.g. a groupBy that produced
    # this matrix); the alignment join only falls back to string when
    # operands disagree on the key type
    cols = [f"CAST({ident(c)} AS DOUBLE) AS {ident(c)}" for c in value_cols]
    return Matrix(df=df.selectExpr(ROW_ID, *cols), value_cols=value_cols)


def as_labels(text: pd.Index) -> pd.Index:
    """Collected label text as pandas labels: numbers when every label
    is a number's canonical text (``"1"``, ``"2.5"``, not ``"01"``),
    else the text as it is."""
    numeric = pd.to_numeric(text, errors="coerce")
    if pd.isna(numeric).any() or not (pd.Index(numeric).astype(str) == text).all():
        return pd.Index(text)
    return pd.Index(numeric)


def label_order(text: pd.Index) -> tuple[np.ndarray, pd.Index]:
    """Positions that sort collected label text — numerically when it
    reads as numbers (``as_labels``) — and the labels."""
    labels = as_labels(text)
    return np.argsort(labels.to_numpy(), kind="stable"), labels


def labelled(pdf: pd.DataFrame, value_cols: list[str]) -> pd.DataFrame:
    """A collected result (``__row_id__`` plus ``value_cols``) as the
    pandas matrix: rows indexed by their label and sorted by
    ``label_order`` (Spark output order is nondeterministic), row and
    column labels as ``as_labels`` reads them (pandas parity)."""
    order, idx = label_order(pd.Index(pdf[ROW_ID].to_numpy()))
    out = pdf[value_cols].iloc[order]
    out.index = idx[order]
    out.columns = as_labels(pd.Index(value_cols))
    return out


def matrix_to_pandas(m: Matrix) -> pd.DataFrame:
    """Collect a Matrix back to pandas, restoring the row index
    (``labelled``). Collect is for tests and small results only —
    production results go to parquet sinks."""
    return labelled(m.df.toPandas(), m.value_cols)
