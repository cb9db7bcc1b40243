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

A Matrix ingested from pandas keeps its carried cells on the driver
(``Matrix.cells``), with their Spark schema, and becomes a Spark frame
only when a plan first reads ``Matrix.df``: registering a frame costs
no ``createDataFrame``. ``plans.alignment`` aligns and evaluates a
float formula whose frame operands all carry cells, up to
``LOCAL_ALIGN_CELLS`` aligned cells, on the driver, and its result is
such a Matrix too. A Matrix wrapped from a Spark DataFrame
(``matrix_from_spark``) carries no cells.

Scale notes (100 TB): matrices are arbitrarily long (rows are
distributed and meet at the alignment join on ``__row_id__``); a
registered Spark frame wider than ``WIDE_MATRIX_THRESHOLD`` columns is
converted to the long/triplet form (SURVEY.md §7 risk 3,
plans/triplet.py), where width is a row dimension.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ssb_coefficient_maker_spark.functions.math import ident
from ssb_coefficient_maker_spark.session import ROW_ID

WIDE_MATRIX_THRESHOLD = 4000


class Matrix:
    """A named matrix: a Spark DataFrame ``df`` with its label ``keys``
    (``ROW_ID``; ``ROW_ID`` and ``__col_id__`` for a triplet, see
    plans/triplet.py) plus value columns (doubles, or ADP's decimal
    strings).

    A Matrix made on the driver (``Matrix.from_cells``: a pandas frame
    ingested, or a result the driver computed) carries its ``cells``,
    a pandas frame of the key columns' label text plus the value
    columns, and their Spark ``schema``. Its ``df`` is created from
    them the first time something reads it, and kept, with each NaN
    cell of a double column as NaN, not NULL. A Matrix wrapped around a
    Spark DataFrame has ``cells`` None."""

    def __init__(self, df: DataFrame | None, value_cols: list[str],
                 keys: tuple[str, ...] = (ROW_ID,)):
        self._df = df
        self.value_cols = list(value_cols)
        self.keys = tuple(keys)
        self.cells: pd.DataFrame | None = None
        self.schema: T.StructType | None = None
        self.spark: SparkSession | None = None

    @classmethod
    def from_cells(cls, spark: SparkSession, cells: pd.DataFrame, schema: T.StructType,
                   keys: tuple[str, ...] = (ROW_ID,)) -> Matrix:
        """A driver-held Matrix: ``cells`` has the columns of
        ``schema``, the ``keys`` first."""
        m = cls(None, [f.name for f in schema.fields[len(keys):]], keys)
        m.cells, m.schema, m.spark = cells, schema, spark
        return m

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            # Arrow's pandas conversion masks every NaN cell to NULL;
            # ``fillna`` reads a double column's NULL back as NaN and
            # leaves text columns as they are
            df = self.spark.createDataFrame(self.cells, self.schema).fillna(float("nan"))
            self._df = _rightsized(df, len(self.cells))
        return self._df

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
    out = pd.DataFrame({ROW_ID: np.array(rows, dtype=object)})
    for (_, values), dst in zip(pdf.items(), cols):
        out[dst] = codec.cast(values).to_numpy()
    return Matrix.from_cells(spark, out, cells_schema(cols, codec.spark_type))


def cells_schema(value_cols: list[str], value_type: T.DataType,
                 keys: tuple[str, ...] = (ROW_ID,)) -> T.StructType:
    """The Spark schema of driver-held cells: the ``keys``' label text,
    then ``value_cols`` of ``value_type``."""
    return T.StructType([T.StructField(k, T.StringType(), False) for k in keys]
                        + [T.StructField(c, value_type, True) for c in value_cols])


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
    return Matrix(df.selectExpr(ROW_ID, *cols), value_cols)


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
    """A Matrix as pandas, restoring the row index (``labelled``): its
    driver-held cells, else a collect of ``df``. Collect is for tests
    and small results only — production results go to parquet sinks."""
    return labelled(m.df.toPandas() if m.cells is None else m.cells, m.value_cols)
