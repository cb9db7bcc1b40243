"""Public API parity layer: ``FormulaEvaluator`` and
``CoefficientCalculator``.

Signature parity targets (SURVEY.md §2.1; reference
coeff_maker.py:589-597 and :885-896). Differences, by design:

- Results are **lazy Spark DataFrames** (``__row_id__`` + double
  columns), not eager pandas frames. ``evaluate_to_pandas`` collects
  for tests/small results.
- Where a formula runs is the router's choice (``_route``; README
  "Routing"). A float formula over small pandas-registered frames is
  evaluated, audited and filled on the driver in numpy, as the
  reference's ``pd.eval`` is; its result becomes a Spark DataFrame
  only when the caller asks for one (``evaluate_formula``, the parquet
  sinks), and ``evaluate_to_pandas`` then runs no Spark job. So is a
  float formula over a small dense ``leontief()`` result, which stays
  on the driver after its one collect of A. Any other matrix formula
  runs as one Spark plan.
- Vector∘vector formulas return a labeled pandas Series instead of
  the reference's accidental raw ndarray (SURVEY.md §1.3 wart).
- ``adp_enabled`` defaults to False in BOTH classes (the reference's
  defaults disagree with each other and with its docs — SURVEY.md
  §2.1); ADP division actually works here (the reference's is broken
  under pandas ≥2.x).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterator, Mapping

import mpmath
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ssb_coefficient_maker_spark import adp as adp_mod
from ssb_coefficient_maker_spark import catalog
from ssb_coefficient_maker_spark.catalog import (
    FLOAT64,
    Matrix,
    matrix_from_spark,
    matrix_to_pandas,
)
from ssb_coefficient_maker_spark.formula.parser import (
    FormulaError,
    FormulaExpr,
    extract_variables,
    matrix_ops,
    parse_formula,
)
from ssb_coefficient_maker_spark.plans import triplet as triplet_plans
from ssb_coefficient_maker_spark.plans.alignment import (
    NUMPY_OPS,
    compile_formula,
    compile_formulas_fused,
    eval_driver,
)
from ssb_coefficient_maker_spark.plans.triplet import (
    COL_ID,
    VALUE,
    TripletMatrix,
    wide_to_triplet,
)
from ssb_coefficient_maker_spark.session import ROW_ID, get_spark
from ssb_coefficient_maker_spark.validation import (
    FLOAT,
    Carrier,
    audited_on_action,
    check,
    fill_matrix,
    status_of,
)
from ssb_coefficient_maker_spark.validation import validate as _validate


@dataclass
class _Plan:
    """One formula's route (``FormulaEvaluator._route``): ``kind`` is
    scalar | vector | wide | triplet | adp. Matrix kinds carry their
    ``result`` Matrix: lazy in Spark, or on the wide and triplet routes
    possibly computed on the driver (it carries its cells); a triplet
    result is keyed on ``__col_id__`` too. Driver kinds carry
    ``value``."""

    kind: str
    formula: str
    result: Matrix | None = None
    value: Any = None
    mixed: bool = False  # Series and DataFrame operands (audit message)

    @property
    def value_cols(self) -> list[str]:
        return self.result.value_cols

    @property
    def carrier(self) -> Carrier:
        return adp_mod.ADP if self.kind == "adp" else FLOAT


class FormulaEvaluator:
    """Evaluate formula strings over named datasets, Spark-side.

    Reference: ``FormulaEvaluator`` (coeff_maker.py:572-840).
    """

    def __init__(
        self,
        data_dict: Mapping[str, Any],
        adp_enabled: bool = False,
        decimal_precision: int = 35,
        fill_invalid: bool = False,
        verbose: bool = False,
        spark: SparkSession | None = None,
        validation: str = "eager",
    ):
        """``validation`` governs what ``evaluate_formula`` returns.
        ``'eager'`` (default) reproduces the reference's behavior: the
        evaluation immediately audits the result (one aggregate job)
        and warns/raises. ``'defer'`` skips that action: with
        ``fill_invalid`` the fill is fused lazily into the plan and the
        result computes exactly once at the consumer's action (a
        formula on the driver route computes, and fills, at once). The
        materializing calls (``evaluate_to_pandas``,
        ``evaluate_to_parquet``, ``compute_coefficients_to_pandas``)
        audit on their own collect or write in either mode."""
        if decimal_precision <= 0:
            raise ValueError("decimal_precision must be positive")
        if validation not in ("eager", "defer"):
            raise ValueError("validation must be 'eager' or 'defer'")
        self.spark = spark or get_spark()
        self.adp_enabled = adp_enabled
        self.decimal_precision = decimal_precision
        self.fill_invalid = fill_invalid
        self.validation = validation
        self.verbose = verbose
        self.last_invalid_count: int | None = None
        self.datasets: dict[str, Matrix | TripletMatrix | pd.Series | float] = {}
        # label text -> the pandas label it came from (first registration wins)
        self._labels: dict[str, Any] = {}
        for name, value in data_dict.items():
            self._register(name, value)
        if self.verbose:
            # reference trace shapes, coeff_maker.py:640-645
            print(
                f"FormulaEvaluator initialized with {len(data_dict)} variables"
            )
            print(
                f"Settings: precision_mode="
                f"{'mpmath' if adp_enabled else 'numpy'}, "
                f"fill_invalid={fill_invalid}"
            )

    def _register(self, name: str, value: Any) -> None:
        if not str(name).isidentifier():
            raise ValueError(f"dataset name {name!r} is not a valid identifier")
        codec = adp_mod.decimal_codec(self.decimal_precision) if self.adp_enabled else FLOAT64
        if isinstance(value, pd.DataFrame):
            self.datasets[name] = catalog._matrix_from_pandas(self.spark, value, codec)
            for label in (*value.index, *value.columns):
                self._labels.setdefault(str(label), label)
        elif isinstance(value, pd.Series):
            self.datasets[name] = codec.cast(value)
        elif isinstance(value, DataFrame):
            if COL_ID in value.columns and VALUE in value.columns:
                self.datasets[name] = TripletMatrix(value)
            elif len(value.columns) - 1 > catalog.WIDE_MATRIX_THRESHOLD:
                # wide matrices switch to the long/triplet form
                # automatically (SURVEY.md §7 risk 3)
                self.datasets[name] = wide_to_triplet(matrix_from_spark(value))
            else:
                self.datasets[name] = matrix_from_spark(value)
        elif isinstance(value, (Matrix, TripletMatrix)):
            self.datasets[name] = value
        elif isinstance(value, (int, float)):
            self.datasets[name] = float(value)
        else:
            raise TypeError(
                f"cannot register {name!r}: unsupported type {type(value)}; "
                f"use pandas DataFrame/Series, Spark DataFrame (with "
                f"__row_id__), or a scalar"
            )

    # -- parity surface (reference coeff_maker.py:673, :700, :800) --------

    def parse_formula(self, formula: str) -> FormulaExpr:
        if self.verbose:
            print(f"Parsing formula: {formula}")
        expr = parse_formula(formula)
        if self.verbose:
            print(f"Parsed expression: {expr}")
        return expr

    def extract_variables(self, expr: FormulaExpr | str) -> list[str]:
        variables = extract_variables(expr)
        if self.verbose:
            print(f"Variables in expression: {variables}")
        return variables

    def evaluate_formula(self, formula: str | FormulaExpr) -> Any:
        """Evaluate a formula; returns a lazy Spark DataFrame for matrix
        results, a pandas Series for vector-only results, a float for
        scalar-only formulas.

        Verbose traces mirror the reference's message shapes
        (coeff_maker.py:812-841): the evaluation banner, the division
        note, and the completion line. One documented deviation: a
        lazy Spark result prints ``lazy (Spark DataFrame)`` where the
        reference prints the pandas shape — forcing a count() to
        report a shape would defeat the lazy contract.
        """
        return self._evaluated(formula, self._result)

    def _evaluated(self, formula: str | FormulaExpr, materialize,
                   expr: FormulaExpr | None = None) -> Any:
        """Route ``formula`` and hand its plan to ``materialize``,
        between the verbose banner and completion lines. ``expr`` is
        the formula text's parsed tree when the caller has it."""
        if self.verbose:
            shown = formula if isinstance(formula, str) else "<parsed>"
            print(f"Evaluating formula: {shown}")
            if "/" in str(shown):
                fate = "be replaced with zeros" if self.fill_invalid else "trigger warnings or errors"
                print(f"Note: Formula contains division. Invalid values will {fate}.")
        result = materialize(self._plan(formula, expr))
        if self.verbose:
            if isinstance(result, DataFrame):
                shape: Any = "lazy (Spark DataFrame)"
            elif hasattr(result, "shape"):
                shape = result.shape
            else:
                shape = "scalar"
            print(f"Formula evaluation complete. Result shape: {shape}")
        return result

    def _plan(self, formula: str | FormulaExpr, expr: FormulaExpr | None = None) -> _Plan:
        self.last_invalid_count = None  # set again by this formula's audit
        if isinstance(formula, FormulaExpr):
            return self._route(formula, "<parsed>")
        return self._route(expr if expr is not None else self.parse_formula(formula), formula)

    def _route(self, expr: FormulaExpr, formula: str, *, fuse: bool = False) -> _Plan:
        """Decide a formula's execution path and build its plan — the
        one place the routing rules (README "Routing") live. With
        ``fuse``, a wide formula comes back uncompiled (``result``
        None): the batch caller compiles it inside a fused group."""
        names = self.extract_variables(expr)
        missing = [n for n in names if n not in self.datasets]
        if missing:
            raise KeyError(
                f"formula '{formula}' references unknown dataset(s): {missing}"
            )
        operands = [self.datasets[n] for n in names]
        matrices = any(isinstance(d, Matrix) for d in operands)
        vectors = any(isinstance(d, pd.Series) for d in operands)
        triplets = [n for n, d in zip(names, operands) if isinstance(d, TripletMatrix)]
        used = matrix_ops(expr)
        mixed = matrices and vectors
        if used and not (matrices or triplets):
            raise FormulaError(f"{' and '.join(used)}: defined for matrix operands only")
        if not (matrices or triplets):
            # scalar- and Series-only formulas evaluate on the driver, at
            # full precision under ADP (where mpmath's zero-division
            # guard fires for every operand shape)
            ops = adp_mod.MP_OPS if self.adp_enabled else NUMPY_OPS
            with mpmath.workdps(self.decimal_precision):
                value = eval_driver(expr, dict(zip(names, operands)), ops)
            return _Plan("vector" if vectors else "scalar", formula, value=value)
        to_triplet = bool(used or triplets)
        if self.adp_enabled and to_triplet and (matrices or vectors):
            demoted = [n for n, d in zip(names, operands) if isinstance(d, (Matrix, pd.Series))]
            causes = used + [f"TripletMatrix operand {n!r}" for n in triplets]
            raise NotImplementedError(
                f"ADP formula refused: {' and '.join(causes)} send it to the float64 "
                f"triplet route, which would silently demote its ADP operand(s) {demoted}. "
                "Evaluate with adp_enabled=False, or register any TripletMatrix "
                "operand as a pandas DataFrame."
            )
        if to_triplet:
            result = triplet_plans.compile_formula_triplet(expr, self.datasets)
            return _Plan("triplet", formula, result, mixed=mixed)
        if self.adp_enabled:
            df, cols = adp_mod.compile_adp_formula(
                expr, self.datasets, self.decimal_precision
            )
            return _Plan("adp", formula, Matrix(df, cols), mixed=mixed)
        if fuse:
            return _Plan("wide", formula)
        return _Plan("wide", formula, compile_formula(expr, self.datasets), mixed=mixed)

    def _result(self, plan: _Plan) -> Any:
        """A plan's ``evaluate_formula`` result: the eager audit (fill,
        warn, raise), or in defer mode just the fill. A result computed
        on the driver is audited and filled there (``validation``), and
        comes back as the DataFrame made from its cells."""
        m = plan.result
        if m is None:
            return plan.value
        if self.validation == "defer":
            return (fill_matrix(m, plan.carrier) if self.fill_invalid else m).df
        audit = adp_mod.validate_adp if plan.kind == "adp" else _validate
        with adp_mod.zero_division_refused():
            m, self.last_invalid_count = audit(m, plan.formula, fill=self.fill_invalid,
                                               mixed_operands=plan.mixed, verbose=self.verbose)
        return m.df

    def _sink(self, plan: _Plan, path: str | None = None) -> tuple[dict, Any]:
        """Materialize a plan's result in ONE action — a parquet write
        to ``path``, else a pandas collect (``_collect``). The audit
        metrics ride that action (``validation.audited_on_action``) and
        count the cells BEFORE any fill, which is fused into the
        projection. A result computed on the driver is counted and
        filled there in numpy, so its collect runs no job and its write
        one. Returns the ``validation.audit_exprs`` row and the
        collected frame (None for a write)."""
        m, row = audited_on_action(plan.result, plan.carrier)
        if self.fill_invalid:
            m = fill_matrix(m, plan.carrier)
        with adp_mod.zero_division_refused():
            if path is None:
                pdf = self._collect(plan, m)
            else:
                m.df.write.mode("overwrite").parquet(path)
                pdf = None
        return row(), pdf

    def _collect(self, plan: _Plan, m: Matrix) -> pd.DataFrame:
        """Collect a plan's result as its pandas matrix: a triplet
        result pivots on the driver, an ADP result collects as mpf. A
        label that a pandas operand registered comes back as that
        label; any other keeps what ``catalog.as_labels`` reads."""
        if plan.kind == "adp":
            pdf = adp_mod.adp_to_pandas(m.df, m.value_cols, self.decimal_precision)
        elif plan.kind == "triplet":
            cells = m.df.toPandas() if m.cells is None else m.cells
            wide = cells.pivot(index=ROW_ID, columns=COL_ID, values=VALUE)
            order, _ = catalog.label_order(wide.columns)
            pdf = catalog.labelled(wide.reset_index(), list(wide.columns[order]))
        else:
            pdf = matrix_to_pandas(m)
        pdf.index, pdf.columns = (axis.map(lambda x: self._labels.get(str(x), x))
                                  for axis in (pdf.index, pdf.columns))
        return pdf

    def _checked(self, plan: _Plan, row: dict) -> int:
        """Warn or raise like ``evaluate_formula`` on an audit row; sets
        and returns ``last_invalid_count``."""
        status = status_of(row, plan.value_cols)
        check(status, plan.formula, fill=self.fill_invalid, mixed_operands=plan.mixed,
              verbose=self.verbose)
        self.last_invalid_count = status.n_invalid
        return status.n_invalid

    def _audited(self, plan: _Plan, path: str | None = None) -> tuple[dict, Any]:
        """``_sink``, then warn or raise on its counts (``_checked``)."""
        row, pdf = self._sink(plan, path)
        self._checked(plan, row)
        return row, pdf

    def evaluate_to_parquet(self, formula: str, path: str) -> dict:
        """Production path: evaluate + validate + write in ONE pass.

        The interactive ``evaluate_formula`` runs a separate audit
        aggregate before returning (reference-parity eager warnings).
        Here the invalid-count metrics ride the SAME action that
        writes the result, via ``DataFrame.observe`` — each cell is
        touched exactly once (the reference re-scans results up to 3
        times, reference coeff_maker.py:93,101,106). Fill (when
        enabled) is fused into the write projection. Warns or raises
        like ``evaluate_formula``, but after the write, in either
        validation mode; returns the metrics dict.
        """
        plan = self._plan(formula)
        if plan.result is None:
            raise ValueError("evaluate_to_parquet needs at least one matrix operand")
        row, _ = self._audited(plan, path)
        status = status_of(row, plan.value_cols)
        return {"rows": row["__rows__"], "cells": status.n_cells, "invalid": status.n_invalid,
                "path": path}

    def evaluate_to_pandas(self, formula: str | FormulaExpr) -> Any:
        """Evaluate and collect to pandas (tests / small results). Like
        ``evaluate_to_parquet``, the audit rides the collect in either
        validation mode; warns or raises like ``evaluate_formula``,
        after the collect."""
        return self._evaluated(formula, self._collected)

    def _collected(self, plan: _Plan) -> Any:
        """A plan's ``evaluate_to_pandas`` result."""
        return plan.value if plan.result is None else self._audited(plan)[1]


@dataclass
class FusedGroup:
    """One fused-evaluation plan: ``df`` holds ``__row_id__`` plus
    ``{result}_{col}`` columns for every formula in the group (one scan
    of each shared input); ``result_cols`` maps result name → its
    column list."""

    df: DataFrame
    result_cols: dict[str, list[str]]

    @property
    def value_cols(self) -> list[str]:
        return [c for cols in self.result_cols.values() for c in cols]


class CoefficientCalculator:
    """Batch driver over a coefficient map (reference
    coeff_maker.py:843-1016).

    The map is metadata (a handful of rows) — it stays driver-side;
    every formula becomes an independent lazy Spark plan. Results do
    NOT feed back into the dataset catalog (same no-chaining rule as
    the reference, coeff_maker.py:987-1012).
    """

    def __init__(
        self,
        data_dict: Mapping[str, Any],
        coefficient_map: pd.DataFrame,
        result_name_col: str,
        formula_name_col: str,
        adp_enabled: bool = False,
        decimal_precision: int = 35,
        fill_invalid: bool = False,
        verbose: bool = False,
        spark: SparkSession | None = None,
        validation: str = "eager",
    ):
        if isinstance(coefficient_map, DataFrame):
            coefficient_map = coefficient_map.toPandas()
        self._validate_headers(coefficient_map, [result_name_col, formula_name_col])
        self.coefficient_map = coefficient_map
        self.result_name_col = result_name_col
        self.formula_name_col = formula_name_col
        self.verbose = verbose
        self.evaluator = FormulaEvaluator(
            data_dict,
            adp_enabled=adp_enabled,
            decimal_precision=decimal_precision,
            fill_invalid=fill_invalid,
            verbose=verbose,
            spark=spark,
            validation=validation,
        )

    @staticmethod
    def _validate_headers(cmap: pd.DataFrame, mandatory: list[str]) -> None:
        # reference _validate_coefficient_map_headers (coeff_maker.py:938-954)
        missing = [c for c in mandatory if c not in cmap.columns]
        if missing:
            raise KeyError(
                f"coefficient map is missing mandatory column(s): {missing}; "
                f"has {list(cmap.columns)}"
            )

    def _rows(self) -> Iterator[tuple[str, str, FormulaExpr]]:
        """``(name, formula, parsed)`` per map row; skips empty
        formulas, unparseable ones and ones with unknown variables
        (reference coeff_maker.py:989-1012 fail-soft loop)."""
        for _, row in self.coefficient_map.iterrows():
            name = row[self.result_name_col]
            formula = row[self.formula_name_col]
            if (
                formula is None
                or (isinstance(formula, float) and np.isnan(formula))
                or not str(formula).strip()
            ):
                if self.verbose:
                    # reference shape, coeff_maker.py:994 (the reference
                    # prints unconditionally; gating on verbose is the
                    # documented deviation — batch runs must not spam)
                    print(f"Skipping coefficient {name}: No formula provided")
                continue
            try:
                expr = self.evaluator.parse_formula(str(formula))
            except Exception as exc:
                if self.verbose:
                    print(f"Skipping coefficient {name}: unparseable formula {formula!r}: {exc}")
                continue
            # _route prints the variables once the row is evaluated
            unknown = [v for v in extract_variables(expr) if v not in self.evaluator.datasets]
            if unknown:
                if self.verbose:
                    # reference shape, coeff_maker.py:1005
                    print(f"Skipping coefficient {name}: Missing variables {unknown}")
                continue
            yield name, str(formula), expr

    def compute_coefficients(self) -> dict[str, Any]:
        """Evaluate every mapped formula; skip empty formulas and
        formulas with unknown variables (reference
        coeff_maker.py:989-1012 fail-soft loop)."""
        return self._computed(self.evaluator._result)

    def _computed(self, materialize) -> dict[str, Any]:
        """Evaluate each row's parsed formula, materialized like
        ``FormulaEvaluator.evaluate_formula`` (``_result``) or
        ``evaluate_to_pandas`` (``_collected``)."""
        results: dict[str, Any] = {}
        for name, formula, expr in self._rows():
            results[name] = self.evaluator._evaluated(formula, materialize, expr)
            if self.verbose:
                # reference shape, coeff_maker.py:1014
                print(f"Successfully computed coefficient: {name}")
        return results

    def _fused_plans(self) -> tuple[list[tuple[Matrix, dict[str, list[str]]]], dict[str, _Plan]]:
        """Route every map row: the wide rows go to the fused compiler
        (``compile_formulas_fused``), which gives one unfilled group
        result and its result columns per frame-operand set; every
        other row keeps its plan. Under ADP no row is wide, so every
        row keeps its own plan."""
        extras: dict[str, _Plan] = {}
        wide: dict[str, FormulaExpr] = {}
        for name, formula, expr in self._rows():
            plan = self.evaluator._route(expr, formula, fuse=True)
            if plan.kind == "wide":
                wide[name] = expr
            else:
                extras[name] = plan
        return compile_formulas_fused(wide, self.evaluator.datasets), extras

    def compute_coefficients_fused(
        self,
    ) -> tuple[list["FusedGroup"], dict[str, Any]]:
        """Batch evaluation with shared-operand fusion.

        Map rows are grouped by their frame-operand set; each group
        compiles to ONE plan (``plans.alignment.compile_formulas_fused``)
        — one scan of each shared input, all of the group's formulas
        projected from the same aligned join. The reference's loop
        (coeff_maker.py:989-1012) re-evaluates shared operands once per
        formula; at 100 TB fusing N formulas over one operand set
        divides the input-scan volume by N.

        Returns ``(groups, extras)``: each ``FusedGroup`` carries the
        fused DataFrame (``__row_id__`` + ``{result}_{col}`` columns,
        filled when ``fill_invalid``) and the result→columns mapping;
        ``extras`` holds every other row's ``evaluate_formula`` result
        (vector/scalar-only, TripletMatrix-operand and ``.T``/``@``
        formulas). Under ADP every row is an extra, evaluated as
        ``compute_coefficients`` evaluates it, so ``groups`` is empty.
        A group whose ``{result}_{col}`` names collide raises
        ``FormulaError``. Skip rules (empty formula, unknown variable,
        unparseable) match ``compute_coefficients``.
        """
        groups, extras = self._fused_plans()
        fill = self.evaluator.fill_invalid
        return ([FusedGroup((fill_matrix(m) if fill else m).df, cols) for m, cols in groups],
                {name: self.evaluator._result(p) for name, p in extras.items()})

    def compute_coefficients_fused_to_parquet(self, base_path: str) -> dict[str, Any]:
        """Batch production path: fused evaluation + parquet sink, ONE
        write action per operand-sharing GROUP (not per formula).

        The reference's batch loop writes/collects each formula's
        result separately, re-evaluating shared operands every time
        (coeff_maker.py:989-1016); here a group of N formulas over the
        same operands costs one scan of each input and one write.
        Returns a manifest: result name → {"path", "columns", "rows",
        "invalid"} (plus driver-cheap vector/scalar results under
        "extras"). ``invalid`` counts the result's invalid cells before
        any fill, observed on the write — no audit scan. Matrix
        results outside the fused groups (``.T``/``@`` formulas,
        TripletMatrix operands) are written too, one sink each at
        ``{base_path}/extra={name}``, so no coefficient in the map is
        silently dropped from the batch sink.
        """
        groups, extras = self._fused_plans()
        manifest: dict[str, Any] = {"extras": {}}

        def sink(plan: _Plan, path: str, results: dict[str, list[str]]) -> None:
            row, _ = self.evaluator._sink(plan, path)
            for rname, cols in results.items():
                invalid = status_of(row, cols).n_invalid
                manifest[rname] = {"path": path, "columns": cols, "rows": row["__rows__"],
                                   "invalid": invalid}

        for name, plan in extras.items():
            if plan.result is None:
                manifest["extras"][name] = plan.value  # driver-cheap Series/scalar
            else:
                sink(plan, f"{base_path}/extra={name}", {name: plan.value_cols})
        for gi, (m, cols) in enumerate(groups):
            sink(_Plan("wide", "", m), f"{base_path}/group={gi}", cols)
        return manifest

    def compute_coefficients_to_pandas(self) -> dict[str, Any]:
        return self._computed(self.evaluator._collected)
