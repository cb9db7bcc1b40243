"""ssb_coefficient_maker_spark — a PySpark-native analytics engine.

A ground-up rebuild of the capabilities of
``statisticsnorway/ssb-coefficient-maker`` (reference: pure-pandas
formula-over-named-matrices library, ``src/ssb_coefficient_maker/
coeff_maker.py`` in the reference repo) as an idiomatic Spark engine:

- Formulas are parsed once with Python ``ast`` into a small typed
  expression tree and compiled, in pure Python, to Spark SQL
  expression text: one string per output column, applied in one
  ``selectExpr`` per plan step, which Catalyst optimizes and codegens
  (the reference re-parses every formula twice, with sympy and
  pandas-eval; see reference coeff_maker.py:693 and :766).
- Frame-vs-frame label alignment makes one table on ``__row_id__``:
  one pandas concat on the driver when every frame operand is a small
  registered pandas frame, where a float formula is then evaluated in
  numpy as the reference's ``pd.eval`` is, with no Spark job; else a
  chain of lazy full-outer joins for the formula's one plan (not a
  chain of eager pandas aligns).
- Validation (NaN/Inf audit) is a single aggregate pass, not the
  reference's 1-3 full re-scans per formula.
- Beyond the reference surface, the package carries a full relational
  operator surface (scans, joins, aggs, windows, set-ops) and
  LLM-data-pipeline operators (dedup, similarity search, text
  analysis, multimodal plumbing) designed for 100 TB scale.

Public API parity targets (reference coeff_maker.py:589-597, 885-896):
``FormulaEvaluator`` and ``CoefficientCalculator``.
"""

from __future__ import annotations

from ssb_coefficient_maker_spark.api import CoefficientCalculator, FormulaEvaluator
from ssb_coefficient_maker_spark.catalog import matrix_from_pandas, matrix_to_pandas
from ssb_coefficient_maker_spark.session import get_spark

__all__ = [
    "CoefficientCalculator",
    "FormulaEvaluator",
    "get_spark",
    "matrix_from_pandas",
    "matrix_to_pandas",
]

__version__ = "0.1.0"


def release_caches() -> None:
    """Unpersist every session-scoped cache the engine maintains
    (MinHash shingle table, IVF index, PQ index — one registry,
    cachereg). Safe any time; the next use rebuilds. Long-lived
    sessions embedding the engine call this between workloads; each
    cache also self-bounds to ONE pinned corpus, evicting on corpus
    switch or testdata regeneration."""
    from ssb_coefficient_maker_spark.cachereg import release_all

    release_all()
