"""The benchmark's workloads.

Each workload makes its inputs from the seed with numpy, computes the
expected results independently (numpy, pandas or mpmath, never the
engine), and runs one pass through the engine's public API.  A pass
returns what it materialized; ``check`` compares that with the
expected results outside the timed region.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd


@dataclass
class PassResult:
    wall_s: float = 0.0
    latencies_s: list[float] = field(default_factory=list)  # one per formula
    cells: int = 0  # result cells materialized
    cpu_s: dict[str, float] = field(default_factory=dict)  # process kind -> CPU seconds
    outputs: dict[str, Any] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)  # formula -> exception


def _fill(values):
    """The engine's ``fill_invalid``: NaN and +-Inf become 0."""
    return np.where(np.isfinite(values), values, 0.0)


def _close(got, expected, rtol: float = 1e-9) -> bool:
    return np.allclose(np.asarray(got, dtype=np.float64), expected, rtol=rtol, atol=0.0)


def _cmap(formulas: dict[str, str]) -> pd.DataFrame:
    return pd.DataFrame({"coefficient": list(formulas), "formula": list(formulas.values())})


class Workload:
    name: str
    why: str

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed

    def generate(self) -> None:
        """Make inputs and expected results from the seed."""
        raise NotImplementedError

    def run_pass(self) -> PassResult:
        raise NotImplementedError

    def check(self, result: PassResult) -> dict[str, str]:
        """Formula -> reason, for every output that is wrong."""
        raise NotImplementedError

    def _evaluate_each(self, evaluator, formulas: dict[str, str], t0: float) -> PassResult:
        """Evaluate and collect formulas one at a time, timing each from
        the evaluate call to the materialized pandas result."""
        res = PassResult()
        for name, formula in formulas.items():
            t = time.perf_counter()
            try:
                out = evaluator.evaluate_to_pandas(formula)
            except Exception as exc:  # a failed formula is counted, the pass goes on
                res.errors[name] = f"{type(exc).__name__}: {exc}"
                continue
            res.latencies_s.append(time.perf_counter() - t)
            res.outputs[name] = out
            res.cells += int(out.size)
        res.wall_s = time.perf_counter() - t0
        return res


class CoeffMap(Workload):
    """A coefficient map over supply/use matrices at the NACE A10
    aggregation, evaluated with eager validation and fill, ending in the
    Leontief inverse of a technical-coefficient matrix in triplet form."""

    name = "coeffmap_a10"
    why = ("per-formula driver work (parse, plan build, audit, collect) and a Leontief inverse: "
           "a chain of dependent Spark jobs on the triplet path")
    sectors = 10
    tol = 1e-3

    FORMULAS = {
        "margin_ratio": "where(U > M, U / Z, 0)",
        "revalued_share": "pow(abs(U - R) / S, 2) * k + U / x",
        "total_requirements": f"leontief(A, {tol})",
    }

    def generate(self) -> None:
        from ssb_coefficient_maker_spark.plans.triplet import TripletMatrix

        n = self.sectors
        rng = np.random.default_rng(self.seed)
        labels = [f"A{i:02d}" for i in range(n)]

        def frame(lo, hi, index=labels):
            return pd.DataFrame(rng.uniform(lo, hi, (n, n)), index=index, columns=labels)

        z = frame(0.0, 10.0)
        z[rng.random((n, n)) < 0.2] = 0.0  # zero divisors -> Inf
        # half the rows carry labels the other operands lack -> NaN rows
        shifted = labels[n // 2:] + [f"B{i:02d}" for i in range(n - n // 2)]
        a = rng.uniform(0.0, 1.0, (n, n))
        a *= rng.uniform(0.1, 0.2, n) / a.sum(axis=0)  # column sums: a productive economy
        self.technical = pd.DataFrame({
            "__row_id__": np.repeat(labels, n),
            "__col_id__": np.tile(labels, n),
            "value": a.ravel(),
        })
        self.data = {
            "U": frame(1.0, 100.0),
            "M": frame(0.0, 20.0),
            "S": frame(50.0, 200.0),
            "Z": z,
            "R": frame(1.0, 100.0, index=shifted),
            "x": pd.Series(rng.uniform(100.0, 1000.0, n), index=labels),
            "k": float(rng.uniform(1.0, 1.1)),
            "A": TripletMatrix(self.spark.createDataFrame(self.technical)),
        }
        d = self.data
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = {
                "margin_ratio": pd.DataFrame(
                    np.where(d["U"] > d["M"], d["U"] / d["Z"], 0.0),
                    index=labels, columns=labels),
                "revalued_share": ((d["U"] - d["R"]).abs() / d["S"]) ** 2 * d["k"] + d["U"] / d["x"],
                "total_requirements": pd.DataFrame(
                    np.linalg.inv(np.eye(n) - a), index=labels, columns=labels),
            }
        self.expected = {k: pd.DataFrame(_fill(v.to_numpy()), index=v.index, columns=v.columns)
                         for k, v in raw.items()}

    def run_pass(self) -> PassResult:
        from ssb_coefficient_maker_spark import CoefficientCalculator

        t0 = time.perf_counter()
        calc = CoefficientCalculator(self.data, _cmap(self.FORMULAS), "coefficient", "formula",
                                     fill_invalid=True, spark=self.spark)
        return self._evaluate_each(calc.evaluator, self.FORMULAS, t0)

    def check(self, result: PassResult) -> dict[str, str]:
        bad = {}
        for name, got in result.outputs.items():
            exp = self.expected[name]
            if sorted(map(str, got.index)) != sorted(exp.index) or \
                    sorted(map(str, got.columns)) != sorted(exp.columns):
                bad[name] = f"labels differ: {got.shape} vs {exp.shape}"
                continue
            got = got.set_axis(got.index.map(str)).set_axis(got.columns.map(str), axis=1)
            got = got.loc[exp.index, exp.columns].to_numpy(dtype=np.float64)
            if name == "total_requirements":
                # the Neumann series stops once a term is below tol
                err = np.abs(got - exp.to_numpy()).max()
                if not err <= 10 * self.tol:
                    bad[name] = f"max error {err:.3g}"
            elif not _close(got, exp.to_numpy()):
                bad[name] = "values differ"
        return bad


class AdpPrecision(Workload):
    """A small coefficient map in arbitrary-precision mode (35 digits),
    collected through the ADP to-pandas path."""

    name = "adp_precision"
    why = "the ADP layer: Arrow mapInPandas stages evaluating mpmath in Python workers"
    rows = 40
    width = 8
    dps = 35

    FORMULAS = {
        "ratio": "a / b",
        "scaled_gap": "(a - b) * c + k",
        "power_share": "pow(a, 2) / c",
    }

    def generate(self) -> None:
        import mpmath

        rng = np.random.default_rng(self.seed)
        shape = (self.rows, self.width)
        cols = [f"c{j}" for j in range(self.width)]
        self.data = {
            name: pd.DataFrame(rng.uniform(0.5, 2.0, shape), columns=cols) for name in "abc"
        }
        self.data["k"] = float(rng.uniform(1.0, 2.0))
        with mpmath.workdps(self.dps):
            # the engine carries each float as its shortest round-trip decimal
            mp = {n: np.vectorize(lambda v: mpmath.mpf(repr(float(v))), otypes=[object])(
                self.data[n].to_numpy()) for n in "abc"}
            k = mpmath.mpf(repr(self.data["k"]))
            a, b, c = mp["a"], mp["b"], mp["c"]
            self.expected = {
                "ratio": a / b,
                "scaled_gap": (a - b) * c + k,
                "power_share": a ** 2 / c,
            }

    def run_pass(self) -> PassResult:
        from ssb_coefficient_maker_spark import CoefficientCalculator

        t0 = time.perf_counter()
        calc = CoefficientCalculator(self.data, _cmap(self.FORMULAS), "coefficient", "formula",
                                     adp_enabled=True, decimal_precision=self.dps,
                                     fill_invalid=True, spark=self.spark)
        return self._evaluate_each(calc.evaluator, self.FORMULAS, t0)

    def check(self, result: PassResult) -> dict[str, str]:
        import mpmath

        bad = {}
        limit = mpmath.mpf(10) ** (5 - self.dps)
        with mpmath.workdps(self.dps):
            for name, got in result.outputs.items():
                exp = self.expected[name]
                if got.shape != exp.shape:
                    bad[name] = f"shape {got.shape} vs {exp.shape}"
                    continue
                cells = got.sort_index().to_numpy()
                if any(abs(g - e) > limit * abs(e) for g, e in zip(cells.ravel(), exp.ravel())):
                    bad[name] = f"differs from mpmath beyond 1e-{self.dps - 5}"
        return bad


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (CoeffMap, AdpPrecision)
}
