"""Layer tracing for the benchmark's traced run.

The engine carries no instrumentation of its own, so the tracer wraps
each layer's public function by attribute replacement: at the module
that defines it and at every module that bound it by name at import
(``api`` binds ``compile_formula``, ``validate`` as ``_validate``,
``parse_formula`` and ``matrix_to_pandas``).  Each call becomes a
span with a parent link; spans stay in memory and are written out when
the run ends.  Two counters sit below the layers: py4j gateway round
trips (around ``GatewayClient.send_command``) and the Spark jobs,
stages and tasks of each pass, read from ``statusTracker`` under a
per-pass job group.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable

PKG = "ssb_coefficient_maker_spark"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    pass_id: int
    start: float
    end: float = 0.0
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _ingest_attrs(args: tuple, kwargs: dict, result: Any) -> dict[str, float]:
    """Cells of the pandas inputs a ``FormulaEvaluator`` ingests; an
    input already in Spark counts 0."""
    import pandas as pd

    data = kwargs.get("data_dict", args[1] if len(args) > 1 else {})
    cells = sum(v.size for v in data.values() if isinstance(v, (pd.DataFrame, pd.Series)))
    return {"cells": float(cells)}


def _projected_attrs(args: tuple, kwargs: dict, result: Any) -> dict[str, float]:
    return {"columns": float(len(result.value_cols))}


def _invalid_attrs(args: tuple, kwargs: dict, result: Any) -> dict[str, float]:
    return {"invalid": float(result[1])}


@dataclass(frozen=True)
class Hook:
    """One wrapped callable: ``owner`` is a module path, or
    ``module:Class`` for a method; ``aliases`` are ``(module, name)``
    import sites that bound the same function by name."""

    span: str
    owner: str
    attr: str
    aliases: tuple[tuple[str, str], ...] = ()
    attrs: Callable[[tuple, dict, Any], dict[str, float]] | None = None


HOOKS: tuple[Hook, ...] = (
    Hook("api.evaluate", f"{PKG}.api:FormulaEvaluator", "evaluate_formula"),
    Hook("catalog.ingest", f"{PKG}.api:FormulaEvaluator", "__init__", attrs=_ingest_attrs),
    Hook("catalog.collect", f"{PKG}.catalog", "matrix_to_pandas",
         aliases=((f"{PKG}.api", "matrix_to_pandas"), (PKG, "matrix_to_pandas"))),
    Hook("formula.parse", f"{PKG}.formula.parser", "parse_formula",
         aliases=((f"{PKG}.api", "parse_formula"),)),
    Hook("plans.alignment.compile", f"{PKG}.plans.alignment", "compile_formula",
         aliases=((f"{PKG}.api", "compile_formula"), (f"{PKG}.plans", "compile_formula")),
         attrs=_projected_attrs),
    Hook("plans.triplet.compile", f"{PKG}.plans.triplet", "compile_formula_triplet"),
    Hook("plans.triplet.leontief", f"{PKG}.plans.triplet", "leontief_total_requirements"),
    Hook("plans.triplet.matmul", f"{PKG}.plans.triplet", "matmul_triplet"),
    Hook("validation.audit", f"{PKG}.validation", "validate",
         aliases=((f"{PKG}.api", "_validate"),), attrs=_invalid_attrs),
    Hook("adp.compile", f"{PKG}.adp", "compile_adp_formula"),
    Hook("adp.validate", f"{PKG}.adp", "validate_adp", attrs=_invalid_attrs),
    Hook("adp.collect", f"{PKG}.adp", "adp_to_pandas"),
)


def _resolve(owner: str) -> Any:
    module, _, cls = owner.partition(":")
    obj = importlib.import_module(module)
    return getattr(obj, cls) if cls else obj


class Py4JCounter:
    """Counts gateway round trips and the time spent in them.

    py4j's own garbage-collection messages are left out: they fire when
    Python frees a proxy object, which is not part of a layer's work.
    """

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0
        self._original: Callable | None = None

    def install(self) -> None:
        from py4j import protocol
        from py4j.java_gateway import GatewayClient

        original = GatewayClient.send_command
        memory = protocol.MEMORY_COMMAND_NAME
        counter = self

        def send_command(client, command, *args, **kwargs):
            if command.startswith(memory):
                return original(client, command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return original(client, command, *args, **kwargs)
            finally:
                counter.seconds += time.perf_counter() - t0
                counter.calls += 1

        self._original = original
        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._original is not None:
            from py4j.java_gateway import GatewayClient

            GatewayClient.send_command = self._original
            self._original = None


class Tracer:
    """Records spans around the layer hooks for the passes it traces."""

    def __init__(self):
        self.spans: list[Span] = []
        self.pass_stats: list[dict[str, float]] = []
        self._stack: list[Span] = []
        self._saved: list[tuple[Any, str, Any]] = []
        self._pass_id = -1

    # -- wrapping -----------------------------------------------------

    def _wrap(self, hook: Hook, fn: Callable) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            parent = tracer._stack[-1] if tracer._stack else None
            span = Span(len(tracer.spans), parent.id if parent else None,
                        hook.span, tracer._pass_id, time.perf_counter())
            tracer.spans.append(span)
            tracer._stack.append(span)
            try:
                result = fn(*args, **kwargs)
                if hook.attrs is not None:
                    span.attrs = hook.attrs(args, kwargs, result)
                return result
            finally:
                span.end = time.perf_counter()
                tracer._stack.pop()

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for hook in HOOKS:
            owner = _resolve(hook.owner)
            original = getattr(owner, hook.attr)
            wrapped = self._wrap(hook, original)
            sites = [(owner, hook.attr)] + [(_resolve(m), a) for m, a in hook.aliases]
            for obj, name in sites:
                if getattr(obj, name) is not original:
                    raise RuntimeError(f"{obj.__name__}.{name} is not {hook.owner}.{hook.attr}")
                self._saved.append((obj, name, original))
                setattr(obj, name, wrapped)

    def uninstall(self) -> None:
        for obj, name, original in reversed(self._saved):
            setattr(obj, name, original)
        self._saved.clear()

    # -- one traced pass ----------------------------------------------

    def trace_pass(self, spark, run_pass: Callable[[], Any]) -> Any:
        """Run ``run_pass`` with every hook installed, under its own
        Spark job group, and record the pass's per-layer stats."""
        self._pass_id += 1
        sc = spark.sparkContext
        group = f"perfbench-pass-{self._pass_id}"
        sc.setJobGroup(group, group)
        py4j = Py4JCounter()
        self.install()
        py4j.install()
        try:
            result = run_pass()
        finally:
            py4j.uninstall()
            self.uninstall()
            sc.setLocalProperty("spark.jobGroup.id", None)
        stats = self._layer_stats(self._pass_id)
        stats["py4j.calls"] = float(py4j.calls)
        stats["py4j.s"] = py4j.seconds
        stats.update(spark_job_stats(spark, group))
        self.pass_stats.append(stats)
        return result

    def _layer_stats(self, pass_id: int) -> dict[str, float]:
        spans = [s for s in self.spans if s.pass_id == pass_id]
        by_id = {s.id: s for s in spans}
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] += s.duration

        def outermost(s: Span) -> bool:
            # a layer re-entering itself is timed once, at the outer call
            p = by_id.get(s.parent) if s.parent is not None else None
            while p is not None:
                if p.name == s.name:
                    return False
                p = by_id.get(p.parent) if p.parent is not None else None
            return True

        total: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        attr: dict[str, float] = defaultdict(float)
        evaluate_self = 0.0
        for s in spans:
            calls[s.name] += 1
            for k, v in s.attrs.items():
                attr[f"{s.name}.{k}"] += v
            if outermost(s):
                total[s.name] += s.duration
            if s.name == "api.evaluate":
                evaluate_self += s.duration - child_time[s.id]
        return {
            "formula.parse_s": total["formula.parse"],
            "formula.parse_calls": float(calls["formula.parse"]),
            "catalog.ingest_s": total["catalog.ingest"],
            "catalog.ingest_cells": attr["catalog.ingest.cells"],
            "catalog.collect_s": total["catalog.collect"],
            "plans.alignment.compile_s": total["plans.alignment.compile"],
            "plans.alignment.compile_calls": float(calls["plans.alignment.compile"]),
            "plans.alignment.projected_columns": attr["plans.alignment.compile.columns"],
            "plans.triplet.compile_s": total["plans.triplet.compile"],
            "plans.triplet.leontief_s": total["plans.triplet.leontief"],
            "plans.triplet.matmul_calls": float(calls["plans.triplet.matmul"]),
            "validation.audit_s": total["validation.audit"],
            "validation.audit_calls": float(calls["validation.audit"]),
            "validation.invalid_cells": attr["validation.audit.invalid"],
            "adp.compile_s": total["adp.compile"],
            "adp.validate_s": total["adp.validate"],
            "adp.collect_s": total["adp.collect"],
            "api.evaluate_s": total["api.evaluate"],
            "api.evaluate_self_s": evaluate_self,
        }

    def medians(self) -> dict[str, float]:
        """Per-pass median of every stat over the traced passes."""
        keys = self.pass_stats[0].keys()
        return {k: statistics.median(p[k] for p in self.pass_stats) for k in keys}

    def write(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "parent": s.parent, "name": s.name, "pass": s.pass_id,
                    "start": s.start, "end": s.end, "attrs": s.attrs,
                }) + "\n")


def spark_job_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and failed tasks run under ``group``.

    The status tracker is fed by Spark's asynchronous listener bus, so
    the bus is drained first; otherwise the last job of the pass can be
    missing or still counted as running.
    """
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            ran = stage.numCompletedTasks + stage.numFailedTasks if stage else 0
            if ran == 0:  # skipped: its shuffle output was reused
                continue
            stages += 1
            tasks += ran
            failed += stage.numFailedTasks
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(stages),
        "spark.tasks": float(tasks),
        "spark.failed_tasks": float(failed),
    }
