"""Spans around the benchmark's calls into the engine's layers.

A span records its name, parent and wall interval.  In a traced run
each span also becomes the Spark job group (``setJobGroup``) of every
job started inside it, so the event log attributes jobs, stages and
tasks to the innermost span, and a few engine functions the CLI calls
are wrapped in spans of their own (the benchmark wraps the module
attributes at run time; no engine file is changed).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass

#: (module, function) pairs whose calls become spans in a traced run;
#: the span is named ``<layer>.<function>``.
WRAPPED = (
    ("smart_contract_database_builder_spark.sources.contracts", "read_contract_files", "contracts"),
    ("smart_contract_database_builder_spark.sinks.duckdb_sink", "store_contracts", "duckdb_sink"),
    ("smart_contract_database_builder_spark.sinks.duckdb_sink", "store_functions", "duckdb_sink"),
    ("smart_contract_database_builder_spark.sinks.duckdb_sink", "read_contracts", "duckdb_sink"),
    ("smart_contract_database_builder_spark.sinks.duckdb_sink", "export_source_code", "duckdb_sink"),
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start_ms: float
    end_ms: float = 0.0
    seconds: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Recorder:
    """Keeps spans in memory and sets job groups, in a traced run and
    once ``start`` is called (set-up and warm-up are not traced)."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._saved: list[tuple[object, str, object]] = []
        if traced:
            self._install()

    def start(self) -> None:
        self.active = self.traced

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{next(self._ids)}:{name}", name, parent.id if parent else None,
                 time.time() * 1000.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - t0
            s.end_ms = time.time() * 1000.0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _install(self) -> None:
        import importlib

        for module_name, attr, layer in WRAPPED:
            module = importlib.import_module(module_name)
            original = getattr(module, attr)

            def wrapper(*a, _fn=original, _name=f"{layer}.{attr}", **kw):
                with self.span(_name):
                    return _fn(*a, **kw)

            functools.update_wrapper(wrapper, original)
            self._saved.append((module, attr, original))
            setattr(module, attr, wrapper)

    def uninstall(self) -> None:
        for module, attr, original in reversed(self._saved):
            setattr(module, attr, original)
        self._saved.clear()

    def resolve_group(self, group: str, submit_ms: float) -> str:
        """A job's span id: its own group when a span set it, else the
        innermost span open when it was submitted (streaming queries run
        their batches under a group of their own)."""
        known = {s.id for s in self.spans}
        if group in known:
            return group
        inside = [s for s in self.spans if s.start_ms <= submit_ms <= s.end_ms]
        return max(inside, key=lambda s: s.start_ms).id if inside else group

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]
