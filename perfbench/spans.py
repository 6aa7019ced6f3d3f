"""Spans around the benchmark's calls into each layer.

A span records name, start, end, parent span and op id, plus the Spark
jobs scheduled inside it (a job-id range) and, for write calls, the
parquet bytes, files and commits that appeared under the store roots.
Spans stay in memory and are written out when the run ends.

The engine is never patched. Calls the engine makes on a store are
seen through ``TracedStore``, a delegating ``KeyedStore`` handed to
``SyncEngine``; calls the write helpers make on an ACID table are seen
through ``TracedTable``, handed to them in place of the table.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from counters import JobCounter, file_cost, snapshot


@dataclass
class Span:
    name: str
    op: int | None
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    bytes_written: int = 0
    files_written: int = 0
    commits: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``enabled``; a no-op otherwise, so untraced
    ops in a traced run pay one attribute test per call."""

    def __init__(self, jobs: JobCounter, enabled: bool):
        self._jobs = jobs
        self._stack: list[int] = []
        self.spans: list[Span] = []
        self.roots: list[str] = []
        self.enabled = enabled
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, io: bool = False):
        if not self.enabled:
            yield None
            return
        s = Span(name, self.op, self._stack[-1] if self._stack else None)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        before = snapshot(self.roots) if io else None
        first = self._jobs.mark()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = self._jobs.mark() - first
            if io:
                c = file_cost(before, snapshot(self.roots))
                s.bytes_written = c.bytes_written
                s.files_written = c.files_written
                s.commits = c.commits
            self._stack.pop()

    def self_seconds(self) -> list[float]:
        """Each span's duration minus the time its direct children
        cover (children never overlap: calls are sequential)."""
        own = [s.seconds for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.seconds
        return own

    def write(self, path: str, record: dict) -> None:
        own = self.self_seconds()
        spans = [{**asdict(s), "self": own[i]}
                 for i, s in enumerate(self.spans)]
        with open(path, "w") as fh:
            json.dump({**record, "spans": spans}, fh)


class TracedStore:
    """A ``KeyedStore`` that forwards every protocol call to ``inner``
    inside a span."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    @property
    def n_slices(self) -> int:
        return self._inner.n_slices

    def read(self):
        with self._tracer.span("acid.read"):
            return self._inner.read()

    def read_since(self, wm):
        with self._tracer.span("acid.read_since"):
            return self._inner.read_since(wm)

    def overwrite(self, df, key_quantiles=None) -> None:
        with self._tracer.span("acid.overwrite", io=True):
            self._inner.overwrite(df, key_quantiles=key_quantiles)

    def apply_delta(self, delta, key_stats=None) -> None:
        with self._tracer.span("acid.apply_delta", io=True):
            self._inner.apply_delta(delta, key_stats)


class TracedTable:
    """An ``AcidParquetTable`` stand-in for the write helpers: reads,
    merges and updates run inside spans, everything else forwards."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def read(self, version=None):
        with self._tracer.span("acid.read"):
            return self._inner.read(version)

    def merge_into(self, *args, **kwargs):
        with self._tracer.span("acid.merge_into", io=True):
            return self._inner.merge_into(*args, **kwargs)

    def update_where(self, condition, assignments):
        with self._tracer.span("acid.update_where", io=True):
            return self._inner.update_where(condition, assignments)


def collect(tracer: Tracer, layer: str, build, cql: str | None = None):
    """Run one read request and return its rows. Traced, it is split
    into ``<layer>.parse`` (CQL only), ``.build`` (DataFrame
    construction), ``.plan`` (physical planning) and ``.exec``
    (``collect``); untraced, it is just build and collect."""
    if not tracer.enabled:
        return build().collect()
    if cql is not None:
        from cassandra_elasticsearch_sync_spark.sources.cql_query import (
            parse_cql,
            validate_cql,
        )
        with tracer.span(f"{layer}.parse"):
            validate_cql(parse_cql(cql))
    with tracer.span(f"{layer}.build"):
        df = build()
    with tracer.span(f"{layer}.plan"):
        df._jdf.queryExecution().executedPlan()
    with tracer.span(f"{layer}.exec"):
        return df.collect()
