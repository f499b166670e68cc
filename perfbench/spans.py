"""Outside-in spans around the program's public stage functions.

A ``Tracer`` replaces module and class attributes with timing wrappers for
the duration of a traced request, then puts the originals back. Spans live in
memory; each records its layer, name, wall-clock start and end, its parent and
its depth. Spark jobs are later assigned to the innermost span open at their
submission time (``attribute_jobs``), which also catches jobs submitted from
threads that open no span of their own, such as the program's concurrent
branch workers.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass

from pyspark.sql.classic.dataframe import DataFrame

import entity_linkings_spark.operators.blocking as blocking
import entity_linkings_spark.operators.clustering as clustering
import entity_linkings_spark.operators.prior as prior
import entity_linkings_spark.operators.scoring as scoring
import entity_linkings_spark.plans.lifecycle as lifecycle
import entity_linkings_spark.plans.pipeline as pipeline
import entity_linkings_spark.sources.dictionary as dictionary
import entity_linkings_spark.sources.transcripts as transcripts
import entity_linkings_spark.streaming.incremental as incremental

LinkagePipeline = pipeline.LinkagePipeline

# (owner, attribute, layer). Module-level functions are patched where the
# caller looks them up: ``plans.pipeline`` imports two of them by name.
TRACE_POINTS = (
    (transcripts, "load_transcripts", "sources"),
    (dictionary, "load_dictionary", "sources"),
    (pipeline, "dictionary_token_sets", "sources"),
    (LinkagePipeline, "mentions", "mentions"),
    (pipeline, "extract_mentions", "mentions"),
    (LinkagePipeline, "surfaces", "prior"),
    (prior, "resolve_by_prior", "prior"),
    (LinkagePipeline, "surface_keys", "blocking"),
    (LinkagePipeline, "pairs", "blocking"),
    (blocking, "blocking_pairs", "blocking"),
    (LinkagePipeline, "scored_pairs", "scoring"),
    (scoring, "score_pairs", "scoring"),
    (LinkagePipeline, "resolve", "resolve"),
    (scoring, "score_pairs_combined", "resolve"),
    (LinkagePipeline, "run", "run"),
    (LinkagePipeline, "_materialize_concurrently", "run"),
    (LinkagePipeline, "clusters", "clustering"),
    (clustering, "connected_components", "clustering"),
    (clustering, "clusters_with_singletons", "clustering"),
    (LinkagePipeline, "mention_clusters", "joinback"),
)

# The durable entry point: plans.lifecycle.run_linkage drives these.
LIFECYCLE_POINTS = (
    (lifecycle.StageRunner, "run", "lifecycle"),
    (lifecycle.SnapshotStore, "write", "lifecycle"),
    (lifecycle.SnapshotStore, "read", "lifecycle"),
)
# The streaming entry point: incremental_linkage looks up batch_processor in
# its module and hands the callable it returns to foreachBatch; each call of
# that callable is one ``epoch`` span.
STREAM_FACTORIES = ((incremental, "batch_processor", "stream"),)


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float
    parent: "Span | None"
    depth: int

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._saved: list[tuple[object, str, object]] = []
        self._producer: dict[int, str] = {}  # id(DataFrame) -> layer that built it

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        with self._lock:
            stack = self._stacks.setdefault(threading.get_ident(), [])
            parent = stack[-1] if stack else None
            span = Span(layer, name, time.time(), 0.0, parent,
                        parent.depth + 1 if parent else 0)
            stack.append(span)
        try:
            yield span
        finally:
            span.end = time.time()
            with self._lock:
                stack.remove(span)
                self.spans.append(span)

    def innermost(self) -> Span | None:
        with self._lock:
            stack = self._stacks.get(threading.get_ident()) or []
            return stack[-1] if stack else None

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                self._producer[id(out)] = layer
            return out

        return traced

    def _run_action(self, fn, attr: str):
        """Spans for the DataFrame calls run() makes in its own body: its
        count() is the shared-prefix pin, and each localCheckpoint belongs to
        the layer whose builder produced the frame (under adaptive execution
        it runs that plan's shuffle stages at once)."""

        @functools.wraps(fn)
        def traced(df, *args, **kwargs):
            top = self.innermost()
            if top is None or top.name != "run":
                return fn(df, *args, **kwargs)
            if attr == "count":
                layer, name = "run", "pin"
            else:
                layer, name = self._producer.get(id(df), "run"), "checkpoint"
            with self.span(layer, name):
                return fn(df, *args, **kwargs)

        return traced

    def _wrap_factory(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self._wrap(fn(*args, **kwargs), layer, "epoch")

        return traced

    def install(self, points=TRACE_POINTS, factories=()) -> None:
        for owner, attr, layer in points:
            raw = owner.__dict__[attr]
            self._saved.append((owner, attr, raw))
            if isinstance(raw, staticmethod):
                setattr(owner, attr, staticmethod(self._wrap(raw.__func__, layer, attr)))
            else:
                setattr(owner, attr, self._wrap(raw, layer, attr))
        for owner, attr, layer in factories:
            raw = owner.__dict__[attr]
            self._saved.append((owner, attr, raw))
            setattr(owner, attr, self._wrap_factory(raw, layer))
        for attr in ("count", "localCheckpoint"):
            raw = DataFrame.__dict__[attr]
            self._saved.append((DataFrame, attr, raw))
            setattr(DataFrame, attr, self._run_action(raw, attr))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, raw = self._saved.pop()
            setattr(owner, attr, raw)


def self_time(span: Span, spans: list[Span]) -> float:
    """``span``'s wall minus the union of its direct children's intervals."""
    kids = sorted((s.start, s.end) for s in spans if s.parent is span)
    covered, edge = 0.0, span.start
    for a, b in kids:
        a, b = max(a, edge), min(b, span.end)
        if b > a:
            covered += b - a
            edge = b
    return span.wall - covered


def layer_wall(layer: str, spans: list[Span]) -> float:
    """Wall of the outermost spans of ``layer`` (nested same-layer calls,
    such as ``pairs`` calling ``blocking_pairs``, count once)."""
    total = 0.0
    for s in spans:
        if s.layer != layer:
            continue
        p = s.parent
        while p is not None and p.layer != layer:
            p = p.parent
        if p is None:
            total += s.wall
    return total


def attribute_jobs(jobs, spans: list[Span]) -> dict[int, Span]:
    """job id -> innermost span open when the job was submitted."""
    out = {}
    for job in jobs:
        t = job.submitted_ms / 1000.0
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.depth > best.depth):
                best = s
        if best is not None:
            out[job.job_id] = best
    return out
