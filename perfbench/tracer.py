"""Layer tracer: times each engine layer from outside the engine.

Each layer's public function is wrapped by the name its caller binds
(``photon_spark.crawl.extract_wave``, ``photon_spark.sinks.write_txt``,
``CrawlStore.commit``, ...). A wrapper

* opens a span (name, start, end, parent) on an in-memory stack;
* runs the call under the layer's own Spark job group
  (``<layer>#<iteration>``), then restores the caller's group, so jobs
  that ``cli.main`` and ``run_crawl`` fire themselves stay in
  ``cli.driver`` / ``crawl.driver``;
* materializes a returned frame (persist + count) inside the span, so
  the layer's lazy plan runs under its own group instead of inside a
  later consumer's job. ``CrawlStore.load``'s dict of frames is left
  lazy, as the untraced crawl leaves it.

A layer's self time is its span's duration minus what its child spans
cover. Frames pinned by the tracer are unpersisted by ``release()``
after each iteration. Wrapping changes the plans Spark runs (every
layer boundary becomes a cache), so traced timings are reported apart
from the untraced end-to-end ones.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

LAYERS = (
    "cli.driver",
    "crawl.driver",
    "frontier.canonicalize",
    "frontier.dedup",
    "schedule.wave",
    "fetch_http.fetch",
    "extract.wave",
    "extract.endpoints",
    "crawl.intel",
    "storage.commit",
    "storage.load",
    "sinks.txt",
    "sinks.export",
)

# (module, attribute, layer, what the call returns)
#   "frame"  — a DataFrame: materialized inside the span
#   "crawl"  — a CrawlResult: rows = pages scheduled
#   "files"  — paths written: rows = lines written
#   "parquet" — writes parquet: rows = records written, from the event log
#   "none"   — nothing counted: rows = 0 (CrawlStore.load's frames stay
#              lazy, so its span holds the listing and schema reads only)
_TARGETS = (
    ("photon_spark.cli", "main", "cli.driver", "none"),
    ("photon_spark.crawl", "run_crawl", "crawl.driver", "crawl"),
    ("photon_spark.plans.frontier", "canonicalize_urls", "frontier.canonicalize", "frame"),
    ("photon_spark.plans.frontier", "dedup_candidates", "frontier.dedup", "frame"),
    ("photon_spark.crawl", "dedup_candidates", "frontier.dedup", "frame"),
    ("photon_spark.plans.schedule", "schedule_wave", "schedule.wave", "frame"),
    ("photon_spark.crawl", "schedule_wave", "schedule.wave", "frame"),
    ("photon_spark.sources.fetch_http", "fetch_stage", "fetch_http.fetch", "frame"),
    ("photon_spark.crawl", "extract_wave", "extract.wave", "frame"),
    ("photon_spark.crawl", "extract_endpoints", "extract.endpoints", "frame"),
    ("photon_spark.crawl", "assemble_intel", "crawl.intel", "frame"),
    ("photon_spark.plans.storage:CrawlStore", "commit", "storage.commit", "parquet"),
    ("photon_spark.plans.storage:CrawlStore", "load", "storage.load", "none"),
    ("photon_spark.sinks", "write_txt", "sinks.txt", "files"),
    ("photon_spark.sinks", "export", "sinks.export", "files"),
)

PARQUET_LAYERS = {layer for _, _, layer, kind in _TARGETS if kind == "parquet"}

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rows: int = 0
    iteration: int = 0


def _owner(path: str):
    import importlib

    module, _, cls = path.partition(":")
    mod = importlib.import_module(module)
    return getattr(mod, cls) if cls else mod


def _count_lines(paths) -> int:
    paths = [paths] if isinstance(paths, str) else list(paths or ())
    n = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            n += sum(1 for _ in f)
    return n


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.iteration = 0
        self._stack: list[int] = []
        self._pinned: list = []
        self._saved: list[tuple] = []

    # -- installation -------------------------------------------------
    def install(self) -> "Tracer":
        for owner_path, attr, layer, kind in _TARGETS:
            owner = _owner(owner_path)
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, layer, kind))
        return self

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    # -- spans ----------------------------------------------------------
    def _wrap(self, fn, layer: str, kind: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer) as span:
                out = fn(*args, **kwargs)
                span.rows = tracer._materialize(out, kind)
            return out

        return traced

    @contextmanager
    def span(self, layer: str):
        """A span for ``layer`` whose Spark jobs run under the layer's
        job group; the caller's group comes back on exit."""
        parent = self._stack[-1] if self._stack else None
        span = Span(layer, time.perf_counter(), parent=parent, iteration=self.iteration)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        prev_group = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, f"{layer}#{self.iteration}")
        try:
            yield span
        finally:
            self.sc.setLocalProperty(_GROUP, prev_group)
            self._stack.pop()
            span.end = time.perf_counter()

    def _materialize(self, out, kind: str) -> int:
        if kind == "frame":
            out.persist()
            self._pinned.append(out)
            return out.count()
        if kind == "crawl":
            return sum(m["urls_scheduled"] for m in out.metrics) if out else 0
        if kind == "files":
            return _count_lines(out)
        return 0

    def release(self) -> None:
        """Unpersist every frame the tracer pinned."""
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()

    # -- per-layer totals ----------------------------------------------
    def layer_totals(self, iteration: int) -> dict[str, dict[str, float]]:
        """{layer: {self_s, calls, rows}} over one iteration's spans."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.iteration == iteration and s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.end - s.start
        out = {layer: {"self_s": 0.0, "calls": 0, "rows": 0} for layer in LAYERS}
        for pos, s in enumerate(self.spans):
            if s.iteration == iteration:
                t = out[s.name]
                t["self_s"] += s.end - s.start - child_time.get(pos, 0.0)
                t["calls"] += 1
                t["rows"] += s.rows
        return out

    def root_time(self, iteration: int) -> float:
        """Wall time covered by the iteration's top-level spans."""
        return sum(
            s.end - s.start
            for s in self.spans
            if s.iteration == iteration and s.parent is None
        )
