"""Outside-in span tracing of the engine's layers.

The traced run wraps the public functions below at the place their
caller looks them up (``api.app`` imports ``execute_on_dataframe`` by
name, so the wrapper goes on ``api.app``, not on ``operators.query``).
Nothing inside the package changes. Spans live in memory; the per-layer
metrics are computed from them when the run ends. An untraced run never
calls :meth:`Tracer.install`.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import statistics
import threading
import time
from dataclasses import dataclass, field

# (module, attribute path, span name). A class method is patched on the
# class, which every instance looks it up through.
TARGETS = [
    ("gfw_data_api_spark.catalog.registry", "Registry.load", "catalog.load"),
    ("gfw_data_api_spark.catalog.registry", "Registry.get_default_asset", "catalog.resolve"),
    ("gfw_data_api_spark.catalog.registry", "Registry.resolve_version", "catalog.resolve"),
    ("gfw_data_api_spark.catalog.registry", "Registry.save", "catalog.save"),
    ("gfw_data_api_spark.catalog.geostore", "Geostore.geometry", "catalog.geostore"),
    ("gfw_data_api_spark.catalog.geostore", "Geostore.create", "catalog.geostore"),
    ("gfw_data_api_spark.operators.query", "validate_sql", "sql.validate"),
    ("gfw_data_api_spark.raster.zonal", "validate_sql", "sql.validate"),
    ("gfw_data_api_spark.operators.query", "to_spark_sql", "sql.translate"),
    ("gfw_data_api_spark.raster.zonal", "to_spark_sql", "sql.translate"),
    ("gfw_data_api_spark.api.app", "execute_on_dataframe", "operators.execute"),
    ("gfw_data_api_spark.api.app", "collect_with_timeout", "operators.collect"),
    ("gfw_data_api_spark.api.app", "_guard_collect", "operators.collect"),
    ("gfw_data_api_spark.operators.features", "features_by_location", "operators.features_build"),
    ("gfw_data_api_spark.operators.downloads", "rows_to_csv_rows", "operators.csv_encode"),
    ("gfw_data_api_spark.operators.query", "filter_by_geometry", "functions.geo_filter_build"),
    ("gfw_data_api_spark.operators.features", "filter_by_geometry", "functions.geo_filter_build"),
    ("gfw_data_api_spark.api.app", "query_raster", "raster.query_build"),
    ("gfw_data_api_spark.api.app", "zonal_statistics", "raster.query_build"),
    ("gfw_data_api_spark.operators.analysis", "query_raster", "raster.query_build"),
    ("gfw_data_api_spark.raster.zonal", "build_data_environment", "raster.env"),
    ("gfw_data_api_spark.sources.tabular", "read_tabular_source", "sources.read"),
    ("gfw_data_api_spark.sources.tabular", "write_table", "sources.write"),
    ("gfw_data_api_spark.sources.pipeline", "append_tabular", "sources.append"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Span | None = None
    request_id: int = 0
    children: list[Span] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def self_ms(self) -> float:
        return self.ms - sum(c.ms for c in self.children)


class Tracer:
    """Holds the spans of one run. Each client thread keeps its own
    stack of open spans, so concurrent requests never share a parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._originals: list[tuple[object, str, object]] = []
        self._ids = itertools.count(1)

    def active(self) -> bool:
        """Whether the calling thread records spans. The traced run
        alternates traced and untraced blocks of operations per client
        thread, which gives the tracing overhead from one process."""
        return getattr(self._local, "enabled", False)

    def set_active(self, enabled: bool) -> None:
        self._local.enabled = enabled

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        rid = parent.request_id if parent else next(self._ids)
        span = Span(name, time.perf_counter(), parent=parent, request_id=rid)
        if parent is not None:
            parent.children.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around the benchmark's own code, when the calling
        thread records spans."""
        if not self.active():
            yield
            return
        span = self.open(name)
        try:
            yield
        finally:
            self.close(span)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active():
                return fn(*args, **kwargs)
            span = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
                if name == "sql.translate":
                    span.attrs["chars_in"] = len(args[0])
                    span.attrs["chars_out"] = len(out)
                elif name == "raster.env":
                    span.attrs["hit"] = out is tracer._local.env_before.get(id(out))
                elif name == "operators.collect":
                    span.attrs["rows"] = len(out)
                return out
            finally:
                tracer.close(span)

        if name == "raster.env":
            # a cache hit returns the very object the cache held before
            # the call; snapshot the cache's values just before calling
            from gfw_data_api_spark.raster import data_environment

            @functools.wraps(fn)
            def env_traced(*args, **kwargs):
                if not tracer.active():
                    return fn(*args, **kwargs)
                tracer._local.env_before = {id(v[1]): v[1] for v in data_environment._CACHE.values()}
                return traced(*args, **kwargs)

            return env_traced
        return traced

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (times in ms from the first
        span)."""
        t0 = min((s.start for s in self.spans), default=0.0)
        ids = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                record = {
                    "id": i,
                    "name": s.name,
                    "start_ms": (s.start - t0) * 1000.0,
                    "end_ms": (s.end - t0) * 1000.0,
                    "parent": ids.get(id(s.parent)),
                    "request_id": s.request_id,
                    **s.attrs,
                }
                fh.write(json.dumps(record) + "\n")

    def install(self) -> None:
        for module_name, attr_path, span_name in TARGETS:
            owner = importlib.import_module(module_name)
            *owner_path, attr = attr_path.split(".")
            for part in owner_path:
                owner = getattr(owner, part)
            original = owner.__dict__[attr]
            self._originals.append((owner, attr, original))
            setattr(owner, attr, self.wrap(original, span_name))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._originals):
            setattr(owner, attr, original)
        self._originals.clear()


# the ingest path of set-up: measured per catalog build, not per request
BUILD_LAYERS = {"sources.read", "sources.write"}
INVENTORY_FAMILIES = ("streaming", "raster", "llmops")


def _descendants(span: Span):
    for child in span.children:
        yield child
        yield from _descendants(child)


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-operation medians (ms) and ratios. An operation is a request of
    the timed phase (span ``api.request``) or, for the ingest layers, one
    catalog build of set-up (span ``bench.build``). A layer's time is the
    median over the operations that called it; layers a workload never
    calls read 0."""
    roots = [s for s in tracer.spans if s.parent is None and s.name in ("api.request", "bench.build")]
    requests = [s for s in roots if s.name == "api.request"]
    per_op: dict[str, list[float]] = {}
    calls: dict[str, int] = {}
    for root in roots:
        acc: dict[str, float] = {}
        for span in _descendants(root):
            # zonal_statistics calls query_raster: count the outer span only
            if span.parent.name == span.name or (span.name in BUILD_LAYERS) != (root.name == "bench.build"):
                continue
            acc[span.name] = acc.get(span.name, 0.0) + (
                span.self_ms if span.name == "operators.execute" else span.ms
            )
            calls[span.name] = calls.get(span.name, 0) + 1
        for name, ms in acc.items():
            per_op.setdefault(name, []).append(ms)
        if root.name == "api.request" and root.attrs["kind"] != "inventory":
            per_op.setdefault("api.self", []).append(root.self_ms)

    spans = [s for r in requests for s in _descendants(r)]
    env = [s.attrs["hit"] for s in spans if s.name == "raster.env"]
    chars_in = sum(s.attrs["chars_in"] for s in spans if s.name == "sql.translate")
    chars_out = sum(s.attrs["chars_out"] for s in spans if s.name == "sql.translate")
    rows = sum(s.attrs["rows"] for s in spans if s.name == "operators.collect")
    n_requests = max(len(requests), 1)

    def p50(name: str) -> float:
        return statistics.median(per_op[name]) if name in per_op else 0.0

    out = {
        "catalog.load_ms": p50("catalog.load"),
        "catalog.loads_per_request": calls.get("catalog.load", 0) / n_requests,
        "catalog.resolve_ms": p50("catalog.resolve"),
        "catalog.geostore_ms": p50("catalog.geostore"),
        "catalog.save_ms": p50("catalog.save"),
        "catalog.saves_per_request": calls.get("catalog.save", 0) / n_requests,
        "sql.validate_ms": p50("sql.validate"),
        "sql.translate_ms": p50("sql.translate"),
        "sql.expansion_ratio": chars_out / chars_in if chars_in else 0.0,
        "operators.analyze_ms": p50("operators.execute"),
        "operators.collect_ms": p50("operators.collect"),
        "operators.features_build_ms": p50("operators.features_build"),
        "operators.csv_encode_ms": p50("operators.csv_encode"),
        "operators.rows_returned": rows / n_requests,
        "functions.geo_filter_build_ms": p50("functions.geo_filter_build"),
        "raster.query_build_ms": p50("raster.query_build"),
        "raster.env_ms": p50("raster.env"),
        "raster.env_hit_ratio": sum(env) / len(env) if env else 0.0,
        "sources.read_ms": p50("sources.read"),
        "sources.write_ms": p50("sources.write"),
        "sources.append_ms": p50("sources.append"),
        "api.self_ms": p50("api.self"),
    }
    for family in INVENTORY_FAMILIES:
        out[f"inventory.{family}.build_ms"] = p50(f"inventory.{family}.build")
        out[f"inventory.{family}.exec_ms"] = p50(f"inventory.{family}.exec")
    return out
