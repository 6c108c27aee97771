"""The benchmark's workloads: closed loops against the in-process WSGI app
and, in ``api_spatial``, the operator inventory.

Each workload generates its inputs from the seed (untimed), builds its
catalog (timed as set-up, several times, median kept), runs a fixed
untimed warmup of its own operation stream, then measures for the given
number of seconds. Every output is checked against a twin.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass
from urllib.parse import quote, urlsplit

import numpy as np
import pandas as pd

import inputs
import twins

BUILDS = 3  # catalog builds per run; set-up reports their median


def call(app, method: str, path: str, query: str = "", body: dict | None = None):
    """One in-process WSGI request: (status, headers, body bytes)."""
    raw = json.dumps(body).encode() if body is not None else b""
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": query,
        "CONTENT_LENGTH": str(len(raw)),
        "wsgi.input": io.BytesIO(raw),
    }
    captured = {}

    def start_response(status, headers):
        captured["status"] = int(status.split()[0])
        captured["headers"] = dict(headers)

    payload = b"".join(app(environ, start_response))
    return captured["status"], captured["headers"], payload


def request(app, method: str, path: str, query: str = "", body: dict | None = None):
    """A client's request: follows the ``latest`` 308 redirect."""
    status, headers, payload = call(app, method, path, query, body)
    if status == 308:
        location = urlsplit(headers["Location"])
        status, headers, payload = call(app, method, location.path, location.query, body)
    return status, payload


@dataclass
class Op:
    """One operation of a stream and the check of its output."""

    kind: str
    send: object  # () -> (status, payload bytes)
    check: object  # payload bytes -> bool


@dataclass
class Sample:
    kind: str
    ms: float
    ok: bool
    correct: bool
    traced: bool = False


def execute(op: Op) -> tuple[bool, bool]:
    """Run one op: (answered 200, output matched its twin)."""
    status, payload = op.send()
    if status != 200:
        print(f"{op.kind}: HTTP {status}: {payload[:300]!r}", flush=True)
        return False, True
    if not op.check(payload):
        print(f"{op.kind}: output differs from its twin: {payload[:300]!r}", flush=True)
        return True, False
    return True, True


def drive(ops, deadline: float | None, count: int | None, tracer, samples: list, lock) -> None:
    """Closed loop: each operation starts when the previous one has
    returned. With a tracer, successive operations alternate between
    traced and untraced, so one run also gives the tracing overhead."""
    done, traced = 0, False
    while (deadline is None or time.perf_counter() < deadline) and (count is None or done < count):
        op = next(ops)
        if tracer is not None:
            traced = not traced
            tracer.set_active(traced)
        span = tracer.open("api.request") if traced else None
        if span is not None:
            span.attrs["kind"] = op.kind
        t0 = time.perf_counter()
        try:
            ok, correct = execute(op)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, the loop goes on
            print(f"{op.kind} failed: {exc!r}", flush=True)
            ok, correct = False, True
        ms = (time.perf_counter() - t0) * 1000.0
        if span is not None:
            tracer.close(span)
        with lock:
            samples.append(Sample(op.kind, ms, ok, correct, traced))
        done += 1
    if tracer is not None:
        tracer.set_active(False)


def run_clients(workload: Workload, tracer, seconds: float | None, count: int | None, streams):
    """One closed-loop thread per client stream; returns the samples and
    the phase's wall time in seconds."""
    samples: list[Sample] = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    deadline = t0 + seconds if seconds is not None else None
    per_client = None if count is None else max(count // workload.clients, 1)
    errors: list[BaseException] = []

    def client(i: int) -> None:
        try:
            drive(streams[i], deadline, per_client, tracer, samples, lock)
        except BaseException as exc:  # noqa: BLE001 - re-raised in the caller
            errors.append(exc)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(workload.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return samples, time.perf_counter() - t0


class Workload:
    name = ""
    clients = 1
    warmup_ops = 0
    kinds: list[str] = []  # every kind a run reports
    round_kinds: list[str] = []  # the kinds a round draws; the rest follow another kind

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.app = None
        self.tracer = None
        self.incorrect_setup = 0

    def http(self, kind: str, method: str, path: str, check, query: str = "", body: dict | None = None) -> Op:
        return Op(kind, lambda: request(self.app, method, path, query, body), check)

    def stream(self, client: int):
        """An endless, seeded operation stream: every round is one
        operation of each round kind, in a seeded order."""
        r = np.random.default_rng([self.seed, client, len(self.kinds)])
        while True:
            for kind in r.permutation(self.round_kinds or self.kinds):
                yield self.op(str(kind), int(r.integers(0, inputs.POOL)), bool(r.integers(0, 2)))

    def verify(self, spark) -> None:
        """Untimed checks after set-up, before the warmup."""

    def extra_metrics(self, samples: list[Sample]) -> dict:
        return {f"{k}_p50_ms": kind_p50(samples, [k]) for k in self.kinds}

    def pooled_p50(self, samples: list[Sample]) -> float:
        """One median over every kind: the fragile figure this benchmark
        does not gate on, printed for contrast."""
        return statistics.median(s.ms for s in samples if s.ok)

    def layer_extras(self) -> dict:
        """Figures of the appended table at the end of the run; 0 where
        the workload appends nothing."""
        return {"sources.rows_kept_ratio": 0.0, "sources.part_files": 0.0, "sources.bytes_per_row": 0.0}


# ---------------------------------------------------------------------------
# api_sql
# ---------------------------------------------------------------------------


class ApiSql(Workload):
    """Guarded SQL over a fire-alert-like table, and appends to a mutable
    table beside it, one client. Each append is followed by a guarded
    read of the appended table that must return the row count after the
    anti-join has dropped the duplicate keys."""

    name = "api_sql"
    rows = 50_000
    append_base_rows = 5_000
    append_rows = 2_000
    append_dup_share = 0.25
    warmup_ops = 32
    read_kinds = ["groupby", "topn", "csv", "latest", "pg_trunc", "pg_interval"]
    round_kinds = read_kinds + ["append"]
    kinds = round_kinds + ["append_read"]

    def make_inputs(self) -> None:
        r = self.rng
        frame = inputs.fire_alerts(r, self.rows)
        self.csv = inputs.write_csv(frame, os.path.join(self.work, "inputs", "fires.csv"))
        self.pool = {k: [] for k in self.read_kinds}
        for _ in range(inputs.POOL):
            for kind, spec in inputs.sql_templates(r).items():
                self.pool[kind].append(spec)
        twin = twins.SqlTwin(frame)
        self.expected = {
            (kind, i): twin.rows(spec["twin"]) for kind, specs in self.pool.items() for i, spec in enumerate(specs)
        }
        twin.close()
        base = inputs.fire_alerts(r, self.append_base_rows)
        self.append_base_csv = inputs.write_csv(base, os.path.join(self.work, "inputs", "alerts.csv"))
        self.appends = 0  # batches sent so far
        self.append_rows_now = self.append_base_rows  # ids 0 .. n-1 are in the table
        self.ingest_s = []

    def build(self, spark, catalog_dir: str) -> None:
        from gfw_data_api_spark.api import create_app
        from gfw_data_api_spark.catalog import Registry
        from gfw_data_api_spark.sources.pipeline import ingest_tabular

        registry = Registry(catalog_dir)
        t0 = time.perf_counter()
        ingest_tabular(registry, spark, "fire_alerts", "v2023", self.csv)
        self.ingest_s.append(time.perf_counter() - t0)
        ingest_tabular(
            registry, spark, "alerts", "v1", self.append_base_csv, unique_on=["alert_id"], is_mutable=True
        )
        self.app = create_app(spark, registry)
        self.registry = registry

    def stream(self, client: int):
        for op in super().stream(client):
            yield op
            if op.kind == "append":
                yield self.read_back()

    def op(self, kind: str, i: int, _flip: bool) -> Op:
        if kind == "append":
            return self.append()
        spec = self.pool[kind][i]
        want, ordered, columns = self.expected[(kind, i)], spec["ordered"], spec["columns"]
        if spec["fmt"] == "csv":
            return self.http(
                kind, "POST", "/dataset/fire_alerts/v2023/query/csv",
                lambda p: twins.same_rows(twins.csv_rows(p), want, ordered), body={"sql": spec["sql"]},
            )
        check = lambda p: twins.same_rows(twins.json_rows(p, columns), want, ordered)  # noqa: E731
        if spec["fmt"] == "latest":
            return self.http(
                kind, "GET", "/dataset/fire_alerts/latest/query/json", check,
                query="sql=" + quote(spec["sql"], safe=""),
            )
        return self.http(kind, "POST", "/dataset/fire_alerts/v2023/query/json", check, body={"sql": spec["sql"]})

    def append(self) -> Op:
        """The next batch: fresh keys, plus a share of keys already in
        the table that the append's anti-join must drop. Made when the
        stream reaches it (the one client sends operations in stream
        order), so the expected row count is known exactly."""
        r = np.random.default_rng([self.seed, 7, self.appends])
        n_dup = int(self.append_rows * self.append_dup_share)
        n_fresh = self.append_rows - n_dup
        fresh = inputs.fire_alerts(r, n_fresh, id0=self.append_rows_now)
        dups = inputs.fire_alerts(r, n_dup).assign(alert_id=r.choice(self.append_rows_now, n_dup, replace=False))
        batch = pd.concat([fresh, dups], ignore_index=True).sample(frac=1.0, random_state=int(r.integers(2**31)))
        path = inputs.write_csv(batch, os.path.join(self.work, "inputs", f"batch{self.appends}.csv"))
        self.appends += 1
        self.append_rows_now += n_fresh
        return self.http(
            "append", "POST", "/dataset/alerts/v1/append",
            lambda p: json.loads(p)["data"]["status"] == "saved", body={"source_uri": [path]},
        )

    def read_back(self) -> Op:
        want = [(self.append_rows_now, self.append_rows_now)]
        return self.http(
            "append_read", "POST", "/dataset/alerts/v1/query/json",
            lambda p: twins.json_rows(p, ["n", "keys"]) == want,
            body={"sql": "SELECT count(*) AS n, count(DISTINCT alert_id) AS keys FROM data"},
        )

    def extra_metrics(self, samples: list[Sample]) -> dict:
        reads = sorted(s.ms for s in samples if s.ok and s.kind in self.read_kinds)
        out = {
            "read_p50_ms": kind_p50(samples, self.read_kinds),
            "write_p50_ms": kind_p50(samples, ["append"]),
            "read_after_write_p50_ms": kind_p50(samples, ["append_read"]),
            "appends": self.appends,
            "ingest_rows_per_s": self.rows / statistics.median(self.ingest_s),
        }
        pct = tail_percentile(len(reads))
        if pct:
            out["read_tail_ms"] = percentile(reads, pct)
            out["read_tail_percentile"] = pct
        return out

    def layer_extras(self) -> dict:
        """The appended table's layout at the end of the run."""
        append_dir = self.registry.get_default_asset("alerts", "v1").asset_uri
        parts = [os.path.join(d, f) for d, _, files in os.walk(append_dir) for f in files if f.endswith(".parquet")]
        kept = self.append_rows_now - self.append_base_rows
        return {
            "sources.rows_kept_ratio": kept / (self.appends * self.append_rows) if self.appends else 0.0,
            "sources.part_files": float(len(parts)),
            "sources.bytes_per_row": sum(os.path.getsize(p) for p in parts) / self.append_rows_now,
        }


# ---------------------------------------------------------------------------
# api_spatial
# ---------------------------------------------------------------------------


class ApiSpatial(Workload):
    """Geometry-filtered queries, features by location and raster zonal
    statistics, two clients on one session; beside them, a fixed list of
    batch operators from the inventory, which touch no API, catalog or
    SQL-guard code."""

    name = "api_spatial"
    clients = 2
    points = 10_000
    events = 10_000
    documents = 300
    warmup_ops = 16
    kinds = ["geo", "features", "zonal", "inventory"]
    zooms = [6, 7, 8, 9]  # search radii 7.5, 4, 2 and 1 km
    # one operator per family: (family, __spark_entry__ query name)
    inventory = [
        ("streaming", "st01_tumbling_window"),
        ("raster", "r07_pixel_area"),
        ("llmops", "d06_winnowing_fingerprints"),
    ]

    def make_inputs(self) -> None:
        from gfw_data_api_spark.operators.features import buffer_distance_m

        r = self.rng
        frame = inputs.fire_alerts(r, self.points)
        self.csv = inputs.write_csv(frame, os.path.join(self.work, "inputs", "points.csv"))
        self.tiles = inputs.raster_tiles(r)
        lon, lat = frame["longitude"].to_numpy(), frame["latitude"].to_numpy()
        frp, ids = frame["frp__MW"].to_numpy(), frame["alert_id"].to_numpy()
        pixels = twins.pixel_table(self.tiles)
        self.geo_pool, self.feature_pool, self.zonal_pool = [], [], []
        for _ in range(inputs.POOL):
            rect = inputs.rectangle(r, 0.6, 0.6)
            mask = twins.in_rect(lon, lat, rect)
            self.geo_pool.append((rect, int(mask.sum()), round(float(frp[mask].sum()), 2)))
            rect = inputs.rectangle(r, 0.6, 0.6, inputs.raster_tile_box(r))
            self.zonal_pool.append((rect, twins.zonal_twin(pixels, rect)))
        while len(self.feature_pool) < inputs.POOL:
            zoom = self.zooms[len(self.feature_pool) % len(self.zooms)]
            q_lon = round(float(r.uniform(10.5, 13.5)), 4)
            q_lat = round(float(r.uniform(-1.5, 1.5)), 4)
            inside, ambiguous = twins.features_twin(lon, lat, q_lon, q_lat, buffer_distance_m(zoom))
            if not ambiguous:
                self.feature_pool.append((q_lon, q_lat, zoom, sorted(ids[inside].tolist())))
        self.sf_dir = os.path.join(self.work, "inputs", "tables")
        inputs.write_parquet(inputs.events(r, self.events), os.path.join(self.sf_dir, "events.parquet"))
        inputs.write_parquet(inputs.documents(r, self.documents), os.path.join(self.sf_dir, "documents.parquet"))
        self.inventory_twins = twins.inventory_twins(self.sf_dir, [name for _, name in self.inventory])

    def build(self, spark, catalog_dir: str) -> None:
        from gfw_data_api_spark.api import create_app
        from gfw_data_api_spark.catalog import Registry
        from gfw_data_api_spark.catalog.geostore import Geostore
        from gfw_data_api_spark.raster.grid import Grid
        from gfw_data_api_spark.raster.ingest import ingest_raster_tiles
        from gfw_data_api_spark.sources.pipeline import ingest_tabular

        registry = Registry(catalog_dir)
        ingest_tabular(
            registry, spark, "viirs_points", "v1", self.csv, latitude="latitude", longitude="longitude"
        )
        ingest_raster_tiles(
            registry, spark, "umd_tree_cover_loss", "v1",
            Grid(inputs.RASTER_TILE_DEG, inputs.RASTER_PIXELS), "year", self.tiles,
        )
        geostore = Geostore(registry)
        self.geostore_ids = [
            geostore.create(inputs.polygon(rect))["gfw_geostore_id"] for rect, _, _ in self.geo_pool
        ]
        self.app = create_app(spark, registry, geostore)
        self.spark = spark

    def verify(self, spark) -> None:
        """Each inventory operator's collected result against its DuckDB
        twin (the query's ``oracle_sql`` over the same parquet files). The
        timed operations send the same plans to the noop sink, which
        returns no rows to check."""
        import __spark_entry__

        queries = __spark_entry__.queries()
        for _, name in self.inventory:
            got = queries[name](spark, self.sf_dir).toPandas()
            if not twins.same_frame(got, self.inventory_twins[name]):
                print(f"inventory {name}: result differs from its twin", flush=True)
                self.incorrect_setup += 1

    def run_inventory(self) -> tuple[int, bytes]:
        """The fixed operator list, each built (``fn(spark, sf_dir)``) and
        run through the noop sink, as bench.py does."""
        import __spark_entry__

        queries = __spark_entry__.queries()
        for family, name in self.inventory:
            with self.span(f"inventory.{family}.build"):
                df = queries[name](self.spark, self.sf_dir)
            with self.span(f"inventory.{family}.exec"):
                df.write.format("noop").mode("overwrite").save()
        return 200, b""

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def op(self, kind: str, i: int, flip: bool) -> Op:
        if kind == "inventory":
            return Op(kind, self.run_inventory, lambda p: p == b"")
        if kind == "geo":
            rect, n, frp = self.geo_pool[i]
            body = {"sql": "SELECT count(*) AS n, round(sum(frp__MW), 2) AS frp FROM data"}
            if flip:
                body["geostore_id"] = self.geostore_ids[i]
            else:
                body["geometry"] = inputs.polygon(rect)
            want = [(n, frp if n else None)]
            return self.http(
                kind, "POST", "/dataset/viirs_points/v1/query/json",
                lambda p: twins.same_rows(twins.json_rows(p, ["n", "frp"]), want, True), body=body,
            )
        if kind == "features":
            q_lon, q_lat, zoom, ids = self.feature_pool[i]
            return self.http(
                kind, "GET", "/dataset/viirs_points/v1/features",
                lambda p: sorted(row["alert_id"] for row in json.loads(p)["data"]) == ids,
                query=f"lat={q_lat}&lng={q_lon}&z={zoom}",
            )
        rect, areas = self.zonal_pool[i]
        body = {
            "geometry": inputs.polygon(rect), "dataset": "umd_tree_cover_loss",
            "sum": ["area__ha"], "group_by": ["umd_tree_cover_loss__year"],
        }
        return self.http(kind, "POST", "/analysis/zonal", lambda p: twins.zonal_matches(p, areas), body=body)

    def extra_metrics(self, samples: list[Sample]) -> dict:
        out = {f"{k}_p50_ms": kind_p50(samples, [k]) for k in ("geo", "features", "zonal")}
        out["inventory_s"] = kind_p50(samples, ["inventory"]) / 1000.0
        return out


WORKLOADS = {w.name: w for w in (ApiSql, ApiSpatial)}


# -- statistics -------------------------------------------------------------


class MissingKind(Exception):
    """An operation kind has no successful sample: a mean over the other
    kinds would drop it silently and read as a gain."""


def kind_p50(samples: list[Sample], kinds: list[str]) -> float:
    """Mean over ``kinds`` of each kind's median latency (ms). Medians are
    taken per kind and never pooled across kinds; every kind must have a
    successful sample."""
    medians = []
    for kind in kinds:
        ms = [s.ms for s in samples if s.kind == kind and s.ok]
        if not ms:
            raise MissingKind(f"no successful {kind!r} operation")
        medians.append(statistics.median(ms))
    return sum(medians) / len(medians)


def tail_percentile(n: int) -> int | None:
    """Highest of p99/p95/p90/p80 with at least ten samples beyond it."""
    for pct in (99, 95, 90, 80):
        if n * (100 - pct) / 100.0 >= 10:
            return pct
    return None


def percentile(sorted_values: list[float], pct: int) -> float:
    k = (len(sorted_values) - 1) * pct / 100.0
    lo, hi = int(k), min(int(k) + 1, len(sorted_values) - 1)
    return sorted_values[lo] + (sorted_values[hi] - sorted_values[lo]) * (k - lo)
