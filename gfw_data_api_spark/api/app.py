"""WSGI application exposing the engine with the reference's route shapes.

Reference surface (SURVEY.md §3): app/main.py:111-199 registers the
routers; this module reproduces the query-plane contracts:

- ``GET  /datasets``                          — dataset list (I1 join)
- ``GET  /dataset/{d}``                       — dataset + versions
- ``GET  /dataset/{d}/{v}``                   — version metadata;
  ``latest`` resolves via 308 redirect exactly like the reference's
  middleware (app/middleware.py:25-77)
- ``GET/POST /dataset/{d}/{v}/query/json``    — guarded SQL (table or
  raster path dispatched on the default asset type, queries.py:487-503)
- ``GET/POST /dataset/{d}/{v}/query/csv``     — same, CSV out
  (QUOTE_NONNUMERIC, queries.py:528-545)
- ``GET  /dataset/{d}/{v}/fields``            — field metadata
- ``GET  /dataset/{d}/{v}/features?lat&lng&z``— features by location (I3)
- ``GET  /dataset/{d}/{v}/download/csv|json`` — downloads with guards
- ``POST /geostore`` / ``GET /geostore/{id}`` — content-addressed create
- ``POST /analysis/zonal/{geostore_id}``      — zonal statistics (R1-R9)

Responses use the reference's envelope ``{"data": ..., "status":
"success"}``, written once in :func:`_success` (app/responses.py); CSV,
tiles and files go through :func:`_bytes_response`. A route body returns
one of those or raises. An error sets ``status`` to ``"failed"`` and
carries a ``message`` with the validation layer's status code; the
``except`` clauses at the end of ``app`` are the one place that happens,
like the reference's exception handlers (app/main.py:53-64). Every
response starts in :func:`_respond`. The reference runs FastAPI; that
package isn't available here, so this is dependency-free WSGI — the
engine API underneath is identical either way.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import tempfile
import threading
from dataclasses import asdict
from http import HTTPStatus
from math import ceil
from typing import Any, Callable
from urllib.parse import parse_qs

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from gfw_data_api_spark.api.auth import AuthConfig, AuthError, api_key_is_valid
from gfw_data_api_spark.catalog.geostore import Geostore
from gfw_data_api_spark.catalog.metadata import MetadataStore
from gfw_data_api_spark.catalog.registry import Registry, RegistryError
from gfw_data_api_spark.operators import datamart as dm
from gfw_data_api_spark.operators import downloads, features
from gfw_data_api_spark.operators.downloads import _guard_collect
from gfw_data_api_spark.operators.jobs import JobRegistry
from gfw_data_api_spark.operators.analysis import zonal_statistics
from gfw_data_api_spark.operators.query import execute_on_dataframe
from gfw_data_api_spark.operators.watchdog import (
    DEFAULT_QUERY_TIMEOUT_S,
    QueryTimeoutError,
    collect_with_timeout,
)
from gfw_data_api_spark.raster.zonal import query_raster
from gfw_data_api_spark.sources import pipeline
from gfw_data_api_spark.sql.guard import QueryGuardError

_NOT_IMPLEMENTED = "This endpoint is not implemented for the given dataset."


class ApiError(Exception):
    """A request no route serves as asked: an unknown route, a method the
    route lacks, or a proxy with no client configured."""

    def __init__(self, detail: str, status_code: int):
        super().__init__(detail)
        self.detail = detail
        self.status_code = status_code


def _respond(start_response, status: int, headers: list, body: bytes) -> list[bytes]:
    """Start every response: the status line takes ``HTTPStatus``'s reason
    phrase, or the reference gateway's for its query-timeout 524."""
    phrase = "A Timeout Occurred" if status == 524 else HTTPStatus(status).phrase
    start_response(f"{status} {phrase}", headers)
    return [body]


def _json_response(start_response, payload: Any, status: int = 200, headers=None):
    body = json.dumps(payload, default=str).encode()
    hdrs = [("Content-Type", "application/json"), ("Content-Length", str(len(body)))]
    return _respond(start_response, status, hdrs + (headers or []), body)


def _success(start_response, data: Any, status: int = 200, headers=None):
    """The reference's success envelope (app/responses.py)."""
    return _json_response(start_response, {"data": data, "status": "success"}, status, headers)


def _bytes_response(start_response, blob: bytes, content_type: str, disposition=None):
    """A 200 with a non-JSON body (CSV, tile, GeoPackage, GeoTIFF)."""
    headers = [("Content-Type", content_type)]
    if disposition is not None:
        headers.append(("Content-Disposition", disposition))
    headers.append(("Content-Length", str(len(blob))))
    return _respond(start_response, 200, headers, blob)


def _num_param(params: dict, name: str, default, cast=int):
    """Query-string number with a 422 (not a 500) on malformed input —
    the FastAPI-validation envelope the reference's routes return."""
    raw = (params.get(name) or [default])[0]
    try:
        return cast(raw)
    except (TypeError, ValueError):
        kind = "an integer" if cast is int else "a number"
        raise QueryGuardError(f"{name} must be {kind}.", 422) from None


def _zoom_range(options: dict, default_max: int) -> tuple[int, int]:
    """A tile cache's ``min_zoom`` and ``max_zoom`` creation options:
    integers (or integer strings) in 0..22 with min <= max, else a 422."""
    zooms = []
    for name, default in (("min_zoom", 0), ("max_zoom", default_max)):
        raw = options.get(name, default)
        # bool is an int subclass; reject explicitly
        if isinstance(raw, bool) or not isinstance(raw, (int, str)):
            raise QueryGuardError(f"{name} must be an integer.", 422)
        try:
            zoom = int(raw)
        except ValueError:
            raise QueryGuardError(f"{name} must be an integer.", 422) from None
        if not 0 <= zoom <= 22:
            raise QueryGuardError(f"{name} must be between 0 and 22.", 422)
        zooms.append(zoom)
    if zooms[0] > zooms[1]:
        raise QueryGuardError("min_zoom must be <= max_zoom.", 422)
    return zooms[0], zooms[1]


def _paginated_payload(path: str, items: list, params: dict) -> dict:
    """Reference list-route pagination (app/utils/paginate.py +
    PaginationLinks/PaginationMeta): WITHOUT page[number]/page[size] the
    response is the plain list; with either, it is the paginated
    envelope — links (self/first/last/prev/next), meta (size,
    total_items, total_pages) — and out-of-range values are a 422."""
    paged = "page[number]" in params or "page[size]" in params
    if not paged:
        return {"data": items, "status": "success"}
    size = _num_param(params, "page[size]", "10")
    page = _num_param(params, "page[number]", "1")
    if size < 1 or page < 1:
        raise QueryGuardError(
            "page[number] and page[size] must be positive integers.", 422
        )
    total_items = len(items)
    total_pages = ceil(total_items / size) if total_items > 0 else 1
    if page > total_pages:
        raise QueryGuardError(
            f"Page number {page} is larger than the total page count: {total_pages}",
            422,
        )

    def link(n: int) -> str:
        return f"{path}?page[number]={n}&page[size]={size}"

    start = (page - 1) * size
    return {
        "data": items[start : start + size],
        "links": {
            "self": link(page),
            "first": link(1),
            "last": link(total_pages),
            "prev": link(page - 1) if page > 1 else "",
            "next": link(page + 1) if page < total_pages else "",
        },
        "meta": {"size": size, "total_items": total_items, "total_pages": total_pages},
        "status": "success",
    }


def _task_payload(task) -> dict:
    last = task.change_log[-1]["status"] if task.change_log else "pending"
    return {
        "task_id": task.task_id,
        "asset_id": task.asset_id,
        "change_log": task.change_log,
        "status": last,
        "created_on": task.created_on,
    }


def _row_value(value):
    """A collected value for JSON: its PG text form, with dates and
    timestamps in ISO 8601 (CSV writes those as they are)."""
    value = downloads._pg_text(value)
    if isinstance(value, (datetime.datetime, datetime.date)):
        return value.isoformat()
    return value


def _json_rows(rows) -> list[dict]:
    """Collected rows as JSON objects, values in their PG text forms."""
    return [{k: _row_value(v) for k, v in row.asDict().items()} for row in rows]


def _accepts_media_type(accept: str, media_type: str) -> bool:
    """RFC 9110 Accept negotiation for ONE concrete media type.

    Splits the header into media-range tokens, matches ``media_type``
    as a FULL type/subtype (so ``text/csv;q=0.9`` and multi-value lists
    match, but ``text/csv2`` or ``application/vnd.text/csvx`` do not),
    and honors ``q=0`` as "explicitly not acceptable" (advice r3: the
    old substring test served CSV for ``Accept: text/csv;q=0``).
    Wildcard ranges deliberately do NOT match: JSON is the default
    representation, so only an explicit request yields the alternate.
    """
    for media_range in accept.split(","):
        params = media_range.split(";")
        if params[0].strip().lower() != media_type:
            continue
        q = 1.0
        for p in params[1:]:
            k, _, v = p.partition("=")
            if k.strip().lower() == "q":
                try:
                    q = float(v.strip())
                except ValueError:
                    q = 0.0
        if q > 0:
            return True
    return False


def create_app(
    spark: SparkSession,
    registry: Registry,
    geostore: Geostore | None = None,
    auth: AuthConfig | None = None,
    allowed_source_prefixes: list[str] | None = None,
    rw_api: Any | None = None,
) -> Callable:
    """``auth=None`` runs the API open (no key/token checks, the default
    for embedded/test use); passing an :class:`AuthConfig` enforces the
    reference's contract — x-api-key on query/download routes (403
    without), 401 on restricted datasets unless the bearer user is an
    ADMIN of gfw/gfw-pro, and the /auth key-management routes.

    ``allowed_source_prefixes`` restricts client-supplied file paths
    (append source_uri, batch-query uri) to the given prefixes — the
    reference's _verify_source_file_access bucket allowlist. ``None``
    (embedded/local mode) allows any path.

    ``rw_api`` is the external ResourceWatch client seam for the two
    pure-proxy routes (reference authentication.py:35-38 sign-up,
    geostore.py:279-303 land-use geostores): an object exposing
    ``signup(name, email) -> dict`` and ``geostore_by_land_use(
    land_use_type, index, params) -> dict``. ``None`` (the default)
    keeps the routes mounted but answers 501 — the engine has no local
    behavior for them, they exist only to forward."""
    geostore = geostore or Geostore(registry)
    _datamart_post_lock = threading.Lock()
    jobs = JobRegistry(os.path.join(registry.warehouse, "_jobs"))
    metadata_store = MetadataStore(os.path.join(registry.root, "metadata.json"))

    def check_query_auth(environ, params, dataset: str, version: str) -> None:
        if auth is None:
            return
        if auth.require_api_key:
            auth.check_api_key(environ, params)
        auth.check_query_authorized(environ, dataset, version)

    def check_manager(environ) -> None:
        """Write-route gate: dataset owner semantics collapse to
        MANAGER/ADMIN here (reference get_owner/get_manager)."""
        if auth is None:
            return
        user = auth.get_user(environ)
        if user.role not in ("ADMIN", "MANAGER"):
            raise AuthError(
                "Unauthorized write access to a dataset/version/asset by a "
                "user who is not an admin or data manager",
                401,
            )

    def check_source_uris(paths) -> None:
        """reference routes/datasets/__init__.py _verify_source_file_access
        — 400 on paths outside the configured allowlist."""
        if allowed_source_prefixes is None:
            return
        bad = [
            p for p in paths
            if not any(str(p).startswith(pref) for pref in allowed_source_prefixes)
        ]
        if bad:
            raise QueryGuardError(
                f"Cannot access all of the source files (non-existent or "
                f"access denied). Invalid sources: {bad}",
                400,
            )

    def asset_stats(asset) -> dict:
        """Version/asset stats: raster → one-pass pixel stats (P7);
        tabular/vector → row + field counts."""
        df = registry.load(spark, asset=asset)
        if asset.asset_type == "raster_tile_set":
            from gfw_data_api_spark.raster.transform import raster_stats

            return raster_stats(df)
        return {"row_count": df.count(), "n_fields": len(asset.fields)}

    def resolve_geometry(params: dict, body: dict) -> dict | None:
        if "geometry" in body:
            return body["geometry"]
        geostore_id = body.get("geostore_id") or (params.get("geostore_id") or [None])[0]
        origin = (
            body.get("geostore_origin")
            or (params.get("geostore_origin") or ["gfw"])[0]
        )
        if geostore_id:
            return geostore.geometry(spark, geostore_id, origin)
        return None

    # Tile serving re-reads the same parquet store on every request;
    # cache the loaded DataFrame per asset so repeated fetches skip the
    # parquet-metadata read and only pay the pruned point-lookup job.
    # Keyed by asset_id (a fresh UUID per creation — a deleted-and-
    # recreated asset reuses its uri but never its id, so a cached
    # file listing can't go stale).
    _tile_store_cache: dict[str, Any] = {}

    def tile_store(asset) -> Any:
        df = _tile_store_cache.get(asset.asset_id)
        if df is None:
            df = registry.load(spark, asset=asset)
            while len(_tile_store_cache) >= 8:  # bounded, FIFO eviction
                _tile_store_cache.pop(next(iter(_tile_store_cache)))
            _tile_store_cache[asset.asset_id] = df
        return df

    def run_query(dataset: str, version: str, sql: str, geometry: dict | None):
        asset = registry.get_default_asset(dataset, version)
        if asset.asset_type == "raster_tile_set":
            if geometry is None:
                raise QueryGuardError("Raster queries require a geometry.", 422)
            return query_raster(spark, registry, dataset, version, sql, geometry)
        df = registry.load(spark, dataset, version)
        return execute_on_dataframe(spark, df, sql, geometry=geometry)

    def app(environ, start_response):
        method = environ["REQUEST_METHOD"]
        path = environ.get("PATH_INFO", "/").rstrip("/")
        params = parse_qs(environ.get("QUERY_STRING", ""))
        body: dict = {}
        try:
            if method in ("POST", "PUT", "PATCH"):
                try:
                    length = int(environ.get("CONTENT_LENGTH") or 0)
                    raw = environ["wsgi.input"].read(length) if length else b""
                    body = json.loads(raw) if raw else {}
                except (ValueError, KeyError):
                    raise QueryGuardError("Invalid JSON body.", 400) from None
            parts = [p for p in path.split("/") if p]

            # /datasets
            if parts == ["datasets"] and method == "GET":
                data = [
                    {
                        "dataset": d.dataset,
                        "is_downloadable": d.is_downloadable,
                        "versions": [
                            v.version
                            for (ds, _), v in registry._versions.items()
                            if ds == d.dataset
                        ],
                    }
                    for d in registry.datasets()
                ]
                return _json_response(
                    start_response, _paginated_payload("/datasets", data, params)
                )

            # POST /auth/sign-up — 1:1 ResourceWatch proxy (reference
            # authentication.py:35-38); no local auth required, works
            # even with auth=None like the reference's open route
            if parts == ["auth", "sign-up"] and method == "POST":
                if rw_api is None:
                    raise ApiError(
                        "Sign-up proxies the external "
                        "ResourceWatch API; no rw_api client is configured.",
                        501,
                    )
                data = rw_api.signup(body.get("name", ""), body.get("email", ""))
                return _success(start_response, data)

            # /auth — key management (reference authentication.py routes)
            if parts and parts[0] == "auth":
                if auth is None:
                    raise ApiError("Not found.", 404)
                sub = parts[1:]
                if sub == ["token"] and method == "POST":
                    token = auth.token_auth.login(
                        body.get("username", ""), body.get("password", "")
                    )
                    return _success(
                        start_response, {"access_token": token, "token_type": "bearer"}
                    )
                if sub == ["apikey"] and method == "POST":
                    user = auth.get_user(environ)
                    key = auth.key_store.create(
                        user,
                        alias=body.get("alias"),
                        organization=body.get("organization", ""),
                        email=body.get("email", user.email),
                        domains=body.get("domains") or [],
                        never_expires=bool(body.get("never_expires", False)),
                    )
                    return _success(start_response, asdict(key), 201)
                if sub == ["apikeys"] and method == "GET":
                    user = auth.get_user(environ)
                    keys = auth.key_store.for_user(user.id)
                    return _success(start_response, [asdict(k) for k in keys])
                if (
                    len(sub) == 3
                    and sub[0] == "apikey"
                    and sub[2] == "validate"
                    and method == "GET"
                ):
                    user = auth.get_user(environ)
                    if user.role != "ADMIN":
                        raise AuthError("Unauthorized", 401)
                    row = auth.key_store.get(sub[1])
                    if row is None:
                        raise AuthError(
                            "The requested API key does not exist.", 404
                        )
                    valid = api_key_is_valid(
                        row.domains,
                        row.expires_on,
                        (params.get("origin") or [None])[0],
                        (params.get("referrer") or [None])[0],
                    )
                    return _success(start_response, {"is_valid": valid})
                if len(sub) == 2 and sub[0] == "apikey" and method == "GET":
                    user = auth.get_user(environ)
                    row = auth.key_store.get(sub[1])
                    if row is None:
                        raise AuthError("The API Key does not exist.", 404)
                    if user.role != "ADMIN" and row.user_id != user.id:
                        raise AuthError(
                            "API Key is not associated with current user.", 403
                        )
                    return _success(start_response, asdict(row))
                if len(sub) == 2 and sub[0] == "apikey" and method == "DELETE":
                    user = auth.get_user(environ)
                    row = auth.key_store.get(sub[1])
                    if row is None:
                        raise AuthError(
                            "The requested API key does not exist.", 404
                        )
                    if user.role != "ADMIN" and row.user_id != user.id:
                        raise AuthError(
                            "The requested API key does not belong to the "
                            "current user.",
                            403,
                        )
                    auth.key_store.delete(sub[1])
                    return _success(start_response, asdict(row))

            # /job/{id} — poll async analyses (app/routes/jobs/job.py:24).
            # Deliberately unauthenticated like the reference's job route:
            # submission is gated, polling/results are capability-URLs
            # (possession of the unguessable job UUID).
            if parts and parts[0] == "job" and method == "GET":
                if len(parts) == 2:
                    job = jobs.get(parts[1])
                    if job is None:
                        raise RegistryError("Job not found.", 404)
                    return _success(start_response, asdict(job))
                if len(parts) == 3 and parts[2] in ("download", "failed_geometries"):
                    kind = "results" if parts[2] == "download" else "failed"
                    data = jobs.read_result(parts[1], kind)
                    if data is None:
                        raise RegistryError("Job results not found.", 404)
                    return _success(start_response, data)

            # /political/id-lookup — admin IDs by (normalized) name
            # (reference app/routes/political/id_lookup.py)
            if parts == ["political", "id-lookup"] and method == "GET":
                import unicodedata

                # non-decomposable letters NFD can't strip (ø, đ, …) —
                # both sides must fold them identically
                _NODECOMP = str.maketrans("øØđĐßæÆœŒ", "oodds" + "aaoo")

                def _norm(s: str) -> str:
                    # unidecode analog: strip combining marks, fold the
                    # non-decomposables, lowercase
                    decomposed = unicodedata.normalize("NFD", s)
                    stripped = "".join(
                        ch for ch in decomposed if not unicodedata.combining(ch)
                    )
                    return stripped.translate(_NODECOMP).lower()

                country = (params.get("country") or [None])[0]
                region = (params.get("region") or [None])[0]
                subregion = (params.get("subregion") or [None])[0]
                normalize = (params.get("normalize_search") or ["true"])[0].lower() != "false"
                if not country:
                    raise QueryGuardError("Country MUST be specified.", 400)
                if subregion and not region:
                    raise QueryGuardError(
                        "If subregion is specified, region must be specified "
                        "as well.",
                        400,
                    )
                adm_level = 2 if subregion else (1 if region else 0)
                df = registry.load(
                    spark, "gadm_administrative_boundaries", "latest"
                ).filter(F.col("adm_level") == str(adm_level))
                # accent map for the column-side fallback — must fold every
                # character the query-side _norm folds, or accented stored
                # names can never match. ß is excluded from the uppercase
                # half ("ß".upper() is the two-char "SS").
                _SRC_L = "áàâãäåçéèêëíìîïñóòôõöøúùûüýÿćčšžđæœß"
                _DST_L = "aaaaaaceeeeiiiinoooooouuuuyyccszdaos"

                def _fold(col):
                    return F.lower(
                        F.translate(
                            col,
                            _SRC_L + _SRC_L[:-1].upper(),
                            _DST_L + _DST_L[:-1],
                        )
                    )

                name_fields = ["country", "name_1", "name_2"]
                for field_name, value in zip(
                    name_fields, (country, region, subregion)
                ):
                    if value is None:
                        continue
                    if normalize:
                        normalized_col = f"{field_name}_normalized"
                        col = (
                            F.col(normalized_col)
                            if normalized_col in df.columns
                            else _fold(F.col(field_name))
                        )
                        df = df.filter(col == _norm(value))
                    else:
                        df = df.filter(F.col(field_name) == value)
                rows = _guard_collect(
                    df.select("gid_0", "gid_1", "gid_2", *name_fields),
                    "admin boundary search", "the downloads path",
                )

                def _level_id(level: int, gid: str | None):
                    if gid is None:
                        return None
                    segments = gid.split("_")[0].split(".")
                    return segments[level] if level < len(segments) else None

                matches = []
                for r in rows:
                    match = {
                        "country": {"id": _level_id(0, r["gid_0"]), "name": r["country"]},
                        "region": {"id": None, "name": None},
                        "subregion": {"id": None, "name": None},
                    }
                    if adm_level >= 1:
                        match["region"] = {
                            "id": _level_id(1, r["gid_1"]), "name": r["name_1"],
                        }
                    if adm_level >= 2:
                        match["subregion"] = {
                            "id": _level_id(2, r["gid_2"]), "name": r["name_2"],
                        }
                    matches.append(match)
                return _success(
                    start_response,
                    {
                        "adminSource": (params.get("admin_source") or ["GADM"])[0],
                        "adminVersion": (params.get("admin_version") or ["4.1"])[0],
                        "matches": matches,
                    },
                )

            # /task/{task_id} — batch-worker task rows
            # (reference tasks/task.py:44-129). GET serves the real task
            # store first, then the legacy "{asset_id}:{step}" synthetic
            # ids over asset change-log steps.
            if (
                len(parts) == 2
                and parts[0] in ("task", "tasks")
                and method == "GET"
            ):
                try:
                    task = registry.get_task(parts[1])
                    return _success(start_response, _task_payload(task))
                except RegistryError:
                    pass
                asset_id, _, step = parts[1].partition(":")
                try:
                    task_asset = registry.get_asset(asset_id)
                    entry = task_asset.change_log[int(step)]
                except (RegistryError, ValueError, IndexError):
                    raise RegistryError("Task not found.", 404)
                return _success(
                    start_response,
                    {
                        "task_id": parts[1],
                        "asset_id": asset_id,
                        "change_log": [entry],
                        "status": entry["status"],
                    },
                )

            # PUT /task/{task_id} — a worker registers its work item
            # (reference tasks/task.py:60-81; service-account gate maps
            # to the MANAGER/ADMIN write gate here)
            if len(parts) == 2 and parts[0] in ("task", "tasks") and method == "PUT":
                check_manager(environ)
                asset_id = body.get("asset_id")
                if not asset_id:
                    raise QueryGuardError("asset_id is required.", 400)
                try:
                    task = registry.create_task(
                        parts[1], asset_id, body.get("change_log") or []
                    )
                except RegistryError as exc:
                    # reference maps both exists/missing-asset to 400
                    raise RegistryError(exc.detail, 400) from None
                return _success(start_response, _task_payload(task))

            # PATCH /task/{task_id} — worker progress callback; terminal
            # change-log entries propagate to the asset and the
            # default-asset version (reference tasks/task.py:83-129)
            if len(parts) == 2 and parts[0] in ("task", "tasks") and method == "PATCH":
                check_manager(environ)
                entries = body.get("change_log") or []
                task = registry.update_task(parts[1], entries)
                return _success(start_response, _task_payload(task))

            # GET /geostore/use/{land_use_type}/{index} — 1:1
            # ResourceWatch proxy (reference geostore.py:279-303,
            # deprecated-but-kept); forwards through the rw_api seam
            if (
                len(parts) == 4
                and parts[0] == "geostore"
                and parts[1] == "use"
                and method == "GET"
            ):
                if rw_api is None:
                    raise ApiError(
                        "Land-use geostores proxy the external "
                        "ResourceWatch API; no rw_api client is configured.",
                        501,
                    )
                data = rw_api.geostore_by_land_use(parts[2], parts[3], params)
                return _success(start_response, data)

            # /geostore/admin/... — admin-boundary geostores
            # (reference app/routes/geostore/geostore.py:98-278)
            if (
                len(parts) >= 3
                and parts[0] == "geostore"
                and parts[1] == "admin"
                and method == "GET"
            ):
                provider = (params.get("source[provider]") or ["gadm"])[0]
                adm_version = (params.get("source[version]") or ["4.1"])[0]
                if provider.lower() != "gadm":
                    raise QueryGuardError(
                        "Invalid admin boundary source. Valid sources: "
                        "['gadm']",
                        400,
                    )
                adm_dataset = "gadm_administrative_boundaries"
                adm_ver = (
                    adm_version if adm_version.startswith("v") else f"v{adm_version}"
                )
                if parts[2] == "list":
                    df = features.admin_boundary_list(spark, registry, adm_dataset, adm_ver)
                    data = [
                        r.asDict()
                        for r in _guard_collect(
                            df, "admin boundary list", "the downloads path"
                        )
                    ]
                    return _success(start_response, data)
                ids = parts[2:]
                simplify_raw = (params.get("simplify") or [None])[0]
                doc = features.admin_geostore(
                    spark,
                    registry,
                    adm_dataset,
                    adm_ver,
                    adm_level=len(ids) - 1,
                    country_id=ids[0],
                    region_id=ids[1] if len(ids) > 1 else None,
                    subregion_id=ids[2] if len(ids) > 2 else None,
                    simplify_tolerance=(
                        float(simplify_raw) if simplify_raw is not None else None
                    ),
                )
                return _success(start_response, doc)

            # /geostore
            if parts == ["geostore"] and method == "POST":
                entry = geostore.create(body["geometry"])
                return _success(start_response, entry)
            if len(parts) == 2 and parts[0] == "geostore" and method == "GET":
                entry = geostore.get(spark, parts[1])
                return _success(start_response, entry)

            # /analysis/zonal (POST, inline geometry —
            # reference analysis.py:75-92)
            if parts == ["analysis", "zonal"] and method == "POST":
                geometry = body.get("geometry")
                if not geometry:
                    raise QueryGuardError("geometry required.", 422)
                dataset = body.get("dataset") or (params.get("dataset") or [None])[0]
                version = registry.resolve_version(
                    dataset, body.get("version", "latest")
                )
                # same read surface as /query — same key + restricted gate
                check_query_auth(environ, params, dataset, version)
                df = zonal_statistics(
                    spark,
                    registry,
                    dataset,
                    version,
                    geometry,
                    sum_layers=body.get("sum", ["area__ha"]),
                    group_by=body.get("group_by", []),
                    filters=body.get("filters", []),
                    start_date=body.get("start_date"),
                    end_date=body.get("end_date"),
                )
                data = _json_rows(
                    _guard_collect(df, "zonal analysis response", "downloads/csv")
                )
                return _success(start_response, data)

            # /analysis/zonal/{geostore_id}
            if len(parts) == 3 and parts[:2] == ["analysis", "zonal"] and method == "GET":
                geometry = geostore.geometry(spark, parts[2])
                dataset = params["dataset"][0]
                version = registry.resolve_version(dataset, params.get("version", ["latest"])[0])
                check_query_auth(environ, params, dataset, version)
                df = zonal_statistics(
                    spark,
                    registry,
                    dataset,
                    version,
                    geometry,
                    sum_layers=params.get("sum", ["area__ha"]),
                    group_by=params.get("group_by", []),
                    filters=params.get("filters", []),
                    start_date=(params.get("start_date") or [None])[0],
                    end_date=(params.get("end_date") or [None])[0],
                )
                data = _json_rows(
                    _guard_collect(df, "zonal analysis response", "downloads/csv")
                )
                return _success(start_response, data)

            # /datamart/tree_cover_loss_by_driver
            # (reference app/routes/datamart/land.py full lifecycle:
            # deterministic uuid5 resource ids, 409 on duplicate POST,
            # pending 202 + Retry-After, failed-only DELETE, CSV GET)
            if parts == ["datamart", "tree_cover_loss_by_driver"] and method == "POST":
                geometry = resolve_geometry(params, body)
                if geometry is None:
                    raise QueryGuardError("geostore_id or geometry required.", 422)
                try:
                    canopy_cover = int(body.get("canopy_cover", 30))
                except (TypeError, ValueError):
                    raise QueryGuardError("canopy_cover must be an integer.", 422) from None
                raw_dv = body.get("dataset_version")
                if raw_dv is not None and not isinstance(raw_dv, dict):
                    raise QueryGuardError(
                        "dataset_version must be a JSON object.", 422
                    )
                dataset_version = dm.apply_overrides_and_remove_mutually_exclusive_datasets(
                    raw_dv
                )
                rid = dm.resource_id_for(geometry, canopy_cover, dataset_version)
                # atomic exists-check + pending registration: the route
                # itself spawns compute threads, so without the lock two
                # identical concurrent POSTs would both pass the check
                # and race their background computes over one file
                with _datamart_post_lock:
                    if dm.resource_exists(registry, rid):
                        raise RegistryError(
                            f"Resource {rid} already exists "
                            "with those parameters.",
                            409,
                        )
                    dm.save_pending_resource(registry, rid, canopy_cover)

                def compute(rid=rid, geometry=geometry, canopy_cover=canopy_cover,
                            dataset_version=dataset_version):
                    try:
                        dm.compute_tree_cover_loss_by_driver(
                            spark,
                            registry,
                            geometry,
                            canopy_cover=canopy_cover,
                            version_overrides=dataset_version or None,
                            resource_id=rid,
                        )
                    except Exception as exc:  # noqa: BLE001 — recorded on the resource
                        dm.save_failed_resource(registry, rid, canopy_cover, str(exc))

                threading.Thread(target=compute, daemon=True).start()
                return _success(
                    start_response, {"link": f"/datamart/tree_cover_loss_by_driver/{rid}"}, 202
                )

            # search by parameters (land.py:75-108)
            if parts == ["datamart", "tree_cover_loss_by_driver"] and method == "GET":
                geometry = resolve_geometry(params, body)
                canopy_cover = _num_param(params, "canopy_cover", "30")
                try:
                    raw_dv = json.loads(params.get("dataset_version", ["{}"])[0])
                except ValueError:
                    raise QueryGuardError(
                        "dataset_version must be a JSON object.", 422
                    ) from None
                if not isinstance(raw_dv, dict):
                    raise QueryGuardError(
                        "dataset_version must be a JSON object.", 422
                    )
                dataset_version = dm.apply_overrides_and_remove_mutually_exclusive_datasets(
                    raw_dv
                )
                rid = dm.resource_id_for(geometry, canopy_cover, dataset_version)
                if not dm.resource_exists(registry, rid):
                    raise RegistryError("Resource not found, may require computation.", 404)
                return _success(
                    start_response, {"link": f"/datamart/tree_cover_loss_by_driver/{rid}"}
                )

            if (
                len(parts) == 3
                and parts[:2] == ["datamart", "tree_cover_loss_by_driver"]
                and method == "GET"
            ):
                resource = dm.get_resource(registry, parts[2])
                if resource.get("status") == "pending":
                    return _success(start_response, resource, 202, headers=[("Retry-After", "1")])
                accept = environ.get("HTTP_ACCEPT") or ""
                if _accepts_media_type(accept, "text/csv"):
                    csv_text = dm.resource_to_csv(resource).encode()
                    return _bytes_response(start_response, csv_text, "text/csv", "attachment")
                return _success(start_response, resource)

            if (
                len(parts) == 3
                and parts[:2] == ["datamart", "tree_cover_loss_by_driver"]
                and method == "DELETE"
            ):
                dm.delete_resource(registry, parts[2])
                return _respond(start_response, 204, [], b"")

            # /asset/{id}[/...] — asset introspection + lifecycle
            # (reference app/routes/assets/asset.py)
            if parts and parts[0] == "asset" and len(parts) >= 2:
                asset = registry.get_asset(parts[1])
                sub = parts[2:]
                if not sub and method == "GET":
                    return _success(
                        start_response,
                        {
                            "asset_id": asset.asset_id,
                            "dataset": asset.dataset,
                            "version": asset.version,
                            "asset_type": asset.asset_type,
                            "asset_uri": asset.asset_uri,
                            "is_default": asset.is_default,
                            "status": asset.status,
                        },
                    )
                if not sub and method == "DELETE":
                    check_manager(environ)
                    if asset.is_default:
                        # reference blocks deleting default assets directly
                        # (delete the version instead)
                        raise RegistryError(
                            "Deletion failed. You cannot delete a default "
                            "asset. To delete a default asset you must "
                            "delete the parent version.",
                            409,
                        )
                    registry.delete_asset(asset.asset_id)
                    return _success(
                        start_response, {"asset_id": asset.asset_id, "status": "deleted"}
                    )
                if sub == ["change_log"] and method == "GET":
                    return _success(start_response, asset.change_log)
                if sub == ["tasks"] and method == "GET":
                    # reference assets/asset.py tasks route: real task
                    # rows when workers registered them (PUT /task),
                    # else one synthetic row per change-log step (the
                    # synchronous-pipeline analog)
                    real = registry.tasks_for_asset(asset.asset_id)
                    if real:
                        items = [_task_payload(t) for t in real]
                    else:
                        items = [
                            {
                                "task_id": f"{asset.asset_id}:{i}",
                                "asset_id": asset.asset_id,
                                "change_log": [entry],
                                "status": entry["status"],
                            }
                            for i, entry in enumerate(asset.change_log)
                        ]
                    return _json_response(
                        start_response,
                        _paginated_payload(path, items, params),
                    )
                if sub == ["creation_options"] and method == "GET":
                    return _success(start_response, asset.creation_options)
                if sub == ["extent"] and method == "GET":
                    return _success(start_response, {"extent": asset.extent})
                if sub == ["fields"] and method == "GET":
                    return _success(start_response, asset.fields)
                if sub == ["stats"] and method == "GET":
                    return _success(start_response, asset_stats(asset))
                if sub == ["metadata"] and method == "GET":
                    return _success(start_response, metadata_store.get("asset", asset.asset_id))

            # /dataset/...
            if parts and parts[0] == "dataset":
                if len(parts) == 2:
                    if method == "DELETE":
                        check_manager(environ)
                        entity = registry.delete_dataset(parts[1])
                        return _success(
                            start_response, {"dataset": entity.dataset, "status": "deleted"}
                        )
                    if method == "PUT":
                        # create-or-echo (reference PUT /dataset/{d});
                        # metadata may ride along like DatasetCreateIn
                        check_manager(environ)
                        entity = registry.ensure_dataset(parts[1])
                        if "is_downloadable" in body:
                            entity.is_downloadable = bool(body["is_downloadable"])
                            registry.save()
                        if body.get("metadata"):
                            metadata_store.update(
                                "dataset", parts[1], body["metadata"]
                            )
                    elif method == "PATCH":
                        # reference PATCH /dataset/{d}: partial metadata /
                        # accessibility update, owner/manager gated
                        check_manager(environ)
                        entity = registry.get_dataset(parts[1])
                        if "is_downloadable" in body:
                            entity.is_downloadable = bool(body["is_downloadable"])
                            registry.save()
                        if body.get("metadata"):
                            metadata_store.update(
                                "dataset", parts[1], body["metadata"]
                            )
                    else:
                        entity = registry.get_dataset(parts[1])
                    versions = [
                        v.version for (d, _), v in registry._versions.items() if d == parts[1]
                    ]
                    return _success(
                        start_response,
                        {
                            "dataset": entity.dataset,
                            "is_downloadable": entity.is_downloadable,
                            "versions": versions,
                            "metadata": metadata_store.get_or_empty("dataset", parts[1]),
                        },
                    )

                dataset, version = parts[1], parts[2]
                # `latest` → 308 redirect to the concrete version
                # (app/middleware.py:25-77)
                if version == "latest":
                    concrete = registry.resolve_version(dataset, "latest")
                    location = "/" + "/".join(["dataset", dataset, concrete] + parts[3:])
                    query_string = environ.get("QUERY_STRING")
                    if query_string:
                        location += f"?{query_string}"
                    return _json_response(
                        start_response,
                        {"status": "redirect", "location": location},
                        308,
                        headers=[("Location", location)],
                    )

                if len(parts) == 3 and method == "DELETE":
                    check_manager(environ)
                    entity = registry.delete_version(dataset, version)
                    return _success(
                        start_response,
                        {
                            "dataset": dataset,
                            "version": entity.version,
                            "status": "deleted",
                        },
                    )

                if len(parts) == 3 and method in ("GET", "PATCH"):
                    entity = registry.get_version(dataset, version)
                    if method == "PATCH":
                        check_manager(environ)
                        if body.get("metadata"):
                            metadata_store.update(
                                "version", f"{dataset}/{version}", body["metadata"]
                            )
                    return _success(
                        start_response,
                        {
                            "dataset": dataset,
                            "version": entity.version,
                            "is_latest": entity.is_latest,
                            "is_mutable": entity.is_mutable,
                            "status": entity.status,
                            # dataset base + version non-null overrides
                            # (crud/metadata.py:334-352 inheritance)
                            "metadata": metadata_store.version_view(
                                dataset, version
                            ),
                        },
                    )

                tail = parts[3:]
                if len(tail) == 4 and tail[0] == "tile" and method == "GET":
                    # GET /dataset/{d}/{v}/tile/{z}/{x}/{y}.png|.pbf —
                    # serve one tile straight from the z/x-partitioned
                    # tile store (partition pruning makes the point
                    # lookup read a single directory). The reference
                    # delegates serving to its tile-cache CDN; here the
                    # engine IS the store, so the route closes the loop.
                    y_name, _, ext = tail[3].partition(".")
                    kinds = {
                        "png": ("raster_tile_cache", "png", "image/png"),
                        "pbf": (
                            "static_vector_tile_cache",
                            "pbf",
                            "application/x-protobuf",
                        ),
                    }
                    if ext not in kinds or not all(
                        re.fullmatch(r"-?\d+", p) for p in (tail[1], tail[2], y_name)
                    ):
                        raise QueryGuardError(
                            "tile path must be /tile/{z}/{x}/{y}.png or .pbf "
                            "with integer coordinates.",
                            422,
                        )
                    want_type, col, ctype = kinds[ext]
                    cache = next(
                        (
                            a
                            for a in registry.assets_for(dataset, version)
                            if a.asset_type == want_type and a.status == "saved"
                        ),
                        None,
                    )
                    if cache is None:
                        raise RegistryError(
                            f"no saved {want_type} asset for "
                            f"{dataset}/{version}.",
                            404,
                        )
                    rows = (
                        tile_store(cache)
                        .filter(
                            (F.col("z") == int(tail[1]))
                            & (F.col("x") == int(tail[2]))
                            & (F.col("y") == int(y_name))
                        )
                        .select(col)
                        .limit(1)
                        .collect()
                    )
                    if not rows or rows[0][0] is None:
                        raise RegistryError("tile not found.", 404)
                    return _bytes_response(start_response, bytes(rows[0][0]), ctype)
                if tail == ["assets"]:
                    # reference: app/routes/datasets/asset.py — GET lists a
                    # version's assets, POST creates an auxiliary asset
                    # (the asset JOB runs synchronously: the engine is the
                    # cluster)
                    if method == "GET":
                        return _json_response(
                            start_response,
                            _paginated_payload(
                                path,
                                [
                                    {
                                        "asset_id": a.asset_id,
                                        "asset_type": a.asset_type,
                                        "asset_uri": a.asset_uri,
                                        "is_default": a.is_default,
                                        "status": a.status,
                                    }
                                    for a in registry.assets_for(dataset, version)
                                ],
                                params,
                            ),
                        )
                    if method == "POST":
                        check_manager(environ)
                        asset_type = body.get("asset_type")
                        options = body.get("creation_options") or {}
                        if asset_type == "static_vector_tile_cache":
                            min_zoom, max_zoom = _zoom_range(options, 5)
                            max_feat = options.get("max_features_per_tile")
                            if max_feat is not None and (
                                isinstance(max_feat, bool)
                                or not isinstance(max_feat, int)
                                or max_feat < 1
                            ):
                                raise QueryGuardError(
                                    "max_features_per_tile must be a positive "
                                    "integer.",
                                    422,
                                )
                            asset = pipeline.create_tile_cache_asset(
                                registry,
                                spark,
                                dataset,
                                version,
                                min_zoom=min_zoom,
                                max_zoom=max_zoom,
                                max_features_per_tile=max_feat,
                            )
                        elif asset_type == "raster_tile_cache":
                            min_zoom, max_zoom = _zoom_range(options, 3)
                            sym = options.get("symbology") or {}
                            cm_raw = sym.get("colormap") or {}
                            if not isinstance(cm_raw, dict) or not cm_raw:
                                raise QueryGuardError(
                                    "symbology.colormap must be a non-empty "
                                    "object of value → [r, g, b].",
                                    422,
                                )
                            colormap: dict[float, tuple[int, int, int]] = {}
                            for k, v in cm_raw.items():
                                try:
                                    key = float(k)
                                except (TypeError, ValueError):
                                    raise QueryGuardError(
                                        f"colormap key {k!r} is not numeric.", 422
                                    ) from None
                                if (
                                    not isinstance(v, (list, tuple))
                                    or len(v) != 3
                                    or any(
                                        isinstance(c, bool)
                                        or not isinstance(c, int)
                                        or not 0 <= c <= 255
                                        for c in v
                                    )
                                ):
                                    raise QueryGuardError(
                                        f"colormap entry {k!r} must be "
                                        "[r, g, b] with 0-255 ints.",
                                        422,
                                    )
                                colormap[key] = (v[0], v[1], v[2])
                            sym_type = str(sym.get("type", "discrete"))
                            kind = (
                                "gradient"
                                if sym_type.startswith("gradient")
                                else "discrete"
                            )
                            asset = pipeline.create_raster_tile_cache_asset(
                                registry,
                                spark,
                                dataset,
                                version,
                                colormap=colormap,
                                min_zoom=min_zoom,
                                max_zoom=max_zoom,
                                kind=kind,
                            )
                        elif asset_type in ("csv", "tsv", "ndjson"):
                            asset = pipeline.export_version(
                                registry, spark, dataset, version, fmt=asset_type
                            )
                        else:
                            raise QueryGuardError(f"unsupported asset_type {asset_type!r}", 400)
                        return _success(
                            start_response,
                            {
                                "asset_id": asset.asset_id,
                                "asset_type": asset.asset_type,
                                "asset_uri": asset.asset_uri,
                                "status": asset.status,
                            },
                            202,
                        )

                if tail == ["append"] and method == "POST":
                    # reference: app/routes/datasets/versions.py:200-271 —
                    # owner/ADMIN-gated append to an existing table version;
                    # schema must match or be a subset of the original
                    check_manager(environ)
                    source_uri = body.get("source_uri")
                    if isinstance(source_uri, str):
                        source_uri = [source_uri]
                    if not isinstance(source_uri, list) or not source_uri:
                        raise QueryGuardError(
                            "source_uri must be a non-empty list.", 422
                        )
                    check_source_uris(source_uri)
                    asset = registry.get_default_asset(dataset, version)
                    req_driver = body.get("source_driver")
                    orig_delim = asset.creation_options.get("delimiter", ",")
                    # reference versions.py:236-244: the driver must EQUAL
                    # the original unless it is "text" (datapump requests)
                    orig_driver = asset.creation_options.get(
                        "source_driver", "csv"
                    )
                    if req_driver and req_driver != "text" and req_driver != orig_driver:
                        raise QueryGuardError(
                            "source_driver must match the original "
                            "source_driver",
                            400,
                        )
                    pipeline.append_tabular(
                        registry, spark, dataset, version, source_uri,
                        delimiter=orig_delim,
                    )
                    # record the appended sources on the default asset,
                    # like the reference's creation_options update
                    asset.creation_options.setdefault("source_paths", [])
                    asset.creation_options["source_paths"] += source_uri
                    registry.save()
                    entity = registry.get_version(dataset, version)
                    return _success(
                        start_response,
                        {
                            "dataset": dataset,
                            "version": entity.version,
                            "is_latest": entity.is_latest,
                            "is_mutable": entity.is_mutable,
                            "status": entity.status,
                        },
                    )

                if (
                    len(tail) == 3
                    and tail[0] == "assets"
                    and tail[2] == "metadata"
                ):
                    # reference app/routes/assets metadata routes, keyed
                    # by asset id within the version
                    asset_id = tail[1]
                    if not any(
                        a.asset_id == asset_id
                        for a in registry.assets_for(dataset, version)
                    ):
                        raise RegistryError("Asset not found.", 404)
                    if method == "PATCH":
                        check_manager(environ)
                        doc = metadata_store.update(
                            "asset", asset_id, body.get("metadata") or body
                        )
                    elif method == "GET":
                        doc = metadata_store.get("asset", asset_id)
                    else:
                        raise ApiError("Method not allowed.", 405)
                    return _success(start_response, doc)

                if tail == ["fields"]:
                    asset = registry.get_default_asset(dataset, version)
                    return _success(start_response, asset.fields)

                # version introspection (reference versions.py change_log /
                # creation_options / extent / stats / metadata routes —
                # all read the default asset)
                if tail == ["change_log"] and method == "GET":
                    entity = registry.get_version(dataset, version)
                    return _success(start_response, entity.change_log)
                if tail == ["creation_options"] and method == "GET":
                    asset = registry.get_default_asset(dataset, version)
                    return _success(start_response, asset.creation_options)
                if tail == ["extent"] and method == "GET":
                    asset = registry.get_default_asset(dataset, version)
                    return _success(start_response, {"extent": asset.extent})
                if tail == ["stats"] and method == "GET":
                    asset = registry.get_default_asset(dataset, version)
                    return _success(start_response, asset_stats(asset))
                if tail == ["metadata"] and method == "GET":
                    return _success(start_response, metadata_store.version_view(dataset, version))

                # /dataset/{d}/{v}/geostore/{id}: geostore scoped to this
                # version's own table (reference datasets/geostore.py)
                if len(tail) == 2 and tail[0] == "geostore" and method == "GET":
                    df = registry.load(spark, dataset, version)
                    if "gfw_geostore_id" not in df.columns:
                        raise RegistryError("Dataset has no geostore.", 404)
                    rows = (
                        df.filter(F.col("gfw_geostore_id") == tail[1])
                        .select(
                            "gfw_geostore_id", "gfw_geojson",
                            "gfw_area__ha", "gfw_bbox",
                        )
                        .limit(1)
                        .collect()
                    )
                    if not rows:
                        raise RegistryError(f"Geostore {tail[1]} not found.", 404)
                    return _success(start_response, rows[0].asDict())

                if tail[:2] == ["query", "batch"] and method == "POST":
                    check_query_auth(environ, params, dataset, version)
                    # R10: 202 + job id, polled via /job/{id}
                    # (queries.py:300-427 + app/routes/jobs/job.py:24).
                    # Execution is ONE Spark job over the whole feature
                    # list (raster/batch.py) in a daemon thread — the
                    # Step Functions map collapses into one tile-pruned
                    # plan, the scale-right shape.
                    from gfw_data_api_spark.raster.batch import batch_query, validate_batch_sql

                    asset = registry.get_default_asset(dataset, version)
                    if asset.asset_type != "raster_tile_set":
                        raise QueryGuardError(
                            "Querying on lists is only available for raster "
                            "tile sets.",
                            400,
                        )
                    feature_collection = body.get("feature_collection")
                    geostore_ids = body.get("geostore_ids")
                    uri = body.get("uri")
                    provided = [
                        x for x in (feature_collection, geostore_ids, uri)
                        if x is not None
                    ]
                    if len(provided) != 1:
                        raise QueryGuardError(
                            "Must provide only one of valid feature "
                            "collection, URI, or geostore_ids list.",
                            400,
                        )
                    sql = body["sql"]
                    # a refused statement answers 400/422 here; no job is queued
                    validate_batch_sql(sql)
                    if feature_collection is not None:
                        for feat in feature_collection.get("features", []):
                            gtype = (feat.get("geometry") or {}).get("type")
                            if gtype not in ("Polygon", "MultiPolygon"):
                                raise QueryGuardError(
                                    "Feature collection must only contain "
                                    "Polygons or MultiPolygons for raster "
                                    "analysis",
                                    400,
                                )
                        geometries = [
                            feat.get("geometry") or {}
                            for feat in feature_collection.get("features", [])
                        ]
                    elif geostore_ids is not None:
                        # one Spark action resolves the whole id list
                        resolved = geostore.geometry_many(spark, geostore_ids)
                        geometries = [resolved[gid] for gid in geostore_ids]
                    else:
                        check_source_uris([uri])
                        with open(uri) as fh:
                            fc = json.load(fh)
                        geometries = [
                            feat.get("geometry") or {}
                            for feat in fc.get("features", [])
                        ]

                    def run_batch(geoms=geometries, q=sql):
                        result_df, failed = batch_query(
                            spark, registry, dataset, version, q, geoms
                        )
                        per_feature: dict[int, list] = {}
                        for item in _json_rows(
                            _guard_collect(result_df, "batch query result", "downloads")
                        ):
                            per_feature.setdefault(
                                item.pop("feature_id"), []
                            ).append(item)
                        results = [
                            {"feature_id": idx, "result": per_feature.get(idx, [])}
                            for idx in range(len(geoms))
                            if idx not in failed
                        ]
                        return results, failed

                    job = jobs.submit(run_batch)
                    return _success(
                        start_response,
                        {
                            "job_id": job.job_id,
                            "job_link": job.job_link,
                            "status": job.status,
                            "message": job.message,
                            "download_link": job.download_link,
                            "failed_geometries_link": job.failed_geometries_link,
                            "progress": job.progress,
                        },
                        202,
                    )

                if tail[:1] == ["query"]:
                    check_query_auth(environ, params, dataset, version)
                    fmt = tail[1] if len(tail) > 1 else "json"
                    sql = body.get("sql") or (params.get("sql") or [None])[0]
                    if not sql:
                        raise QueryGuardError("Missing sql parameter.", 400)
                    geometry = resolve_geometry(params, body)
                    df = run_query(dataset, version, sql, geometry)
                    # 58 s interactive limit -> 524, like the reference
                    rows = collect_with_timeout(spark, df, DEFAULT_QUERY_TIMEOUT_S)
                    if fmt == "csv":
                        text = downloads.rows_to_csv_rows(df.columns, rows)
                        return _bytes_response(start_response, text.encode(), "text/csv")
                    data = _json_rows(rows)
                    return _success(start_response, data)

                if tail[:1] == ["features"] and method == "GET":
                    lat = _num_param(params, "lat", params["lat"][0], cast=float)
                    lng = _num_param(params, "lng", params["lng"][0], cast=float)
                    zoom = _num_param(params, "z", "22")
                    df = features.features_by_location(
                        spark, registry, dataset, version, lat, lng, zoom
                    )
                    data = _json_rows(
                        _guard_collect(df, "features by location", "the downloads path")
                    )
                    return _success(start_response, data)

                if tail[:1] == ["download_by_aoi"]:
                    # reference downloads.py:200-262 — AOI given as
                    # aoi[type]=geostore|admin query params
                    check_query_auth(environ, params, dataset, version)
                    fmt = tail[1] if len(tail) > 1 else "csv"
                    aoi_type = (params.get("aoi[type]") or [None])[0]
                    if aoi_type == "geostore":
                        gid = (params.get("aoi[geostore_id]") or [None])[0]
                        if not gid:
                            raise QueryGuardError(
                                "aoi[geostore_id] required.", 422
                            )
                        geometry = geostore.geometry(spark, gid)
                    elif aoi_type == "admin":
                        country = (params.get("aoi[country]") or [None])[0]
                        region = (params.get("aoi[region]") or [None])[0]
                        subregion = (params.get("aoi[subregion]") or [None])[0]
                        if not country:
                            raise QueryGuardError("aoi[country] required.", 422)
                        level = 0 + (region is not None) + (subregion is not None)
                        doc = features.admin_geostore(
                            spark, registry,
                            "gadm_administrative_boundaries", "latest",
                            adm_level=level, country_id=country,
                            region_id=region, subregion_id=subregion,
                        )
                        geometry = doc["attributes"]["geojson"]["features"][0][
                            "geometry"
                        ]
                    else:
                        raise QueryGuardError(
                            "aoi[type] must be geostore or admin.", 422
                        )
                    sql = (params.get("sql") or [None])[0] or "SELECT * FROM data"
                    df = downloads.query_for_download(
                        spark, registry, dataset, version, sql, geometry=geometry
                    )
                    if fmt == "json":
                        data = _json_rows(
                            _guard_collect(df, "download json", "downloads/csv to file")
                        )
                        return _success(start_response, data)
                    return _bytes_response(
                        start_response,
                        downloads.rows_to_csv(df).encode(),
                        "text/csv",
                        f'attachment; filename="{dataset}_{version}_aoi.csv"',
                    )

                if tail == ["download", "gpkg"] and method == "GET":
                    # reference redirects to a pre-built GPKG asset; the
                    # engine IS the cluster, so build-on-demand and serve
                    check_query_auth(environ, params, dataset, version)
                    from gfw_data_api_spark.sources.vector_files import (
                        write_geopackage,
                    )

                    df = downloads.query_for_download(
                        spark, registry, dataset, version, "SELECT * FROM data"
                    )
                    if "geom" not in df.columns:
                        raise ApiError(_NOT_IMPLEMENTED, 501)
                    keep = [
                        f.name for f in df.schema.fields
                        if f.name == "geom"
                        or not f.name.startswith(("gfw_", "geom_"))
                    ]
                    with tempfile.NamedTemporaryFile(suffix=".gpkg") as tmp:
                        write_geopackage(df.select(*keep), tmp.name, dataset)
                        blob = open(tmp.name, "rb").read()
                    return _bytes_response(
                        start_response,
                        blob,
                        "application/geopackage+sqlite3",
                        f'attachment; filename="{dataset}_{version}.gpkg"',
                    )

                if tail == ["download", "geotiff"] and method == "GET":
                    # reference downloads.py:265-293: one raster tile by
                    # grid + tile_id + pixel_meaning; here the GeoTIFF is
                    # assembled from the tile's pixel rows on demand
                    check_query_auth(environ, params, dataset, version)
                    from gfw_data_api_spark.raster.cog import tile_array, write_cog
                    from gfw_data_api_spark.raster.grid import Grid as _Grid

                    grid_name = (params.get("grid") or [None])[0]
                    tile_id = (params.get("tile_id") or [None])[0]
                    pixel_meaning = (params.get("pixel_meaning") or [None])[0]
                    if not (grid_name and tile_id and pixel_meaning):
                        raise QueryGuardError(
                            "grid, tile_id and pixel_meaning are required.", 422
                        )
                    match = None
                    for a in registry.assets_for(dataset, version):
                        if a.asset_type != "raster_tile_set":
                            continue
                        if (
                            a.creation_options.get("grid") == grid_name
                            and a.creation_options.get("pixel_meaning")
                            == pixel_meaning
                        ):
                            match = a
                            break
                    if match is None:
                        if not any(
                            a.asset_type == "raster_tile_set"
                            for a in registry.assets_for(dataset, version)
                        ):
                            raise ApiError(_NOT_IMPLEMENTED, 501)
                        raise RegistryError(
                            "Dataset version does not have "
                            f"raster tile asset with grid {grid_name}.",
                            404,
                        )
                    grid_obj = _Grid.parse(
                        match.creation_options["grid"]
                    )
                    pix = _guard_collect(
                        registry.load(spark, asset=match)
                        .filter(F.col("tile_id") == tile_id)
                        .select("pixel_id", "value"),
                        "tile pixel fetch", "the COG export path",
                    )
                    if not pix:
                        raise RegistryError(f"Tile {tile_id} not found.", 404)
                    arr = tile_array(
                        [r["pixel_id"] for r in pix],
                        [r["value"] for r in pix],
                        grid_obj.pixels_per_side,
                        nodata=0,
                        dtype="float64",
                    )
                    lat, lon = grid_obj.parse_tile_id(tile_id)
                    with tempfile.NamedTemporaryFile(suffix=".tif") as tmp:
                        write_cog(
                            tmp.name, arr, nw_lon=lon, nw_lat=lat,
                            pixel_size=grid_obj.pixel_size, nodata=0,
                        )
                        blob = open(tmp.name, "rb").read()
                    return _bytes_response(
                        start_response,
                        blob,
                        "image/tiff",
                        f'attachment; filename="{dataset}_{tile_id}.tif"',
                    )

                if tail == ["download", "shp"] and method == "GET":
                    # no shapefile writer in this engine — explicit 501,
                    # matching the reference's asset-absent path
                    check_query_auth(environ, params, dataset, version)
                    raise ApiError(_NOT_IMPLEMENTED, 501)

                if tail[:1] == ["download"]:
                    check_query_auth(environ, params, dataset, version)
                    fmt = tail[1] if len(tail) > 1 else "csv"
                    sql = body.get("sql") or (params.get("sql") or [None])[0] or "SELECT * FROM data"
                    df = downloads.query_for_download(
                        spark, registry, dataset, version, sql,
                        geometry=resolve_geometry(params, body),
                    )
                    if fmt == "json":
                        data = _json_rows(
                            _guard_collect(df, "download json", "downloads/csv to file")
                        )
                        return _success(start_response, data)
                    return _bytes_response(
                        start_response,
                        downloads.rows_to_csv(df).encode(),
                        "text/csv",
                        f'attachment; filename="{dataset}_{version}.csv"',
                    )

            raise ApiError("Not found.", 404)
        except QueryTimeoutError as exc:
            return _json_response(
                start_response, {"status": "failed", "message": str(exc)}, 524
            )
        except (QueryGuardError, RegistryError, AuthError, ApiError) as exc:
            return _json_response(
                start_response,
                {"status": "failed", "message": exc.detail},
                exc.status_code,
            )
        except KeyError as exc:
            return _json_response(
                start_response,
                {"status": "failed", "message": f"Missing parameter: {exc}"},
                400,
            )
        except Exception as exc:  # noqa: BLE001 — JSEND 500, never a raw traceback
            return _json_response(
                start_response,
                {"status": "error", "message": f"{type(exc).__name__}: {exc}"},
                500,
            )

    return app


def serve(app, host: str = "127.0.0.1", port: int = 8000):
    """Run the app with the stdlib WSGI server (dev/testing)."""
    from wsgiref.simple_server import make_server

    with make_server(host, port, app) as server:
        server.serve_forever()
