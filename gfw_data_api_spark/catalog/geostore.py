"""Geostore: content-addressed geometry registry.

Reference: app/crud/geostore.py:82-134 (create: ``gfw_geostore_id =
md5(geojson)::uuid``, area, bbox), :32-39 (column set), :42-79 (lookup
searches the geostore table *and* every vector table that inherits
``public.geostore`` — batch/scripts/inherit_geostore.sh, E11).

Here the inheritance is a lazily-unioned DataFrame over the registry's
``geo_database_table`` assets plus the standalone geostore store — same
observable behavior (any vector feature is addressable by geostore id)
without Postgres table inheritance.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfw_data_api_spark.catalog.registry import Registry, RegistryError
from gfw_data_api_spark.functions import geometry as geo

GEOSTORE_COLUMNS = ["gfw_geostore_id", "gfw_geojson", "gfw_area__ha", "gfw_bbox"]


def _hash_id(geojson: str) -> str:
    digest = hashlib.md5(geojson.encode()).hexdigest()  # noqa: S324 (content address, parity)
    return f"{digest[:8]}-{digest[8:12]}-{digest[12:16]}-{digest[16:20]}-{digest[20:]}"


# An external resolver takes a geostore id and returns the geostore
# record ({gfw_geostore_id, gfw_geojson, gfw_area__ha, gfw_bbox}) or
# None when that source doesn't know the id; any other exception is a
# source error (reported as 500, not 404 — utils/geostore.py:56-86).
ExternalResolver = Callable[[str], dict[str, Any] | None]


class Geostore:
    def __init__(
        self,
        registry: Registry,
        external_resolvers: dict[str, ExternalResolver] | None = None,
    ):
        """``external_resolvers`` maps origin name (e.g. ``"rw"``) to a
        resolver consulted when an id is not in the local registry —
        the reference's multi-origin fallback (app/utils/geostore.py)."""
        self.registry = registry
        self.external_resolvers = dict(external_resolvers or {})
        self.path = os.path.join(registry.root, "geostore.json")
        self._store: dict[str, dict[str, Any]] = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self._store = json.load(fh)

    def _save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._store, fh)
        os.replace(tmp, self.path)

    def create(self, geometry: dict[str, Any]) -> dict[str, Any]:
        """Register a geometry; id is the md5 of its canonical GeoJSON —
        idempotent by construction (crud/geostore.py:82-134)."""
        geojson = json.dumps(geometry, separators=(", ", ": "))
        geostore_id = _hash_id(geojson)
        if geostore_id not in self._store:
            self._store[geostore_id] = {
                "gfw_geostore_id": geostore_id,
                "gfw_geojson": geojson,
                "gfw_area__ha": geo.geodesic_area_ha(geometry)
                if geometry["type"] in ("Polygon", "MultiPolygon")
                else 0.0,
                "gfw_bbox": list(geo.bbox(geometry)),
            }
            self._save()
        return self._store[geostore_id]

    def _local_lookup(
        self, spark: SparkSession, geostore_id: str
    ) -> dict[str, Any] | None:
        if geostore_id in self._store:
            return self._store[geostore_id]
        union = self.inherited_view(spark)
        if union is not None:
            rows = union.filter(F.col("gfw_geostore_id") == geostore_id).limit(1).collect()
            if rows:
                row = rows[0]
                return {col: row[col] for col in GEOSTORE_COLUMNS}
        return None

    def get(
        self, spark: SparkSession, geostore_id: str, origin: str = "gfw"
    ) -> dict[str, Any]:
        """Lookup by id, client-chosen origin first, then every other
        source (reference app/utils/geostore.py:42-86): the standalone
        store + vector-version inheritance union is the "gfw" source;
        registered external resolvers are the rest. 404 only after ALL
        sources miss; a source ERROR (not a miss) surfaces as 500."""
        sources: dict[str, Callable[[], dict[str, Any] | None]] = {
            "gfw": lambda: self._local_lookup(spark, geostore_id),
        }
        for name, resolver in self.external_resolvers.items():
            sources[name] = lambda r=resolver: r(geostore_id)
        ordered = [origin] if origin in sources else []
        ordered += [name for name in sources if name not in ordered]
        errors: list[str] = []
        for name in ordered:
            try:
                found = sources[name]()
            except Exception as exc:  # noqa: BLE001 — source error ≠ miss
                errors.append(f"{name}: {type(exc).__name__}: {exc}")
                continue
            if found is not None:
                return found
        if errors:
            raise RegistryError(
                "One or more geostore sources failed: " + "; ".join(errors), 500
            )
        raise RegistryError(f"Geostore {geostore_id} not found.", 404)

    def inherited_view(self, spark: SparkSession) -> DataFrame | None:
        """UNION of (id, geojson, area, bbox) across all geo tables."""
        parts: list[DataFrame] = []
        for dataset_entity in self.registry.datasets():
            dataset = dataset_entity.dataset
            for (d, v), version in list(self.registry._versions.items()):
                if d != dataset or version.status != "saved":
                    continue
                try:
                    asset = self.registry.get_default_asset(d, v)
                except RegistryError:
                    continue
                if asset.asset_type != "geo_database_table":
                    continue
                if asset.fields and not {f["name"] for f in asset.fields}.issuperset(GEOSTORE_COLUMNS):
                    continue  # the catalog rules the table out: never opened
                df = self.registry.load(spark, asset=asset)
                if set(df.columns).issuperset(GEOSTORE_COLUMNS):
                    parts.append(df.select(*GEOSTORE_COLUMNS))
        if not parts:
            return None
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        return out

    def geometry(
        self, spark: SparkSession, geostore_id: str, origin: str = "gfw"
    ) -> dict[str, Any]:
        return json.loads(self.get(spark, geostore_id, origin)["gfw_geojson"])

    def get_many(
        self, spark: SparkSession, geostore_ids: list[str], origin: str = "gfw"
    ) -> dict[str, dict[str, Any]]:
        """Resolve a batch of ids with ONE Spark action, not one per id.

        The batch-list path (R10) previously looped ``get`` — a limit-1
        collect against the inheritance union per feature. Here the ids
        missing from the standalone store resolve through a single
        ``isin`` filter over the union (one job for all of them; the id
        list is request-bounded at MAX_BATCH_FEATURES so the predicate
        stays small); only ids unknown to every local source fall back
        to the per-id external resolvers, which are remote HTTP analogs
        with no batch endpoint. Raises 404 naming every unresolved id,
        or 500 if any external source errored (same contract as ``get``).
        """
        out: dict[str, dict[str, Any]] = {}
        missing: list[str] = []
        for gid in geostore_ids:
            if gid in self._store:
                out[gid] = self._store[gid]
            else:
                missing.append(gid)
        if missing:
            union = self.inherited_view(spark)
            if union is not None:
                rows = union.filter(
                    F.col("gfw_geostore_id").isin(missing)
                ).collect()
                for row in rows:
                    out[row["gfw_geostore_id"]] = {
                        col: row[col] for col in GEOSTORE_COLUMNS
                    }
                missing = [gid for gid in missing if gid not in out]
        errors: list[str] = []
        still_missing: list[str] = []
        resolver_order = (
            [origin] if origin in self.external_resolvers else []
        ) + [n for n in self.external_resolvers if n != origin]
        for gid in missing:
            found = None
            for name in resolver_order:
                try:
                    found = self.external_resolvers[name](gid)
                except Exception as exc:  # noqa: BLE001 — source error ≠ miss
                    errors.append(f"{name}: {type(exc).__name__}: {exc}")
                    continue
                if found is not None:
                    break
            if found is not None:
                out[gid] = found
            else:
                still_missing.append(gid)
        if still_missing:
            if errors:
                raise RegistryError(
                    "One or more geostore sources failed: " + "; ".join(errors),
                    500,
                )
            raise RegistryError(
                f"Geostore(s) not found: {', '.join(still_missing)}.", 404
            )
        return out

    def geometry_many(
        self, spark: SparkSession, geostore_ids: list[str], origin: str = "gfw"
    ) -> dict[str, dict[str, Any]]:
        entries = self.get_many(spark, geostore_ids, origin)
        return {
            gid: json.loads(entry["gfw_geojson"]) for gid, entry in entries.items()
        }
