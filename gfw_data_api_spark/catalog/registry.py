"""Dataset / Version / Asset registry — the catalog plane.

Reference data model (SURVEY.md §1.1): app/models/orm/datasets.py:4-9,
versions.py:4-26, assets.py:4-31; asset-type enum + default-asset rule
app/models/enum/assets.py:13-52; ``latest`` alias resolution
app/middleware.py:25-77; append/mutation guard
app/routes/datasets/versions.py:202-271.

The reference keeps this in Postgres; here it is a small JSON-backed
registry (metadata is tiny — the *data* lives in the parquet warehouse).
``*_df`` accessors expose the registry as DataFrames so the reference's
internal joins (SURVEY §2.3 I1/I2) are ordinary Spark joins against it.

Warehouse layout: ``{root}/warehouse/{dataset}/{version}/{asset_type}/``
— one parquet directory per physical asset, partition directories inside.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class RegistryError(Exception):
    def __init__(self, detail: str, status_code: int = 400):
        super().__init__(detail)
        self.detail = detail
        self.status_code = status_code


# AssetType vocabulary (app/models/enum/assets.py:13-34)
ASSET_TYPES = {
    "database_table",
    "geo_database_table",
    "raster_tile_set",
    "dynamic_vector_tile_cache",
    "static_vector_tile_cache",
    "raster_tile_cache",
    "shapefile",
    "geopackage",
    "ndjson",
    "csv",
    "tsv",
    "grid_1x1",
    "cog",
}


def default_asset_type(source_type: str, has_lat_lng: bool = False) -> str:
    """Default-asset dispatch rule (app/models/enum/assets.py:36-52)."""
    if source_type == "vector":
        return "geo_database_table"
    if source_type == "table":
        return "geo_database_table" if has_lat_lng else "database_table"
    if source_type == "raster":
        return "raster_tile_set"
    raise RegistryError(f"unknown source type: {source_type}")


def schema_from_fields(fields: list[dict], names: list[str] | None = None) -> T.StructType:
    """The Spark schema an asset's ``fields`` record, in field order, or
    in the order of ``names`` when given (each must be a recorded field).

    One DDL parse for the whole struct; every name is backtick-quoted so
    any column name survives. Every field is nullable, as Spark reads
    parquet.
    """
    types = {f["name"]: f["data_type"] for f in fields}
    order = [f["name"] for f in fields] if names is None else names
    ddl = ",".join("`{}`:{}".format(name.replace("`", "``"), types[name]) for name in order)
    return T.DataType.fromDDL(f"struct<{ddl}>")


def _now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


@dataclass
class Dataset:
    dataset: str
    is_downloadable: bool = True
    owner_id: str | None = None
    metadata: dict = field(default_factory=dict)
    created_on: str = field(default_factory=_now)


@dataclass
class Version:
    dataset: str
    version: str
    is_latest: bool = False
    is_mutable: bool = False
    is_downloadable: bool = True
    status: str = "pending"  # pending | saved | failed
    change_log: list[dict] = field(default_factory=list)
    created_on: str = field(default_factory=_now)


@dataclass
class Asset:
    asset_id: str
    dataset: str
    version: str
    asset_type: str
    asset_uri: str
    is_default: bool = False
    status: str = "pending"
    creation_options: dict = field(default_factory=dict)
    fields: list[dict] = field(default_factory=list)  # {name, data_type, is_feature_info}
    extent: list[float] | None = None
    stats: dict = field(default_factory=dict)
    change_log: list[dict] = field(default_factory=list)
    created_on: str = field(default_factory=_now)


@dataclass
class Task:
    """One batch-worker work item for an asset (reference ORMTask,
    app/routes/tasks/task.py): workers PUT the task when they start and
    PATCH change-log entries as they run; terminal entries propagate to
    the asset and, for default assets, the version."""

    task_id: str
    asset_id: str
    change_log: list[dict] = field(default_factory=list)
    created_on: str = field(default_factory=_now)


class Registry:
    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "registry.json")
        self.warehouse = os.path.join(root, "warehouse")
        os.makedirs(self.warehouse, exist_ok=True)
        self._datasets: dict[str, Dataset] = {}
        self._versions: dict[tuple[str, str], Version] = {}
        self._assets: dict[str, Asset] = {}
        self._tasks: dict[str, Task] = {}
        if os.path.exists(self.path):
            self._load()

    # -- persistence --------------------------------------------------------

    def _load(self) -> None:
        with open(self.path) as fh:
            raw = json.load(fh)
        self._datasets = {d["dataset"]: Dataset(**d) for d in raw.get("datasets", [])}
        self._versions = {
            (v["dataset"], v["version"]): Version(**v) for v in raw.get("versions", [])
        }
        self._assets = {a["asset_id"]: Asset(**a) for a in raw.get("assets", [])}
        self._tasks = {t["task_id"]: Task(**t) for t in raw.get("tasks", [])}

    def save(self) -> None:
        payload = {
            "datasets": [asdict(d) for d in self._datasets.values()],
            "versions": [asdict(v) for v in self._versions.values()],
            "assets": [asdict(a) for a in self._assets.values()],
            "tasks": [asdict(t) for t in self._tasks.values()],
        }
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh, indent=1)
        os.replace(tmp, self.path)

    # -- datasets ------------------------------------------------------------

    def create_dataset(self, dataset: str, **kwargs: Any) -> Dataset:
        if dataset in self._datasets:
            raise RegistryError(f"Dataset {dataset} already exists.")
        entity = Dataset(dataset=dataset, **kwargs)
        self._datasets[dataset] = entity
        self.save()
        return entity

    def ensure_dataset(self, dataset: str) -> Dataset:
        if dataset not in self._datasets:
            return self.create_dataset(dataset)
        return self._datasets[dataset]

    def get_dataset(self, dataset: str) -> Dataset:
        try:
            return self._datasets[dataset]
        except KeyError:
            raise RegistryError(f"Dataset {dataset} does not exist.", 404) from None

    def datasets(self) -> list[Dataset]:
        return sorted(self._datasets.values(), key=lambda d: d.dataset)

    # -- versions ------------------------------------------------------------

    def create_version(
        self, dataset: str, version: str, is_mutable: bool = False, **kwargs: Any
    ) -> Version:
        self.get_dataset(dataset)
        key = (dataset, version)
        if key in self._versions:
            raise RegistryError(f"Version {dataset}.{version} already exists.")
        entity = Version(dataset=dataset, version=version, is_mutable=is_mutable, **kwargs)
        self._versions[key] = entity
        self.save()
        return entity

    def ensure_version(self, dataset: str, version: str) -> Version:
        if (dataset, version) not in self._versions:
            return self.create_version(dataset, version)
        return self._versions[(dataset, version)]

    def resolve_version(self, dataset: str, version: str) -> str:
        """``latest`` alias → concrete version (app/middleware.py:25-77;
        the reference answers with a 308 redirect, we resolve in-process)."""
        if version != "latest":
            return version
        latest = [v for (d, _), v in self._versions.items() if d == dataset and v.is_latest]
        if not latest:
            raise RegistryError(f"Dataset {dataset} has no latest version.", 404)
        return latest[0].version

    def get_version(self, dataset: str, version: str) -> Version:
        version = self.resolve_version(dataset, version)
        try:
            return self._versions[(dataset, version)]
        except KeyError:
            raise RegistryError(f"Version {dataset}.{version} does not exist.", 404) from None

    def set_latest(self, dataset: str, version: str) -> None:
        target = self.get_version(dataset, version)
        for (d, _), v in self._versions.items():
            if d == dataset:
                v.is_latest = False
        target.is_latest = True
        self.save()

    def set_version_status(self, dataset: str, version: str, status: str, message: str = "") -> None:
        v = self.get_version(dataset, version)
        v.status = status
        v.change_log.append({"date_time": _now(), "status": status, "message": message})
        self.save()

    def assert_appendable(self, dataset: str, version: str) -> Version:
        """E16 mutation guard (app/routes/datasets/versions.py:202-271)."""
        v = self.get_version(dataset, version)
        if not v.is_mutable:
            raise RegistryError(f"Version {dataset}.{version} is not mutable.", 400)
        return v

    # -- assets ---------------------------------------------------------------

    def create_asset(
        self,
        dataset: str,
        version: str,
        asset_type: str,
        asset_uri: str | None = None,
        is_default: bool = False,
        creation_options: dict | None = None,
    ) -> Asset:
        self.get_version(dataset, version)
        if asset_type not in ASSET_TYPES:
            raise RegistryError(f"unknown asset type: {asset_type}")
        if is_default and any(
            a.is_default and a.dataset == dataset and a.version == version
            for a in self._assets.values()
        ):
            raise RegistryError(f"Version {dataset}.{version} already has a default asset.")
        asset_id = str(uuid.uuid4())
        # the default asset's directory is named for its type; any other
        # asset gets its own beside it, so a second asset of one type
        # never overwrites or deletes the default's files
        leaf = asset_type if is_default else asset_id
        asset = Asset(
            asset_id=asset_id,
            dataset=dataset,
            version=version,
            asset_type=asset_type,
            asset_uri=asset_uri or os.path.join(self.warehouse, dataset, version, leaf),
            is_default=is_default,
            creation_options=creation_options or {},
        )
        self._assets[asset.asset_id] = asset
        self.save()
        return asset

    def get_default_asset(self, dataset: str, version: str) -> Asset:
        version = self.resolve_version(dataset, version)
        for asset in self._assets.values():
            if asset.dataset == dataset and asset.version == version and asset.is_default:
                return asset
        raise RegistryError(f"Version {dataset}.{version} has no default asset.", 404)

    def assets_for(self, dataset: str, version: str) -> list[Asset]:
        version = self.resolve_version(dataset, version)
        return [
            a for a in self._assets.values() if a.dataset == dataset and a.version == version
        ]

    def set_asset_fields(self, asset_id: str, df: DataFrame) -> None:
        """Persist field metadata from the DataFrame schema — the analog of
        harvesting information_schema.columns after load
        (app/routes/tasks/task.py:249-275, app/utils/fields.py:9-38)."""
        asset = self._assets[asset_id]
        asset.fields = [
            {
                "name": f.name,
                "data_type": f.dataType.simpleString(),
                "is_feature_info": not f.name.startswith(("geom", "_")),
            }
            for f in df.schema.fields
        ]
        self.save()

    def set_asset_status(self, asset_id: str, status: str, message: str = "") -> None:
        asset = self._assets[asset_id]
        asset.status = status
        asset.change_log.append({"date_time": _now(), "status": status, "message": message})
        self.save()

    @contextmanager
    def asset_job(self, asset: Asset, message: str = "") -> Iterator[None]:
        """The lifecycle of one asset-writing job (reference
        app/routes/tasks/task.py:89-246): when the body returns, the asset
        is ``saved``; when it raises, the asset is ``failed`` with the
        error, which is re-raised. A default asset's version follows its
        asset. Each transition is one ``save()``."""
        try:
            yield
        except Exception as exc:
            self._finish_asset(asset, "failed", str(exc))
            raise
        self._finish_asset(asset, "saved", message)

    def _finish_asset(self, asset: Asset, status: str, message: str) -> None:
        entities = [asset]
        if asset.is_default:
            entities.append(self.get_version(asset.dataset, asset.version))
        for entity in entities:
            entity.status = status
            entity.change_log.append({"date_time": _now(), "status": status, "message": message})
        self.save()

    def get_asset(self, asset_id: str) -> Asset:
        asset = self._assets.get(asset_id)
        if asset is None:
            raise RegistryError(f"Asset {asset_id} not found.", 404)
        return asset

    # -- tasks (reference app/routes/tasks/task.py + app/crud/tasks.py) -------

    def create_task(self, task_id: str, asset_id: str, change_log: list[dict] | None = None) -> Task:
        """PUT /task/{id}: register a batch work item against an asset."""
        if task_id in self._tasks:
            raise RegistryError(f"Task {task_id} already exists.", 400)
        self.get_asset(asset_id)  # 404 → 400 is handled by the route
        task = Task(task_id=task_id, asset_id=asset_id, change_log=list(change_log or []))
        self._tasks[task_id] = task
        self.save()
        return task

    def get_task(self, task_id: str) -> Task:
        task = self._tasks.get(task_id)
        if task is None:
            raise RegistryError(f"Task {task_id} not found.", 404)
        return task

    def tasks_for_asset(self, asset_id: str) -> list[Task]:
        return [t for t in self._tasks.values() if t.asset_id == asset_id]

    def update_task(self, task_id: str, change_log: list[dict]) -> Task:
        """PATCH /task/{id}: append worker change-log entries, then
        propagate terminal status (reference task.py:89-246):

        - any ``failed`` entry → asset failed; if the asset is the
          version's default, the version fails too;
        - a ``success`` entry → if EVERY task of the asset now has a
          success entry, the asset is saved (and the default-asset
          version with it).
        """
        task = self.get_task(task_id)
        # Reference semantics (routes/tasks/task.py:112-127): scan the
        # entries keeping the LAST status, breaking early on `failed`.
        # A log of [success, pending] is therefore a 400, not a
        # completion — only the final state of the batch propagates.
        # Validate BEFORE mutating: a rejected PATCH must leave no trace
        # in memory (a later unrelated save() would persist it).
        status = None
        for entry in change_log:
            status = entry.get("status")
            if status == "failed":
                break
        if status not in ("failed", "success"):
            raise RegistryError(
                "change log status must be either `success` or `failed`", 400
            )
        task.change_log.extend(change_log)
        if status == "failed":
            self._finish_asset(self.get_asset(task.asset_id), "failed", f"Task {task_id} failed.")
        else:
            self._propagate_task_completion(task)
            self.save()
        return task

    def _propagate_task_completion(self, task: Task) -> None:
        asset = self.get_asset(task.asset_id)
        all_finished = all(
            any(e.get("status") == "success" for e in t.change_log)
            for t in self.tasks_for_asset(asset.asset_id)
        )
        if not all_finished:
            return
        asset.status = "saved"
        asset.change_log.append(
            {
                "date_time": _now(),
                "status": "success",
                "message": f"Successfully created asset {asset.asset_id}.",
            }
        )
        if asset.is_default:
            self.set_version_status(
                asset.dataset, asset.version, "saved", "all tasks complete"
            )

    # -- deletion (reference dataset.py:157-186, versions.py:274-315) ----------

    def delete_asset(self, asset_id: str, remove_files: bool = True) -> Asset:
        """Delete one asset record and (optionally) its managed files."""
        asset = self.get_asset(asset_id)
        del self._assets[asset_id]
        self.save()
        if remove_files and asset.asset_uri.startswith(self.warehouse):
            import shutil

            shutil.rmtree(asset.asset_uri, ignore_errors=True)
        return asset

    def delete_version(self, dataset: str, version: str) -> Version:
        """Delete a version + all its assets. A version tagged latest can
        only be deleted when it is the dataset's only version
        (versions.py:300-307 → 409)."""
        v = self.get_version(dataset, version)
        siblings = [key for key in self._versions if key[0] == dataset]
        if v.is_latest and len(siblings) > 1:
            raise RegistryError(
                "Deletion failed. You can only delete a version tagged as "
                "`latest` if no other version of the same dataset exists. "
                "Change `latest` version, or delete all other versions first.",
                409,
            )
        for asset in list(self.assets_for(dataset, version)):
            self.delete_asset(asset.asset_id)
        del self._versions[(dataset, version)]
        self.save()
        return v

    def delete_dataset(self, dataset: str) -> Dataset:
        """Delete a dataset; refuses while versions remain
        (dataset.py:171-177 → 409)."""
        entity = self.get_dataset(dataset)
        if any(key[0] == dataset for key in self._versions):
            raise RegistryError(
                "There are versions registered with the dataset. Delete all "
                "related versions prior to deleting a dataset",
                409,
            )
        del self._datasets[dataset]
        self.save()
        return entity

    def feature_info_fields(self, dataset: str, version: str) -> list[str]:
        """E14: ordered feature-info column selection (app/utils/fields.py:9-38)."""
        asset = self.get_default_asset(dataset, version)
        return [f["name"] for f in asset.fields if f.get("is_feature_info")]

    # -- Spark access ----------------------------------------------------------

    def load(
        self,
        spark: SparkSession,
        dataset: str | None = None,
        version: str | None = None,
        *,
        asset: Asset | None = None,
    ) -> DataFrame:
        """Resolve ``dataset.version`` (incl. ``latest``) to its default
        asset's DataFrame — the Q1 FROM-rebinding target — or read the
        given ``asset``.

        The schema comes from the asset's recorded ``fields`` (the
        information_schema analog), so the read runs no Spark job. Only
        an asset without ``fields`` (raster tile sets, catalogs written
        before fields were recorded) has its schema inferred from the
        parquet footers."""
        if asset is None:
            asset = self.get_default_asset(dataset, version)
        reader = spark.read
        if asset.fields:
            reader = reader.schema(schema_from_fields(asset.fields))
        return reader.parquet(asset.asset_uri)

    def datasets_df(self, spark: SparkSession) -> DataFrame:
        rows = [(d.dataset, d.is_downloadable, d.owner_id) for d in self._datasets.values()]
        return spark.createDataFrame(rows, "dataset string, is_downloadable boolean, owner_id string")

    def versions_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (v.dataset, v.version, v.is_latest, v.is_mutable, v.status)
            for v in self._versions.values()
        ]
        return spark.createDataFrame(
            rows, "dataset string, version string, is_latest boolean, is_mutable boolean, status string"
        )

    def assets_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (
                a.asset_id,
                a.dataset,
                a.version,
                a.asset_type,
                a.asset_uri,
                a.is_default,
                a.status,
                json.dumps(a.creation_options),
            )
            for a in self._assets.values()
        ]
        return spark.createDataFrame(
            rows,
            "asset_id string, dataset string, version string, asset_type string, "
            "asset_uri string, is_default boolean, status string, creation_options string",
        )
