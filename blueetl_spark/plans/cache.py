"""Checksum-based parquet cache with dependency-ordered invalidation and
subfilter reuse.

Re-expresses the reference's CacheManager design
(``/root/reference/src/blueetl/cache.py``): each named DataFrame is cached
as parquet + a JSON metadata sidecar holding the config checksum it was
built from; a new run invalidates along the extraction dependency chain
(``simulations → neurons → neuron_classes → windows → report → features``)
when the relevant config section changed, and a run whose simulations
filter is *narrower* than the cached one reuses the cached parquet and
refilters in memory (``is_subfilter``, ``cache.py:575-610``).

Differences by design (SURVEY §7 hard-parts):

- No flock: object stores don't have it. Writes go to a temp dir then
  atomically rename; metadata is versioned JSON. Single-writer semantics
  are the deployment's job (one driver per cache path), readers are always
  safe because renames are atomic.
- Checksums are over the *config*, not file bytes: Spark inputs are
  immutable-by-convention parquet datasets; add explicit ``version`` salt
  to configs to force invalidation.
- The metadata sidecar also carries the dumped frame's schema, and
  ``load`` hands it to the reader: reopening a cached table starts no
  parquet schema-inference job (meta written without a schema still loads,
  by inference).
- The config-sized tables (``DRIVER_TABLES``: one row per run, per
  (circuit, class), per (simulation, window, trial)) load driver-resident:
  pyarrow reads their parquet on the driver and ``session.local_df`` makes
  a ``LocalRelation`` of the rows, under the pinned schema made nullable
  (as Spark's parquet reader makes it). Filtering and collecting them runs
  no Spark job, so a coordinate subfilter resolves against the cached
  simulations table on the driver, once per fetch, at no job cost.
- It also records the frame's ``_blueetl_*`` attributes (driver-side facts
  such as the windows table's ``_blueetl_time_bounds``), and every frame
  ``load`` or ``fetch`` returns carries them again. A refiltered frame
  keeps them too: its rows are a subset, so the recorded time bounds
  still enclose them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from blueetl_spark.functions.qdsl import Query, compile_query, is_subfilter
from blueetl_spark.session import local_df

# extraction DAG order: invalidating one name invalidates all after it
DEPENDENCY_ORDER = [
    "simulations",
    "neurons",
    "neuron_classes",
    "windows",
    "report",
]
# config-sized tables, which ``load`` returns driver-resident
DRIVER_TABLES = ("simulations", "neuron_classes", "windows")


def _query_keys(query: Query) -> set[str]:
    """All column names a q-DSL query constrains (union across OR branches)."""
    if not query:
        return set()
    if isinstance(query, dict):
        return set(query)
    out: set[str] = set()
    for d in query:
        out |= set(d)
    return out


def checksum(obj: Any) -> str:
    """blake2b of the sorted-key JSON encoding (config identity)."""
    payload = json.dumps(obj, sort_keys=True, default=str).encode()
    return hashlib.blake2b(payload, digest_size=16).hexdigest()


def _nullable(t: Any) -> Any:
    """JSON data type ``t`` with every field, element and map value
    nullable: what Spark's parquet reader makes of a given schema."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        fields = [{**f, "nullable": True, "type": _nullable(f["type"])} for f in t["fields"]]
        return {**t, "fields": fields}
    if t["type"] == "array":
        return {**t, "elementType": _nullable(t["elementType"]), "containsNull": True}
    if t["type"] == "map":
        return {**t, "keyType": _nullable(t["keyType"]),
                "valueType": _nullable(t["valueType"]), "valueContainsNull": True}
    return t


def _from_arrow(t: DataType, v: Any) -> Any:
    """A pyarrow ``to_pylist`` value as ``createDataFrame`` takes it for the
    Spark type ``t``: pyarrow returns a map as a list of key-value pairs."""
    if v is None:
        return v
    if isinstance(t, MapType):
        return {_from_arrow(t.keyType, k): _from_arrow(t.valueType, x) for k, x in v}
    if isinstance(t, ArrayType):
        return [_from_arrow(t.elementType, x) for x in v]
    return v


def _with_attrs(df: DataFrame, meta: dict[str, Any]) -> DataFrame:
    """``df`` with the ``_blueetl_*`` attributes recorded in ``meta``
    (JSON lists back to tuples)."""
    for attr, value in (meta.get("attrs") or {}).items():
        setattr(df, attr, tuple(value) if isinstance(value, list) else value)
    return df


class CacheManager:
    """Parquet + JSON-metadata cache for named DataFrames.

    Layout: ``<path>/<name>.parquet/`` (directory dataset) and
    ``<path>/<name>.meta.json`` with ``{"checksum", "filter", "written_at",
    "schema", "attrs"}``.
    """

    def __init__(self, spark: SparkSession, path: str | Path, readonly: bool = False):
        self.spark = spark
        self.path = Path(path)
        self.readonly = readonly
        if not readonly:
            self.path.mkdir(parents=True, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _data_path(self, name: str) -> Path:
        return self.path / f"{name}.parquet"

    def _meta_path(self, name: str) -> Path:
        return self.path / f"{name}.meta.json"

    # -- metadata ------------------------------------------------------------
    def get_meta(self, name: str) -> dict[str, Any] | None:
        p = self._meta_path(name)
        if not p.exists():
            return None
        return json.loads(p.read_text())

    # -- core API ------------------------------------------------------------
    def is_cached(self, name: str, config_checksum: str) -> bool:
        meta = self.get_meta(name)
        return (
            meta is not None
            and meta["checksum"] == config_checksum
            and self._data_path(name).exists()
        )

    def load(self, name: str) -> DataFrame:
        meta = self.get_meta(name) or {}
        path = str(self._data_path(name))
        if meta.get("schema") is None:  # written unpinned: infer
            return _with_attrs(self.spark.read.parquet(path), meta)
        schema = StructType.fromJson(_nullable(meta["schema"]))
        if name not in DRIVER_TABLES:  # pinned: no schema-inference job
            return _with_attrs(self.spark.read.schema(schema).parquet(path), meta)
        import pyarrow.parquet as pq

        rows = [
            tuple(_from_arrow(f.dataType, r[f.name]) for f in schema.fields)
            for r in pq.read_table(path, columns=schema.fieldNames()).to_pylist()
        ]
        return _with_attrs(local_df(self.spark, rows, schema), meta)

    def dump(
        self,
        name: str,
        df: DataFrame,
        config_checksum: str,
        simulations_filter: Query = None,
    ) -> None:
        if self.readonly:
            raise PermissionError(f"cache at {self.path} is readonly")
        data = self._data_path(name)
        # reap residue from crashed dumps of ANY pid (a crash between the
        # two renames below leaves full-size .old-/.tmp- copies that no
        # later process would otherwise ever delete)
        for stale in self.path.glob(f".{name}.parquet.tmp-*"):
            shutil.rmtree(stale, ignore_errors=True)
        for stale in self.path.glob(f".{name}.parquet.old-*"):
            shutil.rmtree(stale, ignore_errors=True)
        tmp = self.path / f".{name}.parquet.tmp-{os.getpid()}"
        try:
            df.write.mode("overwrite").parquet(str(tmp))
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        # Publish without a missing-path window: move the old dataset aside
        # (atomic), swap the new one in (atomic), then delete the old copy.
        old = self.path / f".{name}.parquet.old-{os.getpid()}"
        if data.exists():
            os.replace(data, old)
        os.replace(tmp, data)  # atomic publish
        if old.exists():
            shutil.rmtree(old)
        meta = {
            "version": 1,
            "checksum": config_checksum,
            "filter": simulations_filter,
            "written_at": time.time(),
            "schema": df.schema.jsonValue(),
            "attrs": {k: v for k, v in vars(df).items() if k.startswith("_blueetl_")},
        }
        tmp_meta = self.path / f".{name}.meta.tmp-{os.getpid()}"
        tmp_meta.write_text(json.dumps(meta, indent=1, default=str))
        os.replace(tmp_meta, self._meta_path(name))

    def delete(self, name: str) -> None:
        if self.readonly:
            raise PermissionError(f"cache at {self.path} is readonly")
        data = self._data_path(name)
        if data.exists():
            shutil.rmtree(data)
        self._meta_path(name).unlink(missing_ok=True)

    def invalidate_from(self, name: str) -> list[str]:
        """Delete ``name`` and everything after it in the dependency chain,
        plus all feature tables (which depend on everything)."""
        if name in DEPENDENCY_ORDER:
            victims = DEPENDENCY_ORDER[DEPENDENCY_ORDER.index(name):]
        else:
            victims = [name]
        victims = victims + [
            p.name[: -len(".meta.json")]
            for p in self.path.glob("features_*.meta.json")
        ]
        for v in dict.fromkeys(victims):
            self.delete(v)
        return victims

    # -- subfilter-aware fetch -------------------------------------------
    def fetch(
        self,
        name: str,
        config_checksum: str,
        simulations_filter: Query = None,
        filter_columns: tuple[str, ...] = ("simulation_id", "circuit_id"),
    ) -> DataFrame | None:
        """Return a cached DataFrame if reusable, else None.

        Reusable when the config checksum matches AND the requested filter
        is equal to — or provably narrower than — the cached one; a narrower
        filter is applied on top of the cached parquet (refilter instead of
        recompute, reference ``cache.py:352-410``). A *broader* filter
        returns None (must recompute).

        Filters over campaign coordinates (e.g. ``{"seed": 1}``) reference
        columns that exist only on the simulations table; for downstream
        frames the filter is resolved against the cached simulations table
        and re-expressed as a ``filter_columns`` id filter (reference
        ``repository.py:140-204``). When that resolution is impossible
        (no cached simulations, no shared id column) fetch returns None so
        the caller recomputes — never a silently under-filtered frame.
        """
        meta = self.get_meta(name)
        if meta is None or meta["checksum"] != config_checksum:
            return None
        if not self._data_path(name).exists():
            return None
        cached_filter = meta.get("filter") or {}
        requested = simulations_filter or {}
        if requested == cached_filter:
            return self.load(name)
        if not is_subfilter(requested, cached_filter):
            return None
        df = self.load(name)
        if _query_keys(requested) <= set(df.columns):
            return _with_attrs(df.filter(compile_query(requested)), meta)
        resolved = self._resolve_via_simulations(requested, filter_columns, df.columns)
        if resolved is None:
            return None  # can't refilter soundly → force recompute
        key, values = resolved
        return _with_attrs(df.filter(F.col(key).isin(values)), meta)

    def _resolve_via_simulations(
        self,
        requested: Query,
        filter_columns: tuple[str, ...],
        frame_columns: list[str],
    ) -> tuple[str, list[Any]] | None:
        """Surviving-id filter for a frame lacking some requested columns.

        Applies ``requested`` to the cached simulations table (where campaign
        coordinate columns live) and returns ``(id_column, ids)`` to filter
        the frame with. The table is driver-resident, so this runs no job;
        the id set is campaign-sized (tens to thousands), so an ``isin``
        literal keeps the refilter pushdown-friendly. Returns None when
        resolution is unsound/impossible.
        """
        meta = self.get_meta("simulations")
        if meta is None or not self._data_path("simulations").exists():
            return None
        sims = self.load("simulations")
        if not _query_keys(requested) <= set(sims.columns):
            return None
        keys = [c for c in filter_columns if c in sims.columns and c in frame_columns]
        if not keys:
            return None
        rows = sims.filter(compile_query(requested)).select(keys[0]).collect()
        return keys[0], list(dict.fromkeys(r[0] for r in rows))


class CachedPipeline:
    """Helper tying extraction steps to the cache: each step declares its
    config; changed checksums invalidate that step and its dependents."""

    def __init__(self, cache: CacheManager, configs: dict[str, Any],
                 simulations_filter: Query = None):
        self.cache = cache
        self.configs = configs
        self.simulations_filter = simulations_filter

    def plan_invalidation(self) -> list[str]:
        """First stale step in dependency order (or None) → victims list."""
        for name in DEPENDENCY_ORDER:
            cs = checksum(self.configs.get(name))
            meta = self.cache.get_meta(name)
            if meta is not None and meta["checksum"] != cs:
                return self.cache.invalidate_from(name)
            if meta is not None and not is_subfilter(
                self.simulations_filter or {}, meta.get("filter") or {}
            ):
                # broader filter than cached → recompute from here down
                return self.cache.invalidate_from(name)
        return []

    def get_or_compute(self, name: str, compute) -> DataFrame:
        cs = checksum(self.configs.get(name))
        hit = self.cache.fetch(name, cs, self.simulations_filter)
        if hit is not None:
            return hit
        self.cache.dump(name, compute(), cs, self.simulations_filter)
        return self.cache.load(name)
