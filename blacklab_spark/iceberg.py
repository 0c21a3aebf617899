"""Apache Iceberg table layer: snapshot-pinned reads, time travel,
incremental append scans, and snapshot-checkpointed index builds.

The north star puts the corpus in "an Iceberg table of Common-Crawl-style
web pages" and demands builds "resumable from Iceberg snapshot
checkpoints". On a real cluster you'd add the iceberg-spark-runtime jar
and a catalog, and ``spark.read.format("iceberg")`` does the planning;
this sandbox has no Iceberg runtime, so this module implements the table
format itself (spec v2, append-only subset) in pure python over
blacklab_spark.avro_io:

- table metadata JSON (``metadata/vN.metadata.json`` + version-hint.text),
  snapshot log, schema with Iceberg field-ids;
- manifest lists and manifest files as REAL Avro container files with the
  spec's field-ids (manifest_path=500 …, data_file.file_path=100 …), so
  the files are the format, not a look-alike;
- one commit path, ``IcebergTable._commit(mutate)``: each change is applied
  to a fresh load of the current version and committed by publishing a
  complete ``v{N+1}`` with ``os.link`` (put-if-absent, the swap a catalog
  supplies on a real deployment); a writer that loses the race re-loads,
  re-validates and re-applies;
- scan planning: snapshot-id / as-of-timestamp time travel and
  incremental (start, end] append scans by data sequence number — the
  planner returns the parquet file list and Spark reads it directly.

``pages_from_iceberg`` prefers the native Spark source when the session
has one configured (``native="auto"``) and falls back to this planner, so
the same call works in-sandbox and on a cluster.

Index builds: ``index_iceberg`` pins the snapshot it read in
``iceberg_source.json`` inside the segment dir — a resume against the
same table re-reads the SAME snapshot (deterministic input across
retries, the snapshot-checkpoint rule) and a resume after new commits
detects the change and rebuilds; ``index_iceberg_delta`` indexes only the
files appended since the last indexed snapshot as a delta segment
(tracked in ``iceberg_watermark.json`` at the index root), which is the
"new crawl lands in the table" ingestion story.

Reference parity: the reference indexes from filesystem document trees
(indexers/.../DocIndexerFactory); the Iceberg source replaces that file
walk at cluster scale. Spec anchors: Apache Iceberg Table Spec v2
("Table Metadata", "Snapshots", "Manifests", "Manifest Lists").
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from . import avro_io
from .storage import write_json as _write_json

FORMAT_VERSION = 2

# ---------------------------------------------------------------------------
# type mapping (subset: every type the pages/documents schemas use + the
# common scalars)

_ICE_TO_SPARK = {
    "string": "string",
    "long": "bigint",
    "int": "int",
    "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz",
    "binary": "binary",
    "boolean": "boolean",
    "double": "double",
    "float": "float",
    "date": "date",
}
_SPARK_TO_ICE = {
    "string": "string",
    "bigint": "long",
    "long": "long",
    "int": "int",
    "integer": "int",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
    "boolean": "boolean",
    "double": "double",
    "float": "float",
    "date": "date",
}


def schema_from_ddl(ddl: str) -> dict:
    """Spark DDL string -> Iceberg schema struct (field-ids assigned 1..n).
    Parsed directly (flat `name type, ...` only — the supported scalar
    subset), so table creation and all metadata ops need NO live Spark
    session; Spark is only involved when rows move."""
    fields = []
    for i, part in enumerate(ddl.split(","), start=1):
        toks = part.strip().split()
        if len(toks) != 2:
            raise ValueError(f"unsupported DDL fragment for iceberg table: {part!r}")
        name, t = toks[0], toks[1].lower()
        if t not in _SPARK_TO_ICE:
            raise ValueError(f"unsupported column type for iceberg table: {t}")
        fields.append(
            {"id": i, "name": name, "required": False, "type": _SPARK_TO_ICE[t]}
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


def spark_ddl(schema: dict) -> str:
    return ", ".join(
        f"{f['name']} {_ICE_TO_SPARK[f['type']]}" for f in schema["fields"]
    )


# ---------------------------------------------------------------------------
# Avro schemas for manifests (field-ids per the spec tables)

_DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
            "field-id": 102,
        },
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
        # null = inherit from the manifest list entry (spec: sequence
        # number inheritance for ADDED entries)
        {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
        {"name": "data_file", "type": _DATA_FILE_SCHEMA, "field-id": 2},
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": "int", "field-id": 504},
        {"name": "existing_data_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

_STATUS_ADDED = 1
_STATUS_DELETED = 2

# attempts one commit gets before contention is reported as an error
_COMMIT_ATTEMPTS = 8
# the orphan sweep leaves files younger than this (Iceberg's default
# olderThan): an append writes its data and manifests before it commits
_ORPHAN_MIN_AGE_S = 3 * 24 * 3600


# ---------------------------------------------------------------------------
# partition transforms (spec "Partition Transforms" + Appendix B hashing)


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Canonical 32-bit Murmur3 (x86 variant) — the spec's bucket hash.
    Returns the UNSIGNED 32-bit value; bucket() masks to Integer.MAX_VALUE
    exactly as the spec's `(hash & Integer.MAX_VALUE) % N`."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n4 = len(data) // 4 * 4
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n4:]
    k = 0
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _bucket_bytes(value, ice_type: str) -> bytes:
    """Spec Appendix B encodings: int/long/date as 8-byte little-endian
    two's-complement (so hash(34) == hash(34L), dates as epoch days),
    timestamps as micros-long, strings as UTF-8, binary raw."""
    if ice_type in ("int", "long", "date", "timestamp", "timestamptz"):
        return _ordinal(value, ice_type).to_bytes(8, "little", signed=True)
    if ice_type == "string":
        return str(value).encode("utf-8")
    if ice_type == "binary":
        return bytes(value)
    raise ValueError(f"bucket transform unsupported for type {ice_type}")


_EPOCH_ORDINAL = datetime.date(1970, 1, 1).toordinal()


def _ordinal(value, ice_type: str) -> int:
    """The spec's integer form of an int/long/date/timestamp value: dates
    are days since 1970-01-01, timestamps micros since the epoch (naive =
    UTC, the session convention). Numbers are taken as already in that
    form."""
    if ice_type in ("timestamp", "timestamptz") and isinstance(value, datetime.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=datetime.timezone.utc)
        return int(value.timestamp() * 1_000_000)
    if ice_type == "date" and isinstance(value, datetime.date):
        return value.toordinal() - _EPOCH_ORDINAL
    return int(value)


def parse_transform(expr: str) -> tuple[str, int | None, str]:
    """'day(warc_ts)' / 'bucket(16, url)' / 'truncate(4, lang)' / 'lang'
    -> (transform, param, source_column)."""
    expr = expr.strip()
    if "(" not in expr:
        return "identity", None, expr
    name, rest = expr.split("(", 1)
    args = [a.strip() for a in rest.rstrip(")").split(",")]
    name = name.strip().lower()
    if name in ("day", "days"):
        return "day", None, args[0]
    if name == "bucket":
        return "bucket", int(args[0]), args[1]
    if name == "truncate":
        return "truncate", int(args[0]), args[1]
    if name == "identity":
        return "identity", None, args[0]
    raise ValueError(f"unsupported partition transform: {expr}")


def apply_transform(transform: str, param: int | None, value, ice_type: str):
    """Python-side transform of one RAW source value — used for partition
    records at commit time and for point-lookup pruning (compute which
    bucket/day a value lives in)."""
    if value is None:
        return None
    if transform == "identity":
        return value
    if transform == "day":
        n = _ordinal(value, ice_type)
        return n if ice_type == "date" else n // 86_400_000_000
    if transform == "bucket":
        return (murmur3_32(_bucket_bytes(value, ice_type)) & 0x7FFFFFFF) % param
    if transform == "truncate":
        if ice_type == "string":
            return str(value)[:param]
        return int(value) - (int(value) % param)  # python % floors: spec's W*floor(v/W)
    raise ValueError(transform)


def _uri(path: str) -> str:
    return "file://" + os.path.abspath(path)


def _local(path_or_uri: str) -> str:
    if path_or_uri.startswith("file://"):
        return path_or_uri[len("file://") :]
    return path_or_uri


def _find_snapshot(md: dict, snapshot_id: int) -> dict:
    for s in md["snapshots"]:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise KeyError(f"unknown snapshot-id {snapshot_id}")


def _bound_bytes(value, ice_type: str) -> bytes:
    """Spec Appendix D single-value binary serialization (the encoding of
    lower_bounds/upper_bounds map values)."""
    import struct as _st

    if ice_type in ("int", "date"):
        return _ordinal(value, ice_type).to_bytes(4, "little", signed=True)
    if ice_type in ("long", "timestamp", "timestamptz"):
        return _ordinal(value, ice_type).to_bytes(8, "little", signed=True)
    if ice_type == "float":
        return _st.pack("<f", float(value))
    if ice_type == "double":
        return _st.pack("<d", float(value))
    if ice_type == "string":
        return str(value).encode("utf-8")
    if ice_type == "boolean":
        return b"\x01" if value else b"\x00"
    if ice_type == "binary":
        return bytes(value)
    raise ValueError(f"no bound serialization for {ice_type}")


def _bound_value(data: bytes, ice_type: str):
    import struct as _st

    if ice_type in ("int", "long", "date", "timestamp", "timestamptz"):
        return int.from_bytes(data, "little", signed=True)  # _ordinal form
    if ice_type == "float":
        return _st.unpack("<f", data)[0]
    if ice_type == "double":
        return _st.unpack("<d", data)[0]
    if ice_type == "string":
        return data.decode("utf-8")
    if ice_type == "boolean":
        return data != b"\x00"
    if ice_type == "binary":
        return data
    raise ValueError(ice_type)


def _file_column_stats(path: str, schema: dict) -> tuple[dict, dict, dict]:
    """(lower, upper, null_counts) per schema field-id, aggregated over the
    parquet file's row-group statistics. Columns without stats are absent
    (pruning must then keep the file)."""
    import pyarrow.parquet as pq

    by_name = {f["name"]: f for f in schema["fields"]}
    md = pq.ParquetFile(path).metadata
    lower: dict[int, bytes] = {}
    upper: dict[int, bytes] = {}
    nulls: dict[int, int] = {}
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in by_name:
                continue
            st = col.statistics
            if st is None:
                continue
            fid = by_name[name]["id"]
            if st.null_count is not None:
                nulls[fid] = nulls.get(fid, 0) + st.null_count
            if not st.has_min_max:
                mins[name] = maxs[name] = None  # poison: unknown range
                continue
            if name in mins and mins[name] is None:
                continue
            mins[name] = st.min if name not in mins else min(mins[name], st.min)
            maxs[name] = st.max if name not in maxs else max(maxs[name], st.max)
    for name, v in mins.items():
        if v is None:
            continue
        f = by_name[name]
        lower[f["id"]] = _bound_bytes(v, f["type"])
        upper[f["id"]] = _bound_bytes(maxs[name], f["type"])
    return lower, upper, nulls


def _stats_match(file_info: dict, flt, schema: dict) -> bool:
    """Conservative min/max pruning on ANY column: drop a file only when
    its [lower, upper] range PROVABLY excludes every matching row. Files
    without recorded bounds for a referenced column always survive.
    flt: {column: value | (op, value)} with ops = == != < <= > >= ."""
    if flt is None:
        return True
    by_name = {f["name"]: f for f in schema["fields"]}
    lower, upper = file_info.get("lower_bounds", {}), file_info.get("upper_bounds", {})
    for name, cond in flt.items():
        f = by_name[name]
        fid = f["id"]
        if fid not in lower or fid not in upper:
            continue  # no stats: cannot prune
        lo = _bound_value(lower[fid], f["type"])
        hi = _bound_value(upper[fid], f["type"])
        op, val = cond if isinstance(cond, tuple) else ("=", cond)
        if f["type"] in ("date", "timestamp", "timestamptz") and not isinstance(val, (int, float)):
            val = _ordinal(val, f["type"])
        if op in ("=", "=="):
            if val < lo or val > hi:
                return False
        elif op == "<":
            if lo >= val:
                return False
        elif op == "<=":
            if lo > val:
                return False
        elif op == ">":
            if hi <= val:
                return False
        elif op == ">=":
            if hi < val:
                return False
        elif op == "!=":
            if lo == hi == val:
                return False
        else:
            raise ValueError(f"unsupported stats op {op!r}")
    return True


def _bucket_udf(n: int, ice_type: str):
    """Arrow-batched bucket transform for the WRITE path (per-value python
    murmur3 inside the batch; a cluster deployment would use the native
    iceberg writer's expression instead)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _b(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None if v is None
            else (murmur3_32(_bucket_bytes(v, ice_type)) & 0x7FFFFFFF) % n
        )

    _b.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_b, "int")


def _partition_match(part: dict, flt) -> bool:
    """Evaluate a partition filter against one file's partition tuple.
    None = keep all; callable(part) -> bool; dict of
    {field: value | (op, value) | collection}."""
    if flt is None:
        return True
    if callable(flt):
        return bool(flt(part))
    import operator as _op

    ops = {
        "=": _op.eq, "==": _op.eq, "!=": _op.ne,
        "<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge,
    }
    for k, cond in flt.items():
        v = part.get(k)
        if isinstance(cond, tuple):
            op, val = cond
            if op == "in":
                if v not in val:
                    return False
            elif v is None or not ops[op](v, val):
                return False
        elif isinstance(cond, (set, frozenset, list)):
            if v not in cond:
                return False
        elif v != cond:
            return False
    return True


class IcebergTable:
    """One local Iceberg table (append-only subset). Every metadata change
    goes through `_commit`, so writers in any number of processes may
    commit at once and each change lands exactly once."""

    def __init__(self, location: str):
        self.location = os.path.abspath(location)
        self.refresh()

    # -- metadata ------------------------------------------------------

    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.location, "metadata")

    def _load(self) -> tuple[int, dict]:
        """(version, metadata) of the newest version, as a freshly parsed
        dict the caller owns. The hint can lag the versions (a writer
        publishes v{N+1} before it rewrites the hint, and may crash in
        between), so the walk goes forward from it while a next version
        exists, as Iceberg's Hadoop tables do."""
        hint = os.path.join(self._meta_dir, "version-hint.text")
        if not os.path.exists(hint):
            raise FileNotFoundError(f"not an iceberg table: {self.location}")
        with open(hint) as f:
            v = int(f.read().strip())
        while os.path.exists(os.path.join(self._meta_dir, f"v{v + 1}.metadata.json")):
            v += 1
        with open(os.path.join(self._meta_dir, f"v{v}.metadata.json")) as f:
            return v, json.load(f)

    def refresh(self) -> None:
        self._version, self.metadata = self._load()

    @classmethod
    def create(
        cls,
        location: str,
        schema_ddl: str,
        properties: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> "IcebergTable":
        """partition_by: transform expressions over schema columns, e.g.
        ["day(warc_ts)", "bucket(16, url)", "lang"] — the layout a
        Common-Crawl-scale pages table needs (crawl-day pruning + bounded
        url-lookup fan-out)."""
        location = os.path.abspath(location)
        meta_dir = os.path.join(location, "metadata")
        if os.path.exists(os.path.join(meta_dir, "version-hint.text")):
            raise FileExistsError(f"table exists: {location}")
        os.makedirs(meta_dir, exist_ok=True)
        os.makedirs(os.path.join(location, "data"), exist_ok=True)
        schema = schema_from_ddl(schema_ddl)
        by_name = {f["name"]: f for f in schema["fields"]}
        spec_fields = []
        for i, expr in enumerate(partition_by or []):
            transform, param, src = parse_transform(expr)
            if src not in by_name:
                raise ValueError(f"partition source column not in schema: {src}")
            tname = {"identity": "identity", "day": "day",
                     "bucket": f"bucket[{param}]",
                     "truncate": f"truncate[{param}]"}[transform]
            name = src if transform == "identity" else (
                f"{src}_{transform}" if transform != "bucket" else f"{src}_bucket"
            )
            spec_fields.append(
                {
                    "name": name,
                    "transform": tname,
                    "source-id": by_name[src]["id"],
                    "field-id": 1000 + i,
                }
            )
        md = {
            "format-version": FORMAT_VERSION,
            "table-uuid": str(uuid.uuid4()),
            "location": _uri(location),
            "last-sequence-number": 0,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": max(f["id"] for f in schema["fields"]),
            "current-schema-id": 0,
            "schemas": [schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 999 + len(spec_fields),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": properties or {},
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
            "refs": {},
        }
        cls._write_metadata(meta_dir, 1, md)
        return cls(location)

    @staticmethod
    def _write_metadata(meta_dir: str, version: int, md: dict) -> None:
        """Publish metadata version `version`: the complete JSON goes to a
        temp file that os.link then names v{version}.metadata.json. That is
        put-if-absent of whole content, the compare-and-swap a catalog
        provides (as in Delta Lake's log): when another writer already made
        the version, this raises FileExistsError and nothing is
        overwritten, and a crash leaves no version file or a complete one."""
        path = os.path.join(meta_dir, f"v{version}.metadata.json")
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(md, f, indent=2)
            os.link(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        _write_json(os.path.join(meta_dir, "version-hint.text"), version)

    def _commit(self, mutate):
        """Commit one metadata change and return what `mutate` returned.
        Each attempt applies `mutate` in place to a fresh load of version N
        (so it re-reads and re-validates what it depends on) and creates
        v{N+1}; a writer that lost the race to v{N+1} starts over from the
        winner's version (Delta Lake's put-if-absent log). An exception
        from mutate aborts the commit with nothing written."""
        for _ in range(_COMMIT_ATTEMPTS):
            version, md = self._load()
            result = mutate(md)
            base = os.path.join(self._meta_dir, f"v{version}.metadata.json")
            md["metadata-log"].append(
                {"timestamp-ms": md["last-updated-ms"], "metadata-file": _uri(base)}
            )
            md["last-updated-ms"] = int(time.time() * 1000)
            try:
                self._write_metadata(self._meta_dir, version + 1, md)
            except FileExistsError:
                continue
            self._version, self.metadata = version + 1, md
            return result
        raise RuntimeError(f"commit contention: {_COMMIT_ATTEMPTS} CAS retries exhausted")

    # -- snapshot resolution -------------------------------------------

    def snapshots(self) -> list[dict]:
        return self.metadata["snapshots"]

    def current_snapshot_id(self) -> int | None:
        sid = self.metadata.get("current-snapshot-id", -1)
        return None if sid in (-1, None) else sid

    def snapshot(self, snapshot_id: int | None = None, as_of_ms: int | None = None) -> dict | None:
        """Resolve a snapshot: pinned id, time travel, or current."""
        if snapshot_id is not None:
            return _find_snapshot(self.metadata, snapshot_id)
        if as_of_ms is not None:
            live = [e for e in self.metadata["snapshot-log"] if e["timestamp-ms"] <= as_of_ms]
            if not live:
                return None
            return self.snapshot(live[-1]["snapshot-id"])
        cur = self.current_snapshot_id()
        return None if cur is None else self.snapshot(cur)

    # -- schema evolution / maintenance -----------------------------------

    def add_column(self, name: str, spark_type: str) -> None:
        """Add-column schema evolution (spec: new field-id, old data files
        unchanged — readers fill nulls). A new schema version is committed;
        existing files simply lack the column and the explicit-schema
        parquet read yields NULLs for them."""
        if spark_type not in _SPARK_TO_ICE:
            raise ValueError(f"unsupported type {spark_type}")

        def mutate(md):
            cur = md["schemas"][md["current-schema-id"]]
            if any(f["name"] == name for f in cur["fields"]):
                raise ValueError(f"column exists: {name}")
            new_id = md["last-column-id"] + 1
            md["schemas"].append({
                "type": "struct",
                "schema-id": len(md["schemas"]),
                "fields": cur["fields"]
                + [{"id": new_id, "name": name, "required": False,
                    "type": _SPARK_TO_ICE[spark_type]}],
            })
            md["current-schema-id"] = len(md["schemas"]) - 1
            md["last-column-id"] = new_id

        self._commit(mutate)

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Expire all but the newest `keep_last` snapshots: they leave the
        metadata (time travel to them stops working) and their
        manifest-list files are deleted. Append-only tables share data
        files and manifests forward, so only the expired snapshots' OWN
        manifest lists are unreferenced — data files and manifests stay.
        Returns the expired snapshot ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")

        def mutate(md):
            # tagged snapshots survive expiry (spec: refs retain snapshots)
            pinned = {
                r["snapshot-id"] for r in md["refs"].values() if r.get("type") == "tag"
            }
            expired = [
                s for s in md["snapshots"][:-keep_last] if s["snapshot-id"] not in pinned
            ]
            gone = {s["snapshot-id"] for s in expired}
            md["snapshots"] = [s for s in md["snapshots"] if s["snapshot-id"] not in gone]
            md["snapshot-log"] = [
                e for e in md["snapshot-log"] if e["snapshot-id"] not in gone
            ]
            return expired

        expired = self._commit(mutate)
        kept_lists = {s["manifest-list"] for s in self.snapshots()}
        for s in expired:
            if s["manifest-list"] not in kept_lists:
                try:
                    os.remove(self._resolve(s["manifest-list"]))
                except FileNotFoundError:
                    pass
        return [s["snapshot-id"] for s in expired]

    def tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Create/update a named ref of type 'tag' pinning a snapshot
        (default: the current one at commit time; spec: refs map —
        `VERSION AS OF <tag>` reads). Tagged snapshots survive
        expire_snapshots."""
        if name == "main":
            raise ValueError("'main' is the branch ref; pick another name")

        def mutate(md):
            sid = md["current-snapshot-id"] if snapshot_id is None else snapshot_id
            if sid == -1:
                raise ValueError("cannot tag an empty table")
            _find_snapshot(md, sid)  # KeyError for an unknown or expired id
            md["refs"][name] = {"snapshot-id": sid, "type": "tag"}

        self._commit(mutate)

    def ref_snapshot_id(self, ref: str) -> int:
        r = self.metadata["refs"].get(ref)
        if r is None:
            raise KeyError(f"unknown ref: {ref}")
        return r["snapshot-id"]

    def set_sort_order(self, columns: list[str]) -> None:
        """Record a write sort order (spec: sort-orders / default-sort-
        order-id). Appends then sort within write tasks by these columns,
        which is what makes per-file min/max bounds DISJOINT instead of
        overlapping — stats pruning goes from 'keeps most files' to
        'keeps the slice' on the sorted columns."""

        def mutate(md):
            schema = md["schemas"][md["current-schema-id"]]
            by_name = {f["name"]: f for f in schema["fields"]}
            for c in columns:
                if c not in by_name:
                    raise ValueError(f"sort column not in schema: {c}")
            order_id = len(md["sort-orders"])
            md["sort-orders"].append({
                "order-id": order_id,
                "fields": [
                    {
                        "transform": "identity",
                        "source-id": by_name[c]["id"],
                        "direction": "asc",
                        "null-order": "nulls-first",
                    }
                    for c in columns
                ],
            })
            md["default-sort-order-id"] = order_id

        self._commit(mutate)

    def _sort_columns(self) -> list[str]:
        orders = {o["order-id"]: o for o in self.metadata["sort-orders"]}
        order = orders.get(self.metadata.get("default-sort-order-id", 0))
        if not order or not order["fields"]:
            return []
        schema = self.metadata["schemas"][self.metadata["current-schema-id"]]
        by_id = {f["id"]: f["name"] for f in schema["fields"]}
        return [by_id[f["source-id"]] for f in order["fields"]]

    def history(self) -> list[dict]:
        """The snapshot log as plain dicts (the `table$history` metadata
        table): made_current_at / snapshot_id / parent_id / is_current."""
        cur = self.current_snapshot_id()
        by_id = {s["snapshot-id"]: s for s in self.snapshots()}
        return [
            {
                "made_current_at_ms": e["timestamp-ms"],
                "snapshot_id": e["snapshot-id"],
                "parent_id": by_id.get(e["snapshot-id"], {}).get("parent-snapshot-id"),
                "is_current": e["snapshot-id"] == cur,
            }
            for e in self.metadata["snapshot-log"]
            if e["snapshot-id"] in by_id
        ]

    def files(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """The `table$files` metadata table as a DataFrame: one row per
        live data file with partition tuple and size/count stats."""
        rows = [
            (
                f["path"],
                f["record_count"],
                f["file_size_in_bytes"],
                f["sequence_number"],
                json.dumps(f["partition"], sort_keys=True),
            )
            for f in self.data_files(snapshot_id)
        ]
        return spark.createDataFrame(
            rows,
            "file_path string, record_count long, file_size_in_bytes long, "
            "sequence_number long, partition string",
        )

    def remove_orphan_files(self) -> list[str]:
        """Delete metadata/data files not referenced by any RETAINED
        snapshot: manifest lists and manifests orphaned by lost CAS races
        or snapshot expiry, and data files whose commit never succeeded.
        Files modified within the last _ORPHAN_MIN_AGE_S are kept: an
        append writes its data files, manifest and manifest list before it
        commits, and a sweep must not delete an append still in flight.
        Old vN.metadata.json versions are kept (they are the metadata log).
        Returns the deleted paths."""
        self.refresh()
        live_lists, live_manifests, live_data = set(), set(), set()
        for s in self.snapshots():
            live_lists.add(os.path.realpath(self._resolve(s["manifest-list"])))
            for mf in self._manifest_files(s):
                mp = os.path.realpath(self._resolve(mf["manifest_path"]))
                live_manifests.add(mp)
                _, entries, _ = avro_io.read_container(open(mp, "rb").read())
                for e in entries:
                    live_data.add(
                        os.path.realpath(self._resolve(e["data_file"]["file_path"]))
                    )
        cutoff = time.time() - _ORPHAN_MIN_AGE_S
        deleted = []

        def sweep(p: str, live: set) -> None:
            if p not in live and os.path.getmtime(p) < cutoff:
                os.remove(p)
                deleted.append(p)

        for fn in os.listdir(self._meta_dir):
            p = os.path.realpath(os.path.join(self._meta_dir, fn))
            if fn.startswith("snap-") and fn.endswith(".avro"):
                sweep(p, live_lists)
            elif fn.startswith("m") and fn.endswith(".avro"):
                sweep(p, live_manifests)
        data_root = os.path.join(self.location, "data")
        for root, dirs, files in os.walk(data_root, topdown=False):
            for fn in files:
                if fn.endswith(".parquet"):
                    sweep(os.path.realpath(os.path.join(root, fn)), live_data)
            for d in dirs:  # prune now-empty partition/commit dirs
                dp = os.path.join(root, d)
                if not os.listdir(dp):
                    os.rmdir(dp)
        return deleted

    # -- partition spec ---------------------------------------------------

    @property
    def partition_spec(self) -> list[dict]:
        specs = {s["spec-id"]: s for s in self.metadata["partition-specs"]}
        return specs[self.metadata["default-spec-id"]]["fields"]

    def _spec_parts(self) -> list[dict]:
        """Resolved spec fields: name/transform/param/src/src_type/
        result_type/field-id."""
        schema = self.metadata["schemas"][self.metadata["current-schema-id"]]
        by_id = {f["id"]: f for f in schema["fields"]}
        out = []
        for pf in self.partition_spec:
            tr, param = pf["transform"], None
            if "[" in tr:
                tr, p = tr.split("[", 1)
                param = int(p.rstrip("]"))
            src = by_id[pf["source-id"]]
            rt = "int" if tr in ("day", "bucket") else src["type"]
            out.append(
                {
                    "name": pf["name"], "transform": tr, "param": param,
                    "src": src["name"], "src_type": src["type"],
                    "result_type": rt, "field_id": pf["field-id"],
                }
            )
        return out

    def partition_value(self, pname: str, raw):
        """Transform a RAW source value into its partition value — the
        point-lookup helper: which bucket/day does this url/timestamp live
        in, for partition_filter pruning."""
        for sp in self._spec_parts():
            if sp["name"] == pname:
                return apply_transform(sp["transform"], sp["param"], raw, sp["src_type"])
        raise KeyError(f"not a partition field: {pname}")

    def _transform_col(self, sp: dict):
        """The Spark column computing one partition field at write time."""
        from pyspark.sql import functions as F

        c = F.col(sp["src"])
        tr, param, st = sp["transform"], sp["param"], sp["src_type"]
        if tr == "identity":
            return c
        if tr == "day":
            # normalize through timestamp first: TIMESTAMP_NTZ has no
            # direct double cast, and the session tz is pinned UTC so
            # ntz wall-clock == the oracle's epoch() semantics; timestamp
            # cast double = epoch seconds; floor division matches
            # micros // 86.4e9 for negatives too
            return F.floor(c.cast("timestamp").cast("double") / F.lit(86400.0)).cast("int")
        if tr == "truncate":
            if st == "string":
                return F.substring(c, 1, param)
            return (c - F.pmod(c, F.lit(param))).cast(_ICE_TO_SPARK[st])
        if tr == "bucket":
            return _bucket_udf(param, st)(c)
        raise ValueError(tr)

    _AVRO_T = {
        "int": "int", "long": "long", "string": "string", "date": "int",
        "timestamptz": "long", "timestamp": "long", "double": "double",
        "float": "float", "boolean": "boolean", "binary": "bytes",
    }

    @staticmethod
    def _kv_map(name: str, kid: int, vid: int, vtype: str) -> dict:
        """Iceberg's avro shape for int-keyed maps: array of key/value
        records with field-ids, logicalType map."""
        return {
            "type": "array",
            "logicalType": "map",
            "items": {
                "type": "record",
                "name": name,
                "fields": [
                    {"name": "key", "type": "int", "field-id": kid},
                    {"name": "value", "type": vtype, "field-id": vid},
                ],
            },
        }

    def _manifest_entry_schema(self) -> dict:
        """Per-table manifest_entry avro schema: the r102 partition record
        carries one nullable field per spec field (spec field-ids), plus
        the per-column stats maps (null counts, lower/upper bounds)."""
        import copy

        sch = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
        dfields = sch["fields"][-1]["type"]["fields"]
        part = next(f for f in dfields if f["name"] == "partition")
        part["type"]["fields"] = [
            {
                "name": sp["name"],
                "type": ["null", self._AVRO_T[sp["result_type"]]],
                "default": None,
                "field-id": sp["field_id"],
            }
            for sp in self._spec_parts()
        ]
        dfields.extend(
            [
                {
                    "name": "null_value_counts",
                    "type": ["null", self._kv_map("k121_v122", 121, 122, "long")],
                    "default": None, "field-id": 110,
                },
                {
                    "name": "lower_bounds",
                    "type": ["null", self._kv_map("k126_v127", 126, 127, "bytes")],
                    "default": None, "field-id": 125,
                },
                {
                    "name": "upper_bounds",
                    "type": ["null", self._kv_map("k129_v130", 129, 130, "bytes")],
                    "default": None, "field-id": 128,
                },
            ]
        )
        return sch

    def _parse_partition_path(self, relpath: str) -> dict:
        """Recover partition values from the hive-style dirs Spark's
        partitionBy wrote (`_p_<name>=<value>/...`)."""
        import urllib.parse

        types = {sp["name"]: sp["result_type"] for sp in self._spec_parts()}
        out: dict = {}
        for seg in relpath.split(os.sep)[:-1]:
            if "=" not in seg:
                continue
            k, v = seg.split("=", 1)
            if k.startswith("_p_"):
                k = k[3:]
            if k not in types:
                continue
            v = urllib.parse.unquote(v)
            if v == "__HIVE_DEFAULT_PARTITION__":
                out[k] = None
            elif types[k] in ("int", "long", "date", "timestamptz", "timestamp"):
                out[k] = int(v)
            elif types[k] in ("double", "float"):
                out[k] = float(v)
            elif types[k] == "boolean":
                out[k] = v.lower() == "true"
            else:
                out[k] = v
        return out

    # -- scan planning --------------------------------------------------

    def _resolve(self, uri: str) -> str:
        """Recorded URIs are absolute; when the table dir was MOVED (e.g. a
        synth-into-tmp-then-rename commit pattern) re-root them under the
        actual location. Real Iceberg has the same absolute-path property;
        catalogs solve it with write.metadata.path — local tables solve it
        here."""
        p = _local(uri)
        rec = _local(self.metadata["location"])
        if rec != self.location and (p == rec or p.startswith(rec + os.sep)):
            p = self.location + p[len(rec):]
        return p

    def _manifest_files(self, snap: dict) -> list[dict]:
        _, recs, _ = avro_io.read_container(
            open(self._resolve(snap["manifest-list"]), "rb").read()
        )
        return recs

    def data_files(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        min_sequence_exclusive: int | None = None,
        partition_filter=None,
        stats_filter: dict | None = None,
    ) -> list[dict]:
        """Plan a scan: every live data file of the snapshot, as dicts
        {path, record_count, file_size_in_bytes, sequence_number,
        partition}.
        min_sequence_exclusive keeps only files whose data sequence number
        is strictly greater (the incremental-scan filter) — manifests whose
        whole range is older are pruned without being opened, which is what
        keeps a 10^12-row table's incremental plan cheap.
        partition_filter prunes files by their manifest-recorded partition
        tuple BEFORE anything is read (the 100-TB lever: a day-filtered or
        bucket-point query plans only its slice): a dict of
        {field: value | (op, value) | collection} with ops
        = != < <= > >= in, or a callable(partition_dict) -> bool."""
        snap = self.snapshot(snapshot_id, as_of_ms)
        if snap is None:
            return []
        out: list[dict] = []
        for mf in self._manifest_files(snap):
            if mf["content"] != 0:
                raise NotImplementedError("delete manifests not supported (append-only subset)")
            if (
                min_sequence_exclusive is not None
                and mf["sequence_number"] <= min_sequence_exclusive
            ):
                continue  # manifest-level pruning by sequence range
            _, entries, _ = avro_io.read_container(
                open(self._resolve(mf["manifest_path"]), "rb").read()
            )
            for e in entries:
                if e["status"] == _STATUS_DELETED:
                    raise NotImplementedError("delete entries not supported (append-only subset)")
                seq = e["sequence_number"]
                if seq is None:  # spec: inherit from the manifest list entry
                    seq = mf["sequence_number"]
                if min_sequence_exclusive is not None and seq <= min_sequence_exclusive:
                    continue
                df = e["data_file"]
                part = df.get("partition") or {}
                if not _partition_match(part, partition_filter):
                    continue
                info = {
                    "path": self._resolve(df["file_path"]),
                    "record_count": df["record_count"],
                    "file_size_in_bytes": df["file_size_in_bytes"],
                    "sequence_number": seq,
                    "partition": part,
                    "null_value_counts": {
                        kv["key"]: kv["value"]
                        for kv in (df.get("null_value_counts") or [])
                    },
                    "lower_bounds": {
                        kv["key"]: kv["value"]
                        for kv in (df.get("lower_bounds") or [])
                    },
                    "upper_bounds": {
                        kv["key"]: kv["value"]
                        for kv in (df.get("upper_bounds") or [])
                    },
                }
                if not _stats_match(
                    info, stats_filter,
                    self.metadata["schemas"][self.metadata["current-schema-id"]],
                ):
                    continue
                out.append(info)
        return out

    # -- reads ----------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        partition_filter=None,
        stats_filter: dict | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Snapshot-isolated read (optionally time-traveled, optionally
        partition- or stats-pruned — see data_files). partition_filter on
        identity/day partitions selects EXACT predicate slices (files ==
        predicate); stats_filter is file-level min/max pruning only — the
        caller still applies the row predicate. The planner resolves the
        file list from the manifests; Spark reads exactly those parquet
        files (split planning, pushdown and pruning are Spark's as
        usual)."""
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass either ref or snapshot_id, not both")
            snapshot_id = self.ref_snapshot_id(ref)
        return self._scan(spark, self.data_files(
            snapshot_id, as_of_ms,
            partition_filter=partition_filter, stats_filter=stats_filter,
        ))

    def read_incremental(
        self,
        spark: SparkSession,
        after_seq: int,
        end_snapshot_id: int | None = None,
        partition_filter=None,
        stats_filter: dict | None = None,
    ) -> DataFrame:
        """Rows appended AFTER sequence number `after_seq` up to the end
        snapshot (default current) — the incremental-ingest scan (spec:
        append scans by data sequence number). A start given as a number,
        not a snapshot, keeps working after that snapshot has expired."""
        return self._scan(spark, self.data_files(
            end_snapshot_id,
            min_sequence_exclusive=after_seq,
            partition_filter=partition_filter,
            stats_filter=stats_filter,
        ))

    def _scan(self, spark: SparkSession, files: list[dict]) -> DataFrame:
        """Spark read of planned files under the current schema (an empty
        plan is an empty frame with that schema)."""
        ddl = spark_ddl(self.metadata["schemas"][self.metadata["current-schema-id"]])
        if not files:
            return spark.createDataFrame([], ddl)
        return spark.read.schema(ddl).parquet(*[f["path"] for f in files])

    # -- commits ---------------------------------------------------------

    def append(
        self, spark: SparkSession, df: DataFrame, range_partitions: int | None = None
    ) -> int:
        """Write df as parquet data files + commit one append snapshot.
        On a partitioned table the derived partition columns are computed
        (`_p_<name>` duplicates, so SOURCE columns stay in the files) and
        the write fans out hive-style; partition values are recovered from
        the layout into the manifest entries. Returns the new snapshot id."""
        from pyspark.sql import functions as F

        schema = self.metadata["schemas"][self.metadata["current-schema-id"]]
        sub = os.path.join(self.location, "data", uuid.uuid4().hex)
        base = df.select(*[F.col(f["name"]) for f in schema["fields"]])
        sort_cols = self._sort_columns()
        if sort_cols:
            # range distribution + task-local sort (iceberg's
            # write.distribution-mode=range): per-file min/max bounds on
            # the sort columns come out disjoint, so stats pruning keeps
            # exactly the matching slice. Explicit range_partitions pins
            # the file count (AQE coalesces the default-N range shuffle
            # of a small batch down to one file).
            if range_partitions:
                base = base.repartitionByRange(range_partitions, *sort_cols)
            else:
                base = base.repartitionByRange(*sort_cols)
            base = base.sortWithinPartitions(*sort_cols)
        spec = self._spec_parts()
        # INT96 (Spark's legacy default) has no usable column statistics —
        # write micros so timestamp lower/upper bounds land in the manifests
        conf = df.sparkSession.conf
        prev_tt = conf.get("spark.sql.parquet.outputTimestampType", None)
        conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try:
            if not spec:
                base.write.parquet(sub)
            else:
                pcols = [f"_p_{sp['name']}" for sp in spec]
                out = base.select(
                    "*",
                    *[self._transform_col(sp).alias(pc) for sp, pc in zip(spec, pcols)],
                )
                out.write.partitionBy(*pcols).parquet(sub)
        finally:
            if prev_tt is not None:
                conf.set("spark.sql.parquet.outputTimestampType", prev_tt)
            else:
                conf.unset("spark.sql.parquet.outputTimestampType")
        if not spec:
            files = sorted(
                os.path.join(sub, f)
                for f in os.listdir(sub)
                if f.endswith(".parquet") and not f.startswith(".")
            )
            return self.commit_append(files)
        files, partitions = [], {}
        for root, _dirs, fnames in os.walk(sub):
            for fn in sorted(fnames):
                if not fn.endswith(".parquet") or fn.startswith("."):
                    continue
                p = os.path.join(root, fn)
                files.append(p)
                partitions[p] = self._parse_partition_path(os.path.relpath(p, sub))
        return self.commit_append(sorted(files), partitions)

    def commit_append(
        self, parquet_files: list[str], partitions: dict[str, dict] | None = None
    ) -> int:
        """Commit already-written parquet files as one append snapshot.
        `partitions` maps file path -> partition tuple (required fields per
        the table's spec; omitted = all-null tuple). Each commit attempt
        writes its own uuid-named manifest and manifest list against the
        version it loaded; an attempt that loses the race leaves them as
        unreferenced orphans (remove_orphan_files), as real Iceberg does."""
        import pyarrow.parquet as pq

        def mutate(md):
            seq = md["last-sequence-number"] + 1
            now_ms = int(time.time() * 1000)
            snap_id = (
                int.from_bytes(
                    hashlib.md5(f"{md['table-uuid']}:{seq}".encode()).digest()[:8],
                    "big",
                )
                & 0x3FFFFFFFFFFFFFFF
            )
            schema = md["schemas"][md["current-schema-id"]]
            entries = []
            added_rows = 0
            for p in parquet_files:
                nrows = pq.ParquetFile(p).metadata.num_rows
                added_rows += nrows
                lower, upper, nulls = _file_column_stats(p, schema)
                entries.append(
                    {
                        "status": _STATUS_ADDED,
                        "snapshot_id": snap_id,
                        # written as null: exercises the spec's sequence-number
                        # inheritance on every read path
                        "sequence_number": None,
                        "file_sequence_number": None,
                        "data_file": {
                            "content": 0,
                            "file_path": _uri(p),
                            "file_format": "PARQUET",
                            "partition": (partitions or {}).get(p, {}),
                            "record_count": nrows,
                            "file_size_in_bytes": os.path.getsize(p),
                            "null_value_counts": [
                                {"key": k, "value": v} for k, v in sorted(nulls.items())
                            ],
                            "lower_bounds": [
                                {"key": k, "value": v} for k, v in sorted(lower.items())
                            ],
                            "upper_bounds": [
                                {"key": k, "value": v} for k, v in sorted(upper.items())
                            ],
                        },
                    }
                )
            man_path = os.path.join(self._meta_dir, f"m{seq}-{uuid.uuid4().hex}.avro")
            man_bytes = avro_io.write_container(
                self._manifest_entry_schema(),
                entries,
                meta={
                    "schema": json.dumps(schema).encode(),
                    "schema-id": b"0",
                    "partition-spec": json.dumps(self.partition_spec).encode(),
                    "partition-spec-id": b"0",
                    "format-version": b"2",
                    "content": b"data",
                },
            )
            with open(man_path, "wb") as f:
                f.write(man_bytes)

            prev = (
                _find_snapshot(md, md["current-snapshot-id"]) if md["snapshots"] else None
            )
            prev_manifests = self._manifest_files(prev) if prev else []
            manifests = prev_manifests + [
                {
                    "manifest_path": _uri(man_path),
                    "manifest_length": len(man_bytes),
                    "partition_spec_id": 0,
                    "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                    "added_snapshot_id": snap_id,
                    "added_data_files_count": len(entries),
                    "existing_data_files_count": 0,
                    "deleted_data_files_count": 0,
                    "added_rows_count": added_rows,
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                }
            ]
            list_path = os.path.join(
                self._meta_dir, f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro"
            )
            with open(list_path, "wb") as f:
                f.write(
                    avro_io.write_container(
                        _MANIFEST_FILE_SCHEMA,
                        manifests,
                        meta={
                            "format-version": b"2",
                            "snapshot-id": str(snap_id).encode(),
                            "parent-snapshot-id": str(
                                prev["snapshot-id"] if prev else "null"
                            ).encode(),
                            "sequence-number": str(seq).encode(),
                        },
                    )
                )
            snap = {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": now_ms,
                "manifest-list": _uri(list_path),
                "summary": {
                    "operation": "append",
                    "added-data-files": str(len(entries)),
                    "added-records": str(added_rows),
                },
                "schema-id": md["current-schema-id"],
            }
            if prev:
                snap["parent-snapshot-id"] = prev["snapshot-id"]
            md["snapshots"].append(snap)
            md["snapshot-log"].append({"timestamp-ms": now_ms, "snapshot-id": snap_id})
            md["current-snapshot-id"] = snap_id
            md["last-sequence-number"] = seq
            # set one key, never replace the map: a replaced map drops every
            # tag, and the next expire_snapshots would then delete the tagged
            # snapshot's list
            md["refs"]["main"] = {"snapshot-id": snap_id, "type": "branch"}
            return snap_id

        return self._commit(mutate)


# ---------------------------------------------------------------------------
# pages source + index integration


def pages_from_iceberg(
    spark: SparkSession,
    location: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    native: str = "auto",
    partition_filter=None,
    **cols,
) -> DataFrame:
    """Pages from an Iceberg table. native="auto" tries the real Spark
    source first (catalog table name or path, with the spec's read options
    snapshot-id / as-of-timestamp) and falls back to the pure-python
    planner; "always"/"never" force one side."""
    from .sources import _normalize

    if native != "never":
        try:
            r = spark.read.format("iceberg")
            if snapshot_id is not None:
                r = r.option("snapshot-id", snapshot_id)
            if as_of_ms is not None:
                r = r.option("as-of-timestamp", as_of_ms)
            df = r.load(location)
            return _normalize(df, **cols) if cols else df
        except Exception:
            if native == "always":
                raise
    df = IcebergTable(location).read(
        spark, snapshot_id, as_of_ms, partition_filter=partition_filter
    )
    return _normalize(df, **cols) if cols else df


def index_iceberg(
    spark: SparkSession,
    location: str,
    out_dir: str,
    segment: str = "seg0",
    snapshot_id: int | None = None,
    resume: bool = True,
    **kw,
) -> dict:
    """Build the index from one PINNED table snapshot — the
    snapshot-checkpoint rule: the snapshot id is stamped into the segment
    (iceberg_source.json) before any stage runs, so a resumed build reads
    the SAME immutable file set even if the table got new commits in
    between, and a resume whose stamp disagrees (different snapshot
    requested, or the stamp predates a crash mid-pin) falls back to a full
    rebuild rather than mixing inputs."""
    from .build import build_index

    tbl = IcebergTable(location)
    snap = tbl.snapshot(snapshot_id)
    if snap is None:
        raise ValueError("cannot index an empty table (no snapshots)")
    stamp = _stamp(tbl, snap)
    seg_dir = os.path.join(out_dir, "segments", segment)
    stamp_path = os.path.join(seg_dir, "iceberg_source.json")
    if resume and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if json.load(f) != stamp:
                resume = False  # input snapshot changed: stale checkpoints
    elif resume:
        resume = False  # no stamp: nothing proves prior stages' input
    pages = tbl.read(spark, snap["snapshot-id"])
    meta = build_index(spark, pages, out_dir, segment=segment, resume=resume, **kw)
    os.makedirs(seg_dir, exist_ok=True)
    _write_json(stamp_path, stamp)
    _save_watermark(out_dir, stamp)
    return meta


def _stamp(tbl: IcebergTable, snap: dict) -> dict:
    """What an index records of the snapshot it read (iceberg_source.json
    and the watermark)."""
    return {
        "location": tbl.location,
        "snapshot_id": snap["snapshot-id"],
        "sequence_number": snap["sequence-number"],
    }


def _watermark_path(out_dir: str) -> str:
    return os.path.join(out_dir, "iceberg_watermark.json")


def _save_watermark(out_dir: str, stamp: dict) -> None:
    cur = None
    p = _watermark_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            cur = json.load(f)
    if cur is None or stamp["sequence_number"] >= cur["sequence_number"]:
        _write_json(p, stamp)


def index_iceberg_delta(
    spark: SparkSession, location: str, out_dir: str, **kw
) -> dict | None:
    """Index everything appended to the table since the last indexed
    snapshot as ONE delta segment (the Lucene add-only model the engine
    already merges/compacts). Returns the new segment's meta, or None when
    the table has no new commits. The watermark advances only after the
    segment commits, so a crashed delta build re-runs the same range."""
    from .build import add_segment

    tbl = IcebergTable(location)
    cur = tbl.snapshot()
    if cur is None:
        return None
    p = _watermark_path(out_dir)
    if not os.path.exists(p):
        raise ValueError("no iceberg watermark: run index_iceberg first")
    with open(p) as f:
        wm = json.load(f)
    if wm["location"] != tbl.location:
        raise ValueError("watermark belongs to a different table")
    if cur["snapshot-id"] == wm["snapshot_id"]:
        return None
    # by sequence number: the watermark snapshot itself may have expired
    pages = tbl.read_incremental(spark, wm["sequence_number"], cur["snapshot-id"])
    segment = f"iceberg-{cur['snapshot-id']}"
    meta = add_segment(spark, pages, out_dir, segment=segment, **kw)
    stamp = _stamp(tbl, cur)
    _write_json(os.path.join(out_dir, "segments", segment, "iceberg_source.json"), stamp)
    _save_watermark(out_dir, stamp)
    return meta


def ingest_warc_to_iceberg(
    spark: SparkSession,
    warc_glob: str,
    location: str,
    partition_by: list[str] | None = None,
) -> int:
    """The front half of the Common-Crawl pipeline: parse *.warc(.gz)
    shards (shard-parallel record walk + html->text extraction,
    warc.pages_from_warc) and commit the pages as ONE append snapshot into
    the Iceberg corpus table — creating it on first use, partitioned by
    crawl day + url bucket by default (the layout that gives day-sliced
    scans and bounded url point-lookups at 10^12 rows). Returns the new
    snapshot id; each crawl batch = one snapshot, so the index side
    follows with index_iceberg / follow_iceberg."""
    from .sources import PAGES_SCHEMA
    from .warc import pages_from_warc

    if partition_by is None:
        partition_by = ["day(warc_ts)", "bucket(16, url)"]
    try:
        tbl = IcebergTable(location)
    except FileNotFoundError:
        tbl = IcebergTable.create(location, PAGES_SCHEMA, partition_by=partition_by)
    pages = pages_from_warc(spark, warc_glob)
    return tbl.append(spark, pages)


def follow_iceberg(
    spark: SparkSession,
    location: str,
    out_dir: str,
    max_batches: int | None = None,
    poll_s: float = 5.0,
    compact: bool = True,
    merge_factor: int = 4,
    stop_when_current: bool = True,
    **kw,
) -> list[dict]:
    """Continuous ingestion: poll the table and turn every new snapshot
    range into one delta segment (index_iceberg_delta), running a tiered
    compaction pass after each — the same segment-per-batch +
    TieredMergePolicy cadence stream_build uses, but driven by Iceberg
    commits instead of file arrival (the "new crawl lands in the table"
    loop). The pass itself decides whether to merge (only a full size
    level moves bytes), so calling it every batch costs one registry read
    when there is nothing to do. Appends landing between polls coalesce
    into one segment, so segment count tracks poll cadence, not commit
    rate.

    stop_when_current=True drains pending commits and returns
    (available-now trigger semantics); False keeps polling until
    max_batches deltas were indexed. Crash-safe the same way the delta
    path is: the watermark only advances after a segment commits, so a
    restarted follower re-indexes the same range instead of skipping it.
    Returns the list of delta-segment metas."""
    from .streaming import tiered_compact

    metas: list[dict] = []
    while max_batches is None or len(metas) < max_batches:
        meta = index_iceberg_delta(spark, location, out_dir, **kw)
        if meta is None:
            if stop_when_current:
                return metas
            time.sleep(poll_s)
            continue
        metas.append(meta)
        if compact:
            tiered_compact(spark, out_dir, merge_factor=merge_factor)
    return metas
