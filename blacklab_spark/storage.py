"""Driver-side file helpers shared by the index and the Iceberg layer.

- write_json: replace a JSON sidecar atomically (temp file + os.replace).
- read_parquet / parquet_rows: open a Spark-written table with the schema
  and row count its parquet footers already hold, so neither costs a Spark
  job (schema inference runs one job per read; count() runs one or two).
"""

from __future__ import annotations

import json
import os
import uuid


def write_json(path: str, obj, indent: int | None = None) -> None:
    """Replace `path` with `obj` as JSON through a temp file and
    os.replace, so a reader or a crash sees the old or the new content,
    never a truncated file."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=indent)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


# the key under which Spark stores a table's schema in every part file
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def parquet_files(path: str) -> list[str]:
    """The data files of a parquet table directory, in name order (Spark's
    own listing skips names starting with `_` or `.`)."""
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def footer_schema(path: str):
    """The Spark schema of a parquet table, read from one file's footer on
    the driver: Spark's own schema key when the file has it (what
    spark.read.parquet's inference job returns with mergeSchema off), else
    the Arrow schema converted, for files another writer produced."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    files = parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet data files under {path}")
    schema = pq.read_schema(files[0])
    key = (schema.metadata or {}).get(SPARK_SCHEMA_KEY)
    if key is not None:
        return StructType.fromJson(json.loads(key))
    return from_arrow_schema(schema)


def read_parquet(spark, path: str):
    """spark.read.parquet(path) with the footer schema: no inference job."""
    return spark.read.schema(footer_schema(path)).parquet(path)


def parquet_rows(path: str) -> int:
    """Row count of a parquet table from its footers: no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))
