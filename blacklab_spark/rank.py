"""Global ranking without single-partition windows.

The reference pages/sorts hits after materializing them in memory
(results/HitsAbstract.java:157,279-293); the naive Spark translation — a
row_number() over an unpartitioned Window — moves EVERY hit to one partition
(WindowExec warns, and at 100x scale it is a straight OOM). These helpers keep
ranking distributed:

- rank_head:  orderBy().limit(first+n) plans as TakeOrderedAndProject
  (per-partition top-k + one merge of <= first+n rows); ranks assigned on the
  JVM over the small head (no Python stage, no extra exchange).
- ranked_all: the assign_dense_ids pattern (build.py:145-186) generalized to
  arbitrary multi-column sort keys — range repartition, per-partition sort,
  one n_partitions-row count collect, offsets added map-side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

# keys spec: list of column name (ascending) or (name, ascending) tuples
_KeySpec = "list[str | tuple[str, bool]]"


def _norm_keys(keys) -> list[tuple[str, bool]]:
    return [(k, True) if isinstance(k, str) else (k[0], bool(k[1])) for k in keys]


def rank_head(
    df: DataFrame, keys, first: int, n: int, rank_col: str | None = None
) -> DataFrame:
    """Rows globally ranked first+1 .. first+n by `keys`, WITHOUT a
    single-partition WindowExec: orderBy().limit(first+n) plans as
    TakeOrderedAndProject (per-partition top-k, one merge of <= first+n
    rows into one partition). The head is numbered on the JVM with no
    Python stage and no further exchange: collect_list of row structs (the
    head is already one partition), array_sort under orderBy's order,
    slice, posexplode. The comparator is one SQL expression: built through
    the Column API it cost ~0.1 s of py4j planning per query.

    Keys must make row order deterministic (include a unique tiebreak).
    Use ranked_all() when first+n is too large to gather to one task."""
    ks = _norm_keys(keys)
    cols = [F.col(k).asc() if a else F.col(k).desc() for k, a in ks]
    fields = ", ".join(f"`{c}`" for c in df.columns)
    rank = [f"CAST(_pos + {first + 1} AS INT) AS `{rank_col}`"] if rank_col else []
    return (
        df.orderBy(*cols).limit(first + n)
        .selectExpr(f"collect_list(struct({fields})) AS _rows")
        .selectExpr(
            f"posexplode(slice(array_sort(_rows, (l, r) -> {_comparator(ks)}), "
            f"{first + 1}, {n})) AS (_pos, _row)"
        )
        .selectExpr("_row.*", *rank)
    )


def _comparator(ks: list[tuple[str, bool]]) -> str:
    """array_sort comparator body over lambda rows l, r with orderBy's
    order: ascending keys put nulls first, descending keys nulls last, and
    `<`/`<=>` order NaN above every number and equal to itself, as the
    sort does."""
    whens = []
    for k, asc in ks:
        lk, rk = f"l.`{k}`", f"r.`{k}`"
        lo, hi = (-1, 1) if asc else (1, -1)
        whens.append(
            f"WHEN NOT ({lk} <=> {rk}) THEN CASE WHEN {lk} IS NULL THEN {lo} "
            f"WHEN {rk} IS NULL THEN {hi} WHEN {lk} < {rk} THEN {lo} ELSE {hi} END"
        )
    return f"CASE {' '.join(whens)} ELSE 0 END"


def ranked_all(df: DataFrame, keys, rank_col: str = "rank") -> DataFrame:
    """Global rank over ALL rows without a single-partition window: the
    assign_dense_ids pattern (build.py:145-186) — range-repartition by the
    sort keys, sort within partitions, collect the n_partitions-row count
    table, add per-partition offsets in an Arrow kernel. Scales to any row
    count (the only driver traffic is one count per partition)."""
    ks = _norm_keys(keys)
    cols = [F.col(k).asc() if a else F.col(k).desc() for k, a in ks]
    spark = df.sparkSession
    n_parts = max(4, spark.sparkContext.defaultParallelism)
    d = (
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r["_pid"]: r["n"] for r in d.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    boff = spark.sparkContext.broadcast(offsets)
    schema = StructType(list(df.schema.fields) + [StructField(rank_col, LongType())])

    def add_rank(batches):
        seen = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = boff.value.get(int(pdf["_pid"].iloc[0]), 0)
            ranks = np.arange(seen + 1, seen + 1 + len(pdf), dtype=np.int64) + base
            seen += len(pdf)
            yield pdf.drop(columns=["_pid"]).assign(**{rank_col: ranks})

    return d.mapInPandas(add_rank, schema)
