"""Global ranking without single-partition windows.

The reference pages/sorts hits after materializing them in memory
(results/HitsAbstract.java:157,279-293); the naive Spark translation — a
row_number() over an unpartitioned Window — moves EVERY hit to one partition
(WindowExec warns, and at 100x scale it is a straight OOM). These helpers keep
ranking distributed:

- rank_head:  orderBy().limit(first+n) plans as TakeOrderedAndProject
  (per-partition top-k + one merge of <= first+n rows); ranks assigned on the
  JVM over the small head (no Python stage, no extra exchange).
- assign_dense_ids / ranked_all: dense ids over arbitrary multi-column sort
  keys — range repartition, per-partition sort, one n_partitions-row count
  collect, ids numbered on the JVM from monotonically_increasing_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def assign_dense_ids(
    df: DataFrame, keys, id_col: str, n_parts: int, base: int = 0
) -> tuple[DataFrame, int, DataFrame]:
    """Dense ids base, base+1, ... in the global order of `keys` (column
    names or (name, ascending) pairs), without a single-partition window:
    range-repartition, sort within partitions, one n_parts-row count
    collect, and ids numbered on the JVM. Each row keeps its
    monotonically_increasing_id (partition index << 33 plus its position in
    the partition), so its id is that minus the partition's bits plus the
    partition's offset, given as one literal map: no Python stage.

    The frame is persisted before counting: the ids MUST come from the exact
    partitions the count saw (repartitionByRange samples its boundaries from
    upstream row order, which is not deterministic across recomputations
    after a groupBy). Keys should be unique, or tied rows get ids in an
    arbitrary (but persisted) order. Returns (df_with_ids, row count,
    persisted frame); the caller unpersists the last once downstream
    results are materialized."""
    ks = _norm_keys(keys)
    cols = [F.col(k).asc() if a else F.col(k).desc() for k, a in ks]
    d = (
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
        .persist()
    )
    counts = dict(d.groupBy("_pid").count().collect())
    offsets, acc = [], base
    for pid in range(n_parts):  # empty partitions get an (unused) offset too
        offsets.append(f"{pid}, {acc}L")
        acc += counts.get(pid, 0)
    ids = d.withColumn(
        id_col,
        F.expr(f"_mid - shiftleft(CAST(_pid AS BIGINT), 33) + map({', '.join(offsets)})[_pid]"),
    ).drop("_pid", "_mid")
    return ids, acc - base, d


def ranked_all(df: DataFrame, keys, rank_col: str = "rank") -> DataFrame:
    """Global rank (1-based) over ALL rows without a single-partition
    window: assign_dense_ids from 1. Scales to any row count (the only
    driver traffic is one count per partition)."""
    n_parts = max(4, df.sparkSession.sparkContext.defaultParallelism)
    return assign_dense_ids(df, keys, rank_col, n_parts, base=1)[0]
