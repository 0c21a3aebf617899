"""Physical-plan assertions: the plan properties PLANS.md claims, checked
mechanically against .explain output (run per round after engine changes).

Asserts:
1. term posting fetch: term_id PushedFilters reach the parquet scan, and the
   positions column is pruned for scoring queries
2. the hit-window / top-k paths contain no single-partition WindowExec
3. regex path: no driver-collected IN-list (no in(term_id, [...]) literal
   explosion), join against the dict instead
4. parallel-field term queries read postings, not the forward index
5. alignment, tag-attribute and ranked span/AND queries: no
   CartesianProduct (BroadcastNestedLoopJoin only for a 1-row broadcast)
6. ranked term queries (topk, topk_and): exactly one Python stage, the
   shard scoring kernel, and none above TakeOrderedAndProject
7. a ranked term query under the driver budget (query.DRIVER_BLOCKS) is a
   local relation: no parquet scan, no Python stage

Checks 1, 2, 5c and 6 audit the Spark plan of a ranked term query, so they
build their frames with that plan forced (DRIVER_BLOCKS = 0).
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import re  # noqa: E402
from contextlib import contextmanager  # noqa: E402

from blacklab_spark import query as Q  # noqa: E402
from blacklab_spark.session import get_spark  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@contextmanager
def spark_path():
    """Ranked term queries built inside take the Spark plan at any size."""
    budget, Q.DRIVER_BLOCKS = Q.DRIVER_BLOCKS, 0
    try:
        yield
    finally:
        Q.DRIVER_BLOCKS = budget


def one_python_stage_below_topk(plan: str) -> bool:
    """The plan tree holds exactly one FlatMapGroupsInPandas /
    FlatMapCoGroupsInPandas node, and it sits under a TakeOrderedAndProject
    (no Python stage between the top-k and the result)."""
    tree = plan.split("\n\n")[0].splitlines()

    def depth(i):
        return len(tree[i]) - len(tree[i].lstrip(" :+-|"))

    py = [i for i, ln in enumerate(tree) if re.search(r"FlatMap(Co)?GroupsInPandas \(", ln)]
    if len(py) != 1:
        return False
    i = py[0]
    # the nearest shallower lines above node i are its ancestors
    anc, d = [], depth(i)
    for j in range(i - 1, -1, -1):
        if depth(j) < d:
            anc.append(tree[j])
            d = depth(j)
    return any("TakeOrderedAndProject (" in a for a in anc)


def main() -> None:
    spark = get_spark("local[8]", app_name="audit_plans", shuffle_partitions=8)
    from blacklab_spark import entry_queries as E

    ix = E.get_index(spark, SF)
    failures = []

    def check(name, ok, detail=""):
        print(f"{'OK  ' if ok else 'FAIL'} {name}")
        if not ok:
            failures.append((name, detail))

    # 1. pushdown + column pruning on the scoring path
    with spark_path():
        p = plan_of(ix.topk(["table"], k=10))
    check("topk term_id pushdown", "PushedFilters: [" in p and "term_id" in p.split("PushedFilters:")[1][:200], p[:500])
    scan = [seg for seg in p.split("Scan parquet") if "postings" in seg[:300]]
    check("topk positions pruned", all("positions" not in s.split("ReadSchema")[1][:400] for s in scan if "ReadSchema" in s))

    qs = E.build_queries()

    # 2. no single-partition WindowExec in window/topk paths
    from blacklab_spark import results as R

    hits = ix.term_hits("table")
    with spark_path():
        topk = ix.topk(["table", "vector"], k=10)
    for nm, df in (
        ("window_hits", R.window_hits(hits, 20, 20)),
        ("topk", topk),
        ("sorted_window", qs["rs_sorted_window"](spark, SF)),
    ):
        p = plan_of(df)
        check(f"{nm} no global window", "Window" not in p or "PartitionBy" in p, p[:600])

    # 3. regex path: dict join, no IN-list explosion
    p = plan_of(ix.regex_hits("s.*n"))
    check("regex no IN-list", "term_id IN (" not in p and "BroadcastHashJoin" in p, p[:800])

    # 4. parallel-field term query: posting-backed (term_id pushdown on the
    #     f_<field> postings; no forward-index scan of the par_<field> column)
    pix = E.get_parallel_index(spark, SF)
    p = plan_of(pix.parallel_term_hits("nl", term="tablex"))
    check(
        "parallel term posting-backed",
        "PushedFilters: [" in p
        and "term_id" in p.split("PushedFilters:")[1][:200]
        and "par_nl" not in p,
        p[:800],
    )

    # 5. alignment operator: doc_id equijoins (no cartesian), semi joins only
    p = plan_of(qs["ix_align"](spark, SF))
    check(
        "ix_align no cartesian",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
        p[:800],
    )
    # 5b. tag-attr query: no cartesian either (semi join against tag spans)
    p = plan_of(qs["ix_tag_attr"](spark, SF))
    check(
        "ix_tag_attr no cartesian",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
        p[:800],
    )

    # 5c. ranked span queries: bounded top-k (TakeOrderedAndProject), no
    #    cartesian; BNLJ only for the 1-row df broadcast
    p = plan_of(ix.topk_phrase(["fast", "sort"], k=10))
    # formatted plans print each node twice (tree + details): count node
    # headers, not substring hits — exactly ONE BNLJ (the 1-row df
    # broadcast) is the allowed shape
    n_bnlj = len(re.findall(r"\) BroadcastNestedLoopJoin", p))
    check(
        "topk_phrase bounded + no cartesian",
        "TakeOrderedAndProject" in p and "CartesianProduct" not in p
        and n_bnlj <= 1,
        p[:800],
    )
    with spark_path():
        p = plan_of(ix.topk_and(["table", "vector"], k=10))
    check(
        "topk_and no cartesian, no global window",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        and ("Window" not in p or "PartitionBy" in p),
        p[:800],
    )

    # 6. ranked term queries: ONE Python stage (the shard scoring kernel;
    #    topk_and's AND set is computed inside it), ranks numbered on the JVM
    with spark_path():
        frames = (
            ("topk", ix.topk(["table"], k=10)),
            ("topk multi-term", ix.topk(["table", "vector"], k=10)),
            ("topk where_lang", ix.topk(["table"], k=10, where_lang="en")),
            ("topk_and", ix.topk_and(["table", "vector"], k=10)),
        )
    for nm, df in frames:
        p = plan_of(df)
        check(f"{nm} one Python stage, below the top-k", one_python_stage_below_topk(p), p[:1200])

    # 7. the default path of a small ranked term query: the k rows scored on
    #    the driver, wrapped as a local relation
    p = plan_of(ix.topk(["table"], k=10))
    check(
        "topk under the driver budget: local relation, no Python stage",
        "LocalTableScan" in p and "Scan parquet" not in p
        and "Python" not in p and "Pandas" not in p,
        p[:600],
    )

    print(f"\n{len(failures)} failures")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
