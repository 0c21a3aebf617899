"""Property test: rank_head's JVM comparator (array_sort under one SQL
expression) must order exactly as orderBy does — ascending keys nulls first,
descending keys nulls last, NaN above every number — on random frames with
ties, nulls and NaN, for every window first+1 .. first+n. The reference order
is pandas' stable sort over explicit (null / value / NaN) class columns."""

import math

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from blacklab_spark.rank import rank_head

SCHEMA = "id long, x double, s string, i long"
NAMES = ["id", "x", "s", "i"]

row = st.tuples(
    st.one_of(st.none(), st.just(math.nan), st.sampled_from([-1.5, 0.0, 2.0, 3.25])),
    st.one_of(st.none(), st.text(alphabet="abB", max_size=2)),
    st.one_of(st.none(), st.integers(-2, 2)),
)
keys = st.lists(
    st.tuples(st.sampled_from(NAMES[1:]), st.booleans()), min_size=1, max_size=3,
    unique_by=lambda k: k[0],
)


def _cls(v):
    """0 null, 1 value, 2 NaN: the order classes of an ascending sort."""
    if v is None:
        return 0
    return 2 if isinstance(v, float) and math.isnan(v) else 1


def expected(rows, ks, first, n):
    """Rows first+1 .. first+n under Spark's orderBy semantics."""
    pdf = pd.DataFrame({"_row": range(len(rows))})
    by, asc = [], []
    for k, a in ks:
        vals = [r[NAMES.index(k)] for r in rows]
        pdf[f"_c_{k}"] = [_cls(v) for v in vals]
        pdf[f"_v_{k}"] = [v if _cls(v) == 1 else ("" if k == "s" else 0) for v in vals]
        by += [f"_c_{k}", f"_v_{k}"]
        asc += [a, a]
    order = pdf.sort_values(by, ascending=asc, kind="stable")["_row"]
    return [rows[i] for i in order][first : first + n]


def key_of(r, ks):
    # NaN != NaN in Python: compare through the order class
    return tuple((_cls(r[NAMES.index(k)]), r[NAMES.index(k)] if _cls(r[NAMES.index(k)]) == 1 else None) for k, _ in ks)


@settings(max_examples=30, deadline=None, derandomize=True)
@given(
    st.lists(row, max_size=24), keys, st.booleans(), st.integers(0, 6), st.integers(1, 6)
)
def test_rank_head_orders_like_orderby(spark, rows, ks, id_tiebreak, first, n):
    rows = [(i,) + r for i, r in enumerate(rows)]
    full = ks + [("id", True)] if id_tiebreak else ks
    got = rank_head(spark.createDataFrame(rows, SCHEMA), full, first, n, "rank").collect()
    want = expected(rows, full, first, n)
    assert [r["rank"] for r in got] == list(range(first + 1, first + 1 + len(want)))
    got_rows = [tuple(r[c] for c in NAMES) for r in got]
    # ties on every key may surface in any order; the key sequence may not
    assert [key_of(r, ks) for r in got_rows] == [key_of(r, ks) for r in want]
    if id_tiebreak:
        assert [r[0] for r in got_rows] == [r[0] for r in want]
