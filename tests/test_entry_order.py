"""Registry order for the per-round correctness check, derived from its
reports: least recently checked entries first (no Spark session)."""

import json

from blacklab_spark import entry_queries as E


def _report(dirpath, rnd, names):
    path = dirpath / f"CORRECTNESS_r{rnd:02d}.json"
    path.write_text(json.dumps({n: {"rows_match": True} for n in names}))


def test_least_recently_checked_first(tmp_path, monkeypatch):
    monkeypatch.setattr(E, "_REPORTS", str(tmp_path / "CORRECTNESS_r*.json"))
    q = {k: k for k in ["a", "b", "c", "d", "e", "f"]}
    _report(tmp_path, 1, ["a", "b", "c", "gone"])
    _report(tmp_path, 2, ["a", "d"])
    _report(tmp_path, 10, ["b"])  # round 10 sorts after round 2
    # never checked (e, f), then last checked r1 (c), r2 (a, d), r10 (b);
    # registration order within each
    assert list(E._rotate_registration(q)) == ["e", "f", "c", "a", "d", "b"]


def test_no_reports_keeps_registration_order(tmp_path, monkeypatch):
    monkeypatch.setattr(E, "_REPORTS", str(tmp_path / "CORRECTNESS_r*.json"))
    q = {k: k for k in ["z", "y", "x"]}
    assert list(E._rotate_registration(q)) == ["z", "y", "x"]


def test_every_query_has_an_oracle():
    assert set(E.build_queries()) == set(E.build_oracles())


def test_bench_headline_is_registered():
    import bench

    assert set(bench.HEADLINE) <= set(E.build_queries())
