"""Resume-from-checkpoint tests (north rule: build resumable from snapshot
checkpoints; mirrors SURVEY.md §5.4 invariance item 3)."""

import json
import shutil
from pathlib import Path

import pytest

from blacklab_spark.build import build_index
from blacklab_spark.fixtures import pages_df
from blacklab_spark.query import Index


def _topk(ix):
    return [(r.doc_id, r.score) for r in ix.topk(["the", "aap"], k=10).collect()]


def _hits(ix):
    return {(r.doc_id, r.start) for r in ix.term_hits("quick").collect()}


def test_resume_after_partial_failure(spark, tmp_path):
    out = str(tmp_path / "ix")
    pages = pages_df(spark, "tiny")
    build_index(spark, pages, out, n_shards=2, block_size=4)
    ix = Index(spark, out)
    want_topk, want_hits = _topk(ix), _hits(ix)

    # simulate a crash after the docs stage: later artifacts lost
    seg = Path(out) / "segments" / "seg0"
    shutil.rmtree(seg / "terms")
    shutil.rmtree(seg / "postings")
    (seg / "meta.json").unlink()

    meta = build_index(spark, pages, out, n_shards=2, block_size=4, resume=True)
    assert meta["stage_s"].get("docs_resumed") is True  # docs NOT recomputed
    ix2 = Index(spark, out)
    assert _topk(ix2) == want_topk
    assert _hits(ix2) == want_hits


def test_resume_full_noop(spark, tmp_path):
    out = str(tmp_path / "ix")
    pages = pages_df(spark, "tiny")
    build_index(spark, pages, out, n_shards=2, block_size=4)
    want = _topk(Index(spark, out))
    meta = build_index(spark, pages, out, n_shards=2, block_size=4, resume=True)
    # docs/terms/postings all reused: the resumed build is fast metadata work
    assert meta["stage_s"].get("docs_resumed") is True
    assert _topk(Index(spark, out)) == want


def test_resume_param_change_forces_rebuild(spark, tmp_path):
    out = str(tmp_path / "ix")
    pages = pages_df(spark, "tiny")
    build_index(spark, pages, out, n_shards=2, block_size=4)
    # different block size -> params mismatch -> full rebuild, not reuse
    meta = build_index(spark, pages, out, n_shards=2, block_size=8, resume=True)
    assert "docs_resumed" not in meta["stage_s"]
    seg = Path(out) / "segments" / "seg0"
    with open(seg / "build_params.json") as f:
        assert json.load(f)["block_size"] == 8
    assert len(_hits(Index(spark, out))) == 3


def test_registry_survives_crash_mid_write(tmp_path, monkeypatch):
    """A crash while the segment registry is rewritten leaves the previous
    registry readable and complete (temp file + os.replace), not a
    truncated file that every later open or add_segment fails to parse."""
    from blacklab_spark.build import _register_segment

    out = str(tmp_path)
    _register_segment(out, "seg0")
    _register_segment(out, "seg1")

    def partial_dump(obj, f, **kw):
        f.write(json.dumps(obj)[:7])
        raise OSError("crash mid-write")

    monkeypatch.setattr(json, "dump", partial_dump)
    with pytest.raises(OSError):
        _register_segment(out, "seg2")
    monkeypatch.undo()
    with open(Path(out) / "segments.json") as f:
        assert json.load(f) == {"segments": ["seg0", "seg1"]}
    assert sorted(p.name for p in Path(out).iterdir()) == ["segments.json"]
    _register_segment(out, "seg2")
    with open(Path(out) / "segments.json") as f:
        assert json.load(f)["segments"] == ["seg0", "seg1", "seg2"]
