"""The registry's cached fixture indexes are reused only when built from the
same inputs and index-writing code (no Spark session)."""

import ast
import json
from pathlib import Path

import pytest

from blacklab_spark import entry_queries as E


def test_key_changes_with_build_inputs_and_code(tmp_path, monkeypatch):
    srcs = []
    for name in ("build.py", "codec.py", "tokenize.py"):
        p = tmp_path / name
        p.write_text(f"# {name}\n")
        srcs.append(str(p))
    monkeypatch.setattr(E, "_KEY_SOURCES", tuple(srcs))
    kw = {"annotations": ("word", "pos"), "index_relations": True}
    key = E.index_key(kw, "def make_pages(): ...", "400")
    assert key == E.index_key(dict(reversed(kw.items())), "def make_pages(): ...", "400")
    others = [
        E.index_key({**kw, "index_relations": False}, "def make_pages(): ...", "400"),
        E.index_key(kw, "def make_pages(): pass", "400"),
        E.index_key(kw, "def make_pages(): ...", "401"),
        E.index_key(kw, "def make_pages(): ...4", "00"),
    ]
    (tmp_path / "codec.py").write_text("# codec.py, one byte more\n")
    others.append(E.index_key(kw, "def make_pages(): ...", "400"))
    assert len({key, *others}) == len(others) + 1


def test_index_rebuilt_only_when_its_key_differs(tmp_path):
    out = tmp_path / "ix"
    builds = []

    def build():
        out.mkdir()
        (out / "segments.json").write_text(str(len(builds)))
        builds.append(1)

    E._reuse_or_build(str(out), "k1", build)
    E._reuse_or_build(str(out), "k1", build)
    assert len(builds) == 1
    assert json.loads((out / "build_key.json").read_text()) == "k1"
    E._reuse_or_build(str(out), "k2", build)  # stale: old files removed first
    assert len(builds) == 2 and (out / "segments.json").read_text() == "1"

    def crash():
        out.mkdir()
        raise RuntimeError("build failed part-way")

    with pytest.raises(RuntimeError):
        E._reuse_or_build(str(out), "k3", crash)
    assert not (out / "build_key.json").exists()  # never reused as built
    E._reuse_or_build(str(out), "k3", build)
    assert len(builds) == 3


def test_key_covers_every_module_build_imports():
    srcs = {Path(p).resolve() for p in E._KEY_SOURCES}
    pkg = Path(E.__file__).resolve().parent
    names = {p.stem for p in srcs}
    # the modules whose change altered indexes before: dense ids (rank),
    # the writers (storage), K1/B in meta.json (__init__)
    assert {"build", "codec", "tokenize", "rank", "storage", "__init__"} <= names
    # closed under imports: every package module a listed file imports,
    # at top level or inside a function, is listed too
    for path in srcs:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.level == 1:
                for name in [node.module] if node.module else [a.name for a in node.names]:
                    if (pkg / f"{name}.py").exists():
                        assert pkg / f"{name}.py" in srcs, f"{path.name} imports {name}"
