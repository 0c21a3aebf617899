"""Every module of the package is reachable from an entry point: the CLI,
the HTTP server, the correctness registry, the `iceberg_pages` data source
or the fixtures that `ftbench` and the scripts import. A module that none
of them imports, directly or through others, fails here. The imports are
read with `ast` (lazy imports inside functions count), so no Spark
session starts.

`UNREACHED` names the modules known to be unreachable and still in the
tree, awaiting deletion. The test asserts the unreachable set equals it
exactly, so a new orphan fails, and so does deleting one of them without
taking it off the list."""

import ast
from pathlib import Path

import blacklab_spark

PKG = Path(blacklab_spark.__file__).resolve().parent
ROOTS = ["__main__", "server", "entry_queries", "iceberg_stream", "fixtures"]
# the standalone FLAC codec: only tests/test_flac.py imports it
UNREACHED = ["blacklab_spark.flac"]


def _modules() -> dict[str, tuple[Path, str]]:
    """Dotted module name -> (file, the package its relative imports
    resolve against)."""
    out = {}
    for path in PKG.rglob("*.py"):
        parts = path.relative_to(PKG.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            name = package = ".".join(parts[:-1])
        else:
            name, package = ".".join(parts), ".".join(parts[:-1])
        out[name] = (path, package)
    return out


def _targets(node: ast.Import | ast.ImportFrom, package: str) -> list[str]:
    """Absolute dotted names an import statement may load: `from a import b`
    loads `a` and, when `b` is a submodule, `a.b`."""
    if isinstance(node, ast.Import):
        return [a.name for a in node.names]
    if node.level:
        parts = package.split(".")
        base = ".".join(parts[: len(parts) - node.level + 1])
        base = f"{base}.{node.module}" if node.module else base
    else:
        base = node.module
    return [base] + [f"{base}.{a.name}" for a in node.names]


def _reached(mods: dict[str, tuple[Path, str]], roots: list[str]) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen or name not in mods:
            continue
        seen.add(name)
        path, package = mods[name]
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for t in _targets(node, package):
                    # importing a.b.c runs a and a.b first
                    parts = t.split(".")
                    todo += [".".join(parts[:i]) for i in range(1, len(parts) + 1)]
    return seen


def test_every_module_is_reachable_from_an_entry_point():
    mods = _modules()
    roots = [f"blacklab_spark.{r}" for r in ROOTS]
    assert set(roots) <= set(mods)
    unreached = sorted(set(mods) - _reached(mods, roots) - {"blacklab_spark"})
    assert unreached == UNREACHED, f"no entry point imports {unreached}"
