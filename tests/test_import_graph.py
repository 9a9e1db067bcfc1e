"""Static import graph of the package (AST only, no imports executed): the
engine depends on nothing from the catalog side, and nothing imports a
module that has been removed."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "openlogreplicator_spark"

# the apply engine: change-log tail, operators, table format, sinks, session
ENGINE = ("streaming", "operators", "lake", "sinks", "session")
# the catalog side, which may import the engine but never the reverse
CATALOG = ("queries", "functions", "datagen", "oracle_check")
# removed modules: reached only by their own tests
REMOVED = ("multimodal", "media_codecs", "streaming.metrics")


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _imports(path: str) -> set[str]:
    """Every module ``path`` imports, absolute; ``from m import x`` yields
    both ``m`` and ``m.x`` (``x`` may be a submodule)."""
    mod = _module_name(path)
    is_pkg = path.endswith("__init__.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = mod.split(".")
                drop = node.level - 1 if is_pkg else node.level
                base = base[: len(base) - drop]
                src = ".".join(base + ([node.module] if node.module else []))
            else:
                src = node.module
            out.add(src)
            out.update(f"{src}.{a.name}" for a in node.names)
    return out


def _py_files(*tops: str) -> list[str]:
    out = []
    for top in tops:
        p = os.path.join(ROOT, top)
        if p.endswith(".py"):
            out.append(p)
            continue
        for d, _dirs, files in os.walk(p):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".py"))
    return sorted(out)


def _under(name: str, mods: tuple[str, ...]) -> bool:
    return any(
        name == f"{PKG}.{m}" or name.startswith(f"{PKG}.{m}.") for m in mods
    )


def test_engine_imports_nothing_from_the_catalog():
    engine = [p for p in _py_files(PKG) if _under(_module_name(p), ENGINE)]
    assert any(p.endswith("pipeline.py") for p in engine)
    bad = {
        os.path.relpath(p, ROOT): sorted(i for i in _imports(p)
                                         if _under(i, CATALOG))
        for p in engine
    }
    assert {k: v for k, v in bad.items() if v} == {}


def test_no_module_imports_a_removed_one():
    files = _py_files(PKG, "tests", "scripts", "perfbench", "bench.py",
                      "__spark_entry__.py")
    for m in REMOVED:
        assert not os.path.exists(
            os.path.join(ROOT, PKG, *m.split(".")) + ".py"
        ), m
    bad = {
        os.path.relpath(p, ROOT): sorted(i for i in _imports(p)
                                         if _under(i, REMOVED))
        for p in files
    }
    assert {k: v for k, v in bad.items() if v} == {}
