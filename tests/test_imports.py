"""Every module-level import in the package is used by its module."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "blueetl_spark"


def _unused_imports(source: str) -> list[str]:
    """Names bound by module-level imports that the module never reads
    (as a name, an attribute root or an ``__all__`` entry)."""
    tree = ast.parse(source)
    bound = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                bound[a.asname or a.name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {
                e.value for e in ast.walk(node.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            }
    return sorted(f"{name} (line {line})" for name, line in bound.items()
                  if name not in used)


def test_unused_imports_are_flagged():
    src = "import os\nfrom a.b import c, d as e\nprint(os.sep, e)\n"
    assert _unused_imports(src) == ["c (line 2)"]


def test_no_unused_module_level_imports():
    found = {
        str(p.relative_to(PACKAGE.parent)): unused
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "__init__.py"
        and (unused := _unused_imports(p.read_text()))
    }
    assert found == {}


def test_only_atomic_names_the_hadoop_filesystem():
    """``plans/atomic.py`` is the package's one resolver of Hadoop
    ``FileSystem`` paths (``atomic.fs_path``); every other module goes
    through it."""
    found = sorted(
        str(p.relative_to(PACKAGE.parent))
        for p in PACKAGE.rglob("*.py")
        if "org.apache.hadoop.fs" in p.read_text()
    )
    assert found == ["blueetl_spark/plans/atomic.py"]
