"""Every package name a tool, benchmark or entry script imports still
exists: a deletion in the package cannot strand a script outside it.

Static scan, no Spark session: each ``from hmm_crf_ner_fromscratch_spark...
import X`` (at any nesting depth) must import, and ``X`` must resolve to
an attribute or a submodule of that module."""

from __future__ import annotations

import ast
import glob
import importlib
import os

PKG = "hmm_crf_ner_fromscratch_spark"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    os.path.relpath(p, REPO)
    for pattern in ("tools/*.py", "perfbench/*.py", "bench.py", "__spark_entry__.py")
    for p in glob.glob(os.path.join(REPO, pattern))
)


def _package_imports(path: str) -> list[tuple[str, str]]:
    with open(os.path.join(REPO, path), encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    return [
        (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module
        and (node.module == PKG or node.module.startswith(PKG + "."))
        for alias in node.names
    ]


def test_script_package_imports_resolve():
    assert "bench.py" in SCRIPTS and "__spark_entry__.py" in SCRIPTS
    assert any(p.startswith("tools/") for p in SCRIPTS)
    assert any(p.startswith("perfbench/") for p in SCRIPTS)
    missing = []
    for path in SCRIPTS:
        for module, name in _package_imports(path):
            mod = importlib.import_module(module)
            if hasattr(mod, name):
                continue
            try:
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"{path}: {module}.{name}")
    assert not missing, f"scripts import names that no longer exist: {missing}"
