"""Every test that needs the external reference implementation says so.

Static scan, no Spark session: a ``test_*`` function in ``tests/*.py`` that
requests a reference fixture -- a ``conftest.py`` fixture that reads the
reference directory, or a fixture of its own module that requests one --
must carry ``@needs_reference``. Without the mark, a box without the
reference reports the test as a setup error from the reference run; with
it, the test is skipped with a stated reason. Tests that need only a
trained English HMM or entity-bearing turns use ``english_model`` and
``synth_transcripts(heaps_vocab=...)`` instead."""

from __future__ import annotations

import ast
import glob
import os

TESTS = os.path.dirname(os.path.abspath(__file__))
# conftest names whose use marks a fixture as reading the reference
REFERENCE_NAMES = {"REFERENCE", "_ensure_reference_hmm"}


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _decorator_names(fn: ast.FunctionDef) -> set[str]:
    names = set()
    for d in fn.decorator_list:
        if isinstance(d, ast.Call):
            d = d.func
        if isinstance(d, ast.Name):
            names.add(d.id)
        elif isinstance(d, ast.Attribute):
            names.add(d.attr)
    return names


def _functions(tree: ast.Module) -> list[ast.FunctionDef]:
    return [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]


def _args(fn: ast.FunctionDef) -> set[str]:
    return {a.arg for a in fn.args.args + fn.args.kwonlyargs}


def _close(fixtures: list[ast.FunctionDef], ref: set[str]) -> set[str]:
    """``ref`` plus every fixture that requests one of them, transitively."""
    ref = set(ref)
    grew = True
    while grew:
        grew = False
        for fn in fixtures:
            if fn.name not in ref and _args(fn) & ref:
                ref.add(fn.name)
                grew = True
    return ref


def _fixtures(tree: ast.Module) -> list[ast.FunctionDef]:
    return [fn for fn in _functions(tree) if "fixture" in _decorator_names(fn)]


def _reference_fixtures() -> set[str]:
    fixtures = _fixtures(_parse(os.path.join(TESTS, "conftest.py")))
    direct = {
        fn.name
        for fn in fixtures
        if any(
            isinstance(n, ast.Name) and n.id in REFERENCE_NAMES
            for n in ast.walk(fn)
        )
    }
    return _close(fixtures, direct)


def test_reference_fixture_users_are_marked():
    ref = _reference_fixtures()
    assert ref, "no conftest fixture reads the reference; update REFERENCE_NAMES"
    marked, unmarked = [], []
    for path in sorted(glob.glob(os.path.join(TESTS, "*.py"))):
        tree = _parse(path)
        module_ref = _close(_fixtures(tree), ref)
        for fn in _functions(tree):
            if not fn.name.startswith("test_") or not _args(fn) & module_ref:
                continue
            name = f"{os.path.basename(path)}::{fn.name}"
            if "needs_reference" in _decorator_names(fn):
                marked.append(name)
            else:
                unmarked.append(name)
    assert marked, "found no @needs_reference test; the scan is broken"
    assert not unmarked, (
        "tests request a reference fixture without @needs_reference: "
        f"{unmarked}"
    )
