"""The survey path's static import closure stays inside the survey system.

The closure is every package module reachable from the survey entry
points (``pipeline``, ``workqueue``, ``sources.io``, ``session``) through
package-internal imports, function-level (lazy) imports included, plus
the ``__init__`` of every package on the way, which importing a
submodule runs. No catalog, streaming or skew-salting module may be in
it: they do not run on the survey path. No closure module imports any
MLlib module either: every family fits on the driver over its scheme
table, and the survey's classifier and cluster metrics run there too
(the catalog's MLlib fits are ``catalog.ml_q``'s). Its size is a design
metric:
the closure's line count stays under a budget, so growth is a visible
edit of ``CLOSURE_LINES_MAX``. So does the whole package's, under
``PACKAGE_LINES_MAX``: any growth of the package, survey or catalog,
edits that constant.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "qudo_etl_pipeline_spark"
ROOT = Path(__file__).resolve().parent.parent
ENTRY_POINTS = ("pipeline", "workqueue", "sources.io", "session")
FORBIDDEN_PREFIXES = (f"{PKG}.catalog", f"{PKG}.streaming")
FORBIDDEN = {f"{PKG}.plans.skew", f"{PKG}.operators.checks"}
# no survey step uses MLlib: the fits, the classifier and the cluster
# metrics run on the driver over pattern tables
FORBIDDEN_PYSPARK = ("pyspark.ml",)
# lines of every closure module, summed; lower it when the closure shrinks
CLOSURE_LINES_MAX = 4222
# lines of every .py file under the package, summed; lower it when the
# package shrinks
PACKAGE_LINES_MAX = 32285


def _path(mod: str) -> Path | None:
    base = ROOT.joinpath(*mod.split("."))
    if base.is_dir():
        return base / "__init__.py"
    return base.with_suffix(".py") if base.with_suffix(".py").exists() else None


def _imported_names(mod: str) -> set[str]:
    """Every module name ``mod`` imports anywhere in its body; a
    ``from a import b`` yields both ``a`` and ``a.b``."""
    out = set()
    for node in ast.walk(ast.parse(_path(mod).read_text())):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            out.add(node.module)
            out |= {f"{node.module}.{a.name}" for a in node.names}
    return out


def _imports(mod: str) -> set[str]:
    """Package modules ``mod`` imports anywhere in its body."""
    return {
        m
        for m in _imported_names(mod)
        if m.split(".")[0] == PKG and _path(m) is not None
    }


def survey_closure() -> set[str]:
    seen: set[str] = set()
    todo = [f"{PKG}.{m}" for m in ENTRY_POINTS]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        parts = mod.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]
        todo += _imports(mod)
    return seen


def test_survey_closure_excludes_catalog_streaming_and_salting():
    closure = survey_closure()
    assert f"{PKG}.operators.contingency" in closure  # reaches inference
    leaked = sorted(
        m for m in closure if m in FORBIDDEN or m.startswith(FORBIDDEN_PREFIXES)
    )
    assert not leaked, leaked


def test_survey_closure_stays_within_its_line_budget():
    lines = sum(
        len(_path(m).read_text().splitlines()) for m in survey_closure()
    )
    assert lines <= CLOSURE_LINES_MAX, lines


def test_package_stays_within_its_line_budget():
    lines = sum(
        len(p.read_text().splitlines()) for p in (ROOT / PKG).rglob("*.py")
    )
    assert lines <= PACKAGE_LINES_MAX, lines


def test_survey_closure_imports_no_mllib():
    leaked = sorted(
        (m, name)
        for m in survey_closure()
        for name in _imported_names(m)
        if any(name == f or name.startswith(f + ".") for f in FORBIDDEN_PYSPARK)
    )
    assert not leaked, leaked
