"""Every `creek_spark` module is reached from an entry point or named as
public API in README.md.

The walk is a pure-``ast`` pass over Import/ImportFrom nodes (function
bodies included) — nothing is imported and no Spark session starts.
Its roots are the repo's entry points: the driver contract
(``__spark_entry__.py``, through which ``queries.catalog()`` imports
every catalog part), the daemon (``creek_spark/__main__.py``),
``bench.py``, the non-test ``perfbench/*.py`` files and ``tools/*.py``.
Importing ``a.b.c`` also runs the ``a`` and ``a.b`` package inits, so
those count as reached.  A module no root reaches is dead code unless
README's public-API list names it; the test fails on either drift.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "creek_spark"
README_HEADING = "### Public API that no entry point imports"


def _modules() -> dict[str, Path]:
    """dotted name → file for every module of the package."""
    mods = {}
    for path in PKG.rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, name: str):
    """Every dotted name an import in ``path`` may load; ``from p import
    x`` yields both ``p`` and ``p.x``, since ``x`` may be a submodule."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            yield base
            yield from (f"{base}.{alias.name}" for alias in node.names)


def _roots() -> list[Path]:
    return [
        REPO / "__spark_entry__.py",
        PKG / "__main__.py",
        REPO / "bench.py",
        *sorted(
            p for p in (REPO / "perfbench").glob("*.py")
            if not p.name.startswith("test_")
        ),
        *sorted((REPO / "tools").glob("*.py")),
    ]


def reached_modules() -> set[str]:
    mods = _modules()
    by_path = {path: name for name, path in mods.items()}
    todo = [(p, by_path.get(p, p.stem)) for p in _roots()]
    seen = {name for p, name in todo if name in mods}
    while todo:
        path, name = todo.pop()
        for imported in _imported_names(path, name):
            parts = imported.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in mods and mod not in seen:
                    seen.add(mod)
                    todo.append((mods[mod], mod))
    return seen


def readme_public_api() -> set[str]:
    text = (REPO / "README.md").read_text()
    start = text.index(README_HEADING) + len(README_HEADING)
    end = text.find("\n#", start)
    section = text[start:] if end < 0 else text[start:end]
    return {
        p[: -len(".py")].replace("/", ".")
        for p in re.findall(r"^\s*- `(creek_spark/[\w/]+\.py)`", section, re.M)
    }


def test_roots_exist_and_reach_the_catalog():
    for root in _roots():
        assert root.is_file(), root
    reached = reached_modules()
    # the walk is not vacuous: the catalog parts and the daemon's sinks
    assert {"creek_spark.queries_graph", "creek_spark.streaming.tables"} <= reached


def test_every_module_is_reached_or_public_api():
    mods = set(_modules())
    listed = readme_public_api()
    assert listed <= mods, f"README lists missing modules: {sorted(listed - mods)}"
    unreached = mods - reached_modules()
    assert unreached - listed == set(), (
        "no entry point imports these modules and README does not list "
        f"them as public API (delete them or list them): {sorted(unreached - listed)}"
    )
    assert listed - unreached == set(), (
        "README lists these as unreached public API, but an entry point "
        f"imports them (drop them from the list): {sorted(listed - unreached)}"
    )
