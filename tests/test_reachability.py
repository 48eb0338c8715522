"""One implementation per capability: every package definition has a
caller outside the tests.

An AST scan (no Spark) builds a name graph over the package's top-level
functions and classes. A definition is reachable when its name appears
in a root or in the body of a reachable definition. The roots are:

- every module-level statement of the package other than a definition
  or an import (the registry's ``Query(...)`` entries, the CLI
  ``if __name__ == "__main__"`` blocks, module constants);
- every identifier inside a string constant, so SQL texts and
  ``module:function`` entry points count;
- ``bench.py``, ``__spark_entry__.py``, ``perfbench/``, ``tools/`` and
  ``pyproject.toml``, whole;
- ``KEEP``: definitions kept without such a caller, each with the
  reason its COVERAGE.md row gives (``KEEP `name` (no non-test
  caller): reason``).

Names are matched without their module, so a name shared by two modules
keeps both alive, and docstrings count as string constants, so a name
in prose keeps its definition alive; the scan can only miss dead code,
never flag live code.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "meshtastic_airsensor_database_spark"
EXTERNAL_ROOTS = ["bench.py", "__spark_entry__.py", "perfbench", "tools",
                  "pyproject.toml"]

# Each entry is the only implementation of its capability, or the
# reference a test compares the production path against.
KEEP = {
    "console_sink":
        "SURVEY §2.1 console sink; its only implementation",
    "mongo_document_sink":
        "SURVEY §2.1 MongoDB sink; its only implementation",
    "pymongo_client_factory":
        "SURVEY §2.1 the pymongo client mongo_document_sink takes; its only implementation",
    "string_agg_topics":
        "SURVEY §2.8 topic string aggregate; its only implementation",
    "align_to_schema":
        "SURVEY §1.4 v1 schema-drift fix; its only implementation",
    "union_evolving":
        "SURVEY §1.4 v1 schema-drift fix; its only implementation",
    "write_bucketed":
        "the scale toolkit's only bucketed layout",
    "write_zordered":
        "the scale toolkit's only z-ordered layout",
    "zorder_value":
        "the Morton key of write_zordered, the scale toolkit's only z-ordered layout",
    "progress_frame":
        "the per-batch trace's view (ROADMAP item 2)",
    "progress_health":
        "the health rollup over the per-batch trace's view (ROADMAP item 2)",
    "_dotfold":
        "the left-fold reference test_fold_numpy_twins compares the PCA folds against",
    "int8_scale":
        "the dequantization scale test_quantize_int8_bounds_and_error checks quantize_int8 against",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    """Every identifier a node mentions: names, attributes and the
    words of its string constants."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_WORD.findall(n.value))
    return out


def _scan() -> tuple[dict[str, list[str]], dict[str, set[str]], set[str]]:
    """(where each definition lives, what each definition mentions,
    what the roots mention). A name bound by ``import x as y`` mentions
    ``x`` wherever ``y`` is used."""
    where: dict[str, list[str]] = {}
    refs: dict[str, set[str]] = {}
    roots: set[str] = set()
    aliases: dict[str, set[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        tree = ast.parse(path.read_text(), filename=rel)
        for a in ast.walk(tree):
            if isinstance(a, ast.alias) and a.asname:
                aliases.setdefault(a.asname, set()).add(a.name.split(".")[-1])
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                where.setdefault(stmt.name, []).append(rel)
                refs.setdefault(stmt.name, set()).update(_names(stmt))
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _names(stmt)
    for entry in EXTERNAL_ROOTS:
        p = ROOT / entry
        for f in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            if f.suffix == ".py":
                roots |= _names(ast.parse(f.read_text(), filename=str(f)))
            else:
                roots.update(_WORD.findall(f.read_text()))

    def resolve(names: set[str]) -> set[str]:
        return names.union(*(aliases.get(n, ()) for n in names))

    return where, {n: resolve(r) for n, r in refs.items()}, resolve(roots)


def _unreachable(keep: dict[str, str]) -> dict[str, list[str]]:
    where, refs, roots = _scan()
    seen: set[str] = set()
    todo = [n for n in (roots | set(keep)) if n in where]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(n for n in refs[name] if n in where and n not in seen)
    return {n: where[n] for n in sorted(set(where) - seen)}


def test_every_definition_is_reachable_outside_tests():
    dead = _unreachable(KEEP)
    assert not dead, (
        "package definitions that only tests reach; give each a caller, "
        "delete it, or add it to KEEP with the reason its COVERAGE.md row "
        "gives:\n" + "\n".join(f"  {n}  ({', '.join(w)})"
                               for n, w in dead.items()))


def test_keep_entries_exist_are_needed_and_documented():
    """A KEEP entry names a live definition that nothing else reaches
    (once a caller appears the entry goes), and its COVERAGE.md row
    gives the same reason."""
    where, _, _ = _scan()
    assert set(KEEP) <= set(where), sorted(set(KEEP) - set(where))
    without_keep = _unreachable({})
    assert set(KEEP) <= set(without_keep), sorted(set(KEEP) - set(without_keep))
    coverage = (ROOT / "COVERAGE.md").read_text()
    undocumented = [n for n, reason in KEEP.items()
                    if f"KEEP `{n}` (no non-test caller): {reason}" not in coverage]
    assert not undocumented, undocumented
