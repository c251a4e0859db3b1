"""No public package function or class may live only for its tests.

A name-reference closure over the AST, with no Spark session. Roots:
the whole of ``__spark_entry__.py`` except its unregistered ``q_*``
builders (those are reached only if a root names them), plus
``pipeline.py``, ``bench.py``, ``perfbench/`` and ``tools/``. A
reached definition adds every name (``ast.Name`` id or
``ast.Attribute`` attr) its body mentions; import statements add
nothing, so a re-export does not keep a name alive. Package module
bodies outside definitions and imports (registries, constants built
at import time) are roots too.

The public top-level functions and classes the closure does not reach
must be exactly the keys of ``UNREACHED``, each a deliberate keep. A
new unreached name fails the test: wire it into a gated query or
delete it. A stale key (the name is gone, or something reaches it
now) fails too.

A name closure cannot see a dead module whose names collide with live
ones (a module-level ``sql()`` looks reached because ``spark.sql``
is). So a second check follows imports: every package module must be
imported, directly or through other package modules, by a program
root (the entry, ``bench.py``, ``perfbench/``, ``tools/``), except
the keys of ``UNIMPORTED``.
"""

from __future__ import annotations

import ast
from functools import lru_cache
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "fbs_data_pipelines_spark"

_IO = "the reference's I/O edge"
_REF = "the reference a test compares against: "

UNREACHED = {
    "SheetsClient": _IO + " (Sheets API client)",
    "SheetsTransport": _IO + " (Sheets transport protocol)",
    "LocalDirTransport": _IO + " (offline Sheets transport)",
    "local_dir_transport": _IO + " (offline Sheets transport factory)",
    "read_excel": _IO + " (Excel data dictionary, gated on an engine)",
    "rows_to_df": _IO + " (sources/rows.py: API rows -> DataFrame)",
    "df_to_rows": _IO + " (sources/rows.py: DataFrame -> API rows)",
    "pad_rows": _IO + " (sources/rows.py: ragged-row padding)",
    "ragged_row_rate": _IO + " (sources/rows.py: ragged-row share)",
    "read_dialected_csv_positional": "ROADMAP builds on it (positional CSV dialect reader)",
    "observed": "ROADMAP builds on it (expectations record)",
    "enforce": "ROADMAP builds on it (expectations gate)",
    "satisfies": "ROADMAP builds on it (expectations predicate)",
    "list_layer": "perfbench looks it up by string on pipeline",
    "range_join": _REF + "test_range_join_broadcast_vs_bucketed_equivalent",
    "token_count": _REF + "test_text_profile_matches_per_column_helpers",
    "language_id": _REF + "test_text_profile_matches_per_column_helpers",
    "table_profile": _REF + "the q_table_profile pins in test_consolidated_keys.py",
}

#: package modules no program root imports, with the reason each stays
UNIMPORTED = {
    "fbs_data_pipelines_spark.sources.excel": _IO
    + " (the reference's Excel data dictionary)",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


@lru_cache(maxsize=None)
def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _registered(entry: ast.Module) -> set[str]:
    queries = next(
        s for s in entry.body
        if isinstance(s, ast.FunctionDef) and s.name == "queries"
    )
    ret = [n for n in ast.walk(queries) if isinstance(n, ast.Return)][-1]
    return {v.id for v in ret.value.values}


def unreached_public_names() -> dict[str, str]:
    """Public top-level package functions/classes no root reaches,
    mapped to their module path."""
    pool: dict[str, list[ast.stmt]] = {}
    public: dict[str, str] = {}
    roots: list[ast.AST] = []

    for f in sorted(PKG.rglob("*.py")):
        tree = _parse(f)
        if f == PKG / "pipeline.py":
            roots.append(tree)
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            names = _defined(stmt)
            if not names:
                roots.append(stmt)
            for name in names:
                pool.setdefault(name, []).append(stmt)
                if isinstance(stmt, _DEFS) and not name.startswith("_"):
                    public[name] = f.relative_to(REPO).as_posix()

    entry = _parse(REPO / "__spark_entry__.py")
    registered = _registered(entry)
    for stmt in entry.body:
        if (
            isinstance(stmt, ast.FunctionDef)
            and stmt.name.startswith("q_")
            and stmt.name not in registered
        ):
            pool.setdefault(stmt.name, []).append(stmt)
        else:
            roots.append(stmt)
    for f in [
        REPO / "bench.py",
        *sorted((REPO / "perfbench").glob("*.py")),
        *sorted((REPO / "tools").glob("*.py")),
    ]:
        roots.append(_parse(f))

    reached: set[str] = set()
    todo: set[str] = set()
    for r in roots:
        todo |= _names(r)
    while todo:
        name = todo.pop()
        reached.add(name)
        for stmt in pool.get(name, ()):
            todo |= _names(stmt) - reached
    return {n: m for n, m in public.items() if n not in reached}


def test_unreached_public_names_are_exactly_the_listed_ones():
    got = unreached_public_names()
    new = {n: m for n, m in got.items() if n not in UNREACHED}
    stale = sorted(set(UNREACHED) - set(got))
    assert not new, (
        f"public names only tests reach (wire into a gated query or "
        f"delete): {new}"
    )
    assert not stale, (
        f"UNREACHED entries that no longer exist or are reached now "
        f"(drop them from the dict): {stale}"
    )



def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(tree: ast.AST, here: str, is_pkg: bool) -> set[str]:
    """Dotted names an AST imports, function-level imports included,
    with every parent package (importing ``a.b.c`` runs ``a`` and
    ``a.b`` too) and ``from m import x`` read as possibly ``m.x``."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            out |= {a.name for a in n.names}
        elif isinstance(n, ast.ImportFrom):
            mod = n.module or ""
            if n.level:
                base = here.split(".")
                if not is_pkg:
                    base = base[:-1]
                base = base[: len(base) - (n.level - 1)]
                mod = ".".join(base + ([mod] if mod else []))
            out.add(mod)
            out |= {f"{mod}.{a.name}" for a in n.names}
    return {
        ".".join(m.split(".")[:i])
        for m in out
        for i in range(1, m.count(".") + 2)
    }


def unimported_package_modules() -> set[str]:
    """Package modules that no program root imports, directly or
    through other package modules."""
    edges = {
        _module_name(f): _imports(
            _parse(f), _module_name(f), f.name == "__init__.py"
        )
        for f in sorted(PKG.rglob("*.py"))
    }
    roots = [
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *sorted((REPO / "perfbench").glob("*.py")),
        *sorted((REPO / "tools").glob("*.py")),
    ]
    todo = set().union(*(_imports(_parse(f), "", False) for f in roots))
    seen: set[str] = set()
    while todo:
        m = todo.pop()
        if m in edges and m not in seen:
            seen.add(m)
            todo |= edges[m]
    return set(edges) - seen


def test_every_package_module_is_imported_by_a_program_root():
    got = unimported_package_modules()
    new = sorted(got - set(UNIMPORTED))
    stale = sorted(set(UNIMPORTED) - got)
    assert not new, (
        f"package modules no program root imports (wire in or "
        f"delete): {new}"
    )
    assert not stale, (
        f"UNIMPORTED entries that are gone or imported now (drop them "
        f"from the dict): {stale}"
    )
