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
must be exactly the keys of ``UNREACHED``. A new unreached name fails
the test: wire it into a gated query or delete it. A stale key (the
name is gone, or something reaches it now) fails too, so the pending
part can only shrink.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "fbs_data_pipelines_spark"

_IO = "the reference's I/O edge"
_PENDING = "pending: only tests call it; wire into a gated query or delete"

UNREACHED = {
    # --- deliberate keeps ---------------------------------------------
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
    # --- pending: may only shrink --------------------------------------
    "bpe_train": _PENDING,
    "word_freq_table": _PENDING,
    "cdc_compact_tombstones": _PENDING,
    "compact_cdc_table": _PENDING,
    "cdc_apply_to_snapshot": _PENDING,
    "join_delta_with_multiplicity": _PENDING,
    "consolidate": _PENDING,
    "range_join": _PENDING,
    "ivf_assign": _PENDING,
    "runtime_bloom_scope": _PENDING,
    "token_count": _PENDING,
    "language_id": _PENDING,
    "nan_to_null": _PENDING,
    "fold_accents": _PENDING,
    "pack_summary": _PENDING,
    "register_tables": _PENDING,
    "save_table": _PENDING,
    "table_list": _PENDING,
    "save_partitioned": _PENDING,
    "table_profile": _PENDING + " (the q_table_profile key was consolidated)",
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

