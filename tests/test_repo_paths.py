"""The engine, its bench, its tools and its tests must run from any
checkout location: none of them may name the checkout's absolute
path (a tool that did would check another checkout's code)."""

from __future__ import annotations

from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
# split so this file does not match itself
CHECKOUT_PATH = "/root" + "/repo"


def test_no_hard_coded_checkout_path():
    files = [
        *sorted((REPO / "tests").glob("*.py")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *sorted((REPO / "tools").glob("*.py")),
        *sorted((REPO / "fbs_data_pipelines_spark").rglob("*.py")),
    ]
    hits = [
        f"{f.relative_to(REPO)}:{n}"
        for f in files
        for n, line in enumerate(f.read_text().splitlines(), 1)
        if CHECKOUT_PATH in line
    ]
    assert not hits, f"hard-coded checkout path at {hits}"
