"""Physical-plan audit: verify the scale-critical plan properties.

For each query: does the parquet scan carry PushedFilters, is the
ReadSchema pruned to the needed columns, which join strategies fire,
how many shuffles (Exchange) appear, and is whole-stage codegen
active. Usage:

    PYTHONPATH=. python tools/plan_audit.py [name ...]

``--lambda-capture [name ...]`` runs the lambda-capture rule
(:func:`lambda_captures`) over the analyzed plan of every registry
query (or the named ones) instead, one line per query with sites.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

SF_DIR = "/root/testdata/sf0.01"


def audit(name: str, df) -> dict:
    df.collect()  # materialize so AQE's final plan (with codegen stages) exists
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    # executed AQE plans print Final + Initial sections; audit the final only
    plan = plan.split("== Initial Plan ==")[0]
    formatted = qe.explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", formatted)
    return {
        "name": name,
        "exchanges": plan.count("Exchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "smj": plan.count("SortMergeJoin"),
        # codegen stages print as '*(N) Operator' in plan strings
        "codegen": "*(" in plan or "WholeStageCodegen" in plan,
        "cartesian": "CartesianProduct" in plan,
        "pushed_filters": [p for p in pushed if p.strip()],
        "scan_cols": [len(s.split(",")) for s in schemas],
    }


def _trees(value):
    """The expression trees in one field of a plan node's JSON: Spark
    writes each tree as its nodes in pre-order, each with a
    ``num-children`` count; a field may hold a list of such trees."""
    if isinstance(value, list) and value and all(
        isinstance(v, dict) and "num-children" in v for v in value
    ):
        stack = []  # (node, kids, children still to read)
        for node in value:
            item = (node, [], node["num-children"])
            if stack:
                stack[-1][1].append(item)
            stack.append(item)
            while stack and len(stack[-1][1]) == stack[-1][2]:
                done = stack.pop()
                if not stack:
                    yield done
    elif isinstance(value, list):
        for v in value:
            yield from _trees(v)


def _kind(tree) -> str:
    return tree[0]["class"].rsplit(".", 1)[-1]


def _leaves(tree):
    if not tree[1]:
        yield tree[0]
    for kid in tree[1]:
        yield from _leaves(kid)


def _render(tree) -> str:
    kids = ", ".join(_render(k) for k in tree[1])
    name = tree[0].get("name") if not tree[1] else None
    return f"{_kind(tree)}({kids})" if kids else (name or _kind(tree))


def _invariant_sites(tree, bound: set, sites: list) -> None:
    """Maximal subtrees of a lambda body that read a column but none of
    the lambda's own variables (``bound`` exprIds)."""
    if not tree[1]:
        return  # a lone column reference or literal costs nothing
    leaves = list(_leaves(tree))
    reads_bound = any(
        leaf["class"].endswith("NamedLambdaVariable")
        and leaf["exprId"]["id"] in bound
        for leaf in leaves
    )
    reads_column = any(
        leaf["class"].endswith("AttributeReference") for leaf in leaves
    )
    if not reads_bound and reads_column:
        sites.append(_render(tree)[:160])
        return
    for kid in tree[1]:
        _invariant_sites(kid, bound, sites)


def _lambda_sites(tree, sites: list) -> None:
    if _kind(tree) == "LambdaFunction":
        body, args = tree[1][0], tree[1][1:]
        _invariant_sites(body, {a[0]["exprId"]["id"] for a in args}, sites)
    for kid in tree[1]:
        _lambda_sites(kid, sites)


def lambda_captures(df) -> list[str]:
    """ROADMAP item 1's lint: sites in ``df``'s analyzed plan where a
    higher-order function's lambda body holds a subexpression that
    reads a column but none of the lambda's variables. Spark evaluates
    lambda bodies interpreted, once per element, so such a
    subexpression is recomputed for every element although its value
    cannot change between them (e.g. a lambda that captures the whole
    token-array expression re-tokenizes the document per element).
    Bare column references and literal-only subtrees are exempt: they
    cost nothing to re-read. Returns one rendered subtree per site."""
    plan = json.loads(df._jdf.queryExecution().analyzed().toJSON())
    sites: list[str] = []
    for node in plan:
        for value in node.values():
            for tree in _trees(value):
                _lambda_sites(tree, sites)
    return sites


def lambda_sweep(spark, names: set[str]) -> None:
    """Print :func:`lambda_captures`' sites for the registry's queries
    (all when ``names`` is empty) and their total. Building a query
    runs its eager control-plane jobs, so this takes minutes."""
    import __spark_entry__ as entry_mod
    from fbs_data_pipelines_spark.caching import release_cache

    total = 0
    for name, fn in entry_mod.queries().items():
        if names and name not in names:
            continue
        try:
            df = fn(spark, SF_DIR)
            sites = lambda_captures(df)
            release_cache(df)
        except Exception as ex:  # noqa: BLE001
            print(f"{name:>24}: ERROR {ex}")
            continue
        total += len(sites)
        for site in sites:
            print(f"{name:>24}: {site}")
    print(f"lambda-capture sites: {total}")


def main() -> None:
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entry_mod
    from fbs_data_pipelines_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    if sys.argv[1:2] == ["--lambda-capture"]:
        lambda_sweep(spark, set(sys.argv[2:]))
        return
    queries = entry_mod.queries()
    only = set(sys.argv[1:]) or {
        "pricing_summary", "filter_project", "multi_join_topn", "join_5way",
        "lookup_join", "merge_upsert", "text_stats", "dedup_minhash_lsh",
        "ann_topk", "windowed_rollup", "sessionize", "monthly_rollup",
        "asof_join", "scalar_subquery", "range_join", "window_range_30d",
        # (cascading_rollup consolidated into rollup r17)
        "dedup_clusters", "ann_ivf", "simhash_pairs", "rollup",
        "array_ops", "tfidf", "gopher_quality", "top_ngram", "pii_scrub",
        "stratified_sample", "sequence_packing", "decontaminate",
        "corpus_stats", "histogram", "quality_pipeline",
        "embedding_neardup_lsh", "dedup_ngram_jaccard",
        "salted_join", "bloom_join", "incremental_rollup", "pagerank",
        "hll_distinct", "cms_counts", "funnel", "retention",
    }
    for name, fn in queries.items():
        if name not in only:
            continue
        try:
            info = audit(name, fn(spark, SF_DIR))
            print(
                f"{info['name']:>18}: exch={info['exchanges']} "
                f"bcast={info['broadcast_joins']} smj={info['smj']} "
                f"codegen={'Y' if info['codegen'] else 'N'} "
                f"cartesian={'Y' if info['cartesian'] else 'N'} "
                f"scan_cols={info['scan_cols']} "
                f"pushed={info['pushed_filters'][:2]}"
            )
        except Exception as ex:  # noqa: BLE001
            print(f"{name:>18}: ERROR {ex}")


if __name__ == "__main__":
    main()
