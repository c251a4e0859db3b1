"""Equivalence pins for the r13 gate-key consolidations (SURVEY §8
rule 4, r12 judge directive #2): a key removed from the driver
registry must be PROVABLY subsumed by the key that absorbs it —
these tests are that proof, run at every local gate.

- `session_window` → `sessionize`: Spark's native
  F.session_window(gap) and the manual lag/cumsum sessionizer are
  the same gap-merged sessionization semantics; the surviving gated
  key's oracle therefore covers both formulations.
- `tws_first_seen` → `first_seen`: the transformWithStateInPandas
  form of the admission was deleted with the typed-state streaming
  stack; `first_seen` gates the same first-event-per-key set through
  its batch replay with carried seen-key state, so there is no
  second surface left to pin.
- `sql_nested_semi` → `semi_join` (r15): the Q20-shape SQL front
  door (IN against an aggregated-HAVING subquery) is exactly the
  `semi_join` operator over a grouped-HAVING build side — both
  constituent surfaces stay independently gated (`semi_join`,
  `groupby_having`); this pins the SQL-door ≡ operator reduction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_session_window_subsumed_by_sessionize(spark):
    """q_session_window ≡ project(q_sessionize): identical
    (user_id, session_start, n_events) triples — so one gate key
    covers the native-F.session_window formulation too."""
    native = entry.q_session_window(spark, SF)
    manual = entry.q_sessionize(spark, SF).select(
        "user_id", "session_start", "n_events"
    )
    cols = ["user_id", "session_start", "n_events"]
    got_native = _rows(native, cols)
    got_manual = _rows(manual, cols)
    assert got_native == got_manual
    assert len(got_native) > 0


@pytest.mark.parametrize("threshold", [3000, 15200])
def test_sql_nested_semi_subsumed_by_semi_join(spark, threshold):
    """The Q20-shape SQL door (supplier WHERE s_suppkey IN
    (aggregated-HAVING subquery)) returns exactly what the surviving
    `semi_join` operator returns over the same grouped-HAVING build
    side. threshold=3000 is the removed gate key's literal (keep-all
    at this SF — every supplier clears it); threshold=15200 sits at
    the per-supplier volume median, so the pin also proves the
    EXCLUSION side of the semi, not just pass-through."""
    from fbs_data_pipelines_spark.operators.joins import semi_join

    if threshold == 3000:
        # the removed key's own function, byte-for-byte its SQL text
        sql_door = entry.q_sql_nested_semi(spark, SF)
    else:
        entry._t(spark, SF, "supplier").createOrReplaceTempView("v_supplier")
        entry._t(spark, SF, "lineitem").createOrReplaceTempView("v_lineitem")
        sql_door = spark.sql(
            f"""
            SELECT s_suppkey, s_name
            FROM v_supplier
            WHERE s_suppkey IN (
                SELECT l_suppkey FROM v_lineitem
                WHERE l_shipdate >= DATE '1995-01-01'
                GROUP BY l_suppkey
                HAVING sum(l_quantity) > {threshold}
            )
            """
        )

    sup = entry._t(spark, SF, "supplier")
    li = entry._t(spark, SF, "lineitem")
    qualifying = (
        li.filter(F.col("l_shipdate") >= F.to_date(F.lit("1995-01-01")))
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.sum("l_quantity").alias("shipped_qty"))
        .filter(F.col("shipped_qty") > threshold)
        .select("s_suppkey")
    )
    via_operator = semi_join(sup, qualifying, "s_suppkey").select(
        "s_suppkey", "s_name"
    )
    cols = ["s_suppkey", "s_name"]
    got_sql = _rows(sql_door, cols)
    got_op = _rows(via_operator, cols)
    assert got_sql == got_op
    assert len(got_sql) > 0
    if threshold == 15200:
        # the exclusion case must actually exclude (else it proves
        # nothing beyond the keep-all case)
        assert len(got_sql) < sup.count()


# ---------------------------------------------------------------------------
# r17 QUEUED consolidation — pins DRAFTED r16, execution deferred
# (SURVEY §8 r17 queue, r15 judge directive #6). `cascading_rollup`
# and `rollup` remain INDEPENDENT gate keys until r17; these tests
# prove the subsumption both directions ahead of the registry
# arithmetic so the r17 builder only has to flip the registry.
# ---------------------------------------------------------------------------


def test_cascading_rollup_draft_pin_reaggregation_exact(spark):
    """`cascading_rollup`'s mechanism — derive coarser grains by
    re-aggregating the finer aggregate (counts sum, sums sum) — must
    equal direct one-shot aggregation of the raw events at EVERY
    grain, including the HOUR intermediate the gated literal never
    returns. This is the property that makes the r17 consolidation
    into `rollup` (lattice derivation) sound."""
    e = entry._t(spark, SF, "events")
    minute = (
        e.groupBy(F.date_trunc("minute", "ts").alias("m"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    )
    # hour grain via the cascade vs direct from raw
    hour_cascade = (
        minute.groupBy(F.date_trunc("hour", "m").alias("h"), "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
        .select(
            entry._ts_s("h").alias("h"), "event_type", "n",
            entry.round_half_up("sv", 4).alias("sv"),
        )
    )
    hour_direct = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        .select(
            entry._ts_s("h").alias("h"), "event_type", "n",
            entry.round_half_up("sv", 4).alias("sv"),
        )
    )
    cols = ["h", "event_type", "n", "sv"]
    assert _rows(hour_cascade, cols) == _rows(hour_direct, cols)
    # day grain: the gated key's own function vs direct from raw
    day_direct = (
        e.groupBy(F.date_trunc("day", "ts").alias("d"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        .select(
            entry._date_s("d").alias("day"), "event_type",
            F.col("n"), entry.round_half_up("sv", 4).alias("sum_value"),
        )
    )
    cols = ["day", "event_type", "n", "sum_value"]
    got = _rows(entry.q_cascading_rollup(spark, SF), cols)
    assert got == _rows(day_direct, cols)
    assert len(got) > 0


def test_cascading_rollup_draft_pin_rollup_lattice_derivable(spark):
    """The other direction: `rollup`'s subtotal rows are themselves
    re-aggregations of its finest (region, nation) level — i.e. the
    ROLLUP lattice is derivable by exactly the cascading mechanism,
    so the surviving key's gated surface covers it."""
    out = entry.q_rollup(spark, SF)
    finest = out.filter(
        F.col("r_name").isNotNull() & F.col("n_name").isNotNull()
    )
    region_subtotals = out.filter(
        F.col("r_name").isNotNull() & F.col("n_name").isNull()
    ).select("r_name", "n_customers", "sum_acctbal")
    recomputed = finest.groupBy("r_name").agg(
        F.sum("n_customers").alias("n_customers"),
        entry.round_half_up(F.sum("sum_acctbal"), 2).alias("sum_acctbal"),
    )
    cols = ["r_name", "n_customers", "sum_acctbal"]
    got_sub = _rows(region_subtotals, cols)
    got_re = _rows(recomputed, cols)
    assert got_sub == got_re
    assert len(got_sub) > 0
    # grand-total row likewise derivable from the region subtotals
    grand = out.filter(F.col("r_name").isNull() & F.col("n_name").isNull())
    g = grand.select("n_customers", "sum_acctbal").first()
    tot = recomputed.agg(
        F.sum("n_customers").alias("n"),
        entry.round_half_up(F.sum("sum_acctbal"), 2).alias("s"),
    ).first()
    assert g["n_customers"] == tot["n"]
    assert abs(g["sum_acctbal"] - tot["s"]) < 0.02


# ---------------------------------------------------------------------------
# r18 QUEUED consolidation — pins DRAFTED r17, execution deferred
# (r16 judge directive #6). `table_profile` and `table_profile_approx`
# remain INDEPENDENT gate keys until r18 executes the arithmetic.
# Subsumption argument: both keys gate the same one-wide-aggregation
# catalog-profile surface over `orders` (count / nulls / min / max /
# avg / stringified temporal edges, one output row per column via
# inline, never a job per column); the survivor additionally gates
# the portable-HLL distinct path. The ONLY divergent column is
# n_distinct — exact vs estimate — and the exact-distinct AGGREGATE
# surface stays independently gated by other registry keys
# (`array_agg`'s count(DISTINCT), `cust_order_dist`, `hll_distinct`'s
# exact leg), so retiring `table_profile` loses no gated surface.
# ---------------------------------------------------------------------------


def test_table_profile_draft_pin_base_stats_identical(spark):
    """Every column of the exact profile EXCEPT n_distinct must be
    byte-identical between `table_profile` and `table_profile_approx`
    — proving the survivor's wide aggregation gates the whole
    non-distinct surface of the retiring key (same skeleton, same
    numeric/temporal/string edge rules)."""
    cols = [
        "column", "dtype", "n_rows", "n_nulls",
        "min_num", "max_num", "avg", "min_str", "max_str",
    ]
    got_exact = _rows(entry.q_table_profile(spark, SF).select(*cols), cols)
    got_approx = _rows(
        entry.q_table_profile_approx(spark, SF).select(*cols), cols
    )
    assert got_exact == got_approx
    assert len(got_exact) > 0


def test_table_profile_draft_pin_distinct_column_covered(spark):
    """The one divergent column, pinned in all three directions:
    (a) the retiring key's exact n_distinct ≡ a plain per-column
    countDistinct recomputation (nothing unique to the key's
    machinery); (b) the survivor's portable-HLL estimate lands inside
    the 4096-register error envelope (~1.6 % std, 6 % bound) of the
    exact count for EVERY column — the estimate tracks the surface it
    replaces; (c) float columns are EXACT in the survivor too (its
    documented countDistinct fallback), so the only loosened columns
    are the HLL-covered ones."""
    exact_nd = {
        r["column"]: r["n_distinct"]
        for r in entry.q_table_profile(spark, SF).collect()
    }
    approx_nd = {
        r["column"]: r["n_distinct"]
        for r in entry.q_table_profile_approx(spark, SF).collect()
    }
    o = entry._t(spark, SF, "orders")
    dtypes = dict(o.dtypes)
    recomputed = (
        o.agg(
            *[F.countDistinct(F.col(c)).alias(c) for c in o.columns]
        )
        .first()
        .asDict()
    )
    assert set(exact_nd) == set(approx_nd) == set(o.columns)
    for c in o.columns:
        assert exact_nd[c] == recomputed[c], c
        rel = abs(approx_nd[c] - exact_nd[c]) / max(exact_nd[c], 1)
        assert rel <= 0.06, (
            f"{c}: HLL estimate {approx_nd[c]} vs exact {exact_nd[c]} "
            f"(rel {rel:.3f}) — outside the 4096-register envelope"
        )
        if dtypes[c].startswith(("float", "double")):
            assert float(approx_nd[c]) == float(exact_nd[c]), (
                f"{c}: float column must use the exact fallback"
            )
