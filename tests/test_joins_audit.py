import datetime as dt

from fbs_data_pipelines_spark.operators.audit import authlog_table, merge_snapshot
from fbs_data_pipelines_spark.operators.joins import (
    anti_join,
    join_with_suffix,
    latest_snapshot,
    lookup_join,
    semi_join,
)


def _merge_fixtures(spark):
    """Port of the reference's only golden fixture
    (/root/reference/src/log_handler.py:131-148)."""
    df_a = spark.createDataFrame(
        [(1, "A", 100), (2, "B", 200), (3, "C", 300), (4, "D", 400)],
        ["id_registro", "valor1", "valor2"],
    )
    df_b = spark.createDataFrame(
        [(1, "A", 100), (2, "B_cambiado", 205), (3, "C", 300), (5, "E", 500)],
        ["id_registro", "valor1", "valor2"],
    )
    return df_a, df_b


def test_join_with_suffix(spark):
    df_a, df_b = _merge_fixtures(spark)
    out = join_with_suffix(df_a, df_b, "id_registro", suffix="_modeled")
    assert set(out.columns) == {
        "id_registro", "valor1", "valor2", "valor1_modeled", "valor2_modeled",
    }
    assert out.count() == 3  # ids 1,2,3


def test_semi_anti(spark):
    df_a, df_b = _merge_fixtures(spark)
    ids = df_b.select("id_registro")
    assert sorted(r[0] for r in semi_join(df_a, ids, "id_registro").select("id_registro").collect()) == [1, 2, 3]
    assert sorted(r[0] for r in anti_join(df_a, ids, "id_registro").select("id_registro").collect()) == [4]


def test_authlog_table_golden(spark):
    df_b, df_a_snapshot = _merge_fixtures(spark)  # raw=new snapshot, modeled=published
    log = authlog_table(
        df_a_snapshot,
        df_b,
        log_root="unit",
        id_col="id_registro",
        target_cols=["valor1", "valor2"],
        run_id="RUN",
        run_ts=dt.datetime(2024, 1, 1, 12, 0, 0),
    )
    rows = log.collect()
    assert len(rows) == 1  # only id=2 changed
    r = rows[0]
    assert r["id_registro"] == 2
    assert r["valor1_antiguo"] == "B" and r["valor1_nuevo"] == "B_cambiado"
    assert r["valor2_antiguo"] == 200 and r["valor2_nuevo"] == 205
    assert r["id_log"] == "RUN" and r["tipo_cambio"] == "Modificado"
    assert r["fuente_log"] == "unit"


def test_authlog_null_transitions_not_logged(spark):
    a = spark.createDataFrame([(1, None), (2, "x")], ["id", "v"])
    b = spark.createDataFrame([(1, "was"), (2, None)], ["id", "v"])
    log = authlog_table(a, b, "unit", "id", ["v"], run_id="R")
    assert log.count() == 0  # null→value and value→null excluded


def test_merge_snapshot_golden(spark):
    df_a, df_b = _merge_fixtures(spark)
    merged = merge_snapshot(df_a, df_b, "id_registro", ["valor1", "valor2"])
    rows = merged.collect()
    # {1,3} unchanged from A; {2,5} from B; 4 dropped; sorted by PK; all strings
    assert [r["id_registro"] for r in rows] == ["1", "2", "3", "5"]
    assert rows[1]["valor1"] == "B_cambiado" and rows[1]["valor2"] == "205"
    assert rows[0]["valor1"] == "A"
    assert all(isinstance(v, str) for r in rows for v in r if v is not None)


def test_merge_null_vs_value_treated_as_changed(spark):
    # P5 Kleene semantics (matches Polars exactly): null-vs-value
    # comparison → null → filtered out of the "unchanged" set → the
    # row counts as changed and is taken from the snapshot (B).
    a = spark.createDataFrame([(1, "x")], ["id", "v"])
    b = spark.createDataFrame([(1, None)], "id int, v string")
    merged = merge_snapshot(a, b, "id", ["v"])
    rows = merged.collect()
    assert len(rows) == 1 and rows[0]["v"] is None


def test_lookup_join_broadcast(spark):
    facts = spark.createDataFrame([(1, "GTICS"), (2, "NOPE")], ["id", "cod"])
    dim = spark.createDataFrame([("GTICS", "Tech")], ["code", "name"])
    out = lookup_join(facts, dim, "cod", "code", "name", "grupo")
    got = {r["id"]: r["grupo"] for r in out.collect()}
    assert got == {1: "Tech", 2: None}


def test_latest_snapshot(spark):
    df = spark.createDataFrame(
        [
            ("creditos", dt.datetime(2024, 1, 1), "old.csv"),
            ("creditos", dt.datetime(2024, 2, 1), "new.csv"),
            ("radicados", dt.datetime(2024, 1, 15), "only.csv"),
        ],
        ["entity", "created", "name"],
    )
    out = {r["entity"]: r["name"] for r in latest_snapshot(df, ["entity"], "created").collect()}
    assert out == {"creditos": "new.csv", "radicados": "only.csv"}


def test_latest_snapshot_agg_matches_window_form(spark):
    import random

    from fbs_data_pipelines_spark.operators.joins import latest_snapshot_agg

    rng = random.Random(42)
    # Zipfian-ish: one hot key with most rows, unique timestamps
    rows = [
        ("hot" if rng.random() < 0.8 else f"k{rng.randint(0, 5)}",
         dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), f"f{i}.csv")
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["entity", "created", "name"])
    want = {
        (r["entity"], r["created"], r["name"])
        for r in latest_snapshot(df, ["entity"], "created").collect()
    }
    agg = latest_snapshot_agg(df, ["entity"], "created")
    got = {(r["entity"], r["created"], r["name"]) for r in agg.collect()}
    assert got == want
    assert agg.columns == df.columns

    # the whole point: two-phase aggregation (map-side partial), no
    # Window operator anywhere in the executed plan
    plan = agg._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "partial_max_by" in final or "partial" in final.lower()

    # deterministic tie-breaking: equal timestamps resolved by name
    ties = spark.createDataFrame(
        [("e", dt.datetime(2024, 1, 1), "a.csv"),
         ("e", dt.datetime(2024, 1, 1), "b.csv")],
        ["entity", "created", "name"],
    )
    [r] = latest_snapshot_agg(ties, ["entity"], "created", tiebreak=["name"]).collect()
    assert r["name"] == "b.csv"


def test_asof_join(spark):
    import datetime as dt

    from fbs_data_pipelines_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10, 0), "v1"),
            (1, dt.datetime(2024, 1, 1, 12, 0), "v2"),
            (1, dt.datetime(2024, 1, 1, 8, 0), "v0"),  # before any purchase
            (2, dt.datetime(2024, 1, 1, 9, 0), "v3"),  # tie with purchase ts
        ],
        "uid long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 9, 30), 5.0),
            (1, dt.datetime(2024, 1, 1, 11, 0), 7.0),
            (2, dt.datetime(2024, 1, 1, 9, 0), 1.0),
        ],
        "uid long, rts timestamp, price double",
    )
    out = {
        r.name: r.price
        for r in asof_join(left, right, "uid", "ts", "rts", ["price"]).collect()
    }
    assert out == {"v0": None, "v1": 5.0, "v2": 7.0, "v3": 1.0}


def test_asof_join_preserves_null_latest_value(spark):
    # the most recent right row at-or-before the left ts carries a
    # NULL value: true ASOF semantics emit that NULL — an older
    # non-null value must NOT be resurrected
    import datetime as dt

    from fbs_data_pipelines_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12, 0), "probe")],
        "uid long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 9, 0), 5.0, "early"),
            (1, dt.datetime(2024, 1, 1, 11, 0), None, "latest"),
        ],
        "uid long, rts timestamp, price double, tag string",
    )
    [row] = asof_join(
        left, right, "uid", "ts", "rts", ["price", "tag"]
    ).collect()
    assert row.price is None  # from the latest row, not 5.0
    assert row.tag == "latest"  # all values from the SAME right row


def test_range_join_broadcast_vs_bucketed_equivalent(spark):
    from fbs_data_pipelines_spark.operators.joins import (
        bucketed_range_join,
        range_join,
    )
    import pyspark.sql.functions as F

    points = spark.range(0, 500).select((F.col("id") * 7.3).alias("x"))
    iv = spark.createDataFrame(
        [(1, 0.0, 100.0), (2, 50.0, 1200.0), (3, 3000.0, 3700.0)],
        "iv_id long, lo double, hi double",
    )
    a = sorted(
        (r.x, r.iv_id) for r in range_join(points, iv, "x").collect()
    )
    b = sorted(
        (r.x, r.iv_id)
        for r in bucketed_range_join(points, iv, "x", bucket_width=100.0).collect()
    )
    assert a == b and len(a) > 0
    # boundary semantics: lo inclusive, hi exclusive
    edge = spark.createDataFrame([(100.0,), (0.0,)], "x double")
    hits = sorted((r.x, r.iv_id) for r in range_join(edge, iv, "x").collect())
    assert hits == [(0.0, 1), (100.0, 2)]


def test_salted_join_matches_plain_join(spark):
    from fbs_data_pipelines_spark.operators.partitioning import salted_join
    import pyspark.sql.functions as F

    # skewed left: 90% of rows share key 1
    left = spark.range(0, 1000).select(
        F.when(F.col("id") % 10 != 0, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.createDataFrame(
        [(1, "hot"), (10, "a"), (20, "b")], "k long, v string"
    )
    plain = sorted((r.payload, r.v) for r in left.join(right, "k").collect())
    salted = sorted(
        (r.payload, r.v) for r in salted_join(left, right, "k").collect()
    )
    assert plain == salted and len(plain) > 0


def test_runtime_bloom_filter_injected_and_exact(spark, sf_dir):
    """Inside runtime_bloom_scope a selective dim side injects a
    might_contain predicate into the fact scan (semi-join reduction:
    fact rows drop BEFORE the shuffle), and the result is exactly the
    plain join's."""
    from fbs_data_pipelines_spark.operators.partitioning import (
        bloom_filtered_join,
        runtime_bloom_scope,
    )

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        "o_totalprice > 400000"
    )
    plain = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .count()
    )
    expect = sorted((r.o_orderstatus, r["count"]) for r in plain.collect())

    with runtime_bloom_scope(spark):
        j = bloom_filtered_join(
            lineitem, orders, lineitem.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderstatus").count()
        got = sorted((r.o_orderstatus, r["count"]) for r in j.collect())
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan or "bloom" in plan.lower()
    assert got == expect and len(got) > 0
    # scope restored the session confs
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
    assert (
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        != "1KB"
    )


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located bucketed tables join with zero Exchange — the
    write-once-shuffle-never contract for 100 TB fact tables."""
    from fbs_data_pipelines_spark.sources.catalog import save_bucketed
    import pyspark.sql.functions as F

    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    save_bucketed(a, "t_bucket_a", ["k"], num_buckets=4,
                  path=str(tmp_path / "t_bucket_a"))
    save_bucketed(b, "t_bucket_b", ["k"], num_buckets=4,
                  path=str(tmp_path / "t_bucket_b"))
    # force the non-broadcast path: bucketing is what must kill the
    # shuffle, not a broadcast of these (deliberately tiny) fixtures
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "k")
        assert joined.count() == 1000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "Exchange hashpartitioning" not in plan  # no shuffle
        assert "SortMergeJoin" in plan  # co-located bucket SMJ
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q_bucketed_join_has_no_shuffle(spark, sf_dir):
    """The registry's bucketed_join joins its external bucketed tables
    without shuffling either side on the join key, even with broadcast
    joins off (the only Exchange left is the group-by's, on
    o_orderpriority)."""
    import __spark_entry__ as entry

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = entry.q_bucketed_join(spark, sf_dir)
        assert len(df.collect()) == 5
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partitioned_write_prunes(spark, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (directory pruning), not a data filter over the full scan."""
    from fbs_data_pipelines_spark.sources.catalog import save_partitioned
    import pyspark.sql.functions as F

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("bucket_day")
    )
    save_partitioned(df, str(tmp_path / "t"), ["bucket_day"])
    back = spark.read.parquet(str(tmp_path / "t")).filter(
        F.col("bucket_day") == "2"
    )
    assert back.count() == 250
    formatted = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", formatted)
    assert m and "bucket_day" in m.group(1)  # pruning, not post-filter
    # and every file actually read lives under the one matching dir
    files = [r[0] for r in back.select(F.input_file_name()).distinct().collect()]
    assert files and all("bucket_day=2" in f for f in files)


def test_aqe_splits_skewed_join(spark):
    """With AQE skew thresholds lowered, a pathologically skewed join
    partition is split at runtime (OptimizeSkewedJoin) — the engine's
    first line of defense before explicit salting."""
    import pyspark.sql.functions as F

    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(1)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"), F.lit("r").alias("v")
        )
        joined = left.join(right, "k")
        assert len(joined.collect()) > 0  # executes THIS df's plan (AQE finalizes)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan  # skewed side split into subpartitions
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# scd2_apply — incremental snapshot maintenance of an existing SCD2 dim
# ---------------------------------------------------------------------------


def _scd2_fixture(spark):
    from pyspark.sql import Row

    dim = spark.createDataFrame(
        [
            # closed history row — must pass through untouched
            Row(k=1, seg="LEGACY", valid_from="2022-01-01",
                valid_to="2023-01-01", is_current=False),
            Row(k=1, seg="A", valid_from="2023-01-01",
                valid_to=None, is_current=True),   # unchanged
            Row(k=2, seg="B", valid_from="2023-01-01",
                valid_to=None, is_current=True),   # changed -> C
            Row(k=3, seg="D", valid_from="2023-01-01",
                valid_to=None, is_current=True),   # missing from snap
        ]
    )
    snap = spark.createDataFrame(
        [
            Row(k=1, seg="A"),    # unchanged
            Row(k=2, seg="C"),    # changed
            Row(k=9, seg="NEW"),  # brand-new key
        ]
    )
    return dim, snap


def test_scd2_apply_branches(spark):
    from fbs_data_pipelines_spark.operators.audit import scd2_apply

    dim, snap = _scd2_fixture(spark)
    out = scd2_apply(dim, snap, "k", ["seg"], "2024-01-01",
                     close_missing=True)
    rows = {(r.k, r.seg, r.valid_from, r.valid_to, r.is_current)
            for r in out.collect()}
    assert rows == {
        (1, "LEGACY", "2022-01-01", "2023-01-01", False),  # history
        (1, "A", "2023-01-01", None, True),                # unchanged
        (2, "B", "2023-01-01", "2024-01-01", False),       # closed
        (2, "C", "2024-01-01", None, True),                # reopened
        (3, "D", "2023-01-01", "2024-01-01", False),       # closed (full)
        (9, "NEW", "2024-01-01", None, True),              # inserted
    }


def test_scd2_apply_keep_missing_open(spark):
    from fbs_data_pipelines_spark.operators.audit import scd2_apply

    dim, snap = _scd2_fixture(spark)
    out = scd2_apply(dim, snap, "k", ["seg"], "2024-01-01",
                     close_missing=False)
    r3 = [r for r in out.collect() if r.k == 3]
    assert len(r3) == 1
    assert r3[0].valid_to is None and r3[0].is_current is True


def test_scd2_apply_single_join(spark):
    """The two output rows per changed key are emitted in ONE pass
    (array+filter+inline) — the plan must contain exactly one join,
    not a self-unioned pair of them."""
    from fbs_data_pipelines_spark.operators.audit import scd2_apply

    dim, snap = _scd2_fixture(spark)
    out = scd2_apply(dim, snap, "k", ["seg"], "2024-01-01",
                     close_missing=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1


def test_scd2_apply_null_safe_attr_compare(spark):
    """A null attribute equal on both sides is UNCHANGED (null-safe
    struct compare), and null->value is a real change."""
    from pyspark.sql import Row

    from fbs_data_pipelines_spark.operators.audit import scd2_apply

    dim = spark.createDataFrame(
        [
            (1, None, "2023-01-01", None, True),
            (2, None, "2023-01-01", None, True),
        ],
        "k long, seg string, valid_from string, valid_to string, "
        "is_current boolean",
    )
    snap = spark.createDataFrame(
        [(1, None), (2, "X")], "k long, seg string"
    )
    out = scd2_apply(dim, snap, "k", ["seg"], "2024-01-01")
    rows = {(r.k, r.seg, r.valid_from, r.valid_to, r.is_current)
            for r in out.collect()}
    assert rows == {
        (1, None, "2023-01-01", None, True),
        (2, None, "2023-01-01", "2024-01-01", False),
        (2, "X", "2024-01-01", None, True),
    }


def test_temporal_join_validity_and_gaps(spark):
    """Fact-to-SCD2 temporal join: exact valid_from boundary matches,
    exact valid_to boundary has expired (exclusive), a validity GAP
    and a before-first-version fact both yield NULL attributes — the
    case a plain as-of join gets wrong."""
    from fbs_data_pipelines_spark.operators.joins import temporal_join

    dim = spark.createDataFrame(
        [
            (1, "v1", "2024-01-01", "2024-02-01"),
            (1, "v2", "2024-03-01", None),  # gap: Feb 2024
            (2, "w1", "2024-01-01", None),  # open-ended
        ],
        "k long, seg string, valid_from string, valid_to string",
    )
    fact = spark.createDataFrame(
        [
            (10, 1, "2024-01-01"),  # == valid_from -> v1
            (11, 1, "2024-01-31"),  # inside v1
            (12, 1, "2024-02-01"),  # == valid_to (exclusive) -> gap
            (13, 1, "2024-02-15"),  # gap -> null
            (14, 1, "2024-03-01"),  # v2 opens
            (15, 1, "2023-12-31"),  # before first version -> null
            (16, 2, "2024-06-01"),  # open-ended match
            (17, 3, "2024-01-01"),  # key absent from dim -> null
        ],
        "fid long, k long, ts string",
    )
    out = {
        r.fid: (r.seg, r.valid_from)
        for r in temporal_join(fact, dim, "k", "ts", ["seg"]).collect()
    }
    assert len(out) == 8  # left-join: every fact survives
    assert out[10] == ("v1", "2024-01-01")
    assert out[11] == ("v1", "2024-01-01")
    assert out[12] == (None, None)
    assert out[13] == (None, None)
    assert out[14] == ("v2", "2024-03-01")
    assert out[15] == (None, None)
    assert out[16] == ("w1", "2024-01-01")
    assert out[17] == (None, None)


def test_temporal_join_one_shuffle(spark):
    """The scale claim: one window exchange (asof's union+window),
    no join node, no range cross-product."""
    from fbs_data_pipelines_spark.operators.joins import temporal_join

    dim = spark.createDataFrame(
        [(1, "v1", "2024-01-01", None)],
        "k long, seg string, valid_from string, valid_to string",
    )
    fact = spark.createDataFrame(
        [(10, 1, "2024-02-01")], "fid long, k long, ts string"
    )
    df = temporal_join(fact, dim, "k", "ts", ["seg"])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Join" not in final and "Cartesian" not in final
    assert final.count("Window") == 1
