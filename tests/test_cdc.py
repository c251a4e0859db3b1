"""CDC changelog application (operators/cdc.py) — semantics,
determinism, and the one-shuffle plan claim."""

from __future__ import annotations

from pyspark.sql import functions as F

from fbs_data_pipelines_spark.operators.cdc import cdc_apply

SCHEMA = "k long, seq long, op string, v string, amt double"


def _log(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_cdc_apply_last_writer_wins_and_deletes(spark):
    log = _log(
        spark,
        [
            (1, 1, "I", "a", 1.0),
            (1, 2, "U", "a2", 1.5),
            (2, 1, "I", "b", 2.0),
            (2, 2, "D", None, None),
            (3, 1, "I", "c", 3.0),
        ],
    )
    got = {r.k: r for r in cdc_apply(log, ["k"]).collect()}
    assert set(got) == {1, 3}  # key 2 deleted
    assert got[1].v == "a2" and got[1].amt == 1.5 and got[1].seq == 2
    assert got[3].v == "c" and got[3].seq == 1


def test_cdc_apply_delete_then_reinsert_resurrects(spark):
    log = _log(
        spark,
        [
            (1, 1, "I", "a", 1.0),
            (1, 2, "D", None, None),
            (1, 3, "I", "a3", 9.0),
        ],
    )
    got = cdc_apply(log, ["k"]).collect()
    assert len(got) == 1 and got[0].v == "a3" and got[0].seq == 3


def test_cdc_apply_tie_break_is_order_insensitive(spark):
    """Duplicate seq per key: the struct's lexicographic order (seq,
    op, payload…) decides, identically for any input order — replays
    and micro-batch interleavings cannot flip the winner."""
    rows = [
        (1, 5, "U", "x", 1.0),
        (1, 5, "U", "y", 2.0),  # same seq/op, larger payload wins
        (1, 5, "I", "z", 9.0),  # 'I' < 'U' in the op field
    ]
    fwd = cdc_apply(_log(spark, rows), ["k"]).collect()
    rev = cdc_apply(_log(spark, list(reversed(rows))), ["k"]).collect()
    assert fwd == rev
    assert fwd[0].v == "y"  # ('U','y') > ('U','x') > ('I','z')


def test_cdc_apply_null_op_is_kept(spark):
    """r11 advisor: ~isin is three-valued — a winning event with NULL
    op must be KEPT (NULL is not a delete), not silently dropped."""
    log = _log(
        spark,
        [
            (1, 1, "I", "a", 1.0),
            (1, 2, None, "a2", 2.0),  # NULL op wins on seq
            (2, 1, None, "b", 3.0),   # only event has NULL op
            (3, 1, "D", None, None),  # real delete still drops
        ],
    )
    got = {r.k: r for r in cdc_apply(log, ["k"]).collect()}
    assert set(got) == {1, 2}
    assert got[1].v == "a2" and got[2].v == "b"


def test_cdc_apply_multi_column_key(spark):
    log = spark.createDataFrame(
        [
            (1, "A", 1, "I", "x"),
            (1, "A", 2, "U", "x2"),
            (1, "B", 1, "I", "y"),
        ],
        "k1 long, k2 string, seq long, op string, v string",
    )
    got = {(r.k1, r.k2): r.v for r in cdc_apply(log, ["k1", "k2"]).collect()}
    assert got == {(1, "A"): "x2", (1, "B"): "y"}


def test_cdc_apply_one_shuffle_no_window(spark):
    """The scale claim: ONE hash-partitioned exchange (the algebraic
    max-of-struct aggregate, map-side combined), and no Window/Sort
    of the event stream."""
    log = _log(spark, [(1, 1, "I", "a", 1.0), (1, 2, "U", "b", 2.0)])
    df = cdc_apply(log, ["k"])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1
    assert "Window" not in final
    # map-side combine: a partial aggregate appears below the exchange
    assert "partial_max" in final or "HashAggregate" in final


# --- model-based property test ---------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_event = st.tuples(
    st.integers(min_value=1, max_value=4),            # key
    st.integers(min_value=0, max_value=5),            # seq (dups allowed)
    st.sampled_from(["I", "U", "D"]),                 # op
    st.sampled_from(["a", "b", "c", None]),           # v
    st.sampled_from([0.0, 1.5, -2.0]),                # amt
)


def _model(rows):
    """Reference reduction: per key, max over (seq, op, v, amt) with
    Python-tuple ordering matching Spark struct ordering (None sorts
    FIRST, like Spark's nulls-first struct comparison)."""
    def order_key(r):
        _, seq, op, v, amt = r
        return (seq, op, (v is not None, v or ""), amt)

    best: dict = {}
    for r in rows:
        k = r[0]
        if k not in best or order_key(r) > order_key(best[k]):
            best[k] = r
    return {
        k: (seq, v, amt)
        for k, (_, seq, op, v, amt) in best.items()
        if op != "D"
    }


@settings(max_examples=8, deadline=None)
@given(st.lists(_event, min_size=1, max_size=25))
def test_cdc_apply_matches_model(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r.k: (r.seq, r.v, r.amt) for r in cdc_apply(df, ["k"]).collect()
    }
    assert got == _model(rows)


# events with NULL ops allowed — the streaming-state model
_event_nullop = st.tuples(
    st.integers(min_value=1, max_value=4),            # key
    st.integers(min_value=0, max_value=5),            # seq (dups allowed)
    st.sampled_from(["I", "U", "D", None]),           # op (NULL allowed)
    st.sampled_from(["a", "b", "c", None]),           # v
    st.sampled_from([0.0, 1.5, -2.0]),                # amt
)


def _model_nullop(rows):
    """Reference reduction with NULL ops: nulls-first struct ordering
    on every field; a winning NULL op is NOT a delete."""
    def order_key(r):
        _, seq, op, v, amt = r
        return (seq, (op is not None, op or ""), (v is not None, v or ""), amt)

    best: dict = {}
    for r in rows:
        k = r[0]
        if k not in best or order_key(r) > order_key(best[k]):
            best[k] = r
    return {
        k: (seq, v, amt)
        for k, (_, seq, op, v, amt) in best.items()
        if op != "D"
    }


@settings(max_examples=8, deadline=None)
@given(
    st.lists(_event_nullop, min_size=1, max_size=24),
    st.integers(min_value=1, max_value=4),
)
def test_incremental_winners_fold_matches_model(spark, rows, n_batches):
    """The streaming_cdc_apply state invariant, against an INDEPENDENT
    Python model: fold arbitrary batch splits through
    cdc_winners(state ∪ batch) — materializing state between folds
    like a table commit. The final snapshot must equal the one-shot
    model over the full history, for EVERY split."""
    from fbs_data_pipelines_spark.operators.cdc import (
        cdc_snapshot,
        cdc_winners,
    )

    size = (len(rows) + n_batches - 1) // n_batches
    batches = [rows[i : i + size] for i in range(0, len(rows), size)]
    state = None
    for b in batches:
        df = spark.createDataFrame(b, SCHEMA)
        ev = df if state is None else state.unionByName(df)
        won = cdc_winners(ev, ["k"])
        # materialize like a VersionedTable commit between micro-batches
        state = spark.createDataFrame(won.collect(), won.schema)
    got = {
        r.k: (r.seq, r.v, r.amt) for r in cdc_snapshot(state).collect()
    }
    assert got == _model_nullop(rows)
