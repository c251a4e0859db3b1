"""Partitioning and shuffle-reduction utilities.

``ensure_parallelism``: small single-file inputs (one parquet row
group ⇒ one scan partition) serialize heavy per-row work (shingling,
vector math) onto one core. Repartitioning such inputs to the
cluster's default parallelism costs one tiny shuffle and unlocks every
core. At real scale the input already has ≥ parallelism partitions and
this is a no-op — the check happens at plan time, no job is run.

``salted_join`` / ``bloom_filtered_join``: the two shuffle-side levers
for big joins AQE can't fix on its own — pathological key skew
(salting spreads one hot key over N partitions) and semi-join
reduction (a runtime Bloom filter on the selective side drops
non-matching big-side rows BEFORE they are shuffled, cutting exchange
volume by the join selectivity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    target = min_partitions
    if target is None:
        target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def salted_join(
    left: "DataFrame",
    right: "DataFrame",
    on: str,
    num_salts: int = 16,
    how: str = "inner",
) -> "DataFrame":
    """Skew-resistant equi-join: salt the skewed (left) side's key with
    a random-ish but DETERMINISTIC per-row salt (hash of all columns),
    replicate the right side ``num_salts`` ways, join on (key, salt).

    Turns one monster partition for a hot key into ``num_salts``
    partitions. AQE's skew-join splitting handles moderate skew
    automatically; explicit salting is for the pathological case
    (one key = 30% of rows) where even split partitions overwhelm a
    task. Replication cost: |right| × num_salts — use when right is
    the smaller side but too big to broadcast.
    """
    from pyspark.sql import functions as F

    salt = (F.abs(F.hash(*[F.col(c) for c in left.columns])) % num_salts).alias(
        "__salt"
    )
    l_salted = left.withColumn("__salt", salt)
    r_salted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast(l_salted.schema["__salt"].dataType))
    return l_salted.join(r_salted, [on, "__salt"], how).drop("__salt")


def bloom_filtered_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Equi-join relying on Spark's runtime Bloom-filter injection.

    When ``right`` carries a selective predicate and the join must
    shuffle (right too big to broadcast), Catalyst's
    ``InjectRuntimeFilter`` rule builds a Bloom filter over the
    filtered right-side keys in a one-row subquery and pushes a
    ``might_contain`` predicate into the ``left`` scan — non-matching
    rows are dropped before the exchange, so shuffle volume scales
    with join selectivity instead of |left|. Results are EXACTLY the
    plain join's (false positives are eliminated by the join itself).

    The rule is conf-driven and evaluated at execution-time plan
    optimization, so this helper is just the declarative join — the
    engine session enables the rule (``session.py``) and the default
    thresholds gate it to scans ≥10GB, i.e. exactly the 100TB regime.
    """
    return left.join(right, on=on, how=how)
