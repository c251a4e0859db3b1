"""Deduplication operators for large-scale text corpora.

Beyond-reference surface (BASELINE.json north star). All variants are
designed scale-first:

- exact: hash-groupBy — one shuffle on the content hash.
- MinHash+LSH: shingle → K minhashes → B bands → bucket self-join.
  Candidate generation never cross-joins; the band join's fan-out is
  bounded by bucket sizes (near-duplicate clusters), and verification
  runs only on candidates.
- SimHash: 60-bit signature, banded into 4×15-bit chunks — pigeonhole
  guarantees hamming≤3 pairs share a chunk.
- n-gram Jaccard: inverted-index self-join on shingles (pair
  intersection counts via groupBy, never O(n²)).
- embedding cosine: threshold pairs via block-join; see
  operators/similarity.py for the ANN scale path.

Determinism: every hash is an md5-hex-substring (fixed width ⇒
lexicographic min == numeric min), so a DuckDB oracle reproduces the
exact signatures/pairs — no engine-private hash functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.functions.vectors import lit_array

from fbs_data_pipelines_spark.functions.cleaning import round_half_up
from fbs_data_pipelines_spark.functions.text import (
    normalize_text,
    word_shingles,
)


def _content_key(content_cols: list[str], normalize: bool):
    """The canonical content hash every exact-dedup surface shares.
    dedup_exact WRITES this key into the seen-hash state and
    incremental_dedup PROBES it — one definition, or a drifted edit
    would silently re-admit every previously seen document. The
    \x01 separator keeps multi-column content unambiguous
    (("ab","c") must not hash like ("a","bc"))."""
    if normalize:
        return F.md5(
            F.concat_ws("\x01", *[normalize_text(c) for c in content_cols])
        )
    return F.md5(F.concat_ws("\x01", *content_cols))


def dedup_exact(
    df: DataFrame, id_col: str, content_cols: list[str], normalize: bool = True
) -> DataFrame:
    """Keep the min-id row per distinct content (hash-groupBy).

    One shuffle on the content hash; map-side partial min. Returns the
    surviving ids + hash (join back to recover full rows).
    """
    key = _content_key(content_cols, normalize)
    return (
        df.select(F.col(id_col), key.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .select(id_col, "content_hash", "dup_count")
    )


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, sh): each doc's distinct shingles as one array — a narrow
    map, no shuffle (shingle sets are per-document)."""
    from fbs_data_pipelines_spark.operators.partitioning import ensure_parallelism

    src = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    return src.select(
        F.col(id_col), F.array_distinct(word_shingles(text_col, n)).alias("sh")
    )


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) distinct pairs — the substrate for Jaccard.

    Per-doc dedup happens BEFORE the explode (``array_distinct`` on
    the shingle array), so this is a pure narrow map — no shuffle at
    all. (Shingle sets are per-document; no cross-doc distinct needed.)
    """
    return _shingle_sets(df, id_col, text_col, n).select(
        F.col(id_col), F.explode("sh").alias("shingle")
    )


def _minhash_aggs(num_hashes: int) -> list:
    """The K min-hash aggregate expressions.

    An md5 digest is 128 bits = four independent 32-bit words, so one
    salted md5 yields FOUR hash functions (8-hex windows at offsets
    1/9/17/25) — hash function i reads window i%4 of md5(i//4 ':' x).
    Computing ceil(K/4) md5s instead of K cuts the dominant per-shingle
    hashing cost 4×. Fixed-width hex keeps lexicographic min == minwise
    hash; the DuckDB oracle mirrors the same windows exactly."""
    return [
        F.min(
            F.substring(
                F.md5(F.concat(F.lit(f"{i // 4}:"), F.col("shingle"))),
                1 + 8 * (i % 4),
                8,
            )
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: columns mh_0..mh_{K-1}.

    Shingle sets are deduped per-doc BEFORE the explode (narrow), then
    one codegen'd hash aggregate computes all K mins with map-side
    partial aggregation — the only shuffle carries ≤ K·8 bytes per
    doc. (A zero-shuffle array_min/transform variant was measured 5×
    slower: Spark's higher-order lambdas are interpreted, while
    explode+groupBy stays in whole-stage codegen. That measurement
    predates the shingle fix in ``word_shingles_arr`` — it ran with the
    lambda that re-tokenized the whole document per shingle.) Docs with
    < n words produce no signature (empty shingle set)."""
    sh = shingle_table(df, id_col, text_col, n)
    return sh.groupBy(id_col).agg(*_minhash_aggs(num_hashes))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    Pipeline: signatures → band values (concat of rows-per-band
    hashes) → self-join per band bucket (candidates) → verify with
    exact shingle-set Jaccard → filter ≥ threshold. Returns
    (id_a, id_b, jaccard) with id_a < id_b, rounded to 4dp.

    Cached intermediates are scope-attached to the result — call
    ``caching.release_cache(result)`` after consuming it.
    """
    from fbs_data_pipelines_spark.caching import CacheScope

    rows_per_band = num_hashes // bands

    # ONE persisted table, one row per doc: (id, its distinct shingles
    # as an array). Each doc is tokenized and shingled once; the
    # signature pass explodes the arrays, and the verify pass reads
    # both docs' arrays of each candidate pair. Without the persist
    # the shingling subtree would run once per consumer. The table is
    # ≪ the input text; MEMORY_AND_DISK spills safely at scale.
    scope = CacheScope()
    docs = scope.persist(_shingle_sets(df, id_col, text_col, n))
    sig = (
        docs.select(F.col(id_col), F.explode("sh").alias("shingle"))
        .groupBy(id_col)
        .agg(*_minhash_aggs(num_hashes))
    )

    # band bucket key = ONE xxhash64 over (band index, band's minhash
    # codes): an 8-byte long instead of the former ~24-byte
    # concat_ws string — ~3× less bucket-join key payload to shuffle
    # at scale and a cheaper hash/compare; measured at sf0.1 the
    # candidate stage dropped 0.348→0.298 s with an IDENTICAL
    # candidate set (r9 audit, EVIDENCE_r09.md §4). A 64-bit
    # collision can only ADD a candidate pair (same-band values still
    # collide), and the exact-Jaccard verify filters any such pair,
    # so the operator's OUTPUT is collision-invariant.
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.xxhash64(F.lit(b), *parts).alias(f"band_{b}"))
    banded = sig.select(F.col(id_col), *band_cols)

    # candidates: docs sharing any band value
    stacked = banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[F.col(f"band_{b}") for b in range(bands)])
        ).alias("bucket"),
    )
    left = stacked.select(F.col(id_col).alias("id_a"), "bucket")
    right = stacked.select(F.col(id_col).alias("id_b"), "bucket")
    cand = (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # verification restricted to candidate pairs: each pair joins the
    # two docs' shingle arrays (one row per pair, never per shingle)
    # and intersects them; the arrays are already distinct, so
    # |A∩B| = size(array_intersect). Cost: |cand| × shingles-per-doc,
    # bounded by the banding.
    sh_a = docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jaccard = round_half_up(inter / (F.size("sh_a") + F.size("sh_b") - inter), 4)
    keep = jaccard >= threshold
    if threshold <= 0:  # a pair sharing no shingle is no near-dup
        keep = keep & (inter > 0)
    return scope.attach(
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .filter(keep)
        .select("id_a", "id_b", jaccard.alias("jaccard"))
    )


def ngram_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over shingle sets, inverted-index style.

    |A∩B| from a self-join on shingle + pair count; |A|,|B| from per-doc
    counts. Never materializes O(n²) — only pairs sharing ≥1 shingle.

    ``max_df`` is the scale valve: a shingle appearing in ``d`` docs
    contributes O(d²) candidate pairs out of the self-join, and real
    corpora always have boilerplate shingles with huge document
    frequency. With ``max_df`` set, shingles whose document frequency
    exceeds it are dropped from the universe BEFORE the join (and
    before the per-doc sizes, so Jaccard stays a true set ratio over
    the restricted universe — the standard stop-shingle treatment).
    The df computation is one map-side-combined groupBy; the hot set
    is tiny, so the anti-join broadcasts. At 100 TB run with
    ``max_df`` set (e.g. 1000); MinHash-LSH remains the preferred
    sub-quadratic path.

    Cached intermediates are scope-attached to the result — call
    ``caching.release_cache(result)`` after consuming it.

    Returns (id_a, id_b, jaccard rounded 4dp)."""
    from fbs_data_pipelines_spark.caching import CacheScope

    scope = CacheScope()
    sh = shingle_table(df, id_col, text_col, n)
    if max_df is not None:
        # raw shingles feed BOTH the hot-shingle census and the
        # filtered universe — materialize once, don't re-shingle
        sh = scope.persist(sh)
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # the (filtered) shingle table has THREE consumers (sizes + both
    # self-join sides); without persist the shingling subtree executes
    # three times — at scale the explode is the dominant cost
    sh = scope.persist(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return scope.attach(
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            round_half_up(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ).alias("jaccard"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """60-bit SimHash per doc (portable arithmetic, no engine hash()).

    Each distinct token contributes ±1 per bit, where bit i of the
    token is extracted from hex digit i//4 of md5(token). Computed as
    a ZERO-SHUFFLE narrow map with higher-order functions: token md5s
    are materialized once per doc (named projection column), then each
    bit position aggregates over the hash array. Returns
    (id, simhash bigint)."""
    from fbs_data_pipelines_spark.operators.partitioning import ensure_parallelism

    src = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    staged = src.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(
                F.filter(
                    F.split(normalize_text(text_col), " "), lambda t: t != ""
                )
            ),
            lambda t: F.md5(t),
        ).alias("__hashes"),
    )

    # Single-pass array fold, NOT 60 independent aggregates: one
    # aggregate carries a 60-element bit-sum vector (zip_with add of
    # each token's ±1 contribution vector), so the expression tree is
    # O(1) in `bits` and the hash array streams once per doc (the 60×
    # variant compiled a giant plan and re-walked the array per bit —
    # ~4× slower end to end). Bit i of a token = bit i%4 of hex nibble
    # i//4 of its md5 — identical values to the per-bit formulation.
    n_nibbles = (bits + 3) // 4

    def contribs(h):
        nib = F.transform(
            F.sequence(F.lit(1), F.lit(n_nibbles)),
            lambda i: F.conv(F.substring(h, i, F.lit(1)), 16, 10).cast("int"),
        )
        return F.flatten(
            F.transform(
                nib,
                lambda x: F.array(
                    x.bitwiseAND(F.lit(1)) * 2 - 1,
                    F.shiftright(x, 1).bitwiseAND(F.lit(1)) * 2 - 1,
                    F.shiftright(x, 2).bitwiseAND(F.lit(1)) * 2 - 1,
                    F.shiftright(x, 3).bitwiseAND(F.lit(1)) * 2 - 1,
                ),
            )
        )

    zero = F.array_repeat(F.lit(0), bits)
    bit_sums = F.aggregate(
        F.col("__hashes"),
        zero,
        lambda acc, h: F.zip_with(
            acc, F.slice(contribs(h), 1, bits), lambda a, c: a + c
        ),
    )
    # explicit element type: the literal only infers array<bigint> on
    # its own when bits > 31 forces long inference (r17 advisor item —
    # at bits ≤ 31 correctness would silently lean on the
    # when/otherwise branch coercing against lit(0).cast('bigint'))
    powers = lit_array([int(2**p) for p in range(bits)]).cast(
        "array<bigint>"
    )
    sim = F.aggregate(
        F.zip_with(
            bit_sums,
            powers,
            lambda s, p: F.when(s >= 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return staged.filter(F.size("__hashes") > 0).select(
        F.col(id_col), sim.alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 60,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Candidate generation: split the signature into ``chunks`` equal
    bit-ranges; by pigeonhole, pairs within hamming ≤ chunks-1 share
    at least one chunk — self-join per chunk bucket, then exact
    hamming verify via bit_count(xor). Returns (id_a, id_b, hamming);
    cached intermediates are scope-attached to the result — call
    ``caching.release_cache(result)`` after consuming it.
    """
    from fbs_data_pipelines_spark.caching import CacheScope

    # persist: the signature subtree (interpreted higher-order lambdas
    # over token arrays — the expensive part) feeds BOTH sides of the
    # bucket self-join; without materialization it computes twice
    scope = CacheScope()
    sig = scope.persist(simhash(df, id_col, text_col, bits))
    chunk_bits = bits // chunks
    # chunk extraction MUST be integer bit arithmetic: double division
    # (x / 2^45) loses mantissa precision for x > 2^53 and silently
    # corrupts high-chunk values
    mask = (1 << chunk_bits) - 1
    chunk_cols = [
        F.shiftright(F.col("simhash"), c * chunk_bits)
        .bitwiseAND(F.lit(mask))
        .alias(f"chunk_{c}")
        for c in range(chunks)
    ]
    banded = sig.select(F.col(id_col), F.col("simhash"), *chunk_cols)
    stacked = banded.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.concat_ws("|", F.lit(str(c)), F.col(f"chunk_{c}"))
                    for c in range(chunks)
                ]
            )
        ).alias("bucket"),
    )
    left = stacked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "bucket"
    )
    right = stacked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "bucket"
    )
    # hamming-filter BEFORE the distinct: the filter is a narrow map
    # over the join stream, so dedup (the shuffle) only sees pairs
    # that already passed — orders of magnitude fewer rows than
    # deduping every (pair × shared-chunk) candidate row first
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return scope.attach(
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id),
    cluster_id = min id reachable through the pair graph (the cluster
    representative every dedup pipeline keeps).

    Iterative min-label propagation: each round joins current labels
    across the (symmetrized) edge list and takes the per-node min.
    Rounds needed = graph diameter — for dup clusters (dense blobs,
    tiny diameter) a handful. Each round is one join + one groupBy
    (two shuffles) over the FRONTIER only; ``localCheckpoint`` cuts
    the growing lineage so plan size stays O(1) per round. This is the
    standard scalable CC construction (cf. small-star/large-star,
    Kiveris et al., "Connected Components in MapReduce"), minus the
    star optimizations that only pay off at huge diameters.

    One ACTION per round (r18, guide §2.4): the previous label is
    carried through the propagation aggregate as a second min (nulls
    on the prop side, so ``min(__old)`` is exactly the old label),
    which folds convergence detection into the round itself — the
    former separate labels⋈labels change-count join (one extra job
    per round locally, one extra shuffle of the full label table per
    round at scale) is gone. The round's checkpoint is LAZY; the
    changed-count action materializes it.

    Round 1 is folded into the initial labels: each node starts at
    ``least(id, min(dst))`` over its edges, which is what the first
    propagation round would give. The fixed point is unchanged (the
    minimum id of each component), and a star whose centre holds the
    minimum id converges in the first round's count.

    Storage: each superseded round's labels are unpersisted as soon as
    the next round has materialized (a local checkpoint otherwise stays
    pinned until a JVM GC). The edges and the final labels sit in a
    :class:`~fbs_data_pipelines_spark.caching.CacheScope` attached to
    the result — call ``caching.release_cache(result)`` after
    consuming it.
    """
    from fbs_data_pipelines_spark.caching import CacheScope

    scope = CacheScope()
    edges = scope.checkpoint(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct(),
        eager=False,
    )
    labels = scope.checkpoint(
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("id"), "label"),
        eager=False,
    )
    label_type = labels.schema["label"].dataType
    for _ in range(max_iter):
        prop = edges.join(labels, edges.src == labels.id).select(
            F.col("dst").alias("id"),
            "label",
            F.lit(None).cast(label_type).alias("__old"),
        )
        base = labels.select(
            "id", "label", F.col("label").alias("__old")
        )
        new_labels = scope.checkpoint(
            base.unionByName(prop)
            .groupBy("id")
            # every id has exactly one non-null __old (its base row),
            # so min(__old) == the previous label and the change test
            # needs no join back
            .agg(F.min("label").alias("label"), F.min("__old").alias("__old")),
            eager=False,
        )
        changed = new_labels.filter(
            F.col("label") != F.col("__old")
        ).count()
        # the count checkpointed new_labels (lineage cut): the
        # superseded round's blocks are garbage now
        scope.unpersist(labels)
        labels = new_labels
        if changed == 0:
            break
    return scope.attach(
        labels.select(F.col("id"), F.col("label").alias("cluster_id"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Train-vs-eval n-gram decontamination: training documents that
    share at least one word n-gram with the evaluation set (the
    standard pretraining-hygiene check — eval shingles leaking into
    training data inflate benchmark scores).

    Scale shape: the eval side collapses to its DISTINCT shingle set —
    benchmarks are tiny relative to a 100 TB corpus, so it BROADCASTS;
    the train side streams through a narrow shingle explode and a
    broadcast hash join (no shuffle of the corpus). Returns
    (id, n_hits) where n_hits = number of distinct contaminated
    shingles in the training doc; anti-join the result against the
    corpus to drop flagged docs.
    """
    tr = shingle_table(train, id_col, text_col, n)
    ev = shingle_table(eval_df, id_col, text_col, n).select("shingle").distinct()
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


def shared_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_span_tokens: int = 5,
    max_occurrences: int | None = None,
) -> DataFrame:
    """Exact substring (token-span) dedup: the longest run of tokens
    two documents share, found WITHOUT suffix arrays — the signal
    behind substring-level train-set dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"; their
    single-machine tool builds a suffix array, which does not
    distribute — this is the join-native reformulation).

    Method (diagonal runs): positional word n-grams (pos, shingle)
    per doc → inverted-index self-join on the shingle → every match
    between docs a<b lands at coordinates (pa, pb); matches of one
    contiguous shared span all satisfy pa − pb = const (a DIAGONAL)
    with consecutive pa. Grouping by (a, b, diag, pa − row_number)
    turns each maximal run into one group; its size r means r+n−1
    shared tokens. Emits (id_a, id_b, span_tokens = max run) for
    pairs clearing ``min_span_tokens``.

    Scale shape: positional shingling is a narrow map; the self-join
    is shuffle-hash on the shingle (AQE-skew-splittable);
    ``max_occurrences`` is the stop-shingle valve (a shingle with
    occurrence count d yields O(d²) join rows — drop the boilerplate
    head BEFORE the join, exactly like ``ngram_jaccard.max_df``).
    The run window partitions by (pair, diagonal) — keys strictly
    finer than pairs, so no Zipfian window partition can form.

    Returns (id_a, id_b, span_tokens, n_spans) — n_spans counts the
    qualifying maximal runs of the pair.
    """
    from fbs_data_pipelines_spark.caching import CacheScope
    from fbs_data_pipelines_spark.operators.partitioning import (
        ensure_parallelism,
    )

    scope = CacheScope()
    src = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    shp = src.select(
        F.col(id_col),
        F.posexplode(word_shingles(text_col, n)).alias("pos", "shingle"),
    )
    if max_occurrences is not None:
        shp = scope.persist(shp)
        hot = (
            shp.groupBy("shingle")
            .agg(F.count("*").alias("__occ"))
            .filter(F.col("__occ") > max_occurrences)
            .select("shingle")
        )
        shp = shp.join(F.broadcast(hot), "shingle", "left_anti")
    shp = scope.persist(shp)  # two self-join consumers
    a = shp.select(
        F.col(id_col).alias("id_a"), F.col("pos").alias("pa"), "shingle"
    )
    b = shp.select(
        F.col(id_col).alias("id_b"), F.col("pos").alias("pb"), "shingle"
    )
    hits = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = (
        hits.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg((F.count("*") + F.lit(n - 1)).alias("span"))
    )
    out = (
        runs.filter(F.col("span") >= min_span_tokens)
        .groupBy("id_a", "id_b")
        .agg(
            F.max("span").cast("long").alias("span_tokens"),
            F.count("*").cast("long").alias("n_spans"),
        )
    )
    return scope.attach(out)


def incremental_dedup(
    batch: DataFrame,
    seen_hashes: DataFrame,
    id_col: str,
    content_cols: list[str],
    normalize: bool = True,
) -> DataFrame:
    """The production dedup shape: deduplicate an INCOMING batch
    against the already-ingested corpus without ever rescanning it.

    A 100 TB pipeline never re-deduplicates the world per ingest — it
    keeps the content-hash set as state (16 bytes/doc; a
    ``VersionedTable`` or bucketed parquet) and processes each new
    batch as: (1) in-batch exact dedup (min-id survivor per hash,
    same rule as ``dedup_exact``), (2) anti-join against the seen
    set on the hash. Both stages shuffle ONLY the batch (the seen
    set side partitions once; with the state table bucketed by hash
    the anti-join is shuffle-free on its side).

    ``seen_hashes`` needs a ``content_hash`` column. Returns the
    surviving batch rows + their ``content_hash`` — the caller
    appends exactly that column back to the state store, closing the
    loop (append-only state; no read-modify-write races).
    """
    hashed = batch.withColumn(
        "content_hash", _content_key(content_cols, normalize)
    )
    # survivor set renamed to fresh attributes — a groupBy over the
    # same lineage would otherwise make the join keys ambiguous
    keep = hashed.groupBy(F.col("content_hash").alias("__h")).agg(
        F.min(id_col).alias("__keep")
    )
    in_batch = hashed.join(
        keep,
        (F.col("content_hash") == F.col("__h"))
        & (F.col(id_col) == F.col("__keep")),
    ).drop("__h", "__keep")
    return in_batch.join(
        seen_hashes.select("content_hash"), "content_hash", "left_anti"
    )


def first_seen_batch(df: DataFrame, key_col: str, order_col: str) -> DataFrame:
    """Exactly-once-per-key admission over a bounded input: the first
    arrival per key, arrival order = ``order_col`` (a stream's arrival
    order is its ingest sequence, so replaying a log batch-by-batch
    with carried seen-key state admits the same rows; the
    driver-gated ``first_seen`` query does exactly that to prove the
    cross-batch semantics too). Scale shape: one shuffle on the key;
    per-key window, no global sort."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-global paragraph-level exact dedup with document
    reassembly — the RefinedWeb/CCNet line-dedup stage: split each
    document on ``sep``, keep only the FIRST occurrence (ordered by
    (id, position)) of each distinct paragraph anywhere in the
    corpus, and stitch the survivors back together in original order.

    Boilerplate (nav bars, cookie banners, license headers) repeats
    across millions of pages; removing it at the paragraph level is
    the step document-level dedup cannot do. Paragraphs shorter than
    ``min_chars`` (default 1 ⇒ empty segments) are kept verbatim and
    never participate in dedup — they are document structure, not
    content.

    Scale shape (two shuffles, both on uniform md5 keys):
      1. posexplode, md5 each eligible paragraph;
      2. first-owner per hash via one map-side-combined
         ``min(struct(id, pos))`` aggregation — NOT a window over the
         hash, which would serialize a mega-duplicated boilerplate
         paragraph (df in the millions) into a single task;
      3. equi-join the owner table back on the hash (one row per
         distinct paragraph ⇒ fan-out 1; AQE skew-split covers hot
         hashes on the probe side) and keep rows that ARE the owner;
      4. reassemble per document with a sorted-collect — bounded by
         document size, the same per-doc envelope the corpus was
         ingested with.

    ``sep`` is a LITERAL separator (regex-escaped before hitting
    Spark's regex-based split), matching DuckDB/engine-portable
    ``string_split`` semantics so an oracle reproduces the result.

    Returns (id_col, clean_text, n_kept, n_removed) — one row per
    input document, including documents whose every paragraph was
    removed (clean_text = '').
    """
    import re as _re

    # null text = empty document: split(null) is null and posexplode
    # of null emits NO rows — the doc would silently vanish from the
    # output, breaking the one-row-per-document contract
    parts = F.split(
        F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep), -1
    )
    p = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(parts).alias("__pos", "__para"),
    )
    eligible = F.length("__para") >= int(min_chars)
    hashed = p.withColumn(
        "__h", F.when(eligible, F.md5(F.col("__para")))
    )
    owner = (
        hashed.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.min(F.struct("__id", "__pos")).alias("__first"))
    )
    joined = hashed.join(owner, "__h", "left")
    kept = F.col("__h").isNull() | (
        F.struct("__id", "__pos") == F.col("__first")
    )
    return (
        joined.groupBy(F.col("__id").alias(id_col))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("__pos", "__para"))
                        )
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias("clean_text"),
            F.sum(F.when(kept, F.lit(1)).otherwise(F.lit(0))).alias(
                "n_kept"
            ),
            F.sum(F.when(kept, F.lit(0)).otherwise(F.lit(1))).alias(
                "n_removed"
            ),
        )
    )
