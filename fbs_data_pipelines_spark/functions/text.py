"""Text-analysis column expressions for training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting, shingling.

Design constraints:
- Pure built-in expressions (codegen'd, no UDFs) so they run at
  100 TB scan speed.
- Deterministic and engine-portable: hashing uses md5 hex substrings,
  which DuckDB computes identically — the correctness oracle can
  reproduce every value exactly (no engine-specific hash()).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


#: tiny per-language stopword sets for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "for", "on", "it"],
    "es": ["el", "la", "de", "y", "en", "es", "por", "un", "una", "los"],
    "fr": ["le", "la", "de", "et", "en", "est", "pour", "un", "une", "les"],
}

#: BPE-ish token pattern: letter runs | digit runs | single punctuation runs
TOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


def normalize_text(c: Column | str) -> Column:
    """Lowercase, non-alphanumerics → single space, trim."""
    s = F.lower(_col(c))
    s = F.regexp_replace(s, r"[^a-z0-9]+", " ")
    return F.trim(s)


def tokens(c: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(c), r" ")


def token_count(c: Column | str) -> Column:
    """BPE-ish token count via TOKEN_PATTERN over the lowercased text."""
    return F.regexp_count(F.lower(_col(c)), F.lit(TOKEN_PATTERN)).cast("long")


def whitespace_token_count(c: Column | str) -> Column:
    """Plain whitespace token count (empty text → 0, null → null —
    guard needed because Spark's non-ANSI ``size(null)`` is -1)."""
    t = tokens(c)
    return (
        F.when(_col(c).isNull(), F.lit(None))
        .when(F.get(t, 0) == "", F.lit(0))
        .otherwise(F.size(t))
        .cast("long")
    )


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>); < n words → empty array.

    Built JVM-side (see ``word_shingles_arr``), no explode needed at the
    call site: callers explode lazily so Spark streams the expansion.
    """
    return word_shingles_arr(tokens(c), n)


def stopword_hits(c: Column | str, lang: str) -> Column:
    """Count of tokens in the ``lang`` stopword set."""
    words = STOPWORDS[lang]
    t = tokens(c)
    return F.size(F.filter(t, lambda x: x.isin(*words))).cast("long")


def language_id(c: Column | str) -> Column:
    """Heuristic language ID by stopword-set hit counts.

    Deterministic argmax with fixed tie-break order en > es > fr;
    zero hits everywhere → 'und'. Exactly reproducible in ANSI SQL
    (the oracle mirrors the CASE chain).
    """
    en = stopword_hits(c, "en")
    es = stopword_hits(c, "es")
    fr = stopword_hits(c, "fr")
    return (
        F.when((en == 0) & (es == 0) & (fr == 0), F.lit("und"))
        .when((en >= es) & (en >= fr), F.lit("en"))
        .when(es >= fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )


def quality_score(c: Column | str) -> Column:
    """Composite quality score in [0,1], rounded to 4 decimals.

    Components (all cheap, scan-local):
    - length score: min(n_chars/500, 1)
    - alpha ratio: alphabetic chars / chars
    - stopword ratio capped at 0.5, scaled ×2 (fluency proxy)
    Weights 0.3/0.4/0.3.
    """
    col = _col(c)
    n_chars = F.length(col).cast("double")
    alpha = F.length(F.regexp_replace(F.lower(col), r"[^a-z]", "")).cast("double")
    sw = (
        stopword_hits(c, "en") + stopword_hits(c, "es") + stopword_hits(c, "fr")
    ).cast("double")
    ntok = F.greatest(whitespace_token_count(c).cast("double"), F.lit(1.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1.0))
    sw_score = F.least(sw / ntok, F.lit(0.5)) * F.lit(2.0)
    score = F.lit(0.3) * len_score + F.lit(0.4) * alpha_ratio + F.lit(0.3) * sw_score
    from fbs_data_pipelines_spark.functions.cleaning import round_half_up

    return round_half_up(score, 4)


def text_profile(df, id_col: str, text_col: str):
    """Single-pass text analysis: all stats from one tokenization.

    The per-column helpers (language_id, quality_score, …) each
    re-derive normalize+split; calling five of them in one select
    would tokenize five times. This materializes ``__norm``/``__toks``
    as named projection columns — Catalyst keeps the projection (an
    expensive alias referenced multiple times is not inlined), so the
    scan tokenizes once. Output columns: doc_id, ntok_bpe, ntok_ws,
    lang_pred, quality, fingerprint — identical values to the
    per-column helpers.
    """
    from fbs_data_pipelines_spark.functions.cleaning import round_half_up
    from fbs_data_pipelines_spark.operators.partitioning import ensure_parallelism

    # MODERATE fan-out for a single-split scan: the per-row work here
    # (one normalize+split) sits between minhash's heavy shingling
    # (full-parallelism repartition = 3× win) and ann's cheap dot fold
    # (any repartition loses). Interleaved A/B at sf0.1, min/median of
    # 6: none 0.58/0.67 s, 8-way 0.41/0.49 s, full 32-way measured
    # worse than 8 — so fan out to 8, which is a no-op whenever the
    # scan already has ≥8 splits (any real corpus).
    staged = ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col)), min_partitions=8
    ).select(
        F.col(id_col),
        F.col(text_col).alias("__text"),
        normalize_text(text_col).alias("__norm"),
    ).select(
        F.col(id_col),
        "__text",
        "__norm",
        F.split(F.col("__norm"), r" ").alias("__toks"),
    )

    def hits(lang: str) -> Column:
        words = STOPWORDS[lang]
        return F.size(
            F.filter(F.col("__toks"), lambda x: x.isin(*words))
        ).cast("long")

    en, es, fr = hits("en"), hits("es"), hits("fr")
    ntok_ws = (
        F.when(F.col("__text").isNull(), F.lit(None))
        .when(F.get(F.col("__toks"), 0) == "", F.lit(0))
        .otherwise(F.size(F.col("__toks")))
        .cast("long")
    )
    n_chars = F.length(F.col("__text")).cast("double")
    alpha = F.length(
        F.regexp_replace(F.lower(F.col("__text")), r"[^a-z]", "")
    ).cast("double")
    sw = (en + es + fr).cast("double")
    ntok_d = F.greatest(ntok_ws.cast("double"), F.lit(1.0))
    score = (
        F.lit(0.3) * F.least(n_chars / F.lit(500.0), F.lit(1.0))
        + F.lit(0.4) * (alpha / F.greatest(n_chars, F.lit(1.0)))
        + F.lit(0.3) * (F.least(sw / ntok_d, F.lit(0.5)) * F.lit(2.0))
    )
    lang_pred = (
        F.when((en == 0) & (es == 0) & (fr == 0), F.lit("und"))
        .when((en >= es) & (en >= fr), F.lit("en"))
        .when(es >= fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return staged.select(
        F.col(id_col),
        F.regexp_count(F.lower(F.col("__text")), F.lit(TOKEN_PATTERN))
        .cast("long")
        .alias("ntok_bpe"),
        ntok_ws.alias("ntok_ws"),
        lang_pred.alias("lang_pred"),
        round_half_up(score, 4).alias("quality"),
        F.substring(F.md5(F.col("__norm")), 1, 16).alias("fingerprint"),
    )


def token_entropy(docs, id_col: str, text_col: str):
    """Shannon entropy (bits) of each document's token distribution —
    the information-density quality signal: near-zero entropy flags
    keyword-stuffed / repeated-token spam that length and stopword
    ratios miss; natural prose sits near log2(distinct tokens).

    Uses the identity H = log2(N) − (1/N)·Σ c·log2(c), so one
    aggregation pass over the (doc, token, count) table suffices.
    Scale shape: explode + two map-side-combined shuffles — first on
    (doc_id, token) to build counts, then on doc_id over the
    counts-sized (already reduced) table. Shuffling the combined
    counts twice moves far less data than pre-partitioning the raw
    exploded tokens by doc_id to save the second exchange would.
    Returns (id, n_tokens, entropy)."""
    tok = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).filter(F.col("tok") != "")
    cnt = tok.groupBy(id_col, "tok").agg(F.count("*").alias("c"))
    return cnt.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        (
            F.log2(F.sum("c"))
            - F.sum(F.col("c") * F.log2("c")) / F.sum("c")
        ).alias("entropy"),
    )


def doc_fingerprint(c: Column | str, length: int = 16) -> Column:
    """Deterministic content fingerprint: md5 of normalized text,
    truncated to ``length`` hex chars. Identical in any md5-capable
    engine — used for exact near-dup clustering after normalization."""
    return F.substring(F.md5(normalize_text(c)), 1, length)


def rolling_fingerprint(
    c: Column | str, base: int = 31, mod: int = 2_147_483_647
) -> Column:
    """Polynomial rolling-hash fingerprint (Karp-Rabin form) of the
    normalized text: fold (acc*base + charcode) % mod over characters.

    Pure integer arithmetic, associativity-free LEFT fold — bitwise
    reproducible in any engine with a list fold (DuckDB list_reduce
    matches exactly: acc*31 stays < 2^63 because acc < mod < 2^31).
    Complements the md5 fingerprint: this one supports incremental /
    windowed computation at ingest time. Empty text → 0, null → null."""
    norm = normalize_text(c)
    codes = F.transform(F.split(norm, ""), lambda ch: F.ascii(ch).cast("bigint"))
    folded = F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * base + x) % F.lit(mod).cast("bigint"),
    )
    return F.when(_col(c).isNull(), F.lit(None).cast("bigint")).otherwise(
        F.when(F.length(norm) == 0, F.lit(0).cast("bigint")).otherwise(folded)
    )


# --- PII detection / redaction ------------------------------------------

#: (name, pattern, replacement) in application order. Patterns use
#: only the regex subset with identical semantics in Java (Spark) and
#: RE2 (DuckDB): no backreferences, no lookaround. Email first so the
#: IP pattern can't fire inside user@host strings later.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}[ -]\d{3}[ -]\d{3}[ -]\d{4}", "<PHONE>"),
]


def redact_pii(c: Column | str) -> Column:
    """Scrub emails/IPv4s/phone numbers with typed placeholders —
    chained regexp_replace (JVM-side, codegen'd; Spark replaces all
    occurrences). The pre-training scrub every public-web corpus
    needs before the text reaches a tokenizer."""
    out = _col(c)
    for _, pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def pii_counts(c: Column | str) -> list[Column]:
    """Per-pattern match counts (aliased ``n_{name}``) for corpus
    audit dashboards; zero shuffle."""
    return [
        F.regexp_count(_col(c), F.lit(pattern)).cast("long").alias(f"n_{name}")
        for name, pattern, _ in PII_PATTERNS
    ]


def pmi_collocations(
    docs: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Corpus-level collocation mining by pointwise mutual
    information — the phrase-detection statistic of word2vec's
    phrase pass (Mikolov et al. 2013) and classic corpus
    linguistics:

        pmi(x, y) = ln( c_xy · N / (c_x · c_y) )

    where c_xy counts the adjacent bigram, c_x/c_y the unigrams, and
    N the corpus token total. High-PMI pairs ("new york") co-occur
    far above chance — the phrases a tokenizer or index wants as
    units. ``min_count`` suppresses the low-frequency noise PMI is
    notorious for.

    Scale shape: unigram and bigram tallies are map-side-combined
    aggregations whose outputs are vocabulary-sized, NOT corpus-
    sized; N is a 1-row broadcast; the two marginal joins key on the
    token (uniform-ish after the min_count cut; AQE handles stop-word
    heads) and the final cut is TakeOrderedAndProject. Returns
    (x, y, c_xy, pmi) — top_k by pmi desc, (x, y) asc.
    """
    toks = F.filter(tokens(text_col), lambda t: t != "")
    base = docs.select(toks.alias("__toks"))
    uni = (
        base.select(F.explode("__toks").alias("__t"))
        .groupBy("__t")
        .agg(F.count("*").alias("__c"))
    )
    n_total = uni.agg(F.sum("__c").alias("__n"))
    bi = (
        base.select(F.explode(word_shingles_arr("__toks", 2)).alias("__g"))
        .groupBy("__g")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= int(min_count))
        .select(
            F.split_part(F.col("__g"), F.lit(" "), F.lit(1)).alias("x"),
            F.split_part(F.col("__g"), F.lit(" "), F.lit(2)).alias("y"),
            "c_xy",
        )
    )
    cx = uni.select(F.col("__t").alias("x"), F.col("__c").alias("c_x"))
    cy = uni.select(F.col("__t").alias("y"), F.col("__c").alias("c_y"))
    return (
        bi.join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(n_total))
        .select(
            "x",
            "y",
            "c_xy",
            # c_x cast to double BEFORE the multiply: at corpus scale
            # two stop-word counts can overflow long*long (silently,
            # under non-ANSI) — the numerator already runs in doubles
            F.log(
                F.col("c_xy").cast("double")
                * F.col("__n")
                / (F.col("c_x").cast("double") * F.col("c_y"))
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("x").asc(), F.col("y").asc())
        .limit(int(top_k))
    )


def word_shingles_arr(toks_col, n: int):
    """word_shingles over an ALREADY-tokenized array column (avoids
    re-normalizing when the caller holds the token array).

    Shingle i joins tokens i..i+n-1: ``arrays_zip`` lines up the n
    offset slices of ``t`` (each of length size(t)-n+1), so the lambda
    reads only its own struct. A lambda that captured ``t`` itself
    would re-evaluate it (for ``word_shingles``: lower → regexp →
    split of the whole document) once per shingle, because Spark runs
    higher-order-function bodies interpreted, element by element."""
    t = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    length = F.size(t) - n + 1
    zipped = F.arrays_zip(*[F.slice(t, k, length) for k in range(1, n + 1)])
    shingle = lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)])  # noqa: E731
    # coalesce, not otherwise: the zip is nullable (t is), and only a
    # non-null last argument keeps the result non-nullable
    return F.coalesce(
        F.when(F.size(t) >= n, F.transform(zipped, shingle)),
        F.array().cast("array<string>"),
    )
