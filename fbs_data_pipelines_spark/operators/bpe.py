"""BPE subword encoding (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") with a given merge
list.

Per word, start from characters + an end-of-word marker and apply
every merge in rank order with a greedy left-to-right ``aggregate``
fold — a chain of pure JVM array expressions, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.functions.text import tokens
from fbs_data_pipelines_spark.operators.partitioning import ensure_parallelism

#: end-of-word marker (classic BPE: distinguishes "est</w>" from "est")
EOW = "</w>"


def _initial_symbols(word: Column) -> Column:
    """Characters + trailing end-of-word marker."""
    chars = F.filter(F.split(word, ""), lambda c: c != "")
    return F.concat(chars, F.array(F.lit(EOW)))


def _merge_expr(symbols: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) pairs:
    fold each symbol into the output array, replacing a trailing
    ``left`` with the merged token when ``right`` arrives. Handles
    overlaps the canonical way ("aaa" + (a,a) → ["aa", "a"])."""
    merged = left + right
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_encode(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[dict],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a learned merge list: per word, start from
    characters+EOW and apply every merge in rank order — a chain of
    JVM array folds, no Python in the loop. Output: ``out_col`` is
    the concatenated subword array per document."""
    enc = F.flatten(
        F.transform(
            F.filter(tokens(text_col), lambda w: w != ""),
            _encode_word_fn(merges),
        )
    )
    return ensure_parallelism(docs).select(F.col(id_col), enc.alias(out_col))


def _encode_word_fn(merges: list[dict]):
    def fn(w: Column) -> Column:
        syms = _initial_symbols(w)
        for m in merges:
            syms = _merge_expr(syms, m["left"], m["right"])
        return syms

    return fn
