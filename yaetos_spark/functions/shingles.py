"""Shingle (n-gram) generation — pure Spark SQL higher-order functions.

Word n-grams are built with transform(sequence(...)) + slice over a
PRE-MATERIALIZED token array column. Materializing tokens first
matters: referencing ``split(...)`` inside the transform lambda makes
Spark re-evaluate the split per n-gram (O(words²) per document).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(col: str) -> Column:
    """Whitespace tokens of a text column."""
    return F.split(F.trim(F.col(col)), r"\s+")


def ngrams_from_tokens(tok_col: str, n: int) -> Column:
    """Distinct word n-grams from an array<string> token column.

    Docs shorter than n tokens yield one shingle of the whole text so
    they still participate in similarity.  A NULL token array (NULL
    text upstream — split(NULL) is NULL) coalesces to the empty-text
    tokenization [''] FIRST: without it, three-valued ``size(NULL) < n``
    skips the short-doc CASE branch and the ELSE arm yields NULL, so a
    NULL-text doc would silently VANISH from every shingle-derived
    frame (signatures, redundancy rows) while an empty-text doc gets
    its whole-text shingle — the documented contract now holds for
    both.

    Scale note: every content-less doc (NULL or whitespace text) now
    shares the SAME '' shingle, so on a web corpus with millions of
    boilerplate-stripped empties that shingle is a guaranteed hot key
    in any shingle equi-join. This is exactly the class the ``max_df``
    hot-shingle guard exists for (jaccard_pairs/minhash_lsh_pairs drop
    it before the self-join); exact-dedup the empties first (they are
    all exact duplicates of each other) or set max_df when near-dup
    scanning a corpus that keeps them."""
    t = f"coalesce({tok_col}, array(''))"
    expr = (
        f"CASE WHEN size({t}) < {n} THEN array(concat_ws(' ', {t})) "
        f"ELSE array_distinct(transform(sequence(1, size({t}) - {n} + 1), "
        f"i -> concat_ws(' ', slice({t}, i, {n})))) END"
    )
    return F.expr(expr)


def word_ngram_rows(
    df: DataFrame, text_col: str, id_col: str, n: int, out_id: str = "id", out_col: str = "shingle"
) -> DataFrame:
    """(id, shingle) rows: tokens materialized once per doc, then the
    n-gram fan-out — two narrow projections, zero shuffles."""
    toked = df.select(F.col(id_col).alias(out_id), tokens(text_col).alias("_toks"))
    return toked.select(out_id, F.explode(ngrams_from_tokens("_toks", n)).alias(out_col))
