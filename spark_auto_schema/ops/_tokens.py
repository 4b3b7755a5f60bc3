"""The text primitives the operators in ``ops/`` share, one home each.

* :func:`_words` and its row form :func:`_word_rows`: the non-empty
  single-space tokens of a text, the only whitespace words in ``ops/``.
  A text's word count is ``size(_words(t))``, so a NULL, empty or blank
  text has 0 words.
* :func:`_mean_word_len`: the characters of those words over their count,
  NULL for a text with no word.
* :func:`_word_counts`: how often each of those words occurs per group.
* :func:`_word_ngrams`: word n-grams, as SQL text.
* :func:`_term_key`: the lowercase ``[a-z0-9 ]`` form that term counts
  and fingerprints read.
* :func:`_hex_int`: a slice of a hex digest as a long.

Built-ins only, no Python UDF; the DuckDB oracles replay each rule in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _words(text: Column) -> Column:
    """The non-empty single-space tokens of ``text``, in order; a NULL
    text has none.  ``array_remove`` of the empty token: no per-element
    lambda.  The DuckDB oracles replay it as
    ``list_filter(string_split(coalesce(text, ''), ' '), w -> length(w) > 0)``."""
    return F.array_remove(F.split(F.coalesce(text, F.lit("")), " "), "")


def _mean_word_len(text: Column) -> Column:
    """The mean length of the :func:`_words` of ``text``: the characters of
    the words (the text's non-space characters) over their count.  NULL
    for a text with no word, as DuckDB's ``/`` gives for a zero divisor."""
    return F.try_divide(
        F.length(F.replace(text, F.lit(" "), F.lit(""))), F.size(_words(text))
    )


def _word_rows(df: DataFrame, text: str | Column, *keep: Column) -> DataFrame:
    """``(*keep, w)``: one row per word of :func:`_words`, so a NULL or
    blank text has no row."""
    t = F.col(text) if isinstance(text, str) else text
    return df.select(*keep, F.explode(_words(t)).alias("w"))


def _word_counts(df: DataFrame, text_col: str, *keys: Column) -> DataFrame:
    """``(*keys, w, c)``: how often word ``w`` occurs in the rows of each
    ``keys`` group, over :func:`_word_rows` (the wordcount shuffle)."""
    rows = _word_rows(df, text_col, *keys)
    return rows.groupBy(*rows.columns).agg(F.count(F.lit(1)).alias("c"))


def _word_ngrams(text: str, n: int) -> str:
    """Word ``n``-grams of the SQL text ``text`` split on single spaces, as
    SQL text: for each word start, the ``n`` words from there joined by
    single spaces, in order, duplicates kept.  One ``regexp_extract_all``
    with a literal (compiled once) pattern: a zero-width match at each word
    start whose lookahead captures the next ``n`` words.  A text of fewer
    than ``n`` words yields itself (the short-doc clamp); a NULL text
    yields ``['']``.  SQL text so a caller composes it into its own
    expression without a JVM call per function."""
    t = f"coalesce({text}, '')"
    g = f"regexp_extract_all({t}, '(?<=^| )(?=([^ ]*{' [^ ]*' * (n - 1)}))', 1)"
    return f"CASE WHEN size({g}) = 0 THEN array({t}) ELSE {g} END"


def _term_key(text: Column) -> Column:
    """``text`` lowercased with every character outside ``[a-z0-9 ]``
    dropped; NULL stays NULL."""
    return F.regexp_replace(F.lower(text), "[^a-z0-9 ]", "")


def _hex_int(hex_digest: Column, start: int, digits: int) -> Column:
    """The ``digits`` hex digits of ``hex_digest`` from 1-based ``start``,
    read as a long (``conv(substring(...), 16, 10)``; the DuckDB oracles
    read ``CAST('0x' || substr(...) AS BIGINT)``)."""
    return F.conv(F.substring(hex_digest, start, digits), 16, 10).cast("long")
