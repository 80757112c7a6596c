"""Text normalization, word splitting and query expansion helpers.

This module is the one owner of the corpus-text policy: lowercase, trim
spaces, collapse every ``\\s+`` run to one space (:func:`norm_key`), then
split on the space (:func:`norm_words`). Linking joins mention text and the
dictionary ``alias_key`` on the same key (the reference sends raw text to
Elasticsearch with Lucene-special escaping, entity_linking.py:144-146, which
a key join makes unnecessary); dedup hashes it, and every word-window
operator (shingles, n-grams, chunks, k-grams, bigrams) builds its windows
from :func:`with_words`, most of them from :func:`word_runs`.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def norm_key(col: Column) -> Column:
    """Canonical text key: lowercase, trim, collapse internal whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def norm_words(col: Column) -> Column:
    """The normalized text as array<string>, split on the single space.
    Empty words come only first or last: from an empty text, or from
    whitespace other than spaces at either end (``trim`` strips spaces
    only). NULL text yields NULL."""
    return F.split(norm_key(col), " ")


def with_words(text: Column, build: Callable[[Column], Column]) -> Column:
    """``build(words)`` over the normalized word array of ``text``, with the
    array computed once per row.

    ``words`` is bound as the argument of a one-element ``transform``.
    Written inline, a window builder that slices ``words`` inside its
    per-window lambda makes Spark re-split the whole text for every
    window, quadratic in the words of a document."""
    return F.transform(F.array(norm_words(text)), build)[0]


def word_runs(words: Column, k: int) -> Column:
    """Every stride-1 run of ``k`` words in ``words`` (the array that
    :func:`with_words` binds), joined by spaces; none when it holds fewer
    than ``k`` words."""
    return F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.array_join(F.slice(words, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def expansion_variants(text: Column) -> Column:
    """Query expansion (entity_linking.py:135-146) minus the gazetteer hop:
    the original text, each comma-separated part trimmed, and the
    ``'s``-stripped form. Returns an array<string>; dedup downstream.

    The nationality→country expansion (entity_linking.py:60-74,137-138) is a
    separate broadcast join in operators/linking.py because it needs the
    countries table.
    """
    parts = F.transform(F.split(text, ","), lambda p: F.trim(p))
    possessive = F.regexp_replace(text, r"'s", "")
    return F.array_distinct(
        F.concat(
            F.array(text),
            parts,
            F.when(possessive != text, F.array(possessive)).otherwise(
                F.array().cast("array<string>")
            ),
        )
    )


def collapse_whitespace(col: Column) -> Column:
    """Frontend whitespace collapse ``replaceAll(/[\\s\\n]+/g, " ")``
    (reference web/main.js:488-490) applied at document assembly."""
    return F.regexp_replace(col, r"[\s\n]+", " ")
