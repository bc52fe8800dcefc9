"""Scalar text functions, all JVM-side built-ins (no Python UDFs).

Tokenization matches the reference word-count map exactly
(reference examples/word_count/word_count.go:14-27):
replace ``[^a-zA-Z0-9\\s]+`` runs with a space, lowercase, split on
whitespace, drop empties (Go ``strings.Fields`` never yields empties).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Same character class as the reference's sanitizer regex
#: (word_count.go:15).
_NON_ALNUM = r"[^a-zA-Z0-9\s]+"

#: DuckDB mirror of ``tokenize`` for the registry's oracle SQL
#: (``TOKENIZE_SQL.format(col=...)``): sanitize -> lower -> split ->
#: drop empties, so both engines tokenize by the one rule kept here.
TOKENIZE_SQL = (
    "list_filter(string_split_regex(trim(lower("
    "regexp_replace({col}, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),"
    " x -> x <> '')"
)


def tokenize(col: Column) -> Column:
    """Text -> array<string> of lowercase alphanumeric words.

    ``split`` on whitespace can yield empty strings at the boundaries;
    filter them to match Go ``strings.Fields`` (word_count.go:18).
    """
    sanitized = F.lower(F.regexp_replace(col, _NON_ALNUM, " "))
    words = F.split(F.trim(sanitized), r"\s+")
    return F.filter(words, lambda w: w != "")


def split_words(text: Column) -> Column:
    """Whitespace words via single-space split: the corpus tokenizer of
    the text-hygiene and text-analysis operators (documents are single-
    space separated; the rule is mirrored verbatim in oracle SQL as
    ``list_filter(string_split(text, ' '), x -> x <> '')``). Unlike
    ``tokenize`` it keeps case and punctuation."""
    return F.filter(F.split(text, " "), lambda w: w != "")


def substr_prefix(col: Column, n: int) -> Column:
    """First ``n`` chars, clamped to string length — the reference's
    ``sourceIP[:min(8, len(sourceIP))]`` group key (amplab2.go:29-31).
    SQL ``substring`` already clamps, so this is a direct mapping."""
    return F.substring(col, 1, n)
