"""The corpus tokenizer: one place for the whitespace-split rule.

A document's tokens are its ``text`` split on each single space
(U+0020), so two adjacent spaces, or a leading or trailing space, yield
an empty-string token, an empty text is one empty token, and a NULL text
has NULL tokens.  Tabs and newlines are not separators.  ``tokens`` keeps
the empty strings (DuckDB ``string_split(text, ' ')``); ``words`` drops
them (``list_filter(string_split(text, ' '), x -> x <> '')``).  Every
operator picks one of the two; the DuckDB oracles spell the same rule in
SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column | str) -> Column:
    """Every space-separated token of ``col``, empty strings included."""
    return F.split(col, " ")


def words(col: Column | str) -> Column:
    """The non-empty tokens of ``col``."""
    return F.filter(tokens(col), lambda t: t != "")
