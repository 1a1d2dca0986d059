"""Tokenization and n-gram column expressions — the one place the engine
decides how ``text`` becomes tokens and how tokens become shingles.

The oracles' DuckDB twins are ``string_split(text, ' ')`` and one list
slice per gram start.  Every builder here is a JVM higher-order-function
expression (no UDF), written as SQL text so its lambda variable keeps
one fixed name and the plan text stays the same from call to call.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# a bare array() coerces to the THEN branch's array<string> without making
# its elements nullable (a cast to array<string> would, and every join
# keyed on an exploded gram would then gain an isnotnull filter)
_EMPTY = "array()"


def tokens(col: str | Column = "text") -> Column:
    """Single-space token array of ``col`` (a column name or Column).

    Consecutive spaces yield empty-string tokens and NULL text stays
    NULL, exactly as DuckDB's ``string_split``."""
    return F.split(col, " ")


def ngrams(t: str, n: int) -> Column:
    """Space-joined ``n``-token shingles of the token array column ``t``,
    in order; empty when ``t`` has fewer than ``n`` tokens or is NULL.

    The guard is part of the contract: Spark's ``sequence(1, 0)``
    DESCENDS (``[1, 0]``), so an unguarded short document would feed
    ``slice`` a zero start and fail under ANSI, where DuckDB's ``range``
    is simply empty.  ``posexplode`` of the result numbers grams from 0,
    the DuckDB ``range(0, ...)`` position of each gram's first token."""
    return F.expr(
        f"CASE WHEN size({t}) >= {n}"
        f" THEN transform(sequence(1, size({t}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({t}, i, {n})))"
        f" ELSE {_EMPTY} END")


def chunks(t: str, size: int) -> Column:
    """Non-overlapping ``size``-token blocks of the token array column
    ``t``, space-joined; the last block keeps the remainder.  Empty for
    an empty array or NULL, for the same descending-``sequence`` reason
    as :func:`ngrams`."""
    return F.expr(
        f"CASE WHEN size({t}) > 0"
        f" THEN transform(sequence(0, (size({t}) + {size - 1}) div {size} - 1),"
        f" i -> concat_ws(' ', slice({t}, i * {size} + 1, {size})))"
        f" ELSE {_EMPTY} END")
