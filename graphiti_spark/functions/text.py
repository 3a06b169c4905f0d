"""Text scalar functions (SURVEY §2.9) — all JVM-side Column exprs.

F11 word tokenization for overlap (bulk_utils.py:229-231), F12 speaker
parse (prompts/extract_nodes.py:105). F9 control-char cleaning lives in
rules.py, at every rule-engine input boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column) -> Column:
    """Lowercased word set for overlap blocking (F11)."""
    return F.array_distinct(
        F.filter(F.split(F.lower(F.trim(col)), "\\s+"), lambda t: t != "")
    )


def speaker(content: Column) -> Column:
    """Part before the first ': ' of message content (F12)."""
    return F.split_part(content, F.lit(": "), F.lit(1))


# F1: Lucene special characters escaped by the reference — including
# its quirky uppercase O R N T A D escapes (helpers.py:67-101, golden
# pairs tests/helpers_test.py:80-92). Only needed when emitting queries
# to a Lucene-syntax backend; the engine's own BM25 is tokenized, so
# this is query-side compatibility surface.
_LUCENE_SPECIALS = '+-&|!(){}[]^"~*?:\\/ORNTAD'


def lucene_sanitize(query: str) -> str:
    """Driver-side F1, byte-for-byte the reference's str.translate."""
    return query.translate({ord(c): "\\" + c for c in _LUCENE_SPECIALS})


def lucene_sanitize_col(col: Column) -> Column:
    """Column form of F1 — single regexp_replace, JVM-side. Only the
    class metacharacters are escaped (Java regex rejects escapes of
    plain letters like \\O inside a character class); '-' sits last so
    it is literal."""
    cls = '([+&|!(){}^"~*?:/ORNTAD' + "\\\\" + "\\[" + "\\]" + "-])"
    return F.regexp_replace(col, cls, "\\\\$1")
