"""Text-span branch: boilerplate strip as one Spark SQL expression.

Re-expresses ocr_spark.textproc.boilerplate (the frozen classifier spec,
SURVEY.md §7.4) with Spark SQL higher-order functions — split / filter /
rlike / array_join — so the text branch runs entirely JVM-side inside
whole-stage codegen: zero Python, zero Arrow transfer. At 100 TB the text
branch is the majority of spans (FIXTURES.md row mix), so keeping it off
the Python worker path matters more than anything else in this file.

The classifier is built as SQL text, not as a Column tree: the same
expression assembled from Column calls costs one py4j round trip per
node (~650 per plan), the text is parsed JVM-side in one call.

tests/test_spark_text_branch.py asserts exact string equality against the
Python classifier over the fixture corpus.
"""

from __future__ import annotations

from ocr_spark.textproc.boilerplate import STOPWORDS

_PUNCT_CLASS = "[.,;:!?\"'()]"
# Character-class parity with the Python classifier: Java regexes are
# ASCII-classed by default (\s misses U+00A0, \W misses non-ASCII word
# chars), while Python's str regexes are Unicode-aware — without (?U) a
# block containing a non-breaking space tokenizes differently and the
# two classifiers DISAGREE (span-sequence equality break). (?U) turns on
# UNICODE_CHARACTER_CLASS; _WS additionally covers \x1c-\x1f (the ASCII
# separator controls), which Python's \s / str.strip() treat as
# whitespace but Unicode White_Space does not.
_WS = "(?:\\s|[\\x1c-\\x1f])"
_LINK_PATTERN = "(?U)https?://|(^|\\W)www\\."
_COPYRIGHT_PATTERN = f"(?iU)^{_WS}*(©|\\(c\\)|copyright\\b)"
_ENDS_SENTENCE_PATTERN = f"(?U)[.!?]{_WS}*$"
_BLANK_PATTERN = f"(?U)^{_WS}*$"


def sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal: the parser unescapes `\\` and
    `'`, so both are escaped here and every other character (regex
    backslashes included) reaches the JVM verbatim."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_STOPWORDS_SQL = "array(" + ", ".join(sql_str(w) for w in sorted(STOPWORDS)) + ")"


def is_boilerplate_sql(b: str) -> str:
    """Catalyst twin of boilerplate.is_boilerplate (rules B1-B3) over the
    block expression or lambda variable `b`.

    The block's words are split once and bound to the lambda variable
    `ws` (the one element of `array(words)`): Catalyst does not share a
    repeated subexpression inside a lambda, so each use of the words
    written out in full would split the block again."""
    words = f"filter(split({b}, {sql_str(f'(?U){_WS}+')}), w -> w != '')"
    n_words = "size(ws)"
    link_words = f"size(filter(ws, w -> lower(w) RLIKE {sql_str(_LINK_PATTERN)}))"
    # w.lower().strip('.,;:!?"\'()') — the stopword lookup key
    norm = (
        "regexp_replace(lower(w), "
        f"{sql_str(f'^{_PUNCT_CLASS}+|{_PUNCT_CLASS}+$')}, '')"
    )
    stop_words = f"size(filter(ws, w -> array_contains({_STOPWORDS_SQL}, {norm})))"
    nw = f"CAST({n_words} AS DOUBLE)"
    link_density = f"CASE WHEN {n_words} > 0 THEN {link_words} / {nw} ELSE 0.0D END"
    stopword_ratio = f"CASE WHEN {n_words} > 0 THEN {stop_words} / {nw} ELSE 0.0D END"
    return (
        f"exists(array({words}), ws -> {n_words} = 0"
        f" OR {link_density} >= 0.25D"  # B1
        f" OR {b} RLIKE {sql_str(_COPYRIGHT_PATTERN)}"  # B2
        f" OR ({n_words} <= 6 AND {stopword_ratio} <= 0.2D"  # B3
        f" AND NOT {b} RLIKE {sql_str(_ENDS_SENTENCE_PATTERN)}))"
    )


def main_content_sql(text: str) -> str:
    """extract_main_content over the SQL expression `text`.

    blocks = text.split('\\n\\n'); keep non-blank, non-boilerplate blocks
    in order; join with '\\n\\n'.
    """
    keep = f"NOT b RLIKE {sql_str(_BLANK_PATTERN)} AND NOT {is_boilerplate_sql('b')}"
    sep = sql_str("\n\n")
    return f"array_join(filter(split(coalesce({text}, ''), {sep}), b -> {keep}), {sep})"
