"""The Catalyst boilerplate expression must equal the Python classifier
byte-for-byte on every fixture text span (and crafted edge cases)."""

from __future__ import annotations

import numpy as np

from ocr_spark.spark.text_branch import main_content_sql
from ocr_spark.textproc.boilerplate import extract_main_content


def _cases() -> list[str]:
    from ocr_spark.fixtures import make_text_span

    rng = np.random.default_rng(7)
    cases = [make_text_span(rng, f"t{i}") for i in range(120)]
    cases += [
        "",
        "\n\n",
        "   \n\n  ",
        "only one block without terminal",
        "The the the of and to in is it you.",
        "© 2024 Example Corp",
        "(c) someone",
        "Copyright 2020 Acme",
        "copyrighted material is discussed here in a long sentence with the and of.",
        "a https://x.example/y b www.example.com c d",
        "word www.dots more",
        "SHORT HEADER",
        "Ends with question?",
        "Ends with bang!",
        "six words here no stop words",
        "tab\tseparated words without terminal here",
        "block one\n\nblock two.\n\n© footer\n\nitem0 https://e.com/0 item1 https://e.com/1",
        "trailing spaces end.   ",
        "unicode — dash © inline not at start",
        "multi\nline\nsingle block ends.",
    ]
    return cases


def test_catalyst_matches_python(spark):
    cases = _cases()
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "id int, text string")
    got = {
        r["id"]: r["out"]
        for r in df.selectExpr("id", f"{main_content_sql('text')} AS out").collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == extract_main_content(c), repr(c)


def test_text_branch_matches_python_on_unicode_whitespace(spark):
    """Java regexes are ASCII-classed by default: without (?U) a block
    containing a non-breaking space tokenizes differently in Catalyst
    than in the Python classifier and the branch DROPS a block the
    oracle keeps. Covers NBSP, ideographic space, NEL, and the \\x1c-1f
    separator controls Python treats as whitespace."""
    cases = [
        "this is\u00a0a test ok yes",  # NBSP inside a would-be B3 block
        "the\u3000and of to in it is was for on end.",
        "word\x1cthe list\x1d it of end here done ok.",
        "linkline www.example.com the\u00a0and of it",
        " \u00a0\x85\n\nreal block that ends properly.",
        "\u00a9\u00a02026 someone",
        "caf\u00e9 r\u00e9sum\u00e9 na\u00efve block it the done.",
        "short\u00a0nbsp",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = [r[0] for r in df.selectExpr(main_content_sql("text")).collect()]
    for c, g in zip(cases, got):
        assert g == extract_main_content(c), repr(c)


def test_sql_str_round_trips_through_the_parser(spark):
    """sql_str literals reach the JVM verbatim: quotes, backslashes
    (regex escapes included), escape-looking sequences, raw newlines and
    non-ASCII characters."""
    from ocr_spark.spark.text_branch import sql_str

    cases = ["it's", "a\\sb", "\\n", "\\u0041", "new\nline", "\\'", "x\\",
             "© 　", "(?U)^(?:\\s|[\\x1c-\\x1f])*$", ""]
    row = spark.range(1).selectExpr(
        *[f"{sql_str(c)} AS c{i}" for i, c in enumerate(cases)]
    ).first()
    assert list(row) == cases
