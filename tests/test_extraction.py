"""Golden tests for the HTML->text extraction pipeline (byte-identical contract).

The goldens in ``tests/golden/extract/html_fixtures.json`` are the extraction
results of the reference test pages (clean -> jsoup-text -> clean -> trailing
strip), derived from the jsoup 1.7.3 semantics documented in
``topicrawler_spark/functions/jsouptext.py`` and hand-verified against the
traversal rules for every fixture.
"""

from __future__ import annotations

import json
import os

import pytest

from topicrawler_spark.functions.cleaning import REPLACEMENT, clean_ext, clean_min
from topicrawler_spark.functions.jsouptext import (
    abbreviate,
    abbreviated_plaintext,
    extract_text,
    get_plaintext,
    java_trim,
    soup_text,
)

HERE = os.path.dirname(os.path.abspath(__file__))
HTML_DIR = "/root/reference/lt.ltbot/src/test/resources/html"


def _golden() -> dict[str, str]:
    with open(os.path.join(HERE, "golden", "extract", "html_fixtures.json")) as f:
        return json.load(f)


@pytest.mark.skipif(not os.path.isdir(HTML_DIR), reason="reference fixtures unavailable")
def test_reference_html_fixtures_byte_identical():
    golden = _golden()
    for name, expected in golden.items():
        html = open(os.path.join(HTML_DIR, name), encoding="utf-8").read()
        assert extract_text(html) == expected, name


def test_index_html_trace():
    # independently hand-derived from the jsoup text() rules
    html = (
        "<html>\n <body>\n\t<p>\n\t\tHello!\n\t</p>\n"
        ' \t<a href="a.html">ab</a>\n </body>\n</html>'
    )
    assert extract_text(html) == "Hello!\n ab"


def test_block_spacing_and_inline():
    assert soup_text("<div>a</div><div>b</div>") == "a b"
    assert soup_text("<span>a</span><span>b</span>") == "ab"
    assert soup_text("one<br>two") == "one two"
    assert soup_text("<p>x   y\t\nz</p>") == "x y z"


def test_script_style_excluded():
    assert soup_text("<p>a</p><script>var x=1;</script><p>b</p>") == "a b"
    assert soup_text("<style>p{}</style><p>c</p>") == "c"


def test_preserve_whitespace_pre():
    assert soup_text("<pre>a  b\nc</pre>") == "a  b\nc"


def test_title_included():
    assert soup_text("<html><head><title>T</title></head><body>B</body></html>") == "T B"


def test_entities_decoded():
    assert soup_text("<p>a&amp;b &lt;c&gt;</p>") == "a&b <c>"


def test_p_newline_preserved():
    # </p> injects br2nl -> newline survives normalization
    assert get_plaintext("<p>one</p><p>two</p>") == "one\n two"


def test_trailing_ws_java_regex():
    # (?m)\s+$ with Java semantics: eats the whitespace run ending before a
    # line terminator, NBSP untouched (Java \s is ASCII-only)
    assert get_plaintext("<p>a</p>\n \n\n b") == "a\n b"
    s = "x "
    assert java_trim(s) == s  # NBSP > U+0020 -> not trimmed


def test_cleaners():
    assert clean_min("a﻿b�c") == f"a{REPLACEMENT}b{REPLACEMENT}c"
    assert clean_min("aⅠb") == "aⅠb"  # roman numeral: Min keeps
    assert clean_ext("aⅠb") == f"a{REPLACEMENT}b"  # Ext replaces
    assert clean_ext("\x01\x1f\x7f\x81") == REPLACEMENT * 4
    assert clean_ext("hello") == "hello"


@pytest.mark.skipif(
    not os.path.isfile("/root/reference/lt.ltbot/src/test/resources/untokenizable.txt"),
    reason="reference fixtures unavailable",
)
def test_untokenizable_fixture_clean_idempotent():
    raw = open(
        "/root/reference/lt.ltbot/src/test/resources/untokenizable.txt", encoding="utf-8", errors="replace"
    ).read()
    once_min, twice_min = clean_min(raw), clean_min(clean_min(raw))
    assert once_min == twice_min
    once_ext = clean_ext(raw)
    assert clean_ext(once_ext) == once_ext
    for ch in once_ext:
        assert ord(ch) not in (0xFEFF, 0xFFFD)


def test_abbreviate_commons_lang():
    assert abbreviate("abcdefghijklmno", 10) == "abcdefg..."
    assert abbreviate("short", 10) == "short"
    assert abbreviated_plaintext("a  b\t\nc") == "a b c"


def test_error_fallback_never_raises():
    # pathological markup must not raise
    bad = "<p><a href='x" + "<" * 100 + "\x00<di v<<>"
    assert isinstance(extract_text(bad), str)


# ---- regression pins for the crawl's per-page UDFs -------------------------
# Pinned from the implementation itself, NOT reference evidence (the
# reference golden above is skipped when its fixtures are absent). They
# guard refactors of functions/udfs.py: both page UDFs must keep emitting
# exactly these (text, outlinks), and their scoring tails must not move.

_PIN_BASE = "http://example.com/dir/index.html"
_PIN_INLINE = [
    (
        "<html>\n <body>\n\t<p>\n\t\tHello!\n\t</p>\n"
        ' \t<a href="a.html">ab</a>\n </body>\n</html>',
        "Hello!\n ab",
        [("http://example.com/dir/a.html", "L")],
    ),
    ("<div>a</div><div>b</div>", "a b", []),
    ("<span>a</span><span>b</span>", "ab", []),
    ("one<br>two", "one two", []),
    ("<p>x   y\t\nz</p>", "x y\nz", []),
    ("<p>a</p><script>var x=1;</script><p>b</p>", "a\n b", []),
    ("<style>p{}</style><p>c</p>", "c", []),
    ("<pre>a  b\nc</pre>", "a  b\nc", []),
    ("<html><head><title>T</title></head><body>B</body></html>", "T B", []),
    ("<p>a&amp;b &lt;c&gt;</p>", "a&b <c>", []),
    ("<p>one</p><p>two</p>", "one\n two", []),
    ("<p>a</p>\n \n\n b", "a\n b", []),
    (
        "<p><a href='x" + "<" * 100 + "\x00<di v<<>",
        "<a href='x" + "<" * 100 + "\x00<di v<<>",
        [],
    ),
]


def _page_udf_funcs():
    from topicrawler_spark.datagen import topic_corpus
    from topicrawler_spark.functions.udfs import make_page_ngrams_udf, make_page_process_udf
    from topicrawler_spark.lm.local import LocalLM
    from topicrawler_spark.lm.perplexity import DocumentScorer

    class _Bc:  # stands in for the Spark broadcast the crawl passes
        value = DocumentScorer(LocalLM.from_texts([topic_corpus(42)], order=3), "kneser-ney")

    return make_page_process_udf(_Bc()).func, make_page_ngrams_udf(3).func


def _text_links(frame) -> list:
    return [
        (t, [(d["url"], d["hop"]) for d in links])
        for t, links in zip(frame["text"], frame["outlinks"])
    ]


def test_page_udfs_pin_inline_cases():
    import pandas as pd

    html = pd.Series([h.encode() for h, _, _ in _PIN_INLINE])
    base = pd.Series([_PIN_BASE] * len(_PIN_INLINE))
    expected = [(t, links) for _, t, links in _PIN_INLINE]
    for func in _page_udf_funcs():
        assert _text_links(func(html, base)) == expected


def test_page_udfs_pin_corpus_sample():
    import hashlib

    import pandas as pd

    from topicrawler_spark.datagen import generate_corpus

    def digest(obj) -> str:
        return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()

    corpus = generate_corpus(n_pages=40, n_hosts=4, n_seeds=2, seed=7)
    urls = sorted(corpus.pages)[:30]
    html = pd.Series([corpus.pages[u] for u in urls])
    process, ngrams = _page_udf_funcs()
    by_process, by_ngrams = process(html, pd.Series(urls)), ngrams(html, pd.Series(urls))
    for frame in (by_process, by_ngrams):
        pages = [[u, t, [list(x) for x in links]] for u, (t, links) in zip(urls, _text_links(frame))]
        assert sum(len(p[2]) for p in pages) == 87
        assert digest(pages) == "5616bfc085ca63369dc508477470dcbdd51e4b5a1dad0997a36321c5ffb608b0"
    assert digest([repr(p) for p in by_process["perp"]]) == (
        "06b76ba80a7e167886a888ed5d598c5c91fc00661949d5c264478fa9f5e73898"
    )
    assert sum(len(g) for g in by_ngrams["ngrams"]) == 8256
    assert digest([list(g) for g in by_ngrams["ngrams"]]) == (
        "fe94819497a0f3701ebfc25787fc540a0cd5fef208cbe18ca9846cbcb3ac78ee"
    )
