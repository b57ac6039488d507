"""Unit tests for the scalar/extraction function layer, using miniature HTML
fixtures replicating the structures the reference parses (SURVEY.md §5):
div#mw-normal-catlinks > ul > li > a (categorizer.py:92-99),
li#footer-info-lastmod (categorizer.py:110-116), script/style stripping
(converter.py:38-44), URL normalization (parser/app/main.py:16-40)."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from wikipediaetl_spark.functions.html import (
    extract_categories_expr,
    extract_last_edited_expr,
    extract_text_expr,
    parse_page_udf,
)
from wikipediaetl_spark.functions.urls import (
    is_domain,
    normalize_url,
    sanitize_filename,
    url_to_filename,
)
from wikipediaetl_spark.operators.relational import cents

FULL_PAGE = (
    '<html><head><title>T</title><script>var a=1;</script></head><body>'
    '<div id="mw-normal-catlinks"><ul><li><a>History</a></li>'
    "<li><a>Science</a></li></ul></div>"
    "<p>Alpha beta gamma</p>"
    '<li id="footer-info-lastmod"> This page was last edited on 9 February 2024,'
    " at 10:00 (UTC).</li></body></html>"
)
NO_CATS = "<html><body><p>plain text</p></body></html>"
NO_DATE = '<html><body><div id="mw-normal-catlinks"><ul><li><a>X</a></li></ul></div></body></html>'
BAD_DATE = (
    '<html><body><li id="footer-info-lastmod">This page was last edited on '
    "NotADate 99999</li></body></html>"
)


def _df(spark, pages):
    return spark.createDataFrame([(i, p) for i, p in enumerate(pages)], "id long, html string")


def test_extract_categories(spark):
    rows = (
        _df(spark, [FULL_PAGE, NO_CATS, NO_DATE])
        .select("id", extract_categories_expr(F.col("html")).alias("cats"))
        .orderBy("id")
        .collect()
    )
    assert rows[0].cats == ["History", "Science"]
    assert rows[1].cats == []  # missing div → [] (categorizer.py:95-96)
    assert rows[2].cats == ["X"]


def test_extract_last_edited(spark):
    rows = (
        _df(spark, [FULL_PAGE, NO_CATS, BAD_DATE])
        .select("id", extract_last_edited_expr(F.col("html")).alias("d"))
        .orderBy("id")
        .collect()
    )
    assert rows[0].d == dt.date(2024, 2, 9)
    assert rows[1].d is None  # absent footer → null (categorizer.py:119-122)
    assert rows[2].d is None  # unparseable → null


def test_extract_text_strips_nonvisible(spark):
    rows = (
        _df(spark, [FULL_PAGE])
        .select(extract_text_expr(F.col("html")).alias("t"))
        .collect()
    )
    text = rows[0].t
    assert "Alpha beta gamma" in text
    assert "var a=1" not in text  # script dropped
    assert "T" != text.split()[0] or "title" not in text.lower()  # head dropped
    assert "  " not in text  # whitespace collapsed


def test_udf_parser_agrees_with_expr_path(spark):
    """The structural (html.parser) UDF and the regexp expression path must
    agree on well-formed pages — the expr path is the hot path, the UDF is
    the messy-HTML fallback."""
    df = _df(spark, [FULL_PAGE, NO_CATS, NO_DATE]).withColumn(
        "parsed", parse_page_udf(F.col("html"))
    )
    rows = (
        df.select(
            "id",
            extract_categories_expr(F.col("html")).alias("cats_expr"),
            F.col("parsed.categories").alias("cats_udf"),
        )
        .orderBy("id")
        .collect()
    )
    for r in rows:
        assert list(r.cats_expr) == list(r.cats_udf)


def test_normalize_url(spark):
    cases = [
        # parity with parser/app/main.py:26-35
        ("HTTPS://EN.Wikipedia.ORG/wiki/Cat/", "https://en.wikipedia.org/wiki/Cat"),
        ("https://en.wikipedia.org/wiki/Cat?action=edit", "https://en.wikipedia.org/wiki/Cat"),
        ("https://en.wikipedia.org/wiki/Cat#History", "https://en.wikipedia.org/wiki/Cat"),
        ("http://en.wikipedia.org", "http://en.wikipedia.org"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.n for r in df.select(normalize_url(F.col("url")).alias("n")).collect()]
    assert got == [want for _, want in cases]


def test_domain_filter(spark):
    df = spark.createDataFrame(
        [("https://en.wikipedia.org/wiki/A",), ("https://de.wikipedia.org/wiki/A",),
         ("https://example.com/en.wikipedia.org",)],
        "url string",
    )
    got = [r[0] for r in df.select(is_domain(F.col("url"))).collect()]
    assert got == [True, False, False]  # path must not fool the host check


def test_sanitize_filename(spark):
    cases = [
        ("file:///raw html/My Page (1).html", "My_Page__1_"),
        ("/a/b/Already_safe.html", "Already_safe"),
        ("no_slash.html", "no_slash"),
        ("/x/keep.txt", "keep.txt"),  # only .html is stripped
        ("/d/a.html.b.html", "a.html.b"),  # only a trailing .html is stripped
    ]
    df = spark.createDataFrame([(p,) for p, _ in cases], "p string")
    got = [r.s for r in df.select(sanitize_filename(F.col("p")).alias("s")).collect()]
    assert got == [want for _, want in cases]


def test_cents_rounds_ties_toward_positive_infinity(spark):
    # exactly representable ties: half toward +inf, not HALF_UP (-0.125 -> -12)
    cases = [(-0.125, -12), (0.125, 13), (-1.125, -112)]
    assert [math.floor(x * 100 + 0.5) for x, _ in cases] == [want for _, want in cases]
    df = spark.createDataFrame([(x,) for x, _ in cases], "x double")
    got = [r.c for r in df.select(cents(F.col("x")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_url_to_filename(spark):
    df = spark.createDataFrame([("https://en.wikipedia.org/wiki/C?x=1&y=2",)], "u string")
    got = df.select(url_to_filename(F.col("u")).alias("f")).collect()[0].f
    assert got == "en.wikipedia.org_wiki_C_x_1_y_2"


class TestPathologicalHtml:
    """BS4-leniency parity over tag-soup input (VERDICT r4 #6). The
    reference parses with BeautifulSoup(html, "html.parser") — bs4's tree
    builder over the SAME stdlib tokenizer the UDF path uses — so these
    cases pin, per pathology, whether the engine is BS4-equivalent
    (hardened r5) or deliberately divergent (documented in
    functions/html.py's module docstring). bs4 is not installed in this
    environment; expectations are pinned from its documented treebuilder
    semantics (find by id ignores other attributes; find("ul") takes the
    first descendant ul; get_text(strip=True) joins stripped fragments)."""

    def _udf_cats(self, html):
        from wikipediaetl_spark.functions.html import _parse_page

        return _parse_page(html)[0]

    def _expr_cats(self, spark, html):
        row = (
            _df(spark, [html])
            .select(extract_categories_expr(F.col("html")).alias("c"))
            .first()
        )
        return list(row.c)

    def test_attributes_and_order_tolerated(self, spark):
        """Real Wikipedia: the div carries a class, anchors carry
        href/title. soup.find matches by id regardless — both paths must
        too (hardened r5; previously byte-exact match only)."""
        page = (
            '<body><div class="catlinks" id="mw-normal-catlinks">'
            '<ul><li><a href="/wiki/Category:A" title="Category:A">A</a></li>'
            '<li><a href="/wiki/Category:B">B</a></li></ul></div></body>'
        )
        assert self._udf_cats(page) == ["A", "B"]
        assert self._expr_cats(spark, page) == ["A", "B"]

    def test_nested_div_keeps_scope_in_udf(self, spark):
        """A nested <div> inside catlinks: bs4 keeps the whole subtree; the
        depth-tracked UDF matches (hardened r5). The expr path's regex
        cannot balance tags and truncates at the first </div> — the
        declared divergence, pinned here."""
        page = (
            '<div id="mw-normal-catlinks"><div class="inner">links:</div>'
            "<ul><li><a>A</a></li><li><a>B</a></li></ul></div>"
        )
        assert self._udf_cats(page) == ["A", "B"]  # BS4-equivalent
        assert self._expr_cats(spark, page) == []  # documented truncation

    def test_first_ul_only(self, spark):
        """categorizer.py:97-98: find("ul") then find_all("a") — only the
        FIRST ul yields categories. UDF matches bs4; the expr path scans
        the whole div (declared divergence, pinned)."""
        page = (
            '<div id="mw-normal-catlinks"><ul><li><a>A</a></li></ul>'
            "<ul><li><a>Hidden</a></li></ul></div>"
        )
        assert self._udf_cats(page) == ["A"]
        assert self._expr_cats(spark, page) == ["A", "Hidden"]

    def test_nested_ul_keeps_scope_in_udf(self, spark):
        """A nested <ul> INSIDE the first ul: bs4's ul.find_all("a") is
        recursive over the whole first-ul subtree, so an anchor after the
        inner </ul> but before the outer one is still a category. The UDF
        tracks ul depth (hardened r6, ADVICE r5); the expr path scans the
        whole div so it also keeps the anchor here."""
        page = (
            '<div id="mw-normal-catlinks"><ul><li><a>A</a>'
            "<ul><li><a>Inner</a></li></ul></li>"
            "<li><a>After</a></li></ul></div>"
        )
        assert self._udf_cats(page) == ["A", "Inner", "After"]
        assert self._expr_cats(spark, page) == ["A", "Inner", "After"]

    def test_inline_markup_in_anchor(self, spark):
        """a.get_text(strip=True) on <a>Cat<b>1</b></a> is "Cat1" — one
        category. UDF matches; the expr regex cannot cross inline tags and
        drops that anchor (declared divergence, pinned)."""
        page = (
            '<div id="mw-normal-catlinks"><ul>'
            "<li><a>Cat<b>1</b></a></li><li><a>Plain</a></li></ul></div>"
        )
        assert self._udf_cats(page) == ["Cat1", "Plain"]
        assert self._expr_cats(spark, page) == ["Plain"]

    def test_entity_soup(self, spark):
        """Entities decode in the UDF path (convert_charrefs — the bs4
        behavior); the expr path returns raw entity text (declared)."""
        page = (
            '<div id="mw-normal-catlinks"><ul>'
            "<li><a>A &amp; B</a></li><li><a>R&D</a></li>"
            "<li><a>&#72;istory</a></li></ul></div>"
        )
        assert self._udf_cats(page) == ["A & B", "R&D", "History"]
        assert self._expr_cats(spark, page) == ["A &amp; B", "R&D", "&#72;istory"]

    def test_unclosed_li_and_anchor_run(self, spark):
        """<li><a>X<li><a>Y with no closes: each category reported once
        (anchor flushed at the next <a> / ul end). bs4's treebuilder would
        nest the tail inside the first anchor and double-count on
        get_text — deliberately NOT reproduced (module docstring)."""
        page = (
            '<div id="mw-normal-catlinks"><ul>'
            '<li><a href="/a">Cat1<li><a>Cat2</ul></div>'
        )
        assert self._udf_cats(page) == ["Cat1", "Cat2"]

    def test_truncated_page_flushes_open_anchor(self):
        """EOF inside an open anchor still yields the anchor's text."""
        page = '<div id="mw-normal-catlinks"><ul><li><a>Dangling'
        assert self._udf_cats(page) == ["Dangling"]

    def test_empty_anchor_yields_empty_string(self):
        """find_all("a") includes an empty anchor; get_text gives "" —
        bs4 keeps the entry, and so does the UDF path."""
        page = '<div id="mw-normal-catlinks"><ul><li><a></a></li><li><a>X</a></li></ul></div>'
        assert self._udf_cats(page) == ["", "X"]

    def test_script_with_literal_close_fragment(self, spark):
        """<script> containing a literal `</` must not terminate early:
        the stdlib CDATA mode (shared with bs4) scans to `</script`."""
        from wikipediaetl_spark.functions.html import _parse_page

        page = (
            "<html><body><script>if (a </b) { x(); }</script>"
            "<p>Visible words</p></body></html>"
        )
        _, _, text = _parse_page(page)
        assert "Visible words" in text and "x()" not in text
        expr_text = (
            _df(spark, [page])
            .select(extract_text_expr(F.col("html")).alias("t"))
            .first()
            .t
        )
        assert "Visible words" in expr_text and "x()" not in expr_text
