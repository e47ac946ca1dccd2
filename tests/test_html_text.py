"""HTML main-content extraction (sources/html_text.py): container
stripping, block whitelist, link-density navigation drop, entity
decoding, tag-soup recovery, and the Spark operator."""

from __future__ import annotations

from occupation_wage_etl_spark.sources import html_text


PAGE = """
<html><head><title>T</title><style>p{color:red}</style>
<script>var x = "<p>not text</p>";</script></head>
<body>
  <header><h1>Site Chrome Title</h1></header>
  <nav><ul><li><a href="/">Home</a></li><li><a href="/a">About</a></li></ul></nav>
  <div class="ad">sponsored text in bare div</div>
  <article>
    <h1>Real Headline</h1>
    <p>First paragraph with <b>bold</b> &amp; an <a href="x">inline link</a>.</p>
    <ul>
      <li><a href="/r1">Related one</a></li>
      <li><a href="/r2">Related two</a></li>
    </ul>
    <li>Item with text and <a href="y">a link</a></li>
    <blockquote>Quoted   wisdom
       across lines</blockquote>
    <pre>code block</pre>
  </article>
  <aside><p>You may also like</p></aside>
  <footer><p>© 2024 Example Corp</p></footer>
</body></html>
"""


def test_main_blocks_strip_chrome_and_nav():
    blocks = html_text.extract_main_blocks(PAGE)
    assert blocks == [
        ("h1", "Real Headline"),
        ("p", "First paragraph with bold & an inline link."),
        ("li", "Item with text and a link"),
        ("blockquote", "Quoted wisdom across lines"),
        ("pre", "code block"),
    ]
    text = "\n".join(t for _, t in html_text.extract_main_blocks(PAGE))
    assert "Site Chrome" not in text
    assert "Home" not in text and "Related one" not in text
    assert "sponsored" not in text
    assert "also like" not in text and "Example Corp" not in text
    assert "not text" not in text  # script body


def test_pure_link_block_dropped_mixed_kept():
    html = (
        "<p><a href='x'>only a link</a></p>"
        "<p>text <a href='x'>and link</a></p>"
    )
    blocks = html_text.extract_main_blocks(html)
    assert blocks == [("p", "text and link")]


def test_unclosed_tags_fold_into_parent():
    # unclosed <li>s are legal HTML; each </ul>-less li folds on the
    # next close — recovery must not lose text
    html = "<li>alpha<li>beta</li><p>gamma"
    blocks = html_text.extract_main_blocks(html)
    texts = [t for _tag, t in blocks]
    assert "beta" in " ".join(texts) and "alpha" in " ".join(texts)
    # no <p> close: gamma is never emitted (document-end flush is not
    # part of the contract; real pages close their blocks)
    html2 = "<p>one</p><p>two</p>"
    assert [t for _, t in html_text.extract_main_blocks(html2)] == [
        "one", "two",
    ]


def test_nested_skip_containers():
    html = (
        "<nav><div><p>deep nav text</p></div></nav>"
        "<p>real</p>"
        "<footer><nav><p>double</p></nav></footer>"
    )
    blocks = html_text.extract_main_blocks(html)
    assert "\n".join(t for _, t in blocks) == "real"


def test_entities_and_whitespace():
    html = "<p>a &lt;tag&gt; &amp;\n\t  b</p>"
    blocks = html_text.extract_main_blocks(html)
    assert "\n".join(t for _, t in blocks) == "a <tag> & b"


def test_spark_operator(spark):
    rows = [
        (
            i,
            f"<html><body><nav><a href='/'>menu {i}</a></nav>"
            f"<p>doc {i} body text</p>"
            f"<footer>foot</footer></body></html>",
        )
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {
        r["doc_id"]: r
        for r in html_text.main_text_distributed(df).collect()
    }
    assert len(got) == 5
    assert got[3]["text"] == "doc 3 body text"
    assert got[3]["n_blocks"] == 1
    assert got[3]["n_chars"] == len("doc 3 body text")


def test_extract_links():
    html = (
        "<html><body>"
        "<nav><a href='/home'>Home</a></nav>"
        "<article>"
        "<p>See <a href='/a'>first &amp; best</a> and"
        " <a href='/b'><b>second</b> link</a>.</p>"
        "<a name='anchor-only'>no href</a>"
        "<a href='/c'></a>"
        "</article>"
        "<footer><a href='/legal'>Legal</a></footer>"
        "</body></html>"
    )
    assert html_text.extract_links(html) == [
        ("/a", "first & best"),
        ("/b", "second link"),
        ("/c", ""),
    ]


def test_links_spark_operator(spark):
    rows = [
        (
            i,
            f"<body><nav><a href='/x'>chrome</a></nav>"
            f"<p><a href='/d/{i}'>doc {i} link</a> text</p></body>",
        )
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {
        (r.doc_id, r.link_idx): (r.href, r.anchor_text)
        for r in html_text.links_distributed(df).collect()
    }
    assert got == {
        (0, 0): ("/d/0", "doc 0 link"),
        (1, 0): ("/d/1", "doc 1 link"),
        (2, 0): ("/d/2", "doc 2 link"),
    }


def test_extract_canonical():
    html = (
        "<html><head><base href='http://b.example/'>"
        "<link rel='stylesheet' href='/s.css'>"
        "<link rel='canonical' href='http://c.example/page'>"
        "<link rel='canonical' href='http://ignored.example/dup'>"
        "<meta property='og:url' content='http://og.example/page'>"
        "</head><body></body></html>"
    )
    m = html_text.extract_canonical(html)
    assert m == {
        "canonical": "http://c.example/page",
        "og_url": "http://og.example/page",
        "base_href": "http://b.example/",
        "title": None,
        "description": None,
    }
    assert html_text.extract_canonical("<p>none</p>") == {
        "canonical": None, "og_url": None, "base_href": None,
        "title": None, "description": None,
    }
    # title text collapses whitespace; first title and first
    # description win; meta name matching is case-insensitive
    m2 = html_text.extract_canonical(
        "<html><head><title>  A   Page\nTitle </title>"
        "<title>second ignored</title>"
        "<meta NAME='Description' content='the snippet'>"
        "<meta name='description' content='ignored dup'>"
        "</head><body><p>x</p></body></html>"
    )
    assert m2["title"] == "A Page Title"
    assert m2["description"] == "the snippet"


def test_resolve_url_rfc3986():
    r = html_text.resolve_url
    base = "http://a.example/d1/d2/page.html"
    assert r(base, "sub/p.html") == "http://a.example/d1/d2/sub/p.html"
    assert r(base, "../up") == "http://a.example/d1/up"
    assert r(base, "../../../over") == "http://a.example/over"  # clamps
    assert r(base, "/root") == "http://a.example/root"
    assert r(base, "?q=1") == "http://a.example/d1/d2/page.html?q=1"
    assert r(base, "//cdn.example/x") == "http://cdn.example/x"
    assert (
        r("https://a.example/p", "//cdn.example/x")
        == "https://cdn.example/x"
    )
    # absolute refs pass through byte-identical (even messy case)
    assert r(base, "HTTP://B.EXAMPLE:80/q") == "HTTP://B.EXAMPLE:80/q"
    assert r(base, "mailto:x@y.example") == "mailto:x@y.example"
    # degenerate inputs
    assert r(None, "rel/x") == "rel/x"
    assert r(base, None) is None


def test_document_base():
    d = html_text.document_base
    fetch = "http://a.example/d1/d2/page"
    assert d(fetch, None) == fetch
    assert d(fetch, "http://b.example/root/") == "http://b.example/root/"
    # a RELATIVE <base href> resolves against the fetch URL first
    assert d(fetch, "/basez/") == "http://a.example/basez/"
    assert d(None, "/basez/") == "/basez/"


def test_links_distributed_resolved(spark):
    html = (
        "<html><head><base href='http://b.example/root/'></head>"
        "<body><p><a href='rel/x'>one</a>"
        "<a href='https://abs.example/y'>two</a></p></body></html>"
    )
    df = spark.createDataFrame(
        [(1, html, "http://fetch.example/a/page")],
        "doc_id long, html string, fetch_url string",
    )
    rows = html_text.links_distributed(df, url_col="fetch_url").collect()
    assert [(r.href, r.url) for r in rows] == [
        ("rel/x", "http://b.example/root/rel/x"),
        ("https://abs.example/y", "https://abs.example/y"),
    ]
    # without url_col: schema unchanged (no `url` column)
    plain = html_text.links_distributed(df.select("doc_id", "html"))
    assert "url" not in plain.columns
