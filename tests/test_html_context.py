"""jusText-style context-sensitive block classification (pure python —
the Spark face is covered by the html_boilerplate oracle query).

Reference semantics: Pomikálek 2011 two-pass smoothing — short blocks
inherit 'good' only when BOTH nearest decided neighbors are good (document
edges count as bad); neargood blocks need at least one good neighbor.
"""

from edspdf_spark.operators.extract_html import (
    EN_STOPWORDS,
    context_classify,
    extract_html_blocks,
)


def blk(text, chrome=False, ld=0.0):
    return {
        "text": text,
        "n_words": len(text.split()),
        "link_density": ld,
        "chrome": chrome,
        "label": "",
    }


GOOD = blk("one two three four five six seven eight nine")  # 9 words
SHORT = blk("Read on")  # 2 words
NEAR = blk("four words sit here")  # 4 words: neargood band [3, 8)


def test_short_between_goods_is_rescued():
    assert context_classify([GOOD, SHORT, GOOD]) == ["body", "body", "body"]


def test_short_at_document_edge_stays_boilerplate():
    # edges count as bad: leading/trailing shorts are never rescued
    assert context_classify([SHORT, GOOD]) == ["boilerplate", "body"]
    assert context_classify([GOOD, SHORT]) == ["body", "boilerplate"]


def test_short_next_to_bad_stays_boilerplate():
    nav = blk("Home About Contact", chrome=True)
    assert context_classify([nav, SHORT, GOOD]) == [
        "boilerplate",
        "boilerplate",
        "body",
    ]


def test_neargood_needs_only_one_good_neighbor():
    nav = blk("Home About Contact", chrome=True)
    assert context_classify([nav, NEAR, GOOD]) == ["boilerplate", "body", "body"]
    assert context_classify([nav, NEAR, nav]) == [
        "boilerplate",
        "boilerplate",
        "boilerplate",
    ]


def test_chain_of_undecided_blocks_skips_to_decided_neighbor():
    # short+neargood run between two goods: the decided neighbors are the
    # goods on each side for every block in the run
    seq = [GOOD, SHORT, NEAR, SHORT, GOOD]
    assert context_classify(seq) == ["body"] * 5


def test_link_density_demotes_to_bad():
    linky = blk("a b c d e f g h i", ld=0.9)
    assert context_classify([GOOD, linky, GOOD]) == ["body", "boilerplate", "body"]


def test_stopword_floor_demotes_good_to_neargood():
    # 9 words, zero stopwords: with a floor every GOOD here is neargood,
    # so no decided good exists anywhere and the whole run falls
    labels = context_classify(
        [GOOD, SHORT, GOOD],
        stopwords=EN_STOPWORDS,
        stopword_low=0.1,
    )
    assert labels == ["boilerplate", "boilerplate", "boilerplate"]
    assert context_classify(
        [GOOD], stopwords=EN_STOPWORDS, stopword_low=0.1
    ) == ["boilerplate"]
    # a block rich in function words keeps its good class under the floor
    rich = blk("the cat is on the mat and it is there with a hat")
    assert context_classify(
        [rich], stopwords=EN_STOPWORDS, stopword_low=0.1
    ) == ["body"]


def test_template_end_to_end_block_segmentation():
    html = (
        "<html><nav><a href='/'>Menu</a> Home About</nav>"
        "<article><p>one two three four five six seven eight nine ten</p>"
        "<p>Read on</p>"
        "<p>This closing paragraph carries enough plain words to count as"
        " good content.</p></article>"
        "<footer><a href='/p'>Privacy</a> <a href='/t'>Terms</a></footer>"
        "</html>"
    ).encode()
    blocks, err = extract_html_blocks(html)
    assert not err
    labels = context_classify(blocks)
    assert [b["text"] for b in blocks] == [
        "Menu Home About",
        "one two three four five six seven eight nine ten",
        "Read on",
        "This closing paragraph carries enough plain words to count as good"
        " content.",
        "Privacy Terms",
    ]
    assert labels == ["boilerplate", "body", "body", "body", "boilerplate"]
    # context-free labeling (the default path) marks the short block
    # boilerplate — the context pass is what rescues it
    assert [b["label"] for b in blocks] == [
        "boilerplate",
        "body",
        "boilerplate",
        "body",
        "boilerplate",
    ]


def test_extract_tables_cells(spark):
    """Structured table parse: cell grid indices, header detection,
    entity decode, tag strip, multi-table pages, tableless pages."""
    from edspdf_spark.operators.extract_html import extract_tables

    html = b"""<html><body>
    <script>var t = "<tr><td>fake</td></tr>";</script>
    <p>prose</p>
    <table class=x>
      <tr><th> Name </th><th>Score &amp;&#32;Rank</th></tr>
      <tr><td><b>alice</b></td><td>3 &lt; 5</td></tr>
      <tr><td>bob</td><td>caf&eacute;</td></tr>
    </table>
    <TABLE><TR><TD>second</TD></TR></TABLE>
    </body></html>"""
    pages = spark.createDataFrame(
        [("u1", html), ("u2", b"<p>no tables here</p>")], "url string, html binary"
    )
    got = {
        (r.url, r.table_idx, r.row_idx, r.col_idx): (r.is_header, r.cell)
        for r in extract_tables(pages).collect()
    }
    assert got[("u1", 0, 0, 0)] == (True, "Name")
    assert got[("u1", 0, 1, 0)] == (False, "alice")      # <b> stripped
    assert got[("u1", 0, 1, 1)] == (False, '3 < 5')      # &lt; decoded
    assert got[("u1", 0, 2, 1)][1] == "caf&eacute;"      # non-standard entity kept
    assert got[("u1", 1, 0, 0)] == (False, "second")     # case-insensitive tags
    assert ("u1", 0, 0, 1) in got and got[("u1", 0, 0, 1)][0] is True
    assert not any(u == "u2" for (u, *_), _ in got.items())
    assert not any(v[1] == "fake" for v in got.values())  # script stripped


# --- extract_lists / extract_code_blocks ---------------------------------------

from edspdf_spark.operators.extract_html import (
    extract_code_blocks,
    extract_lists,
)


def _struct_pages(spark, rows):
    return spark.createDataFrame(
        [(u, h.encode("utf-8")) for u, h in rows], "url string, html binary"
    )


def test_extract_lists_ordered_and_cleanup(spark):
    html = (
        "<ul><li>alpha <b>bold</b></li><li>beta &amp; co</li></ul>"
        "<p>x</p>"
        "<ol class='steps'><li>first</li><li>second</li><li>third</li></ol>"
        "<script><ul><li>fake</li></ul></script>"
    )
    got = sorted(
        (r.list_idx, r.item_idx, r.ordered, r.item)
        for r in extract_lists(_struct_pages(spark, [("u", html)])).collect()
    )
    assert got == [
        (0, 0, False, "alpha bold"),
        (0, 1, False, "beta & co"),
        (1, 0, True, "first"),
        (1, 1, True, "second"),
        (1, 2, True, "third"),
    ]


def test_extract_lists_unclosed_last_item(spark):
    # the wild-web idiom: <li> items never closed
    html = "<ul><li>one<li>two<li>three</ul>"
    got = [
        r.item
        for r in extract_lists(_struct_pages(spark, [("u", html)]))
        .orderBy("item_idx")
        .collect()
    ]
    assert got == ["one", "two", "three"]


def test_extract_code_blocks_whitespace_and_hint(spark):
    html = (
        '<pre><code class="language-python">def f():\n    return 1</code></pre>'
        "<p>prose with <code>inline_call()</code> here</p>"
        "<pre>  plain\r\n  block</pre>"
    )
    got = {
        r.block_idx: (r.lang_hint, r.code)
        for r in extract_code_blocks(
            _struct_pages(spark, [("u", html)])
        ).collect()
    }
    # DOCUMENT order: pre, inline code, second pre
    assert got[0] == ("python", "def f():\n    return 1")
    assert got[1] == ("", "inline_call()")      # bare <code> outside pre
    assert got[2] == ("", "  plain\n  block")   # CRLF→LF, indent preserved
    assert len(got) == 3


def test_extract_code_blocks_entities_and_no_double_count(spark):
    html = "<pre>if a &lt; b &amp;&amp; c &gt; d:</pre>"
    got = extract_code_blocks(_struct_pages(spark, [("u", html)])).collect()
    assert [r.code for r in got] == ["if a < b && c > d:"]


# --- golden pin of the html kernels ------------------------------------------

import hashlib
import random

import pandas as pd

from edspdf_spark.operators.extract_html import (
    extract_blocs_consensus,
    readability_blocks,
)

_WORDS = (
    "the cat sat on a mat and it was there with its hat, while editors "
    "counted words in long paragraphs of plain article prose for readers"
).split()
_CHROME = ("nav", "header", "footer", "aside", "form")
_CONTAINERS = ("div", "section", "article", "main", "td", "blockquote", "li")
_HINTS = (
    "", " class='content'", ' id="main-post"', " class=sidebar",
    " CLASS='Promo widget'", " id='comment-list' class='entry'",
)
_ENTITIES = ("&amp;", "&lt;b&gt;", "&eacute;", "&#233;", "&#x41;", "&nbsp;",
             "&bogus;", "&quot;")


def _prose(rng, lo=1, hi=40):
    words = [rng.choice(_WORDS) for _ in range(rng.randint(lo, hi))]
    if rng.random() < 0.3:
        words.insert(rng.randrange(len(words) + 1), rng.choice(_ENTITIES))
    if rng.random() < 0.3:
        words.insert(
            rng.randrange(len(words) + 1),
            f"<a href='/{rng.randint(0, 9)}'>{rng.choice(_WORDS)}</a>",
        )
    return " ".join(words)


def _tag(rng, name):
    return name.upper() if rng.random() < 0.2 else name


def _piece(rng, depth=0):
    r = rng.random()
    if r < 0.25:
        t = _tag(rng, rng.choice(("p", "h2", "pre", "li")))
        close = f"</{t}>" if rng.random() < 0.8 else ""
        return f"<{t}>{_prose(rng)}{close}"
    if r < 0.40 and depth < 3:
        t = _tag(rng, rng.choice(_CHROME))
        body = "".join(_piece(rng, depth + 1) for _ in range(rng.randint(0, 3)))
        close = f"</{t}>" if rng.random() < 0.75 else ""
        return f"<{t}>{body}{close}"
    if r < 0.60 and depth < 3:
        t = _tag(rng, rng.choice(_CONTAINERS))
        hint = rng.choice(_HINTS)
        body = "".join(_piece(rng, depth + 1) for _ in range(rng.randint(1, 4)))
        close = f"</{t}>" if rng.random() < 0.8 else ""
        return f"<{t}{hint}>{body}{close}"
    if r < 0.66:
        return "<br>" * rng.randint(1, 3) + "<BR/>" + _prose(rng, 1, 6)
    if r < 0.72:
        return rng.choice((
            "<!-- <p>hidden comment text</p> -->",
            "<script>var s = '<p>not text</p>';</script>",
            "<style>p { color: red }</style>",
            "<NOSCRIPT><div>enable js</div></NOSCRIPT>",
        ))
    if r < 0.78:
        return f"<p><a href='/x'>{_prose(rng, 1, 4)}</a></p>"
    if r < 0.82:
        return "<p>  \n\t </p><div>\n</div>"
    if r < 0.86:
        return rng.choice(("</div>", "</nav>", "</FOOTER>", "</section>", "</p>"))
    if r < 0.90:
        return "<table><tr><td>" + _prose(rng, 1, 5) + "</td><td>cell</td></tr></table>"
    return _prose(rng, 1, 20)


def _golden_pages():
    fixed = [
        b"plain bytes with no markup at all",
        b"",
        b"<p>caf\xe9 \xff\xfe invalid utf-8 bytes, all the same words here</p>",
        (
            b'<html><head><meta charset="iso-8859-1"><title>t</title></head>'
            b"<body><div class='content'><p>caf\xe9 na\xefve r\xe9sum\xe9, the "
            b"latin page has enough words to count as real body text</p>"
            b"<nav><a href='/'>Home</a></nav></div></body></html>"
        ),
        b"<DIV ID='Main'><P>Upper case tags and attributes, with more words "
        b"after the comma</P></DIV><FOOTER>Foot</FOOTER>",
        b"<p>repeated fragment text of several words</p>" * 3,
        b"<div title='a>b'><p>attribute with a bracket, then some words</p></div>",
        b"<param><pre-x>not block tags</pre-x><b>bold</b> words go here</p>",
    ]
    rng = random.Random(20261018)
    pages = fixed + [
        "".join(_piece(rng) for _ in range(rng.randint(1, 12))).encode("utf-8")
        for _ in range(200 - len(fixed))
    ]
    return pages


def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode("utf-8")).hexdigest()


class _Capture:
    """DataFrame stand-in that records the function an operator maps."""

    fn = None

    def select(self, *_cols):
        return self

    def mapInPandas(self, fn, schema):  # noqa: N802 (Spark's name)
        self.fn = fn
        return self


def _consensus_rows(pages, **kw):
    cap = _Capture()
    extract_blocs_consensus(cap, **kw)
    urls = [f"u{i}" for i in range(len(pages))] + ["null"]
    batch = pd.DataFrame({"url": urls, "html": list(pages) + [None]})
    out = pd.concat(list(cap.fn(iter([batch]))), ignore_index=True)
    return [tuple(r) for r in out.itertuples(index=False)]


# sha256 of the kernels' outputs over _golden_pages(), recorded before the
# two legs shared one segmentation; any change to blocks, labels or
# consensus rows moves a digest.
_GOLDEN = {
    ("jus", "utf-8"): "ba95567b620bb2bb1c4c3474c4a06d24f11dfd498c3f66af9b820ff0503297cc",
    ("rd", "utf-8"): "894db214271533b48fb05718e24da9e4a406487b9a4686b54af83f4022c0d747",
    ("jus", "sniff"): "22c377049b2bd98680f205671531c33613ea121056864aa8b5a7d08fe4f582cc",
    ("rd", "sniff"): "1ad808e0a13fb8c56cc27a8f7922d91d5d2f333964704ee475119e2f0797d1a5",
    ("consensus", "utf-8"): "844b15607eb0496cf8495fc236ceab013f4114547c7320152ab753d0a3ba72b5",
    ("consensus_ctx", "sniff"): "3d63a40ddc1d7e26ed9df2b3b19dd53410642fbba7197f574ea109d4a103e9ea",
}


def test_golden_pin_html_kernels():
    pages = _golden_pages()
    got = {}
    for c in ("utf-8", "sniff"):
        got[("jus", c)] = _digest([extract_html_blocks(p, charset=c) for p in pages])
        got[("rd", c)] = _digest([readability_blocks(p, charset=c) for p in pages])
    got[("consensus", "utf-8")] = _digest(_consensus_rows(pages))
    got[("consensus_ctx", "sniff")] = _digest(
        _consensus_rows(pages, context_sensitive=True, charset="sniff")
    )
    assert got == _GOLDEN


# --- one cached segmentation: properties -------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from edspdf_spark.operators import extract_html as eh

_SOUP_TOKENS = (
    "<p>", "</P >", "<div class='content'>", "</div>", "<br/>", "<BR>",
    "<h1", "<h7>", "</h6>", "<pre-x>", "<param>", "<li\n>", "<nav id=x>",
    "</nav>", "<td>", "<TABLE>", "<a href='/'>", "</a>", "<", ">", "</",
    "/>", "<!--", "-->", "<script>", "</script>", "ſection", "<ſection>",
    "é", "&amp;", "'", '"', "=", " ", "\n", "p", "div", "word", ",",
)
_soup = st.lists(
    st.one_of(st.sampled_from(_SOUP_TOKENS), st.text(max_size=4)), max_size=30
).map("".join)


@given(_soup)
@settings(max_examples=500, deadline=None, derandomize=True)
def test_block_split_parity(text):
    """One capture group: odd split parts are exactly the block tags."""
    parts = eh._BLOCK_SPLIT_RE.split(text)
    for i, part in enumerate(parts):
        assert bool(eh._BLOCK_SPLIT_RE.fullmatch(part)) == (i % 2 == 1)


def _both(page, charset):
    return (
        extract_html_blocks(page, charset=charset),
        readability_blocks(page, charset=charset),
    )


def _cold(page, charset):
    eh._segment.cache_clear()
    return _both(page, charset)


_LATIN1 = _golden_pages()[3]


@given(_soup, _soup)
@settings(max_examples=200, deadline=None, derandomize=True)
def test_interleaved_calls_equal_cold_calls(a, b):
    """The one-page cache and its fragment memo never leak one page's or
    one charset's result into another call."""
    pages = [a.encode("utf-8"), b.encode("utf-8"), _LATIN1]
    calls = [
        (0, "utf-8"), (1, "utf-8"), (0, "utf-8"), (0, "sniff"), (2, "sniff"),
        (2, "utf-8"), (1, "sniff"), (0, "utf-8"),
    ]
    warm = []
    eh._segment.cache_clear()
    for i, c in calls:
        warm.append(_both(pages[i], c))
    assert warm == [_cold(pages[i], c) for i, c in calls]


def test_latin1_page_decodes_differently_per_charset():
    assert _cold(_LATIN1, "sniff") != _cold(_LATIN1, "utf-8")
    assert "café" in _cold(_LATIN1, "sniff")[0][0][0]["text"]


@given(_soup)
@settings(max_examples=200, deadline=None, derandomize=True)
def test_bytearray_input_equals_bytes(text):
    page = text.encode("utf-8")
    for c in ("utf-8", "sniff"):
        assert _cold(bytearray(page), c) == _cold(page, c)


def test_non_ascii_block_tag_name_is_an_error_row():
    """``ſ`` matches ``s`` under re.IGNORECASE, so ``<ſection>`` splits as a
    block tag without an ASCII name: the page is an error, not a crash."""
    page = "<p>lead words here</p><ſection>more words in it</ſection>".encode()
    for c in ("utf-8", "sniff"):
        assert _cold(page, c) == (([], True), ([], True))
    cap = _Capture()
    extract_blocs_consensus(cap)
    batch = pd.DataFrame({"url": ["u"], "html": [page]})
    out = pd.concat(list(cap.fn(iter([batch]))))
    assert out["error"].tolist() == [True]


def test_closure_runs_each_leg_once_per_page(monkeypatch):
    """The consensus closure calls extract_html_blocks, context_classify
    and readability_blocks through module globals, once per parsed page,
    and hands both legs one bytes object: perfbench's replay patches these
    names to time the ``extract_html.*`` spans."""
    calls = {"extract_html_blocks": [], "context_classify": [],
             "readability_blocks": []}

    def counting(name):
        inner = getattr(eh, name)

        def wrapper(*args, **kwargs):
            calls[name].append(args[0])
            return inner(*args, **kwargs)

        return wrapper

    for name in calls:
        monkeypatch.setattr(eh, name, counting(name))

    cap = _Capture()
    extract_blocs_consensus(cap, min_votes=2, context_sensitive=True)
    # bytearray rows: the closure's bytes(raw) is a new object per page
    upper = _golden_pages()[4]
    htmls = [bytearray(_LATIN1), None, b"no markup at all", bytearray(upper)]
    batch = pd.DataFrame({"url": ["a", "null", "err", "b"], "html": htmls})
    out = pd.concat(list(cap.fn(iter([batch]))))

    assert list(out[out["error"]]["url"]) == ["null", "err"]
    assert len(calls["extract_html_blocks"]) == 3  # every non-null page
    parsed = [
        raw for raw in calls["extract_html_blocks"] if raw != b"no markup at all"
    ]
    assert len(calls["context_classify"]) == len(parsed) == 2
    assert len(calls["readability_blocks"]) == 2
    for jus_raw, rd_raw in zip(parsed, calls["readability_blocks"]):
        assert type(rd_raw) is bytes and rd_raw is jus_raw
