"""HTML main-content extraction (boilerplate strip + density heuristics).

The north rule covers "HTML boilerplate strip, PDF/layout parse, DOM
heuristics". This operator is the HTML face of the extractor: a
regex-tokenizing block segmenter (no external parser libs) inside the same
vectorized ``mapInPandas`` contract as the layout extractor — pages in,
bloc rows out, so the downstream classifier/aggregator stages are shared.

Heuristics (boilerpipe/Arc90-family, deterministic):

* ``<script>/<style>/<template>/<noscript>`` and comments removed outright;
* the document is segmented at block-level tags; each block tracks its
  enclosing semantic container (nav/header/footer/aside vs main/article);
* per block: text length, link-text length, and word count →
  ``link_density = link_chars / chars``;
* a block is CONTENT iff it is not inside nav/header/footer/aside, has ≥
  min_words words, and link_density ≤ max_link_density; else BOILERPLATE.

``context_sensitive=True`` layers the jusText-style two-pass smoothing
(Pomikálek 2011, "Removing boilerplate and duplicate content from web
corpora" — published algorithm, reimplemented) on top:

* context-free pass: ``bad`` (chrome container or link-dense), ``good``
  (≥ good_words words), ``short`` (< min_words), ``neargood`` (between);
  an optional stopword-density floor demotes function-word-free blocks;
* context pass: short/neargood blocks inherit from their nearest DECIDED
  (good/bad) neighbors — document edges count as bad, matching jusText:
  ``short`` needs good on BOTH sides, ``neargood`` on at least one.

A third heuristic, :func:`extract_blocs_readability`, implements the
Arc90-readability-family *container scoring* algorithm (the published
heuristic behind readability.js / python-readability, reimplemented from
the public description): candidate containers (div/article/section/…)
accumulate a content score from the paragraphs they hold (comma count +
length bonus), weighted by tag kind and class/id hints, damped by the
subtree's link density; the top-scoring container wins and its subtree is
the extracted main content. Where jusText classifies each block locally
with neighbor smoothing, readability picks one DOM region globally — the
two disagree exactly where real extractors disagree, which is why both
faces exist.

Both block kernels read a page through one segmentation,
:func:`_segment`: decode, strip, split at block tags, and name each tag,
once per page. Split parity does the tag test: the split pattern has one
capture group, so odd parts are tags and even parts text. The result is
cached for one page, keyed on ``(bytes, charset)``, and carries a
``fragment → (clean text, link chars)`` memo that both kernels read. The
consensus kernel runs its jusText and readability legs back to back on the
same bytes, so the second leg reuses the first leg's segmentation and
almost all of its cleaning. A single-face operator misses the page cache
once per page and hashes each page, but still reads the memo: a page repeats
fragments, such as the whitespace between adjacent tags. Every cached value
is a pure function of its key.

Blocs get pseudo-geometry from document order (y grows with block index,
one page per ``page_chars`` of text) so every downstream geometric operator
(mask classifier, aggregator separators) works unchanged on web pages.
"""

from __future__ import annotations

import functools
import html as _html
import re
from typing import Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame

from edspdf_spark.schemas import BLOC_SCHEMA

_STRIP_RE = re.compile(
    r"<(script|style|template|noscript|head)\b.*?</\1\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)
_BLOCK_TAGS = (
    "p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|section|article|main|header|"
    "footer|nav|aside|blockquote|pre|form|figure"
)
_BLOCK_SPLIT_RE = re.compile(rf"(</?(?:{_BLOCK_TAGS})\b[^>]*>)", re.IGNORECASE)
_TAG_RE = re.compile(r"<[^>]+>")
_TAG_NAME_RE = re.compile(r"</?([a-zA-Z0-9]+)")
_ANCHOR_RE = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.IGNORECASE | re.DOTALL)
_WS_RE = re.compile(r"\s+")

_CHROME_TAGS = {"nav", "header", "footer", "aside", "form"}


def _clean_text(fragment: str) -> str:
    return _WS_RE.sub(" ", _html.unescape(_TAG_RE.sub(" ", fragment))).strip()


class _CleanMemo(dict):
    """fragment → (clean text, link chars), computed on first lookup."""

    def __missing__(self, fragment: str) -> Tuple[str, int]:
        content = _clean_text(fragment)
        link_chars = (
            sum(len(_clean_text(m)) for m in _ANCHOR_RE.findall(fragment))
            if content
            else 0
        )
        self[fragment] = out = (content, link_chars)
        return out


@functools.lru_cache(maxsize=1)
def _segment(raw: bytes, charset: str):
    """One page → ``(first text, ((tag, closing, markup, text), …), memo)``,
    each tag paired with the text after it; None when the page does not
    decode, holds no markup, or holds a block tag whose name is not ASCII
    (``re.IGNORECASE`` lets ``ſ`` match ``s``, so ``<ſection>`` splits but
    has no ASCII name). ``_BLOCK_SPLIT_RE``'s one capture group puts
    the tags at the split's odd indices (see the module docstring)."""
    try:
        if charset == "sniff":
            from edspdf_spark.sources.warc import decode_payload

            text = decode_payload(raw)
        else:
            text = raw.decode(charset, errors="replace")
    except Exception:
        return None
    if "<" not in text:
        return None
    parts = _BLOCK_SPLIT_RE.split(_STRIP_RE.sub(" ", text))
    names = [_TAG_NAME_RE.match(m) for m in parts[1::2]]
    if not all(names):  # a name that only case-folds to a block tag: <ſection>
        return None
    tags = tuple(
        (n.group(1).lower(), m.startswith("</"), m, t)
        for n, m, t in zip(names, parts[1::2], parts[2::2])
    )
    return parts[0], tags, _CleanMemo()


def _page(raw, charset: str):
    try:
        key = bytes(raw)
    except TypeError:
        return None
    return _segment(key, charset)


def extract_html_blocks(
    raw: bytes,
    min_words: int = 3,
    max_link_density: float = 0.4,
    charset: str = "utf-8",
) -> Tuple[List[dict], bool]:
    """One HTML payload → list of block dicts (text, label, densities).

    ``charset="sniff"`` resolves the encoding per payload (BOM, then
    ``<meta charset>``, then utf-8 — :func:`edspdf_spark.sources.warc.
    sniff_charset`); crawl archives carry no out-of-band charset, so this
    is the WARC-ingestion mode. A fixed charset skips the sniff.
    """
    page = _page(raw, charset)
    if page is None:
        return [], True
    first, tags, memo = page

    blocks: List[dict] = []
    chrome_depth = 0
    buf: List[str] = [first]

    def flush():
        fragment = " ".join(buf)
        buf.clear()
        content, link_chars = memo[fragment]
        if not content:
            return
        n_words = len(content.split())
        ld = link_chars / max(1, len(content))
        is_content = (
            chrome_depth == 0 and n_words >= min_words and ld <= max_link_density
        )
        blocks.append(
            {
                "text": content,
                "n_words": n_words,
                "link_density": ld,
                "chrome": chrome_depth > 0,
                "label": "body" if is_content else "boilerplate",
            }
        )

    for tag, closing, _markup, text in tags:
        if tag in _CHROME_TAGS:
            flush()
            chrome_depth = max(0, chrome_depth - 1) if closing else chrome_depth + 1
        elif not closing or tag in ("p", "div", "li", "tr", "table", "section", "article", "blockquote", "pre"):
            flush()
        buf.append(text)
    flush()
    return blocks, False


# A compact English function-word set for the optional stopword-density
# signal (jusText uses per-language lists; this is the deterministic
# built-in default — pass your own ``stopwords`` for other languages).
EN_STOPWORDS = frozenset(
    "a an and are as at be but by for from has have if in into is it its of "
    "on or that the their there these they this to was were will with".split()
)


def context_classify(
    blocks: List[dict],
    min_words: int = 3,
    good_words: int = 8,
    max_link_density: float = 0.4,
    stopwords: frozenset | None = None,
    stopword_low: float | None = None,
) -> List[str]:
    """jusText-style two-pass labels ('body'/'boilerplate') for ``blocks``.

    Pass 1 (context-free): ``bad`` if inside a chrome container or
    link_density > max_link_density; else ``good`` if ≥ good_words words
    (and, when a stopword floor is set, stopword density ≥ stopword_low);
    ``short`` if < min_words; ``neargood`` otherwise.

    Pass 2 (context): every short/neargood block looks at its nearest
    DECIDED (good/bad) neighbor on each side, document edges counting as
    bad — ``short`` becomes body only between two goods, ``neargood``
    next to at least one good. Deterministic; no randomness, no model.
    """
    cls: List[str] = []
    for b in blocks:
        if b.get("chrome") or b["link_density"] > max_link_density:
            cls.append("bad")
            continue
        n = b["n_words"]
        if n < min_words:
            cls.append("short")
            continue
        demoted = False
        if stopwords is not None and stopword_low is not None:
            sw = sum(1 for w in b["text"].lower().split() if w in stopwords)
            demoted = (sw / n) < stopword_low
        cls.append("neargood" if (n < good_words or demoted) else "good")

    n = len(cls)
    prev_decided = ["bad"] * n
    last = "bad"
    for i in range(n):
        prev_decided[i] = last
        if cls[i] in ("good", "bad"):
            last = cls[i]
    next_decided = ["bad"] * n
    last = "bad"
    for i in range(n - 1, -1, -1):
        next_decided[i] = last
        if cls[i] in ("good", "bad"):
            last = cls[i]

    out: List[str] = []
    for i, c in enumerate(cls):
        if c == "good":
            out.append("body")
        elif c == "bad":
            out.append("boilerplate")
        elif c == "short":
            out.append(
                "body"
                if prev_decided[i] == "good" and next_decided[i] == "good"
                else "boilerplate"
            )
        else:  # neargood
            out.append(
                "body"
                if prev_decided[i] == "good" or next_decided[i] == "good"
                else "boilerplate"
            )
    return out


def extract_blocs_html(
    pages: DataFrame,
    min_words: int = 3,
    max_link_density: float = 0.4,
    page_lines: int = 40,
    context_sensitive: bool = False,
    good_words: int = 8,
    stopwords: frozenset | None = None,
    stopword_low: float | None = None,
    charset: str = "utf-8",
) -> DataFrame:
    """pages(url, html=HTML bytes) → blocs (BLOC_SCHEMA); boilerplate blocks
    are pre-labeled so a pipeline may skip the classifier entirely or
    refine with masks/forest downstream."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in BLOC_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for url, raw in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
                if raw is None:
                    blocks, err = [], True
                else:
                    blocks, err = extract_html_blocks(
                        bytes(raw),
                        min_words=min_words,
                        max_link_density=max_link_density,
                        charset=charset,
                    )
                    if context_sensitive and not err:
                        labels = context_classify(
                            blocks,
                            min_words=min_words,
                            good_words=good_words,
                            max_link_density=max_link_density,
                            stopwords=stopwords,
                            stopword_low=stopword_low,
                        )
                        for b, lab in zip(blocks, labels):
                            b["label"] = lab
                if err:
                    rows.append(
                        dict.fromkeys(cols, None)
                        | {"url": url, "props": [], "error": True}
                    )
                    continue
                for i, b in enumerate(blocks):
                    page = i // page_lines
                    j = i % page_lines
                    y0 = j / page_lines
                    rows.append(
                        {
                            "url": url,
                            "page_num": page,
                            "bloc_ord": j,
                            "x0": 0.1,
                            "y0": y0,
                            "x1": 0.9,
                            "y1": y0 + 0.5 / page_lines,
                            "text": b["text"],
                            "props": [],
                            "label": b["label"],
                            "error": False,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", "html").mapInPandas(work, schema=BLOC_SCHEMA)


# --- Arc90-readability-style container scoring ------------------------------

#: class/id hints, per the published Arc90 heuristic (reimplemented).
_POSITIVE_HINT_RE = re.compile(
    r"article|body|content|entry|hentry|main|page|post|text|blog|story",
    re.IGNORECASE,
)
_NEGATIVE_HINT_RE = re.compile(
    r"combx|comment|com-|contact|foot|footnote|masthead|media|meta|outbrain"
    r"|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool"
    r"|widget|menu|banner|breadcrumb|ad-|advert",
    re.IGNORECASE,
)

_CLASS_ATTR_RE = re.compile(r"""class\s*=\s*("[^"]*"|'[^']*'|\S+)""", re.I)
_ID_ATTR_RE = re.compile(r"""id\s*=\s*("[^"]*"|'[^']*'|\S+)""", re.I)

#: tags that open a scoring candidate (a "container"); everything else in
#: _BLOCK_TAGS is only a paragraph boundary.
_CONTAINER_TAGS = {
    "div", "article", "section", "main", "td", "blockquote", "pre", "li",
    "table",
}

#: tag-kind base score (Arc90 initializeNode weights).
_TAG_BASE_SCORE = {
    "div": 5, "article": 5, "section": 5, "main": 5,
    "pre": 3, "td": 3, "blockquote": 3,
    "li": -3, "table": -3,
}


def _class_weight(tag_markup: str) -> int:
    """±25 per positive/negative class/id hint in the opening tag markup."""
    w = 0
    m = _CLASS_ATTR_RE.search(tag_markup)
    attrs = [m.group(1)] if m else []
    m = _ID_ATTR_RE.search(tag_markup)
    if m:
        attrs.append(m.group(1))
    for a in attrs:
        if _NEGATIVE_HINT_RE.search(a):
            w -= 25
        if _POSITIVE_HINT_RE.search(a):
            w += 25
    return w


def readability_blocks(
    raw: bytes, charset: str = "utf-8", max_link_density: float = 0.5
) -> Tuple[List[dict], bool]:
    """One HTML payload → blocks labeled by Arc90-style container scoring.

    Each candidate container scores ``base(tag) + class/id weight +
    Σ paragraph (1 + commas + min(len/100, 3))`` — a paragraph credits its
    innermost container in full and that container's parent at half
    weight, like Arc90's parent/grandparent split — then the total is
    damped by ``(1 - subtree link density)``.  The highest-scoring
    container (ties → earliest in document order) is the main content;
    blocks outside its subtree, inside nav/header/footer/aside/form
    chrome, or link-denser than ``max_link_density`` are boilerplate.
    Deterministic: no randomness, no model, integer/half-integer scores.
    """
    page = _page(raw, charset)
    if page is None:
        return [], True
    first, tags, memo = page

    # containers[0] is the document root (base 0, no hints)
    containers: List[dict] = [
        {"tag": None, "parent": None, "base": 0.0, "inner": 0.0,
         "chars": 0, "link_chars": 0}
    ]
    stack: List[int] = [0]
    chrome_depth = 0
    blocks: List[dict] = []

    def flush(fragment: str) -> None:
        content, link_chars = memo[fragment]
        if not content:
            return
        ld = link_chars / max(1, len(content))
        cur = stack[-1]
        if chrome_depth == 0:
            inner = 1.0 + content.count(",") + min(len(content) // 100, 3)
            containers[cur]["inner"] += inner
            par = containers[cur]["parent"]
            if par is not None:
                containers[par]["inner"] += inner / 2.0
        cid = cur
        while cid is not None:
            containers[cid]["chars"] += len(content)
            containers[cid]["link_chars"] += link_chars
            cid = containers[cid]["parent"]
        blocks.append(
            {
                "text": content,
                "n_words": len(content.split()),
                "link_density": ld,
                "chrome": chrome_depth > 0,
                "container": cur,
            }
        )

    # every block tag ends a paragraph, so each text part is one fragment
    pending = first
    for tag, closing, markup, text in tags:
        flush(pending)
        pending = text
        if tag in _CHROME_TAGS:
            chrome_depth = max(0, chrome_depth - 1) if closing else chrome_depth + 1
        elif tag in _CONTAINER_TAGS:
            if closing:
                # pop to the nearest matching open container (tolerates
                # the unbalanced markup real crawls are full of)
                for i in range(len(stack) - 1, 0, -1):
                    if containers[stack[i]]["tag"] == tag:
                        del stack[i:]
                        break
            else:
                containers.append(
                    {
                        "tag": tag,
                        "parent": stack[-1],
                        "base": float(_TAG_BASE_SCORE.get(tag, 0))
                        + _class_weight(markup),
                        "inner": 0.0,
                        "chars": 0,
                        "link_chars": 0,
                    }
                )
                stack.append(len(containers) - 1)
    flush(pending)

    best_id, best_score = 0, float("-inf")
    for cid, c in enumerate(containers):
        ld = c["link_chars"] / max(1, c["chars"])
        score = (c["base"] + c["inner"]) * (1.0 - ld)
        if score > best_score:  # strict > keeps the earliest on ties
            best_id, best_score = cid, score

    for b in blocks:
        in_winner = False
        cid = b["container"]
        while cid is not None:
            if cid == best_id:
                in_winner = True
                break
            cid = containers[cid]["parent"]
        b["label"] = (
            "body"
            if in_winner and not b["chrome"] and b["link_density"] <= max_link_density
            else "boilerplate"
        )
    return blocks, False


def extract_blocs_readability(
    pages: DataFrame,
    max_link_density: float = 0.5,
    page_lines: int = 40,
    charset: str = "utf-8",
) -> DataFrame:
    """pages(url, html) → blocs via Arc90-style container scoring; same
    vectorized mapInPandas contract and pseudo-geometry as
    :func:`extract_blocs_html`, so the two extractors are drop-in
    alternatives in front of the shared classifier/aggregator stages."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in BLOC_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for url, raw in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
                if raw is None:
                    blocks, err = [], True
                else:
                    blocks, err = readability_blocks(
                        bytes(raw),
                        charset=charset,
                        max_link_density=max_link_density,
                    )
                if err:
                    rows.append(
                        dict.fromkeys(cols, None)
                        | {"url": url, "props": [], "error": True}
                    )
                    continue
                for i, b in enumerate(blocks):
                    page = i // page_lines
                    j = i % page_lines
                    y0 = j / page_lines
                    rows.append(
                        {
                            "url": url,
                            "page_num": page,
                            "bloc_ord": j,
                            "x0": 0.1,
                            "y0": y0,
                            "x1": 0.9,
                            "y1": y0 + 0.5 / page_lines,
                            "text": b["text"],
                            "props": [],
                            "label": b["label"],
                            "error": False,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", "html").mapInPandas(work, schema=BLOC_SCHEMA)


# --- boilerpipe-style densitometric classification --------------------------

def html_block_features(pages: DataFrame, charset: str = "utf-8") -> DataFrame:
    """pages(url, html) → the UNCLASSIFIED block table: one row per text
    block with its shallow features ``(url, pos, text, n_words,
    link_density, error)``. Parse errors yield a single ``error=True``
    sentinel row per url (matching the extractor convention). Downstream
    classifiers — :func:`classify_blocks_boilerpipe` or a trained head —
    consume these features as columns, keeping classification JVM-side."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "pos", "text", "n_words", "link_density", "error"]
        for pdf in batches:
            rows = []
            for url, raw in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
                if raw is None:
                    blocks, err = [], True
                else:
                    blocks, err = extract_html_blocks(bytes(raw), charset=charset)
                if err:
                    rows.append(
                        {
                            "url": url,
                            "pos": None,
                            "text": None,
                            "n_words": None,
                            "link_density": None,
                            "error": True,
                        }
                    )
                    continue
                for i, b in enumerate(blocks):
                    rows.append(
                        {
                            "url": url,
                            "pos": i,
                            "text": b["text"],
                            "n_words": b["n_words"],
                            "link_density": b["link_density"],
                            "error": False,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    schema = (
        "url string, pos int, text string, n_words int, "
        "link_density double, error boolean"
    )
    return pages.select("url", "html").mapInPandas(work, schema=schema)


def classify_blocks_boilerpipe(blocks: DataFrame) -> DataFrame:
    """Kohlschütter/Nepomnyachiy boilerpipe ``NumWordsRulesClassifier``
    (WSDM 2010 "Boilerplate detection using shallow text features" —
    published decision rules, reimplemented) as PURE column expressions
    over per-document lag/lead windows — no Python in the classify step:

    * ``link_density(curr) > 1/3`` → boilerplate;
    * else if ``link_density(prev) <= 0.555556``: content iff
      ``words(curr) > 16`` or ``words(next) > 15`` or ``words(prev) > 4``;
    * else: content iff ``words(curr) > 40`` or ``words(next) > 17``.

    Document edges take 0 words / 0 link density, as in the original.
    Appends ``label``; input shape is :func:`html_block_features`. The
    window partitions by url and orders by block position — per-document
    state, so partitions stay bounded at any corpus size."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("url").orderBy("pos")
    prev_words = F.lag("n_words", 1, 0).over(w)
    next_words = F.lead("n_words", 1, 0).over(w)
    prev_ld = F.lag("link_density", 1, 0.0).over(w)
    content = F.when(
        F.col("link_density") > F.lit(0.333333), F.lit(False)
    ).otherwise(
        F.when(
            prev_ld <= F.lit(0.555556),
            (F.col("n_words") > 16) | (next_words > 15) | (prev_words > 4),
        ).otherwise((F.col("n_words") > 40) | (next_words > 17))
    )
    label = F.when(F.col("error"), F.lit(None).cast("string")).otherwise(
        F.when(content, F.lit("body")).otherwise(F.lit("boilerplate"))
    )
    return blocks.withColumn("label", label)


def extract_blocs_boilerpipe(
    pages: DataFrame, page_lines: int = 40, charset: str = "utf-8"
) -> DataFrame:
    """pages(url, html) → blocs (BLOC_SCHEMA) via the boilerpipe shallow-
    feature rules; drop-in alternative to :func:`extract_blocs_html`
    (jusText-style) and :func:`extract_blocs_readability` (Arc90-style) in
    front of the shared classifier/aggregator stages. Geometry is the same
    document-order pseudo-layout the other HTML extractors emit."""
    from pyspark.sql import functions as F

    labeled = classify_blocks_boilerpipe(html_block_features(pages, charset))
    j = F.col("pos") % page_lines
    y0 = j.cast("double") / page_lines
    return labeled.select(
        "url",
        F.when(~F.col("error"), (F.col("pos") / page_lines).cast("int")).alias(
            "page_num"
        ),
        F.when(~F.col("error"), j.cast("int")).alias("bloc_ord"),
        F.when(~F.col("error"), F.lit(0.1)).alias("x0"),
        F.when(~F.col("error"), y0).alias("y0"),
        F.when(~F.col("error"), F.lit(0.9)).alias("x1"),
        F.when(~F.col("error"), y0 + 0.5 / page_lines).alias("y1"),
        "text",
        F.array().cast(BLOC_SCHEMA["props"].dataType).alias("props"),
        "label",
        "error",
    )


# --- HTML head-metadata extraction -------------------------------------------

# Java ∩ RE2 common-dialect patterns ((?i) flags, character classes,
# alternation only — no lookaround/backreferences) so the DuckDB oracle
# replays them byte-for-byte. Attribute order in real crawl HTML is not
# fixed, so each name/property attribute pair is probed in both orders
# and coalesced (first non-empty wins, Spark and DuckDB agree that a
# non-match extracts '').
_TITLE_RE = r"(?i)<title[^>]*>([^<]*)</title>"
_HTML_LANG_RE = r"(?i)<html[^>]*[\s\"']lang=[\"']?([A-Za-z][A-Za-z0-9-]*)"


def _meta_pair_res(attr: str, value: str) -> tuple[str, str]:
    """(name-first, content-first) regex pair for
    ``<meta {attr}="{value}" content="...">`` in either attribute order."""
    v = value.replace(":", "[:]")  # ':' is literal in both dialects; keep explicit
    return (
        rf"(?i)<meta[^>]*[\s\"']{attr}=[\"']{v}[\"'][^>]*content=[\"']([^\"']*)[\"']",
        rf"(?i)<meta[^>]*[\s\"']content=[\"']([^\"']*)[\"'][^>]*{attr}=[\"']{v}[\"']",
    )


_LINK_CANONICAL_RES = (
    r"(?i)<link[^>]*[\s\"']rel=[\"']canonical[\"'][^>]*href=[\"']([^\"']*)[\"']",
    r"(?i)<link[^>]*[\s\"']href=[\"']([^\"']*)[\"'][^>]*rel=[\"']canonical[\"']",
)


def _first_nonempty(col, patterns) -> "F.Column":
    from pyspark.sql import functions as F

    out = F.lit("")
    for pat in patterns:
        ext = F.regexp_extract(col, pat, 1)
        out = F.when(out == "", ext).otherwise(out)
    return out


def extract_html_meta(pages: DataFrame, charset: str = "utf-8") -> DataFrame:
    """pages(url, html:binary) → head metadata columns, zero UDFs:

    - ``html_title``      — first ``<title>`` text (raw, entities kept);
    - ``meta_description``— ``<meta name="description" content=…>``;
    - ``canonical_url``   — ``<link rel="canonical" href=…>``;
    - ``og_title`` / ``og_description`` / ``published_time`` — OpenGraph
      ``property="og:title" / "og:description" /
      "article:published_time"`` contents;
    - ``html_lang``       — the ``<html lang=…>`` attribute;
    - ``robots_noindex`` / ``robots_nofollow`` — booleans from
      ``<meta name="robots" content=…>``.

    Every field is a single-pass JVM regex over the decoded page — the
    whole operator is scan-stage projection (whole-stage codegen, zero
    shuffle, pushdown-friendly), which is the right shape for a
    crawl-index pass over 10^12 pages. Attribute order is handled by
    probing both orders; absent fields extract ``''`` (NULL-free so
    downstream grouping keys stay total). Comments and script-ish bodies
    are stripped first — the same "a commented-out carrier must not
    leak" rule as ``functions/discover.py``, so a dead
    ``<!-- <meta …> -->`` draft or a JS string containing meta markup
    can never fabricate a field. Charset handling beyond the given
    encoding belongs to ``sources.warc.decode_payload`` upstream."""
    from pyspark.sql import functions as F

    raw = F.decode(F.col("html"), charset)
    h = F.regexp_replace(
        F.regexp_replace(raw, r"(?s)<!--.*?-->", " "),
        r"(?is)<(script|style|template|noscript)\b[^>]*>.*?</\1\s*>",
        " ",
    )
    desc_res = _meta_pair_res("name", "description")
    ogt_res = _meta_pair_res("property", "og:title")
    ogd_res = _meta_pair_res("property", "og:description")
    pub_res = _meta_pair_res("property", "article:published_time")
    robots = _first_nonempty(h, _meta_pair_res("name", "robots"))
    return pages.select(
        "*",
        F.regexp_extract(h, _TITLE_RE, 1).alias("html_title"),
        _first_nonempty(h, desc_res).alias("meta_description"),
        _first_nonempty(h, _LINK_CANONICAL_RES).alias("canonical_url"),
        _first_nonempty(h, ogt_res).alias("og_title"),
        _first_nonempty(h, ogd_res).alias("og_description"),
        _first_nonempty(h, pub_res).alias("published_time"),
        F.regexp_extract(h, _HTML_LANG_RE, 1).alias("html_lang"),
        F.lower(robots).contains("noindex").alias("robots_noindex"),
        F.lower(robots).contains("nofollow").alias("robots_nofollow"),
    )


# --- cross-extractor consensus voting ---------------------------------------

def consensus_line_votes(legs: "dict[str, DataFrame]") -> DataFrame:
    """Line-level agreement across extraction heuristics: each leg is a
    bloc table (BLOC_SCHEMA — e.g. the jusText / readability / boilerpipe
    faces over the SAME pages); a (url, line) earns one vote per leg that
    put it inside a ``body`` bloc. Returns ``(url, line, votes)``.

    Plan shape: per leg a split/explode projection + one distinct (a leg
    voting a line twice — e.g. a repeated nav string — still counts once),
    then one union + one (url, line)-keyed count. The only exchanges are
    the per-leg distincts and the final count, all on bounded (url, line)
    keys — no collect, no cross join, safe at crawl scale."""
    from functools import reduce

    from pyspark.sql import functions as F

    voted = []
    for name, df in legs.items():
        voted.append(
            df.where((F.col("label") == "body") & ~F.col("error"))
            .select(
                "url",
                F.explode(F.split(F.col("text"), "\n")).alias("line"),
                F.lit(name).alias("leg"),
            )
            .where(F.trim(F.col("line")) != "")
            .distinct()
        )
    allv = reduce(lambda a, b: a.unionByName(b), voted)
    return allv.groupBy("url", "line").agg(F.count("*").alias("votes"))


def _boilerpipe_labels(blocks: List[dict]) -> List[str]:
    """The :func:`classify_blocks_boilerpipe` decision rules as a plain
    per-page loop (same WSDM-2010 constants, same document-edge zeros) —
    used by the fused consensus kernel, where the blocks of one page are
    already in hand and a window shuffle would be pure overhead. Kept
    textually next to the column-expression twin; test_consensus pins the
    two to identical votes via the distributed path's tests."""
    n = len(blocks)
    out = []
    for i, b in enumerate(blocks):
        w = b["n_words"]
        ld = b["link_density"]
        pw = blocks[i - 1]["n_words"] if i > 0 else 0
        nw = blocks[i + 1]["n_words"] if i < n - 1 else 0
        pld = blocks[i - 1]["link_density"] if i > 0 else 0.0
        if ld > 0.333333:
            content = False
        elif pld <= 0.555556:
            content = w > 16 or nw > 15 or pw > 4
        else:
            content = w > 40 or nw > 17
        out.append("body" if content else "boilerplate")
    return out


def extract_blocs_consensus(
    pages: DataFrame,
    min_votes: int = 2,
    charset: str = "utf-8",
    page_builder=None,
    **jus_kwargs,
) -> DataFrame:
    """Ensemble main-content extraction: run the three HTML faces
    (jusText-style, Arc90-readability, boilerpipe) over the same pages and
    keep a line as content only when ≥ ``min_votes`` of them agree —
    the standard trick for raising extraction precision when heuristics
    disagree (each face errs on different page shapes by construction).

    Output is BLOC_SCHEMA: the jusText leg provides segmentation and
    geometry (it has the finest blocks); each of its body blocs is
    filtered to its consensus lines, blocs left empty are dropped,
    boilerplate/error blocs pass through unchanged so the downstream
    classifier/aggregator contract is intact.

    Plan shape: ONE zero-shuffle Arrow stage. Line votes are page-local
    by construction — every leg's lines come from the same page — so the
    ensemble needs no distributed vote at all. The kernel parses each page
    once: :func:`extract_html_blocks` gives the jusText labels AND
    boilerpipe's shallow features from one block list (segmentation is
    independent of the labeling thresholds), and :func:`readability_blocks`
    runs right after it on the same ``bytes`` object, so it reuses the
    cached segmentation and the cleaned fragments instead of parsing the
    page again. The kernel then votes in-memory and emits the filtered
    blocs. Both legs and :func:`context_classify` are called through
    module globals, once per page. The previous
    implementation ran three Arrow stages plus a 5-exchange
    distinct/union/count/join/regroup pipeline on (url, line) keys
    (PLANS.md r3 audit); at 10^12 documents those exchanges shuffled the
    corpus's full line inventory for information that never leaves a
    page. :func:`consensus_line_votes` remains for cross-leg vote
    inspection and as the distributed reference the tests compare
    against.

    ``page_builder`` (optional): a pandas-batch hook ``pd.DataFrame →
    pd.DataFrame(url, html)`` applied INSIDE the Arrow stage before the
    consensus kernel, so callers that synthesize pages from another
    relation (e.g. the harness's documents→html adapter) fuse into the
    same single ``MapInPandas`` instead of stacking two Arrow stages
    back-to-back (one avoidable Arrow serialization round per batch).
    When given, ``pages`` is consumed with whatever columns the builder
    expects; output parity with the two-stage path is asserted in
    tests/test_consensus.py."""
    page_lines = jus_kwargs.pop("page_lines", 40)
    min_words = jus_kwargs.pop("min_words", 3)
    max_link_density = jus_kwargs.pop("max_link_density", 0.4)
    context_sensitive = jus_kwargs.pop("context_sensitive", False)
    good_words = jus_kwargs.pop("good_words", 8)
    stopwords = jus_kwargs.pop("stopwords", None)
    stopword_low = jus_kwargs.pop("stopword_low", None)
    if jus_kwargs:
        raise TypeError(f"unknown consensus kwargs: {sorted(jus_kwargs)}")

    def _leg_lines(blocks, labels) -> set:
        # one vote per DISTINCT non-blank line per leg, matching the
        # per-leg .distinct() of consensus_line_votes (untrimmed key)
        return {
            line
            for b, lab in zip(blocks, labels)
            if lab == "body"
            for line in b["text"].split("\n")
            if line.strip()
        }

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in BLOC_SCHEMA.fields]
        for pdf in batches:
            if page_builder is not None:
                pdf = page_builder(pdf)
            rows = []
            for url, raw in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
                if raw is None:
                    blocks, err = [], True
                else:
                    # one object for both legs: the segmentation cache hits
                    raw = bytes(raw)
                    blocks, err = extract_html_blocks(
                        raw,
                        min_words=min_words,
                        max_link_density=max_link_density,
                        charset=charset,
                    )
                if err:
                    rows.append(
                        dict.fromkeys(cols, None)
                        | {"url": url, "props": [], "error": True}
                    )
                    continue
                if context_sensitive:
                    jus_labels = context_classify(
                        blocks,
                        min_words=min_words,
                        good_words=good_words,
                        max_link_density=max_link_density,
                        stopwords=stopwords,
                        stopword_low=stopword_low,
                    )
                else:
                    jus_labels = [b["label"] for b in blocks]
                rd_blocks, rd_err = readability_blocks(
                    raw, charset=charset, max_link_density=0.5
                )
                votes: dict = {}
                for leg in (
                    _leg_lines(blocks, jus_labels),
                    _leg_lines(rd_blocks, [b["label"] for b in rd_blocks])
                    if not rd_err
                    else set(),
                    _leg_lines(blocks, _boilerpipe_labels(blocks)),
                ):
                    for line in leg:
                        votes[line] = votes.get(line, 0) + 1
                for i, (b, lab) in enumerate(zip(blocks, jus_labels)):
                    page = i // page_lines
                    j = i % page_lines
                    y0 = j / page_lines
                    base = {
                        "url": url,
                        "page_num": page,
                        "bloc_ord": j,
                        "x0": 0.1,
                        "y0": y0,
                        "x1": 0.9,
                        "y1": y0 + 0.5 / page_lines,
                        "props": [],
                        "error": False,
                    }
                    if lab == "body":
                        kept = [
                            line
                            for line in b["text"].split("\n")
                            if votes.get(line, 0) >= min_votes
                        ]
                        if not kept:
                            continue
                        rows.append(
                            base | {"text": "\n".join(kept), "label": "body"}
                        )
                    else:
                        rows.append(base | {"text": b["text"], "label": lab})
            yield pd.DataFrame(rows, columns=cols)

    src = pages if page_builder is not None else pages.select("url", "html")
    return src.mapInPandas(work, schema=BLOC_SCHEMA)


# --- CETR: content extraction via tag ratios ---------------------------------

def extract_blocs_cetr(
    pages: DataFrame,
    charset: str = "utf-8",
    c_milli: int = 1000,
    radius: int = 2,
) -> DataFrame:
    """CETR — Content Extraction via Tag Ratios (Weninger, Hsu & Han,
    WWW 2010; published algorithm, reimplemented) as PURE Catalyst
    expressions: zero UDFs, zero shuffles, the whole face lives in the
    page scan's whole-stage-codegen span.

    Per the paper: strip ``<script>``/``<style>`` bodies and comments,
    split the page into source LINES, drop blank lines, and score each
    line by its tag ratio ``TR(i) = text_chars(i) / max(1, tags(i))``;
    smooth TR with a moving window; lines whose smoothed ratio clears a
    global per-document cutoff are content. Two deviations, both exact
    where the paper is float-valued (this repo's integer-exactness
    convention — partitioning and accumulation order can never change a
    label):

    * the smoothing kernel is a zero-padded window SUM of radius
      ``radius`` (``tr5(i) = Σ TR(j), j ∈ [i-r, i+r]``) kept in integer
      milli-units instead of a Gaussian mean — same shape, constant
      denominator;
    * the cutoff is the per-document MEAN of the smoothed ratio scaled
      by ``c_milli``/1000 (the paper's 1D variant cuts at one standard
      deviation): content iff ``1000·L·tr5(i) ≥ c_milli·Σ tr5`` — an
      integer cross-multiplication, no division anywhere.

    All regexes are in the Java∩RE2 common dialect (no backreferences),
    so a DuckDB oracle replays every step bit-for-bit.

    Output: one row per non-blank source line — ``url, line_no, text``
    (tag-stripped, whitespace-collapsed), ``tag_count, text_chars,
    tr_milli, tr5_milli`` (BIGINT signals) and ``label``
    ('body'/'boilerplate').

    Scale notes: everything is array-land ``transform``/``aggregate``
    over one decoded page string — the plan is scan → project →
    posexplode with NO exchange; at 10^12 pages the face costs exactly
    one pass over the corpus. Per-line state is bounded by one page's
    line count.
    """
    from pyspark.sql import functions as F

    r = int(radius)
    h = F.decode(F.col("html"), charset)
    for pat in (
        r"(?is)<script\b[^>]*>.*?</script\s*>",
        r"(?is)<style\b[^>]*>.*?</style\s*>",
        r"(?s)<!--.*?-->",
    ):
        h = F.regexp_replace(h, pat, " ")

    base = pages.select("url", h.alias("_h"))
    # non-blank source lines, then per-line stripped text / tag count
    base = base.select(
        "url",
        F.expr(
            "filter(split(_h, '\\n'), x -> length(trim(x)) > 0)"
        ).alias("_lines"),
    )
    base = base.select(
        "url",
        "_lines",
        F.expr(
            "transform(_lines, x -> trim(regexp_replace("
            "regexp_replace(x, '<[^>]+>', ' '), '[ \\t\\r]+', ' ')))"
        ).alias("_stripped"),
        F.expr(
            "transform(_lines, x -> "
            "cast(size(regexp_extract_all(x, '<[^>]+>', 0)) as bigint))"
        ).alias("_tags"),
    )
    base = base.select(
        "url",
        "_lines",
        "_stripped",
        "_tags",
        F.expr(
            "zip_with(_stripped, _tags, (s, t) -> "
            "(1000 * cast(length(s) as bigint)) div greatest(t, 1L))"
        ).alias("_tr"),
    )
    base = base.select(
        "url",
        "_lines",
        "_stripped",
        "_tags",
        "_tr",
        # size=0 guard: sequence(0, -1) is a DESCENDING sequence in
        # Spark, not empty — an all-blank page would index into the
        # empty _tr array without it
        F.expr(
            f"CASE WHEN size(_tr) = 0 THEN array() ELSE "
            f"transform(sequence(0, size(_tr) - 1), i -> "
            f"aggregate(sequence(greatest(0, i - {r}), "
            f"least(size(_tr) - 1, i + {r})), 0L, "
            f"(acc, j) -> acc + element_at(_tr, j + 1))) END"
        ).alias("_tr5"),
    )
    base = base.select(
        "url",
        F.expr("aggregate(_tr5, 0L, (a, x) -> a + x)").alias("_total5"),
        F.expr("cast(size(_tr5) as bigint)").alias("_nlines"),
        F.expr(
            "arrays_zip(_stripped, _tags, _tr, _tr5)"
        ).alias("_z"),
    )
    # posexplode_outer, not posexplode: the non-outer Generate injects a
    # `size(_z) > 0` filter that Catalyst pushes below the projections,
    # duplicating the whole array-expression chain into the scan filter
    # (≈5× recompute per page). Outer generate adds no filter; the cheap
    # null-row drop below runs on the already-materialized output.
    out = base.select(
        "url",
        "_total5",
        "_nlines",
        F.posexplode_outer("_z").alias("line_no", "_row"),
    ).where(F.col("line_no").isNotNull())
    return out.select(
        "url",
        F.col("line_no").cast("int").alias("line_no"),
        F.col("_row._stripped").alias("text"),
        F.col("_row._tags").alias("tag_count"),
        F.length("_row._stripped").cast("bigint").alias("text_chars"),
        F.col("_row._tr").alias("tr_milli"),
        F.col("_row._tr5").alias("tr5_milli"),
        F.when(
            (F.col("_total5") > 0)
            & (
                F.lit(1000) * F.col("_nlines") * F.col("_row._tr5")
                >= F.lit(int(c_milli)) * F.col("_total5")
            ),
            F.lit("body"),
        )
        .otherwise(F.lit("boilerplate"))
        .alias("label"),
    )


def extract_image_pairs(
    pages: DataFrame,
    charset: str = "utf-8",
    min_alt_len: int = 1,
) -> DataFrame:
    """pages(url, html:binary) → LAION-style image–text pairs: one row
    per ``<img>`` tag carrying a non-empty ``src`` AND an ``alt`` text of
    at least ``min_alt_len`` characters — the harvesting pass behind
    public image-text training sets (LAION-5B mines exactly these
    (img URL, alt) pairs from Common Crawl; Schuhmann et al. 2022).

    Returns ``(url, img_idx, img_src, alt_text)`` with ``img_idx`` the
    0-based position among the page's ``<img>`` tags (pre-filter), so a
    pair is re-addressable even after filtering.

    Plan: tag scan is one ``regexp_extract_all`` projection, the
    per-tag src/alt pulls are regexes over the exploded tag string —
    all scan-stage JVM expressions (whole-stage codegen, zero shuffle,
    zero Python). Both attribute orders and both quote styles match;
    patterns are Java∩RE2 so a SQL oracle replays them verbatim.
    Fetching/decoding the image bytes behind ``img_src`` is a separate
    (network) stage by design — this operator emits the crawl worklist.
    """
    from pyspark.sql import functions as F

    h = F.decode(F.col("html"), charset)
    # (?i) like every other extractor here — uppercase <IMG SRC=...> is
    # pervasive in older crawl HTML; the [\s"'] attribute-boundary guard
    # keeps `src=` from matching inside `data-src=` (lazy-load markup
    # would otherwise emit the placeholder URL as the pair's image)
    tags = F.regexp_extract_all(h, F.lit(r"(?i)<img\b[^>]*>"), F.lit(0))
    ex = pages.select(
        "url", F.posexplode_outer(tags).alias("img_idx", "_tag")
    ).where(F.col("_tag").isNotNull())
    src = F.regexp_extract(
        F.col("_tag"), "(?i)[\\s\"']src\\s*=\\s*[\"']([^\"']*)[\"']", 1
    )
    alt = F.regexp_extract(
        F.col("_tag"), "(?i)[\\s\"']alt\\s*=\\s*[\"']([^\"']*)[\"']", 1
    )
    return (
        ex.select(
            "url",
            F.col("img_idx").cast("int").alias("img_idx"),
            src.alias("img_src"),
            alt.alias("alt_text"),
        )
        .where(
            (F.length("img_src") > 0)
            & (F.length("alt_text") >= int(min_alt_len))
        )
    )




# --- shared scan-stage cleanup expressions (structure extractors) -----------

def _strip_noise_expr(col):
    """Remove comments and script-ish container bodies — shared by every
    structural extractor (tables/outline/sections/lists/code): markup
    inside them must not fabricate rows. Scripts strip FIRST (the order
    the extractors always used), comments second."""
    from pyspark.sql import functions as F

    for pat in (
        r"(?is)<(script|style|template|noscript)\b[^>]*>.*?</\1\s*>",
        r"(?s)<!--.*?-->",
    ):
        col = F.regexp_replace(col, pat, " ")
    return col


def _decode_entities_expr(col):
    """Decode the six standard named entities plus ``&#39;`` — ``&amp;``
    LAST so ``&amp;lt;`` stays ``&lt;`` (double-escape fidelity)."""
    from pyspark.sql import functions as F

    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"),
    ):
        col = F.replace(col, F.lit(ent), F.lit(rep))
    return F.replace(col, F.lit("&amp;"), F.lit("&"))


def _clean_text_expr(col):
    """Inner tags → space, entities decoded, whitespace collapsed +
    trimmed — the text cleanup every non-code structure extractor
    applies to cell/heading/body/item content."""
    from pyspark.sql import functions as F

    txt = F.regexp_replace(col, r"<[^>]+>", " ")
    return F.trim(F.regexp_replace(_decode_entities_expr(txt), r"\s+", " "))


def extract_tables(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Structured HTML TABLE extraction: one row per cell —
    ``(url, table_idx, row_idx, col_idx, is_header, cell)`` — as pure
    Catalyst expressions (zero UDFs, zero shuffle: the whole parse is a
    scan-stage projection chain of ``regexp_extract_all`` + nested
    ``posexplode``).

    Table corpora are a first-class training-data modality (web tables →
    QA/structured-reasoning sets); this is the relational face the
    downstream ops (dedup on serialized rows, quality gates on cell
    stats) consume.

    Dialect: Java∩RE2-compatible patterns only (``(?is)`` flags, lazy
    quantifiers — both engines agree), so a DuckDB oracle can replay the
    parse verbatim. Limitations, documented: NESTED tables parse as
    their first closing tag (non-nested assumption — the overwhelming
    web-table case), ``colspan``/``rowspan`` are not expanded
    (``col_idx`` is the CELL index, not the grid column), and entity
    decoding covers the standard named entities (&amp; &lt; &gt; &quot;
    &nbsp; &apos;) plus the ubiquitous ``&#39;`` — other numeric escapes
    pass through untouched.
    """
    from pyspark.sql import functions as F

    s = _strip_noise_expr(F.col(html_col).cast("string"))

    tables = F.regexp_extract_all(s, F.lit(r"(?is)<table\b[^>]*>(.*?)</table\s*>"), 1)
    t = pages.select(
        url_col, F.posexplode(tables).alias("table_idx", "_tbody")
    )
    rows = F.regexp_extract_all(
        F.col("_tbody"), F.lit(r"(?is)<tr\b[^>]*>(.*?)</tr\s*>"), 1
    )
    r = t.select(
        url_col, "table_idx", F.posexplode(rows).alias("row_idx", "_row")
    )
    cells = F.regexp_extract_all(
        F.col("_row"), F.lit(r"(?is)<t[dh]\b[^>]*>(.*?)</t[dh]\s*>"), 1
    )
    kinds = F.regexp_extract_all(F.col("_row"), F.lit(r"(?is)<(t[dh])\b"), 1)
    c = r.select(
        url_col,
        "table_idx",
        "row_idx",
        F.posexplode(F.arrays_zip(cells, kinds)).alias("col_idx", "_cell"),
    )
    raw = F.col("_cell").getField("0")
    kind = F.lower(F.col("_cell").getField("1"))
    txt = _clean_text_expr(raw)
    return c.select(
        url_col,
        "table_idx",
        "row_idx",
        "col_idx",
        (kind == F.lit("th")).alias("is_header"),
        txt.alias("cell"),
    )


def extract_outline(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Document heading outline: one row per ``<h1>``–``<h6>`` —
    ``(url, seq, level, heading, parent_seq)`` where ``parent_seq`` points
    at the nearest PRECEDING heading of a smaller level (NULL for roots) —
    the section hierarchy that titled-chunk training sets and
    markdown-style reconstitution consume.

    Same zero-UDF discipline as :func:`extract_tables`: the parse is a
    scan-stage chain of ``regexp_extract_all`` + ``posexplode`` (both
    groups extracted with the SAME pattern so the level/body arrays
    align), and the parent
    pointers are per-level running maxima over one ``(url, seq)`` window —
    a single shuffle on url, the partition key any downstream per-document
    stage reuses. Java∩RE2∩DuckDB-compatible regex dialect, so an SQL
    oracle can replay the parse verbatim.

    Cleanup matches ``extract_tables``: inner tags stripped, the six
    standard named entities decoded, whitespace collapsed. Comments and
    script-ish containers are stripped first so a ``<h2>`` inside
    ``<script>`` cannot fabricate a heading.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = _strip_noise_expr(F.col(html_col).cast("string"))

    # generic closer (no back-reference — RE2/DuckDB dialect): like the
    # HTML5 recovery browsers apply, ANY </hN> closes an open heading, so
    # <h3>x</h4> parses as a level-3 heading; an unclosed heading does not.
    pat = r"(?is)<h([1-6])\b[^>]*>(.*?)</h[1-6]\s*>"
    levels = F.regexp_extract_all(s, F.lit(pat), 1)
    bodies = F.regexp_extract_all(s, F.lit(pat), 2)
    h = pages.select(
        url_col,
        F.posexplode(F.arrays_zip(levels, bodies)).alias("seq", "_h"),
    )
    level = F.col("_h").getField("0").cast("int")
    raw = F.col("_h").getField("1")
    txt = _clean_text_expr(raw)
    base = h.select(
        url_col,
        F.col("seq"),
        level.alias("level"),
        txt.alias("heading"),
    )

    # nearest preceding smaller-level heading: per-level running max of
    # seq over strictly-preceding rows, then pick the latest among levels
    # below the current one. -1 sentinel keeps GREATEST null-free (NULL
    # handling in GREATEST differs between engines; ints do not).
    w = (
        Window.partitionBy(url_col)
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cols = [
        F.coalesce(
            F.max(F.when(F.col("level") == k, F.col("seq"))).over(w),
            F.lit(-1),
        ).alias(f"_m{k}")
        for k in range(1, 6)
    ]
    parent = F.lit(-1)
    for k in range(2, 7):
        below = [F.col(f"_m{j}") for j in range(1, k)]
        cand = below[0] if len(below) == 1 else F.greatest(*below)
        parent = F.when(F.col("level") == k, cand).otherwise(parent)
    return (
        base.select(url_col, "seq", "level", "heading", *cols)
        .withColumn(
            "parent_seq",
            F.when(parent < 0, F.lit(None).cast("int")).otherwise(
                parent.cast("int")
            ),
        )
        .drop(*[f"_m{k}" for k in range(1, 6)])
    )


def extract_sections(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Titled section chunks: one row per heading — ``(url, seq, level,
    heading, crumb, body)`` where ``body`` is the cleaned text between
    this heading and the next (any level) and ``crumb`` is the ancestor
    breadcrumb (``"H1 > H2"``-style, own heading excluded) — the shape
    titled-chunk training corpora want (section text + its hierarchy
    context). A non-empty preamble (text before the first heading) gets
    ``seq = -1, level = 0, heading = NULL, crumb = ''``.

    Mechanics: the SAME heading pattern as :func:`extract_outline` drives
    both ``regexp_extract_all`` (headings) and ``split`` (the n+1
    between-heading fragments; fragment ``i+1`` is heading ``i``'s body),
    so the two stay aligned by construction. Ancestors come from
    per-level running-max/last windows over one ``(url, seq)`` exchange:
    level ``k < L`` is an ancestor iff its last seq exceeds every
    smaller level's last seq (the prefix-max staircase — a level-2
    heading that precedes the current level-1 root is correctly NOT in
    the crumb). Zero UDFs; the one shuffle is url-keyed.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = _strip_noise_expr(F.col(html_col).cast("string"))

    pat = r"(?is)<h([1-6])\b[^>]*>(.*?)</h[1-6]\s*>"
    levels = F.regexp_extract_all(s, F.lit(pat), 1)
    bodies = F.regexp_extract_all(s, F.lit(pat), 2)
    pieces = F.split(s, pat)

    clean = _clean_text_expr

    with_arrays = pages.select(
        url_col,
        levels.alias("_lv"),
        bodies.alias("_bd"),
        pieces.alias("_pc"),
    )
    pre = with_arrays.select(
        url_col,
        F.lit(-1).alias("seq"),
        F.lit(0).alias("level"),
        F.lit(None).cast("string").alias("heading"),
        F.lit("").alias("crumb"),
        clean(F.element_at(F.col("_pc"), 1)).alias("body"),
    ).filter(F.length("body") > 0)

    h = with_arrays.select(
        url_col,
        F.col("_pc"),
        F.posexplode(F.arrays_zip("_lv", "_bd")).alias("seq", "_h"),
    ).select(
        url_col,
        "seq",
        F.col("_h").getField("_lv").cast("int").alias("level"),
        clean(F.col("_h").getField("_bd")).alias("heading"),
        clean(F.element_at(F.col("_pc"), F.col("seq") + 2)).alias("body"),
    )

    w = (
        Window.partitionBy(url_col)
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq_cols = [
        F.coalesce(
            F.max(F.when(F.col("level") == k, F.col("seq"))).over(w),
            F.lit(-1),
        ).alias(f"_m{k}")
        for k in range(1, 6)
    ]
    txt_cols = [
        F.last(
            F.when(F.col("level") == k, F.col("heading")), ignorenulls=True
        ).over(w).alias(f"_t{k}")
        for k in range(1, 6)
    ]
    staged = h.select(url_col, "seq", "level", "heading", "body", *seq_cols, *txt_cols)

    # prefix-max staircase: level k is an ancestor iff k < level and
    # _mk beats every smaller level's last seq
    crumb_parts = []
    for k in range(1, 6):
        smaller = [F.col(f"_m{j}") for j in range(1, k)]
        beats = F.lit(True)
        for sm in smaller:
            beats = beats & (F.col(f"_m{k}") > sm)
        keep = (F.col("level") > k) & (F.col(f"_m{k}") >= 0) & beats
        crumb_parts.append(F.when(keep, F.col(f"_t{k}")))
    crumb = F.concat_ws(" > ", F.array_compact(F.array(*crumb_parts)))

    out = staged.select(
        url_col, "seq", "level", "heading", crumb.alias("crumb"), "body"
    )
    return out.unionByName(pre)


def extract_lists(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """HTML list extraction: one row per ``<li>`` —
    ``(url, list_idx, item_idx, ordered, item)`` — instructional/step
    corpora are list-shaped, and serialized items feed the same dedup/
    quality gates as table cells. Same zero-UDF regexp projection chain
    as :func:`extract_tables` (strip script containers → ul/ol → li),
    same RE2/DuckDB-safe dialect, same entity/tag cleanup. Nested lists
    parse to the first closing tag (non-nested assumption, documented
    like the tables operator).
    """
    from pyspark.sql import functions as F

    s = _strip_noise_expr(F.col(html_col).cast("string"))

    pat = r"(?is)<(ul|ol)\b[^>]*>(.*?)</(?:ul|ol)\s*>"
    kinds = F.regexp_extract_all(s, F.lit(pat), 1)
    bodies = F.regexp_extract_all(s, F.lit(pat), 2)
    l = pages.select(
        url_col,
        F.posexplode(F.arrays_zip(kinds, bodies)).alias("list_idx", "_l"),
    ).select(
        url_col,
        "list_idx",
        (F.lower(F.col("_l").getField("0")) == "ol").alias("ordered"),
        F.col("_l").getField("1").alias("_body"),
    )
    # items split on <li> OPENERS (the wild web rarely closes them; RE2 —
    # the oracle dialect — has no lookahead, so a closer-or-next-item
    # pattern is out). Piece 0 is pre-first-item junk and is dropped; a
    # trailing </li> in a piece is markup the tag cleanup removes anyway.
    pieces = F.split(F.col("_body"), r"(?i)<li\b[^>]*>")
    items = F.slice(pieces, 2, F.greatest(F.size(pieces) - 1, F.lit(0)))
    it = l.select(
        url_col, "list_idx", "ordered",
        F.posexplode(items).alias("item_idx", "_item"),
    )
    txt = _clean_text_expr(F.col("_item"))
    return it.select(
        url_col, "list_idx", "item_idx", "ordered", txt.alias("item")
    )


def extract_code_blocks(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Code-block extraction: one row per ``<pre>``/``<code>`` block —
    ``(url, block_idx, lang_hint, code)`` — the code-corpus face of the
    structure extractors. ``lang_hint`` comes from the conventional
    ``class="language-xyz"`` / ``class="lang-xyz"`` marker (empty when
    absent). Unlike the text extractors, WHITESPACE IS PRESERVED
    (indentation is code signal): only tags are stripped and entities
    decoded; the one normalization is CRLF→LF. ``<pre><code>`` nesting
    yields the outer ``pre`` block only (the inner ``code`` tag is
    stripped as markup). Same scan-stage zero-UDF dialect as the other
    structure extractors.
    """
    from pyspark.sql import functions as F

    s = _strip_noise_expr(F.col(html_col).cast("string"))
    # ONE left-to-right alternation scan keeps block_idx in DOCUMENT
    # order (pre-first-then-bare-code two-pass indexing would misorder a
    # mid-document inline <code> against a later <pre>); at a <pre> start
    # the first alternative swallows the whole pre span — including any
    # inner <code> — so nothing double-counts
    blocks = F.regexp_extract_all(
        s,
        F.lit(
            r"(?is)(<pre\b[^>]*>.*?</pre\s*>|<code\b[^>]*>.*?</code\s*>)"
        ),
        1,
    )
    b = pages.select(
        url_col,
        F.posexplode(blocks).alias("block_idx", "_raw"),
    )
    hint = F.lower(
        F.regexp_extract(
            F.col("_raw"),
            r'(?is)class\s*=\s*["\x27][^"\x27]*\blang(?:uage)?-([\w+#.-]+)',
            1,
        )
    )
    body = F.regexp_replace(
        F.col("_raw"), r"(?is)^<(?:pre|code)\b[^>]*>|</(?:pre|code)\s*>$", ""
    )
    # whitespace-preserving: tags removed with NO space substitute, no
    # collapse — indentation is code signal; entity set/order shared
    code = _decode_entities_expr(F.regexp_replace(body, r"<[^>]+>", ""))
    code = F.regexp_replace(code, r"\r\n", "\n")
    return b.select(
        url_col,
        "block_idx",
        hint.alias("lang_hint"),
        code.alias("code"),
    )


def sections_to_markdown(
    sections: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Reconstitute one markdown document per url from
    :func:`extract_sections` output — ``(url, markdown)`` with
    ``#``-per-level heading lines and blank-line-separated bodies, in
    section order (preamble first) — the web-face twin of the PDF
    markdown aggregator (same consumer: markdown-formatted training
    text). One url-keyed aggregation (``sort_array`` of (seq, fragment)
    structs → ordered concat), map-side combinable, no window."""
    from pyspark.sql import functions as F

    hashes = F.when(
        F.col("heading").isNotNull() & (F.col("level") > 0),
        F.concat(
            F.expr("repeat('#', level)"), F.lit(" "), F.col("heading")
        ),
    )
    frag = F.concat_ws(
        "\n\n",
        F.array_compact(
            F.array(hashes, F.nullif(F.col("body"), F.lit("")))
        ),
    )
    rows = sections.select(
        url_col, F.struct(F.col("seq"), frag.alias("frag")).alias("_sf")
    )
    return rows.groupBy(url_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("_sf")), lambda s: s["frag"]
            ),
            "\n\n",
        ).alias("markdown")
    )
