"""Differential tests for the two linear-time scanners of the extraction
layer (no Spark):

* `boilerplate.extract_blocks` against the stdlib ``html.parser`` block
  builder it replaced, kept here as the oracle;
* `extractors._person_matches` against ``finditer`` of PERSON_ROW and
  PERSON_ROW_STRICT.

The oracle is CPython 3.11's ``HTMLParser``, whose tokenizer the scanner
reproduces: a later CPython with a changed ``html.parser`` makes this module
fail before any extracted text changes.
"""

from __future__ import annotations

import random
from html.parser import HTMLParser

import pytest

from ocr_sam_project_spark.extraction import boilerplate as B
from ocr_sam_project_spark.extraction import extractors as X
from ocr_sam_project_spark.extraction import patterns as P
from ocr_sam_project_spark.extraction.document import _segment
from ocr_sam_project_spark.sources.synth import make_pages


class _OracleBlockParser(HTMLParser):
    """The block builder as it was before the scanner: a SAX-style
    HTMLParser subclass driving the same link-density block model."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[B.Block] = []
        self._buf: list[str] = []
        self._link_chars = 0
        self._total_chars = 0
        self._black_depth = 0
        self._link_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in B.BLACKLIST:
            self._black_depth += 1
            return
        if tag in B.BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self._link_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in B.BLACKLIST:
            if self._black_depth > 0:
                self._black_depth -= 1
            return
        if tag in B.BLOCK_TAGS and tag not in B.VOID_TAGS:
            self._flush()
        if tag == "a" and self._link_depth > 0:
            self._link_depth -= 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in B.BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._black_depth > 0 or not data:
            return
        self._buf.append(data)
        n = len(data.strip())
        self._total_chars += n
        if self._link_depth > 0:
            self._link_chars += n

    def _flush(self) -> None:
        text = " ".join("".join(self._buf).split())
        if text:
            self.blocks.append(B.Block(text, self._link_chars, self._total_chars))
        self._buf = []
        self._link_chars = 0
        self._total_chars = 0

    def close(self) -> None:
        super().close()
        self._flush()


def oracle_blocks(html: str) -> list[B.Block]:
    p = _OracleBlockParser()
    try:
        p.feed(html)
        p.close()
    except Exception:
        p._flush()
    return p.blocks


def oracle_main_text(html: str) -> str:
    return "\n".join(
        b.text for b in oracle_blocks(html)
        if b.total_chars > 0 and b.link_density < B.LINK_DENSITY_MAX
    )


def _assert_same(html: str) -> None:
    assert B.extract_blocks(html) == oracle_blocks(html), repr(html)
    assert B.extract_main_text(html) == oracle_main_text(html), repr(html)


# --------------------------------------------------------------------------
# the HTML block scanner
# --------------------------------------------------------------------------
ADVERSARIAL = [
    "",
    "plain text, no markup",
    # unclosed tags, at the end of the input and before more markup
    "<p>uno<div class=\"x",
    "<p>uno<div class='x' id=",
    "<p>uno<div",
    "<p>uno<a href=x",
    "<p>uno<a href=x/",
    "<p>uno</div",
    "<p>uno</",
    "texto <p unclosed <b>negrita</b> fin",
    # a bare `<`, `</>`, bogus comments, PIs, declarations
    "a < b y c <",
    "<p>x <</p><p>y << z</p>",
    "<p>antes</>despues</p>",
    "<p>a<!x>b<!>c<!->d</p>",
    "<p>a<?pi target?>b<?>c<?unclosed",
    "<!DOCTYPE html><p>doc</p>",
    "<!doctype html",
    "<p>a</ p>b</ div x>c</3>d</-x>e</p>",
    # comments
    "<p>a<!-- c -->b<!-- c --  >d<!---->e<!-->f-->g</p>",
    "<p>a<!-- never closed <p>b</p>",
    # marked sections, including the keyword the stdlib rejects
    "<p>a<![CDATA[x<p>y]]>b</p>",
    "<p>a<![if mso]>b<![endif]>c</p>",
    "<p>a<![else]>b<![include[c]]>d<![temp[e] ]\n>f</p>",
    "<p>a<![CDATA[never closed</p>",
    "<p>uno</p><p>dos<![foo[x]]><p>tres</p>",
    "<p>uno<![ x",
    "<p>uno<![",
    "<p>uno<![cdata",
    # script / style bodies are raw text
    "<p>a</p><script>if (x</div>) {<p>no</p>}</script><p>b</p>",
    "<p>a</p><script>x</script ><p>b</p>",
    "<p>a</p><STYLE>p{}</Style\n><p>b</p>",
    "<p>a</p><script>never closed <p>b</p>",
    "<p>a</p><script>x</ſcript><p>oculto</p></script><p>b</p>",
    "<p>a</p><script/><p>b</p>",
    "<p>a</p><script src=x/><p>b</p>",
    "<p>a</p><script a/b>x</script><p>b</p>",
    # uppercase, self-closing and bare-value slashes
    "<P>Mayus</P><DIV>Bloque</DIV><BR>x<Br/>y",
    "<p>a<br/>b<br />c<hr/>d<a/>e</p>",
    '<p>a<a href=x/>enlace</a> mas texto aqui</p>',
    '<p>a<a href="x"/>b<a href=\'y\' />c</p>',
    # attributes holding `>`, quotes, `=` and odd spacing
    '<p title="a>b">uno</p><p title=\'c>d\'>dos</p>',
    '<p a="x"b="y">uno</p><p a = "x" b = y >dos</p>',
    '<p a==b>uno</p><p a= >dos</p><p =x>tres</p><p a"b>cuatro</p>',
    '<p a=b"c>uno</p><p a=\'b>dos',
    '<p\x0b a=b>vt</p><p\xa0a=b>nbsp</p><p a=b\xa0>x</p>',
    "<p/a>uno</p><p/>dos</p><p //>tres</p>",
    # entities
    "<p>a &amp; b &#x41; &#65; &nbsp;c &bogus; & d &#1; &#xZZ; &</p>",
    "<p>&amp</p><p>x&</p><p>&#</p><p>&#x</p>",
    # nested blacklisted tags, links and link density
    "<nav><nav><p>x</p></nav><p>y</p></nav><p>z</p>",
    "</nav></nav><p>extra closes</p><nav><p>h</p>",
    "<p>texto <a>enlace largo y muy largo</a> fin</p>",
    "<div><a>a</a><a>b</a></a></a>texto</div>",
    "<aside><a>x</a></aside><p><a>enlace</a> texto real largo de verdad</p>",
]


@pytest.mark.parametrize("html", ADVERSARIAL)
def test_scanner_matches_oracle_adversarial(html):
    _assert_same(html)


def test_scanner_matches_oracle_synthetic_pages():
    """Every HTML page of three synthetic corpora (>= 20k pages)."""
    n = 0
    for seed in (11, 12, 13):
        for p in make_pages(8000, seed):
            if p.html.startswith(b"%PDF") or len(p.html) < 2:
                continue
            html = B.decode_html(p.html)
            assert B.extract_blocks(html) == oracle_blocks(html), p.url
            n += 1
    assert n >= 20_000


# fragments that reach every branch of the stdlib tokenizer rules
_FRAGMENTS = [
    "<", ">", "</", "/", "/>", " ", "\n", "\t", "\x0b", "\xa0", "=", '"', "'",
    "a", "p", "div", "br", "script", "style", "SCRIPT", "nav", "x", "href",
    "&amp;", "&", "&#x41;", "&nbsp;", "&#1;", "<!--", "-->", "--", "<!", "<?",
    "<![", "CDATA[", "]]>", "]>", "foo[", "if", "doctype", "<!DOCTYPE", "text",
    "Hola mundo", "ſ", "\x00", "-", ".", ":", "1", "A", "b", "<a ", "<p>",
    "</p>", "</div>", "<script>", "</script>", "</script >", "<style>",
    "</ style>", "li", "h1", "ul", "head", "</>", "<a href=x/>", "<br/>", "]",
    "[", "?", "!", "é", "\r", "\f", "==", "else", '<a href="x>y">', "</a>", "<nav>",
    "</nav>",
]


def _fuzz_html(rng: random.Random) -> str:
    return "".join(rng.choice(_FRAGMENTS) for _ in range(rng.randrange(1, 40)))


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_scanner_matches_oracle_fuzz(seed):
    """30k seeded fragment strings per seed (120k in all), plus 1k synthetic
    pages per seed with fragments spliced in."""
    rng = random.Random(seed)
    for _ in range(30_000):
        _assert_same(_fuzz_html(rng))
    pages = [p.html for p in make_pages(1200, 100 + seed) if p.html.startswith(b"<!")]
    for html_bytes in pages[:1000]:
        html = B.decode_html(html_bytes)
        for _ in range(3):
            at = rng.randrange(len(html))
            html = html[:at] + _fuzz_html(rng) + html[at:]
        _assert_same(html)


# --------------------------------------------------------------------------
# the person-row scan
# --------------------------------------------------------------------------
def _spans(matches) -> list:
    return [(m.span(), m.groups()) for m in matches]


def _assert_same_rows(text: str) -> None:
    for pattern in (P.PERSON_ROW, P.PERSON_ROW_STRICT):
        assert _spans(X._person_matches(pattern, text)) == _spans(pattern.finditer(text)), \
            (pattern.pattern, text)


def test_person_scan_matches_finditer_corpus_segments():
    n_rows = 0
    for seed in (11, 12):
        for p in make_pages(3000, seed):
            for _seg_no, text in _segment(p.html, p.text, 1)[0]:
                _assert_same_rows(text)
                n_rows += len(X.extract_persons(text))
    assert n_rows > 1000


_ROW_FRAGMENTS = [
    "A", "B", "JUAN", "PÉREZ", "Á", "Ú", "×", " ", "  ", "\n", "\t", ".",
    ",", "/", "|", " | ", "8-947-865", "1-2-3", "-", "1", "12", "467.50",
    "1,500.00", "x", "é", "ñ", "D.V. 86", "S.A.", "CTA 123",
]


@pytest.mark.parametrize("seed", [0, 1])
def test_person_scan_matches_finditer_fuzz(seed):
    """60k seeded fragment strings per seed (120k in all)."""
    rng = random.Random(seed)
    for _ in range(60_000):
        _assert_same_rows(
            "".join(rng.choice(_ROW_FRAGMENTS) for _ in range(rng.randrange(1, 30)))
        )
