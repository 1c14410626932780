"""HTML main-content extraction (boilerplate strip) — pure Python.

This is the web-payload analog of the reference's PDF split/text stage
(E1-E4, src/services/pdf_service.py:36-223): one raw `html` blob -> the
main-content text.  Per the north_rule it is a deterministic DOM heuristic:

1. tokenize with one compiled scanner (below; no external deps),
2. prune a tag blacklist (script/style/nav/header/footer/aside/form/...),
3. cut the DOM into text blocks at block-level tags,
4. score each block by link density (chars inside <a> / total chars),
5. keep non-empty blocks with link density < LINK_DENSITY_MAX,
6. join kept blocks with a single '\\n'; block text is whitespace-collapsed.

The scanner emits the event stream of CPython 3.11's ``html.parser``
(``convert_charrefs=True``, one ``feed`` plus ``close``).  The stream must
match chunk for chunk, not only in text: a block's ``total_chars`` sums
``len(chunk.strip())`` per text event.

* One master regex (`_TOKEN`) walks the common constructs linearly: a text
  run up to the next ``<`` (one event, entities unescaped), a start tag
  whose attributes are whitespace-separated names with optional quoted or
  bare values, an end tag, a closed comment, a closed ``<!...>``
  declaration and a closed ``<?...>`` processing instruction.
* ``script``/``style`` bodies are raw text up to ``</\\s*script\\s*>``
  (case-insensitive); an unclosed body swallows the rest of the input.
* Any other ``<`` takes `_markup`, which applies the stdlib tokenizer's
  rules inline with its regexes (copied below): a ``<`` that starts no
  construct is the text ``<``; a start tag whose attributes do not parse is
  text, verbatim; ``</>`` is nothing; an unterminated construct is text up
  to the next ``>`` (or ``<``); ``<![`` marked sections; and the
  ``<![name[`` with an unknown keyword, where the stdlib raises: the scan
  stops there and keeps the blocks parsed so far.

The output is the byte-identical `extracted_text` contract: fully
deterministic, no locale, no randomness, stable block order (document order).
Spans emitted by downstream extractors are offsets into this exact string.
tests/test_scanners.py checks the scanner against an ``HTMLParser``
subclass driving the same block model, kept there as the oracle.
"""

from __future__ import annotations

import re
from html import unescape
from typing import NamedTuple, Optional

# Ancestors whose entire subtree is boilerplate by construction.
BLACKLIST: frozenset[str] = frozenset(
    {
        "script", "style", "noscript", "template", "head", "nav", "header",
        "footer", "aside", "form", "button", "select", "option", "iframe",
        "svg", "figure", "figcaption",
    }
)

# Tags that terminate the current text block.
BLOCK_TAGS: frozenset[str] = frozenset(
    {
        "p", "div", "section", "article", "main", "body", "li", "ul", "ol",
        "h1", "h2", "h3", "h4", "h5", "h6", "table", "tr", "td", "th",
        "blockquote", "pre", "br", "hr", "dl", "dt", "dd",
    }
)

VOID_TAGS: frozenset[str] = frozenset({"br", "hr", "img", "input", "meta", "link"})

LINK_DENSITY_MAX = 0.34


class Block(NamedTuple):
    text: str       # whitespace-collapsed, stripped
    link_chars: int
    total_chars: int

    @property
    def link_density(self) -> float:
        return self.link_chars / self.total_chars if self.total_chars else 1.0


# -- the fast grammar ---------------------------------------------------------
# One match is the text up to the next `<` plus the markup there, if it is
# one the stdlib tokenizer reads the same way.  Start tag: an alphanumeric
# name, then attributes each preceded by [ \t\n\r\f] (the stdlib's tag-name
# terminators), then optional space and `/` before `>`.  A bare value runs
# to whitespace or `>` as in the stdlib, so `<a href=x/>` is a start tag,
# not a self-closing one.  Quantifiers are possessive: the stdlib's
# attribute loop never gives a character back.  A match with group 1 alone
# ends at the end of the input or at a `<` for `_markup`.
_TOKEN = re.compile(
    r"""
    ([^<]*+)                                            # 1 text
    (?:
      <([a-zA-Z][a-zA-Z0-9]*+)                          # 2 start tag name
      (?:[ \t\n\r\f]++[a-zA-Z_:][-a-zA-Z0-9_:.]*+
         (?:[ \t\n\r\f]*+=[ \t\n\r\f]*+
            (?:"[^"]*+"|'[^']*+'|(?!['"=])[^>\s]++))?
      )*+
      [ \t\n\r\f]*+(/?)>                                # 3 self-closing slash
    | </\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>               # 4 end tag name
    | (<!--.*?--\s*>                                    # 5 comment,
      |<!(?!--|\[)[^>]*+>                               #   doctype, bogus comment
      |<\?[^>]*+>)                                      #   or processing instruction
    )?
    """,
    re.VERBOSE | re.DOTALL,
)

# script/style bodies: raw text up to the closing tag (stdlib set_cdata_mode)
_RAW_TEXT_END = {
    tag: re.compile(r"</\s*%s\s*>" % tag, re.I) for tag in ("script", "style")
}

# -- CPython 3.11 html/parser.py and _markupbase.py tokenizer regexes ---------
_starttagopen = re.compile("<[a-zA-Z]")
_tagfind_tolerant = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_attrfind_tolerant = re.compile(
    r'((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*'
    r'(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*')
_locatestarttagend_tolerant = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""", re.VERBOSE)
_endtagfind = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_declname = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_markedsectionclose = re.compile(r"]\s*]\s*>")
_msmarkedsectionclose = re.compile(r"]\s*>")

# -- the block model ------------------------------------------------------------
# Tag events, and what each does to the block being built.
_NONE, _TEXT, _START, _END, _STARTEND = range(5)
_FLUSH, _BLACK_IN, _BLACK_OUT, _LINK_IN, _LINK_OUT, _RAW_TEXT = range(1, 7)
_ACTIONS: tuple[dict[str, int], ...] = (
    {},
    {},
    {**{t: _FLUSH for t in BLOCK_TAGS}, "a": _LINK_IN,
     **{t: _BLACK_IN for t in BLACKLIST}, **{t: _RAW_TEXT for t in _RAW_TEXT_END}},
    {**{t: _FLUSH for t in BLOCK_TAGS - VOID_TAGS}, "a": _LINK_OUT,
     **{t: _BLACK_OUT for t in BLACKLIST}},
    {t: _FLUSH for t in BLOCK_TAGS},
)
_START_ACTIONS, _END_ACTIONS, _STARTEND_ACTIONS = _ACTIONS[_START:]


def extract_blocks(html: str) -> list[Block]:
    """Tokenize HTML into candidate text blocks (document order).

    Text inside a blacklisted element is dropped; a block-level tag ends the
    current block; text inside <a> counts toward the block's link chars.
    Never raises: on malformed HTML it keeps the blocks parsed before the
    point where the stdlib parser gives up."""
    blocks: list[Block] = []
    buf: list[str] = []
    link_chars = total_chars = black_depth = link_depth = 0
    pos, n = 0, len(html)
    token = _TOKEN.match
    while True:
        m = token(html, pos)
        pos = m.end()
        text = m.group(1)
        if text and not black_depth:
            if "&" in text:
                text = unescape(text)
            buf.append(text)
            k = len(text.strip())
            total_chars += k
            if link_depth:
                link_chars += k
        kind = m.lastindex
        if kind == 3:
            tag = m.group(2).lower()
            act = (_STARTEND_ACTIONS if m.group(3) else _START_ACTIONS).get(tag)
        elif kind == 4:
            act = _END_ACTIONS.get(m.group(4).lower())
        elif kind == 5:
            continue
        elif pos == n:
            break
        else:
            step = _markup(html, pos)
            if step is None:
                break
            pos, kind, tag = step
            if kind == _TEXT:  # one more text event, as the stdlib reports it
                if tag and not black_depth:
                    buf.append(tag)
                    k = len(tag.strip())
                    total_chars += k
                    if link_depth:
                        link_chars += k
                continue
            act = _ACTIONS[kind].get(tag)
        if act == _FLUSH:
            text = " ".join("".join(buf).split())
            if text:
                blocks.append(Block(text, link_chars, total_chars))
            buf = []
            link_chars = total_chars = 0
        elif act == _BLACK_IN:
            black_depth += 1
        elif act == _BLACK_OUT:
            if black_depth:
                black_depth -= 1
        elif act == _LINK_IN:
            link_depth += 1
        elif act == _LINK_OUT:
            if link_depth:
                link_depth -= 1
        elif act == _RAW_TEXT:
            # a blacklisted script/style body: its text is dropped, and its
            # end tag undoes the start's black depth
            pos = _raw_text_end(html, pos, tag)
            if pos < 0:
                break
    text = " ".join("".join(buf).split())
    if text:
        blocks.append(Block(text, link_chars, total_chars))
    return blocks


def _raw_text_end(html: str, pos: int, tag: str) -> int:
    """Position after the end tag of a script/style body starting at `pos`,
    or -1 if the body runs to the end of the input."""
    close = _RAW_TEXT_END[tag].search
    while True:
        m = close(html, pos)
        if m is None:
            return -1
        pos = m.end()
        # a close found only through case folding (`</ſcript>`) is body text
        end = _endtagfind.match(html, m.start())
        if end and end.group(1).lower() == tag:
            return pos


def _markup(html: str, i: int) -> Optional[tuple[int, int, str]]:
    """The stdlib tokenizer's rules for a `<` at `i` that `_TOKEN` did not
    take.  Returns (position after it, event kind, tag or text), or None
    where the stdlib raises (an unknown marked-section keyword)."""
    if _starttagopen.match(html, i):
        step = _parse_starttag(html, i)
    elif html.startswith("</", i):
        step = _parse_endtag(html, i)
    elif html.startswith("<![", i):
        k = _parse_marked_section(html, i)
        if k is None:
            return None
        step = (k, _NONE, "")
    elif html.startswith("<!", i) or html.startswith("<?", i):
        step = _UNTERMINATED  # `_TOKEN` takes every closed one
    else:
        return i + 1, _TEXT, "<"
    if step[0] >= 0:
        return step
    # unterminated at the end of the input: text up to the next `>` or `<`
    k = html.find(">", i + 1)
    if k < 0:
        k = html.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    return k, _TEXT, unescape(html[i:k])


_UNTERMINATED = (-1, _NONE, "")


def _parse_starttag(html: str, i: int) -> tuple[int, int, str]:
    endpos = _check_for_whole_start_tag(html, i)
    if endpos < 0:
        return _UNTERMINATED
    m = _tagfind_tolerant.match(html, i + 1)
    k = m.end()
    tag = m.group(1).lower()
    while k < endpos:
        m = _attrfind_tolerant.match(html, k)
        if not m:
            break
        k = m.end()
    end = html[k:endpos].strip()
    if end not in (">", "/>"):
        return endpos, _TEXT, html[i:endpos]
    return endpos, _STARTEND if end.endswith("/>") else _START, tag


def _check_for_whole_start_tag(html: str, i: int) -> int:
    j = _locatestarttagend_tolerant.match(html, i).end()
    nxt = html[j:j + 1]
    if nxt == ">":
        return j + 1
    if nxt == "/":
        return j + 2 if html.startswith("/>", j) else -1
    if nxt == "" or nxt in "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ":
        return -1
    return j if j > i else i + 1


def _parse_endtag(html: str, i: int) -> tuple[int, int, str]:
    gtpos = html.find(">", i + 1)
    if gtpos < 0:
        return _UNTERMINATED
    # (an end tag `_endtagfind` matches is `_TOKEN` group 4, never this path)
    m = _tagfind_tolerant.match(html, i + 2)
    if not m:
        # `</>` is nothing; otherwise a bogus comment up to the first `>`
        return i + 3 if html.startswith("</>", i) else gtpos + 1, _NONE, ""
    return html.find(">", m.end()) + 1, _END, m.group(1).lower()


def _parse_marked_section(html: str, i: int) -> Optional[int]:
    if i + 3 == len(html):
        return -1
    m = _declname.match(html, i + 3)
    if not m:
        return None
    if m.end() == len(html):
        return -1
    name = m.group().strip().lower()
    if name in {"temp", "cdata", "ignore", "include", "rcdata"}:
        close = _markedsectionclose.search(html, i + 3)
    elif name in {"if", "else", "endif"}:
        close = _msmarkedsectionclose.search(html, i + 3)
    else:
        return None
    return close.end() if close else -1


def extract_main_text(html: str) -> str:
    """Boilerplate-strip: keep low-link-density blocks, join with '\\n'.

    This string is the byte-identical-per-url contract.
    """
    kept = [
        b.text
        for b in extract_blocks(html)
        if b.total_chars > 0 and b.link_density < LINK_DENSITY_MAX
    ]
    return "\n".join(kept)


def decode_html(html_bytes: bytes) -> str:
    """Deterministic bytes -> str: UTF-8 with replacement (never throws)."""
    return html_bytes.decode("utf-8", errors="replace")
