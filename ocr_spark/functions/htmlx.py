"""HTML DOM tokenizer + shallow-feature boilerplate scoring.

Spec: BASELINE.json:6 — "tokenizes ... HTML DOM fragments in batches"
and "strips boilerplate with text-density/link-ratio DOM scoring".
Algorithm family: Boilerpipe / Readability shallow text features
(Kohlschütter, Fankhauser, Nejdl, WSDM 2010 — [public]).  Reference
code: REF:unavailable (SURVEY.md §0).

Deterministic block model (the contract both the Spark pipeline and the
independent test oracle implement):
  - block-level tags: p div li h1-h6 td th pre blockquote article section
  - subtrees under nav/header/footer/aside/script/style/noscript are
    boilerplate wholesale (never emitted)
  - text binds to the innermost open block; ``<a>`` text also counts
    toward the block's link-char total
  - resource-bearing elements (``img``, ``video``, ``audio``,
    ``source``) emit a media item at their position in the block
    stream, media_ref = the src attribute, else ``data-src`` (the
    lazy-loading idiom), else the first ``srcset`` / ``data-srcset``
    candidate URL; non-img tags emit only when they carry a reference
  - keep a block iff  link_ratio <= html_max_link_ratio AND
    words >= html_min_words,  OR tag in h1..h6 AND
    words >= html_heading_min_words
  - ``<table>`` subtrees are LINEARIZED, not shredded: all cell text
    (td/th/caption) collects into one item (tag 'table') with cells
    joined by `` | `` and rows by `` ; `` — a data table survives as one
    content span instead of dying cell-by-cell under html_min_words,
    while a nav/layout table of links fails the link-ratio gate as a
    unit (the classic boilerplate signal).  Nested tables fold their
    linearized text into the enclosing cell; block tags inside cells
    bind their text to the cell; media items inside tables still emit
    (ordered after the table item, whose order is its open position).
    Keep rule: link_ratio <= html_max_link_ratio AND cell-word count
    (separators excluded) >= html_min_words
  - emitted text is whitespace-collapsed

Tokenizer: one regex scanner (``_scan``) reads the markup and drives
the block model's ``handle_*`` methods.  It reads tags the way the
standard library's HTML parser does; the tests drive the same block
model from that parser as the reference and compare item for item:
  - attributes follow the stdlib parser's ``attrfind_tolerant``: names
    are lowercased, values are quoted or bare, charrefs in values are
    decoded; a bare value keeps a trailing ``/`` (``<img src=a.png/>``
    is ``a.png/`` and not self-closing); of duplicate attributes the
    first wins, as in the HTML standard
  - ``</`` followed by a letter, after optional whitespace, is an end
    tag; any other ``</…>`` (``</>``, ``</ 1>``) is a bogus comment and
    is ignored
  - markup that never closes (``<a b="x>`` with no closing quote, an
    unterminated comment) and a stray ``<`` are text
  - ``script``/``style`` content is raw text up to its end tag

Pure Python — vectorized over Arrow batches in mapInPandas; no Spark
imports here.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html import unescape

from ocr_spark.config import DEFAULT, ExtractConfig

BLOCK_TAGS = {
    "p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6",
    "td", "th", "pre", "blockquote", "article", "section",
}
SKIP_TAGS = {"nav", "header", "footer", "aside", "script", "style", "noscript"}
HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
#: resource-bearing elements that emit media items.  <img> emits
#: unconditionally (legacy/golden behavior); the others only when they
#: actually carry a reference, so a bare <video> container wrapping
#: <source> children adds no empty item.  A <picture> fallback chain
#: (<source srcset> + <img src>) therefore emits one item per candidate
#: resource — downstream dedup by media_ref collapses them.
MEDIA_TAGS = {"img", "video", "audio", "source"}

_WS = re.compile(r"\s+")


def _media_ref(attrs: list[tuple[str, str | None]]) -> str:
    """src, else data-src (the lazy-loading idiom — real pages park the
    URL there and let JS promote it, so an src-only reader drops every
    below-the-fold image), else the first non-empty srcset /
    data-srcset candidate URL ('url 640w, ...').  Of duplicate
    attributes the first wins."""
    a = dict(reversed(attrs))
    src = a.get("src") or a.get("data-src")
    if src:
        return src
    srcset = a.get("srcset") or a.get("data-srcset") or ""
    return next((c.split()[0] for c in srcset.split(",") if c.strip()), "")


@dataclass
class HtmlItem:
    kind: str              # 'text' | 'media'
    tag: str               # block tag ('' for media)
    text: str | None
    media_ref: str | None
    words: int
    link_ratio: float
    label: str             # 'content' | 'boilerplate' | 'media'


class _BlockParser:
    """Streaming block extractor; document order = block-open order.
    A tokenizer drives it through the ``handle_*`` methods (the names
    and arguments of the stdlib HTML parser's hooks), then calls
    ``finish``."""

    def __init__(self) -> None:
        self.items: list[tuple[int, str, str | None]] = []  # (seq, type, payload)
        self._seq = 0
        self._skip = 0
        self._blocks: list[dict] = []   # stack of open blocks
        self._tables: list[dict] = []   # stack of open <table> collectors
        self._link = 0                  # <a> nesting depth

    # -- helpers --
    def _open_block(self, tag: str) -> None:
        self._blocks.append({"tag": tag, "chars": [], "link_chars": 0, "seq": self._seq})
        self._seq += 1

    def _close_block(self) -> None:
        if not self._blocks:
            return
        b = self._blocks.pop()
        text = _WS.sub(" ", "".join(b["chars"])).strip()
        n_chars = len(text)
        link_ratio = (b["link_chars"] / n_chars) if n_chars else 0.0
        self.items.append((b["seq"], "block", (b["tag"], text, link_ratio)))

    def _close_cell(self, t: dict) -> None:
        if t["cell"] is not None:
            text = _WS.sub(" ", "".join(t["cell"])).strip()
            t["row"].append(text)
            t["chars"] += len(text)
            t["cell"] = None

    def _close_row(self, t: dict) -> None:
        if t["row"] is not None:
            if any(t["row"]):
                t["rows"].append(t["row"])
            t["row"] = None

    def _close_table(self) -> None:
        t = self._tables.pop()
        self._close_cell(t)
        self._close_row(t)
        text = " ; ".join(" | ".join(r) for r in t["rows"])
        if self._tables and self._tables[-1]["cell"] is not None:
            # nested table: fold its linearized text into the enclosing
            # cell (its link chars carry up so the OUTER table's ratio
            # still sees nested nav links)
            parent = self._tables[-1]
            parent["cell"].append(" " + text + " ")
            parent["link_chars"] += t["link_chars"]
            return
        n_chars = t["chars"]
        link_ratio = (t["link_chars"] / n_chars) if n_chars else 0.0
        self.items.append((t["seq"], "block", ("table", text, link_ratio)))

    # -- tokenizer events --
    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self._skip += 1
            return
        if self._skip:
            return
        if tag == "a":
            self._link += 1
        if tag in MEDIA_TAGS:
            ref = _media_ref(attrs)
            if ref or tag == "img":
                self.items.append((self._seq, "media", ref))
                self._seq += 1
        if tag == "table":
            self._tables.append({"seq": self._seq, "rows": [],
                                 "row": None, "cell": None,
                                 "chars": 0, "link_chars": 0})
            self._seq += 1
            return
        if self._tables:
            t = self._tables[-1]
            if tag == "tr":
                self._close_cell(t)
                self._close_row(t)
                t["row"] = []
            elif tag in ("td", "th", "caption"):
                self._close_cell(t)
                if t["row"] is None:
                    t["row"] = []
                t["cell"] = []
            elif tag in BLOCK_TAGS and t["cell"] is not None:
                # block tags inside a cell bind their text to the cell;
                # a block boundary is a visual break, so inject a space
                # (collapsed later) to keep adjacent </p><p> words apart
                t["cell"].append(" ")
            return
        if tag in BLOCK_TAGS:
            self._open_block(tag)

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag not in SKIP_TAGS:
            self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
            return
        if self._skip:
            return
        if tag == "a":
            self._link = max(0, self._link - 1)
        if self._tables:
            t = self._tables[-1]
            if tag in ("td", "th", "caption"):
                self._close_cell(t)
            elif tag == "tr":
                self._close_cell(t)
                self._close_row(t)
            elif tag == "table":
                self._close_table()
            elif tag in BLOCK_TAGS and t["cell"] is not None:
                t["cell"].append(" ")   # block boundary → visual break
            # other close tags inside a table are ignored (same
            # nesting-slop tolerance as blocks)
            return
        if tag in BLOCK_TAGS and self._blocks:
            # close innermost matching block (tolerate mild nesting slop)
            if self._blocks[-1]["tag"] == tag:
                self._close_block()

    def handle_data(self, data):
        if self._skip:
            return
        if self._tables:
            t = self._tables[-1]
            if t["cell"] is not None:
                t["cell"].append(data)
                if self._link:
                    t["link_chars"] += len(_WS.sub(" ", data).strip())
            return
        if not self._blocks:
            return
        b = self._blocks[-1]
        b["chars"].append(data)
        if self._link:
            b["link_chars"] += len(_WS.sub(" ", data).strip())

    def finish(self) -> None:
        """Close the tables and blocks still open at the end of input."""
        while self._tables:
            self._close_table()
        while self._blocks:
            self._close_block()


# The tokenizer.  Every "<" starts one _SCAN match, so the text between
# two matches holds no "<" and is one data event, as in the stdlib HTML
# parser.  Start tags and attributes use that parser's grammar
# (attrfind_tolerant), read without backtracking as it reads them.
# Markup that does not close is text up to the next ">" (else up to the
# next "<"), and a stray "<" is text on its own.  On the corpus
# fragments tokenize_html runs about twice as fast as the stdlib parser
# driving the same block model.
_ATTR = re.compile(r"""(?<=['"\s/])([^\s/>][^\s/=>]*)"""
                   r"""(?:\s*=+\s*('[^']*'|"[^"]*"|(?!['"])[^>\s]*))?""")
_SEP = r"(?:\s|/(?!>))*"
_SCAN = re.compile(
    r"<(?:!--.*?--\s*>"                                       # comment
    r"|!\[(?:(?i:cdata|temp|ignore|include|rcdata)(?![-_.a-zA-Z0-9]).*?\]\s*\]"
    r"|(?i:if|else|endif)(?![-_.a-zA-Z0-9]).*?\])\s*>"        # marked section
    r"|!(?!--|\[)[^>]*>|\?[^>]*>"                             # doctype, bogus comment, PI
    r"|/(?:\s*(?P<end>[a-zA-Z][-.a-zA-Z0-9:_]*)\s*"           # end tag
    r"|(?P<end2>[a-zA-Z][^\t\n\r\f />\x00]*)[^>]*|[^>]*)>"    # ... with junk; </>: ignored
    r"|(?P<tag>[a-zA-Z][^\t\n\r\f />\x00]*+)"                 # start tag
    rf"(?P<attrs>(?>{_SEP}(?:{_ATTR.pattern}{_SEP})*))(?P<selfclose>/?)>"
    r"|(?P<text>[a-zA-Z/!?](?:[^>]*>|[^<>]*(?=<))|))",        # unclosed markup, stray <
    re.S,
)
_RAWTEXT_END = {t: re.compile(rf"</\s*{t}\s*>", re.I) for t in ("script", "style")}


def _attrs(fragment: str, start: int, end: int) -> list[tuple[str, str | None]]:
    """(name, value) pairs of the attributes in fragment[start:end]."""
    out = []
    for m in _ATTR.finditer(fragment, start, end):
        name, value = m.groups()
        if value and value[0] in "'\"":
            value = value[1:-1]
        out.append((name.lower(), unescape(value) if value else value))
    return out


def _scan(fragment: str, sink: _BlockParser) -> None:
    """Drive sink's handle_* methods over the fragment's markup."""
    pos, n = 0, len(fragment)
    while pos < n:
        m = _SCAN.search(fragment, pos)
        s = m.start() if m else n
        if s > pos:
            data = fragment[pos:s]
            sink.handle_data(unescape(data) if "&" in data else data)
        if m is None:
            return
        pos = m.end()
        tag = m["tag"]
        if tag is None:
            if m["text"] is not None:
                data = m.group()
                sink.handle_data(unescape(data) if "&" in data else data)
            elif end := m["end"] or m["end2"]:
                sink.handle_endtag(end.lower())
            continue   # comment, declaration, PI: ignored
        tag = tag.lower()
        attrs = _attrs(fragment, *m.span("attrs")) if tag in MEDIA_TAGS else []
        if m["selfclose"]:
            sink.handle_startendtag(tag, attrs)
            continue
        sink.handle_starttag(tag, attrs)
        if tag in _RAWTEXT_END:
            # script/style content is never markup (skipped unread); left
            # open, it runs to the end of the input
            close = _RAWTEXT_END[tag].search(fragment, pos)
            if close is None:
                return
            sink.handle_endtag(tag)
            pos = close.end()


def _classify(items, cfg: ExtractConfig) -> list[HtmlItem]:
    """The block model's items in document order, scored and labelled."""
    out: list[HtmlItem] = []
    for _seq, typ, payload in sorted(items, key=lambda t: t[0]):
        if typ == "media":
            out.append(HtmlItem("media", "", None, payload or None, 0, 0.0, "media"))
            continue
        tag, text, link_ratio = payload
        # a table's word count excludes the cell/row separator tokens
        words = (sum(1 for w in text.split() if w not in ("|", ";"))
                 if tag == "table" else len(text.split()))
        keep = (link_ratio <= cfg.html_max_link_ratio and words >= cfg.html_min_words) or (
            tag in HEADING_TAGS and words >= cfg.html_heading_min_words
        )
        out.append(HtmlItem(
            "text", tag, text or None, None, words, link_ratio,
            "content" if keep else "boilerplate",
        ))
    return out


def tokenize_html(fragment: str, cfg: ExtractConfig = DEFAULT) -> list[HtmlItem]:
    """E4+E5+E6 for one HTML payload → ordered classified items."""
    p = _BlockParser()
    try:
        _scan(fragment, p)
        p.finish()
    except Exception:
        pass
    return _classify(p.items, cfg)


def extract_html_items(fragment: str, cfg: ExtractConfig = DEFAULT) -> list[HtmlItem]:
    """Only the surviving (content/media) items, in document order."""
    return [it for it in tokenize_html(fragment, cfg) if it.label != "boilerplate"]
