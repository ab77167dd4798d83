"""HTML bytes -> flat block-DOM, on the stdlib ``html.parser`` only.

This is the Spark-friendly replacement for the recursive DoclingDocument
tree the reference builds (asserted shape in
/root/reference/tests/test_1-url-all-outputs.py:86-91): instead of a
tree, a flat ``list[Block]`` in document order — Arrow-friendly,
explodes cleanly (SURVEY.md §1.4).

Parsing is tolerant: unclosed/malformed tags never raise (the generator
includes malformed variants on purpose); entity refs are decoded by
``convert_charrefs=True``; non-UTF8 inputs fall back to latin-1.

Everything here is pure Python on bytes/str — it runs identically as the
row-at-a-time oracle in tests and inside the mapInArrow kernel.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html.parser import HTMLParser

# elements whose entire content is dropped (never content, never scored)
_SKIP = {"script", "style", "noscript", "template", "svg", "head", "title",
         "iframe", "object", "button", "select", "option", "label", "canvas"}
# boilerplate landmarks: subtree is heavily damped during scoring
_BOILER = {"nav", "header", "footer", "aside", "form"}
# semantic main-content landmarks: container boost
_SEMANTIC = {"article", "main"}
# block-level elements that become Block rows
_BLOCK = {"h1", "h2", "h3", "h4", "h5", "h6", "p", "li", "pre",
          "blockquote", "dt", "dd", "caption", "figcaption"}
# structural containers (candidates for main-content cluster selection)
_CONTAINER = {"html", "body", "div", "section", "article", "main", "nav",
              "header", "footer", "aside", "ul", "ol", "table", "form",
              "figure", "details", "blockquote", "li", "dl"}
_VOID = {"br", "hr", "img", "meta", "link", "input", "source", "wbr",
         "area", "base", "col", "embed", "track", "param"}
# class/id hints that mark a container as boilerplate (trafilatura-style
# attribute heuristics, per the north_star's boilerplate-strip mandate)
_BOILER_ATTR = re.compile(
    r"(?:^|[\s_-])(nav|menu|footer|header|banner|cookie|consent|sidebar|"
    r"related|share|social|comment|comments|widget|promo|ad|ads|advert|"
    r"breadcrumb|pagination|subscribe|newsletter)(?:$|[\s_-])")

_KIND = {"p": "para", "li": "list_item", "pre": "code",
         "blockquote": "quote", "dt": "para", "dd": "para",
         "caption": "caption", "figcaption": "caption"}


def collapse_ws(s: str) -> str:
    """Whitespace normalization rule — defined ONCE for oracle + kernel."""
    return " ".join(s.split())


@dataclass
class Block:
    idx: int
    tag: str
    kind: str            # heading|para|list_item|code|quote|table|caption
    path: str            # element path of the block itself
    container_path: str  # path of the enclosing container chain
    depth: int
    text: str
    link_chars: int
    boiler: bool         # under nav/header/footer/aside/form
    semantic: bool       # under article/main
    heading_level: int = 0
    li_index: int = 0    # 1-based within <ol>, 0 in <ul>
    cells: tuple[tuple[str, ...], ...] | None = None  # table blocks only
    src: str | None = None  # image blocks only (kind == "image")

    @property
    def chars(self) -> int:
        return len(self.text)

    @property
    def link_density(self) -> float:
        return (self.link_chars / self.chars) if self.chars else 0.0


class _Parser(HTMLParser):
    def __init__(self, capture_anchors: bool = False) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        # opt-in anchor capture (parse_anchors): OFF on the extraction
        # hot path so the fast tokenizer keeps skipping <a> attribute
        # parsing there.  anchors = (href, text, boiler, semantic) in
        # document order; nested <a> (invalid HTML) flows into the
        # outermost anchor's text, matching a_depth semantics.
        self.capture_anchors = capture_anchors
        self.anchors: list[tuple] = []
        self._a_href: str | None = None
        self._a_buf: list | None = None
        # element stack entries: [tag, path_seg, child_counts, li_counter,
        # boiler_inc, semantic_inc, full_path] — full_path caches the
        # "/".join of segs up to this entry (O(1) _path instead of a
        # per-block join over the stack)
        self.stack: list[list] = []
        self.skip = 0
        self.a_depth = 0
        self.pre_depth = 0
        self.bq_depth = 0
        self.boiler_depth = 0
        self.semantic_depth = 0
        # open block: [tag, kind, path, container_path, depth, pieces,
        #              link_chars, li_index]
        self.cur: list | None = None
        # implicit-text buffer for text directly inside containers
        self.pending: list | None = None  # [pieces, link_chars, path_info]
        # stack of table contexts: [rows, cur_row, cur_cell_pieces,
        #                           link_chars, in_cell, path, cpath, depth]
        self.tables: list[list] = []
        self.ol_stack: list[bool] = []  # True if current list is <ol>
        # sibling counters of the top-level elements
        self._root_counts: dict[str, int] = {}
        # source offset of the start tag being handled (_fast_feed only)
        self.tag_start = 0

    # -- path helpers ---------------------------------------------------
    def _child_seg(self, tag: str) -> str:
        counts = self.stack[-1][2] if self.stack else self._root_counts
        counts[tag] = counts.get(tag, 0) + 1
        return f"{tag}[{counts[tag]}]"

    def _path(self) -> str:
        return self.stack[-1][6] if self.stack else ""

    def _push(self, tag: str, seg: str, boiler_inc: bool = False,
              semantic_inc: bool = False) -> None:
        parent = self.stack[-1][6] if self.stack else ""
        self.stack.append([tag, seg, {}, 0, boiler_inc, semantic_inc,
                           f"{parent}/{seg}" if parent else seg])

    # -- block lifecycle ------------------------------------------------
    def _flush_cur(self) -> None:
        if self.cur is None:
            return
        tag, kind, path, cpath, depth, pieces, link_chars, li_index = self.cur
        self.cur = None
        raw = "".join(pieces)
        text = raw.strip("\n").rstrip() if kind == "code" else collapse_ws(raw)
        if not text:
            return
        self.blocks.append(Block(
            idx=len(self.blocks), tag=tag, kind=kind, path=path,
            container_path=cpath, depth=depth, text=text,
            link_chars=min(link_chars, len(text)),
            boiler=self.boiler_depth > 0, semantic=self.semantic_depth > 0,
            heading_level=int(tag[1]) if tag[0] == "h" and tag[1:].isdigit() else 0,
            li_index=li_index))

    def _flush_pending(self) -> None:
        if self.pending is None:
            return
        pieces, link_chars, path, cpath, depth = self.pending
        self.pending = None
        text = collapse_ws("".join(pieces))
        if not text:
            return
        self.blocks.append(Block(
            idx=len(self.blocks), tag="_text", kind="para",
            path=path, container_path=cpath, depth=depth, text=text,
            link_chars=min(link_chars, len(text)),
            boiler=self.boiler_depth > 0, semantic=self.semantic_depth > 0))

    def _open_block(self, tag: str) -> None:
        self._flush_pending()
        self._flush_cur()   # blocks don't nest: new block closes the open one
        seg = self._child_seg(tag)
        cpath = self._path()
        li_index = 0
        if tag == "li" and self.ol_stack and self.ol_stack[-1]:
            self.stack[-1][3] += 1
            li_index = self.stack[-1][3]
        kind = ("quote" if self.bq_depth > 0 and tag != "pre"
                else "heading" if tag[0] == "h" and tag[1:].isdigit()
                else _KIND.get(tag, "para"))
        path = f"{cpath}/{seg}" if cpath else seg
        self.cur = [tag, kind, path, cpath, len(self.stack), [], 0, li_index]

    # -- HTMLParser hooks -----------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        # tag arrives lowercase from BOTH engines (html.parser lowers
        # in goahead; _fast_feed lowers at the call site)
        if tag in _VOID:
            if tag == "br" and self.cur is not None:
                self.cur[5].append("\n")
            elif tag == "img" and not self.skip and not self.tables:
                # pictures are standalone block items (like the
                # reference's DoclingDocument picture items): an inline
                # <img> closes the open text block
                src = next((v for k, v in (attrs or ()) if k == "src"), None)
                self._flush_pending()
                self._flush_cur()
                seg = self._child_seg("img")
                cpath = self._path()
                self.blocks.append(Block(
                    idx=len(self.blocks), tag="img", kind="image",
                    path=f"{cpath}/{seg}" if cpath else seg,
                    container_path=cpath, depth=len(self.stack), text="",
                    link_chars=0, boiler=self.boiler_depth > 0,
                    semantic=self.semantic_depth > 0, src=src))
            return
        if self.skip or tag in _SKIP:
            self.skip += 1
            return
        if tag == "a":
            if self.capture_anchors and self.a_depth == 0:
                href = ""
                for name, val in attrs or ():
                    if name == "href":
                        href = val or ""
                        break
                self._a_href, self._a_buf = href, []
            self.a_depth += 1
            return
        if tag in ("b", "i", "em", "strong", "span", "u", "s", "small",
                   "mark", "sub", "sup", "code", "abbr", "time", "cite", "q"):
            return  # inline: text flows into the current block
        if tag == "table":
            self._flush_pending()
            self._flush_cur()
            seg = self._child_seg(tag)
            cpath = self._path()
            path = f"{cpath}/{seg}" if cpath else seg
            self.tables.append([[], None, [], 0, False, path, cpath,
                                len(self.stack)])
            self._push(tag, seg)
            return
        if self.tables and tag in ("tr", "td", "th", "thead", "tbody", "tfoot"):
            t = self.tables[-1]
            if tag == "tr":
                t[1] = []
            elif tag in ("td", "th"):
                if t[1] is None:
                    t[1] = []
                t[2] = []
                t[4] = True
            return
        if tag in _BLOCK:
            self._open_block(tag)
            if tag == "pre":
                self.pre_depth += 1
            if tag == "blockquote":
                self.bq_depth += 1
                # blockquote is also a container for nested <p>
                self._push(tag, self.cur[2].rsplit("/", 1)[-1])
            return
        if tag in _CONTAINER:
            self._flush_pending()
            self._flush_cur()
            seg = self._child_seg(tag)
            boiler_inc = tag in _BOILER or self._attr_boiler(attrs)
            semantic_inc = tag in _SEMANTIC
            self._push(tag, seg, boiler_inc, semantic_inc)
            if boiler_inc:
                self.boiler_depth += 1
            if semantic_inc:
                self.semantic_depth += 1
            if tag in ("ul", "ol"):
                self.ol_stack.append(tag == "ol")
            return
        # unknown tag: ignore

    def handle_endtag(self, tag: str) -> None:
        if self.skip:
            if tag in _SKIP:
                self.skip -= 1
            return
        if tag == "a":
            self.a_depth = max(0, self.a_depth - 1)
            if self.a_depth == 0 and self._a_buf is not None:
                self._close_anchor()
            return
        if self.tables and tag in ("td", "th", "tr", "thead", "tbody",
                                   "tfoot", "table"):
            t = self.tables[-1]
            if tag in ("td", "th"):
                cell = collapse_ws("".join(t[2]))
                if t[1] is None:
                    t[1] = []
                t[1].append(cell)
                t[2] = []
                t[4] = False
            elif tag == "tr":
                if t[1] is not None:
                    t[0].append(tuple(t[1]))
                t[1] = None
            elif tag == "table":
                if t[1]:
                    t[0].append(tuple(t[1]))
                self.tables.pop()
                self._pop_to("table")
                rows = tuple(r for r in t[0] if any(c for c in r))
                text = "\n".join(" | ".join(r) for r in rows)
                if text:
                    self.blocks.append(Block(
                        idx=len(self.blocks), tag="table", kind="table",
                        path=t[5], container_path=t[6], depth=t[7],
                        text=text, link_chars=min(t[3], len(text)),
                        boiler=self.boiler_depth > 0,
                        semantic=self.semantic_depth > 0, cells=rows))
            return
        if tag in _BLOCK:
            if tag == "pre" and self.pre_depth:
                self.pre_depth -= 1
            if tag == "blockquote":
                self.bq_depth = max(0, self.bq_depth - 1)
                self._flush_pending()
                self._pop_to("blockquote")
            if self.cur is not None and self.cur[0] == tag:
                self._flush_cur()
            return
        if tag in _CONTAINER:
            self._flush_pending()
            self._flush_cur()
            self._pop_to(tag)
            return

    @staticmethod
    def _attr_boiler(attrs) -> bool:
        for name, val in attrs or ():
            if name in ("class", "id", "role") and val \
                    and _BOILER_ATTR.search(val.lower()):
                return True
        return False

    def _pop_to(self, tag: str) -> None:
        """Tolerant close: pop to the nearest matching open tag, if any."""
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i][0] == tag:
                for e in self.stack[i:]:
                    if e[4]:
                        self.boiler_depth = max(0, self.boiler_depth - 1)
                    if e[5]:
                        self.semantic_depth = max(0, self.semantic_depth - 1)
                    if e[0] in ("ul", "ol") and self.ol_stack:
                        self.ol_stack.pop()
                del self.stack[i:]
                return

    def _close_anchor(self) -> None:
        self.anchors.append((self._a_href,
                             collapse_ws("".join(self._a_buf)),
                             self.boiler_depth > 0,
                             self.semantic_depth > 0))
        self._a_href = self._a_buf = None

    def handle_data(self, data: str) -> None:
        if self.skip or not data:
            return
        if self._a_buf is not None:
            self._a_buf.append(data)
        if self.tables and self.tables[-1][4]:
            self.tables[-1][2].append(data)
            if self.a_depth:
                self.tables[-1][3] += len(collapse_ws(data))
            return
        if self.cur is not None:
            self.cur[5].append(data)
            if self.a_depth:
                self.cur[6] += len(collapse_ws(data))
            return
        if self.pending is None and not data.strip():
            return  # never START an implicit block on pure whitespace
        if self.pending is None:
            cpath = self._path()
            self.pending = [[], 0, f"{cpath}/_text" if cpath else "_text",
                            cpath, len(self.stack)]
        self.pending[0].append(data)
        if self.a_depth:
            self.pending[1] += len(collapse_ws(data))

    def _finalize(self) -> None:
        """EOF: flush whatever is still open.  skip MUST be reset first:
        an unterminated <script>/<svg>/... leaves skip>0, and a skipping
        handle_endtag("table") returns without popping — the drain loop
        below would never terminate (found by fuzzing: an open <table>
        followed by an unterminated rawtext/skip element)."""
        self.skip = 0
        if self._a_buf is not None:  # unterminated <a>
            self._close_anchor()
        self._flush_pending()
        self._flush_cur()
        while self.tables:
            self.handle_endtag("table")

    def close(self) -> None:
        super().close()
        self._finalize()


def decode_html(payload: bytes) -> str:
    """utf-8 with latin-1 fallback (FIXTURES.md §2 'non-UTF8 bytes')."""
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        return payload.decode("latin-1")


# ---------------------------------------------------------------------------
# fast tokenizer: drives the SAME _Parser state machine as html.parser,
# replacing only stdlib goahead/parse_starttag (pure-Python char-at-a-time,
# ~60% of extraction cost) with bulk regex scanning.  Block semantics are
# identical by construction (one shared handler set); a corpus-parity test
# asserts equality against the html.parser reference path.
# ---------------------------------------------------------------------------

_TOKEN = re.compile(
    r"<!--.*?(?:-->|$)"          # comments (unterminated: to EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*>"                 # doctype / declarations
    r"|<\?[^>]*>"                # processing instructions
    # start tag: name + body captured in place, so a tag costs one
    # regex match
    r"|<(?P<s>[a-zA-Z][a-zA-Z0-9:-]*)(?P<sb>[^>]*)>"
    # end tag: html.parser accepts whitespace after '</'; an
    # unterminated '</name' at EOF is NOT an event — like html.parser,
    # the unmatched tail falls through to the gap/text path as data
    r"|</\s*(?P<e>[a-zA-Z][a-zA-Z0-9:-]*)[^>]*>"
    r"|</[^>]*>"                 # bogus end tag ('</' + non-letter):
                                 # html5 bogus comment, consumed silently
    r"|(?P<t>[^<]+)",            # text runs
    re.S)
_ATTR = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?""")
# only these tags' attributes are ever read by the handlers
_WANT_ATTRS = _CONTAINER | {"img"}
_RAWTEXT = {"script", "style"}
# rawtext close: html.parser ends CDATA mode only on a FULL
# '</ name >' end tag (name-boundary junk like '</scripty>' or
# '</script x>' stays data) — one faithful regex per rawtext element
_RAWTEXT_END = {t: re.compile(r"</\s*" + t + r"\s*>", re.I)
                for t in _RAWTEXT}


def _is_startend(body: str) -> bool:
    """Mirrors html.parser's '<t .../>' rule: the tag is start+end only
    when the trailing '/' is NOT consumed by an unquoted attribute
    value (attrfind eats 'src=/x/' whole, so that tag is a plain
    start).  Called only for the rare bodies that end in '/'."""
    last_end = 0
    for m in _ATTR.finditer(body):
        last_end = m.end()
    return last_end < len(body)


def _parse_attrs(tag_body: str):
    attrs = []
    for m in _ATTR.finditer(tag_body):
        name, val = m.group(1).lower(), m.group(2)
        if val is not None:
            if val[:1] in "\"'":
                val = val[1:-1]
            if "&" in val:
                val = _html_mod.unescape(val)
        attrs.append((name, val))
    return attrs


def _fast_feed(p: _Parser, text: str) -> None:
    n = len(text)
    pos = 0
    # anchor capture needs <a href> parsed; the default extraction path
    # keeps skipping anchor attributes (hot-path cost)
    want_attrs = (_WANT_ATTRS | {"a"}) if p.capture_anchors \
        else _WANT_ATTRS
    handle_data = p.handle_data
    handle_start = p.handle_starttag
    handle_end = p.handle_endtag
    unescape = _html_mod.unescape
    while pos < n:
        restart = False
        for m in _TOKEN.finditer(text, pos):
            s = m.start()
            if s > pos:         # lone '<'s matching no alternative
                handle_data(text[pos:s])
            pos = m.end()
            lg = m.lastgroup
            if lg == "t":       # text run
                tok = m.group()
                handle_data(unescape(tok) if "&" in tok else tok)
                continue
            if lg == "e":       # end tag
                if "<" in m.group()[1:]:
                    # malformed tag containing '<' (e.g. '</p<q>'):
                    # html.parser swallows the slice without an event
                    continue
                handle_end(m.group("e").lower())
                continue
            if lg != "sb":      # start tags report their LAST group
                continue        # comment / doctype / decl / PI / bogus
            body = m.group("sb")
            if "<" in body:
                # malformed tag containing '<' (e.g. '<a<p>'):
                # html.parser swallows the slice without an event
                continue
            name = m.group("s").lower()
            attrs = _parse_attrs(body) if name in want_attrs else []
            p.tag_start = s
            handle_start(name, attrs)
            if body.endswith("/") and _is_startend(body):
                # '<t .../>': html.parser fires handle_startendtag,
                # whose default is start+end — without the end event a
                # self-closed <script/> or <a/> leaks skip/a_depth
                # state over the rest of the document
                handle_end(name)
                continue
            if name in _RAWTEXT:
                # rawtext mode: no tags/entities until the FULL end
                # tag; jump + restart the scanner at the new position
                mm = _RAWTEXT_END[name].search(text, pos)
                if mm is None:
                    # unterminated rawtext: everything to EOF is data
                    # (the synthetic end event is normalized away by
                    # _finalize on the stdlib path too)
                    handle_data(text[pos:])
                    pos = n
                else:
                    handle_data(text[pos:mm.start()])
                    pos = mm.end()
                handle_end(name)
                restart = True
                break
        if not restart:
            if pos < n:         # trailing lone '<'s
                handle_data(text[pos:])
            pos = n


import html as _html_mod  # noqa: E402  (entity table shared with html.parser)


def _feed_all(p: _Parser, text: str, engine: str = "fast") -> bool:
    """Parse all of ``text`` into ``p`` and flush; never raises.  False
    means a handler raised mid-feed: ``p.blocks`` stops where the parse
    did, with whatever was open at that point flushed."""
    try:
        if engine == "fast":
            _fast_feed(p, text)
            p._finalize()
        else:
            p.feed(text)
            p.close()
        return True
    except Exception:
        try:
            p._finalize()
        except Exception:
            pass
        return False


def _run_parser(payload: bytes | str, engine: str,
                capture_anchors: bool = False) -> _Parser:
    text = decode_html(payload) if isinstance(payload, bytes) else payload
    p = _Parser(capture_anchors=capture_anchors)
    _feed_all(p, text, engine)
    return p


def parse_blocks(payload: bytes | str, engine: str = "fast") -> list[Block]:
    """Parse HTML into the flat block list. Never raises on bad markup.

    engine="fast" (default): regex bulk tokenizer, ~2× the stdlib path.
    engine="stdlib": html.parser feed — the reference implementation the
    parity test compares against.
    """
    return _run_parser(payload, engine).blocks


def parse_anchors(payload: bytes | str,
                  engine: str = "fast") -> list[tuple]:
    """(href, anchor_text, boiler, semantic) per <a>, in document order
    — the WAT-extraction primitive (out-link graph + anchor text).
    boiler = under nav/header/footer/aside/form or a boiler-class
    container (the cookie-banner rule); semantic = under article/main.
    Same tolerant never-raise contract as parse_blocks."""
    return _run_parser(payload, engine, capture_anchors=True).anchors


class _MetaParser(HTMLParser):
    """Head-metadata scanner: title / meta[name|property] / canonical
    link / html lang.  Collection stops at </head> or <body> (after
    that the fields are body content, not metadata); first occurrence
    wins everywhere, matching what browsers and search engines index."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title: str | None = None
        self.meta: dict[str, str] = {}
        self.canonical: str | None = None
        self.lang: str | None = None
        self._in_title = False
        self._title_buf: list[str] = []
        self._done = False

    def handle_starttag(self, tag: str, attrs) -> None:
        if self._done:
            return
        a = {}
        for k, v in attrs or ():    # duplicated attribute: FIRST wins
            if k not in a:          # (browsers keep the first; dict()
                a[k] = v            # would keep the last)
        if tag == "html":
            if self.lang is None and a.get("lang"):
                self.lang = a["lang"]
        elif tag == "title":
            if self.title is None:
                self._in_title = True
        elif tag == "meta":
            key = (a.get("name") or a.get("property") or "").lower()
            if key and key not in self.meta \
                    and a.get("content") is not None:
                self.meta[key] = a["content"]
        elif tag == "link":
            rels = (a.get("rel") or "").lower().split()
            if "canonical" in rels and self.canonical is None \
                    and a.get("href"):
                self.canonical = a["href"]
        elif tag == "body":
            self._done = True

    def handle_endtag(self, tag: str) -> None:
        if tag == "title" and self._in_title:
            self._in_title = False
            self.title = collapse_ws("".join(self._title_buf))
        elif tag == "head":
            self._done = True

    def handle_data(self, data: str) -> None:
        if self._in_title and not self._done:
            self._title_buf.append(data)


META_HEAD_LIMIT = 65536


def parse_metadata(payload: bytes | str) -> tuple:
    """(title, meta_description, meta_robots, og_title, canonical_url,
    html_lang) — the page-metadata extraction primitive (the columns a
    training pipeline filters and attributes on: titles for display,
    robots meta for noindex exclusion, canonical for dedup hints,
    og:title as the social-card fallback, lang as the declared-language
    signal to cross-check lang-id).

    Cost is HARD-BOUNDED: only the first 64 KiB of the payload (bytes
    for binary input, chars for strings) is decoded and parsed, so
    per-page work is O(head-bound), never O(document) — a skew-bomb
    body is never even decoded.  Head-end detection is the PARSER's
    </head>/<body> events, not a substring search, so a literal
    "</head>" inside a head <script> string or comment does not
    truncate collection (html.parser's CDATA mode ends script content
    only at </script>).  Same tolerant never-raise contract as
    parse_blocks; entities decode via convert_charrefs; absent fields
    are None."""
    raw = payload[:META_HEAD_LIMIT]
    seg = decode_html(raw) if isinstance(raw, (bytes, bytearray)) else raw
    p = _MetaParser()
    try:
        p.feed(seg)
        p.close()
    except Exception:       # html.parser is tolerant; belt-and-braces
        pass
    if p._in_title and p._title_buf:    # unclosed <title> at the cut
        p.title = collapse_ws("".join(p._title_buf))
    return (p.title or None, p.meta.get("description"),
            p.meta.get("robots"), p.meta.get("og:title"),
            p.canonical, p.lang)
