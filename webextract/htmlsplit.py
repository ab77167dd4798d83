"""The HTML pieces of the oversized-document tier (split.py).

Boilerplate scoring is a document-GLOBAL decision, so a giant HTML page
can only be split where semantics don't change — BETWEEN tag tokens,
with the full parser state that crosses the cut carried along:

* cut (``scan_cuts``, one task per oversized doc): a structural token
  scan — the SAME regex tokenizer and the SAME ``_Parser`` handlers as
  the real parse, but skipping every text token, so it costs a fraction
  of a full parse.  At candidate cut tags (block/container start tags,
  outside script/style/tables) it snapshots the crossing state: open
  element stack with per-element child counts (sibling numbering!),
  a/pre/blockquote depths, root counts.  A segment is a substring of
  the decoded document plus its ~1 KB state.
* parse (``_parse_seeded``, in parallel): a ``_Parser`` SEEDED with the
  snapshot parses its slice; because the tokenizer restarts cleanly at
  a token boundary and flush-at-tag == flush-at-EOF for the block open
  across the cut, the concatenated block lists are IDENTICAL to the
  one-shot parse (asserted by the byte-identity tests, including paths,
  sibling indexes, li numbering, boiler/semantic flags).
* finish (one small task per doc): the SAME ``select_main`` (global
  density scoring over the full block list) and the SAME
  ``finish_blocks`` serializer tail as extract_document.
"""

from __future__ import annotations

import json

from .dom import (Block, _Parser, _RAWTEXT, _RAWTEXT_END, _TAGNAME, _TOKEN,
                  _WANT_ATTRS, _BLOCK, _CONTAINER, _is_startend,
                  _parse_attrs, decode_html)
from .extract import Extracted, finish_blocks, select_main
from .options import ConvertOptions, DEFAULT_OPTIONS
from .split import merge_frame, seg_frame, split_frame

HTML_TARGET_CHARS = 1 * 1024 * 1024   # aim for ~1 MB decoded per segment

CUT_TAGS = (_BLOCK | _CONTAINER) - {"html"}


def snapshot_state(p: _Parser) -> str:
    """JSON snapshot of the parser state that crosses a cut point.
    Only called when skip == 0, tables empty (cut preconditions), and
    cur/pending need not be carried: the cut tag would flush them in
    the one-shot parse, and segment-EOF finalize flushes them with the
    identical captured metadata."""
    return json.dumps({
        "stack": [[e[0], e[1], e[2], e[3], bool(e[4]), bool(e[5]), e[6]]
                  for e in p.stack],
        "root": p._root_counts,
        "a": p.a_depth, "pre": p.pre_depth, "bq": p.bq_depth,
    }, separators=(",", ":"))


def seed_parser(state_json: str | None) -> _Parser:
    """A _Parser positioned as if it had just parsed everything before
    the cut (minus flushed content): stack, sibling counters, li
    numbering, boiler/semantic depths, list flavor stack."""
    p = _Parser()
    p._root_counts = {}
    if state_json:
        st = json.loads(state_json)
        p._root_counts = st["root"]
        for tag, seg, counts, li, boiler_inc, sem_inc, fpath in st["stack"]:
            p.stack.append([tag, seg, counts, li, boiler_inc, sem_inc,
                            fpath])
            if boiler_inc:
                p.boiler_depth += 1
            if sem_inc:
                p.semantic_depth += 1
            if tag in ("ul", "ol"):
                p.ol_stack.append(tag == "ol")
        p.a_depth = st["a"]
        p.pre_depth = st["pre"]
        p.bq_depth = st["bq"]
    return p


def scan_cuts(text: str, target_chars: int) -> list[tuple[int, str]]:
    """[(cut_pos, state_json)] — structural pass over the token stream.

    A positionally-aware variant of dom._fast_feed that SKIPS text
    tokens (no unescape, no block assembly — the expensive 40%+ of a
    real parse) and drives the genuine _Parser handlers for tags only,
    so stack/sibling/flag bookkeeping cannot drift from the real parse
    (test_htmlsplit parity tests pin this).  Cuts land on start tags of
    block/container elements at least ``target_chars`` apart, never
    inside script/style/svg (skip), rawtext, or tables."""
    p = _Parser()
    p._root_counts = {}
    cuts: list[tuple[int, str]] = []
    n = len(text)
    pos = 0
    last_cut = 0
    while pos < n:
        restart = False
        for m in _TOKEN.finditer(text, pos):
            tok = m.group(0)
            s = m.start()
            pos = m.end()
            if tok[0] != "<":
                continue                      # text: structural no-op
            c1 = tok[1]
            if c1 == "!" or c1 == "?":
                continue
            tm = _TAGNAME.match(tok)
            if tm is None or "<" in tok[1:]:
                continue
            name = tm.group(1).lower()
            if c1 == "/":
                p.handle_endtag(name)
                continue
            if (s - last_cut >= target_chars and name in CUT_TAGS
                    and not p.skip and not p.tables):
                cuts.append((s, snapshot_state(p)))
                last_cut = s
            body = tok[tm.end():-1]
            attrs = _parse_attrs(body) if name in _WANT_ATTRS else []
            p.handle_starttag(name, attrs)
            if body.endswith("/") and _is_startend(body):
                # '<t .../>': start+end, same rule as dom._fast_feed
                p.handle_endtag(name)
                continue
            if name in _RAWTEXT:
                mm = _RAWTEXT_END[name].search(text, pos)
                pos = n if mm is None else mm.end()
                p.handle_endtag(name)
                restart = True
                break
        if not restart:
            pos = n
    return cuts


def _parse_seeded(text: str, state_json: str | None) -> tuple[list[Block], bool]:
    """(blocks, ok) for one seeded segment; never raises (same
    guarantee as dom.parse_blocks).  ok=False means the feed raised
    mid-segment — the one-shot parse would have stopped THERE, so the
    merge must drop every later segment's blocks to stay
    byte-identical."""
    from .dom import _fast_feed
    p = seed_parser(state_json)
    ok = True
    try:
        _fast_feed(p, text)
        p._finalize()
    except Exception:
        ok = False
        try:
            p._finalize()
        except Exception:
            pass
    return p.blocks, ok


def parse_blocks_seeded(text: str, state_json: str | None) -> list[Block]:
    """Blocks of one seeded segment (test/identity surface)."""
    return _parse_seeded(text, state_json)[0]


# ---------------------------------------------------------------------------
# the HTML pieces of the split tier (split.py): cut, parse, finish
# ---------------------------------------------------------------------------

def _cut_html(payload: bytes, target_chars: int):
    text = decode_html(payload)
    try:
        cuts = scan_cuts(text, target_chars)
    except Exception:
        # the one-shot parse SWALLOWS handler exceptions (no-raise
        # contract); a scan failure must therefore degrade to "no cuts"
        # (one unseeded segment = exactly the one-shot parse), never to
        # a failure row one-shot wouldn't produce
        cuts = []
    bounds = [(0, None)] + cuts + [(len(text), None)]
    return [(state, text[start:end], None)
            for (start, state), (end, _) in zip(bounds, bounds[1:])]


def _finish_html(blocks: list[Block], opt: ConvertOptions,
                 url: str) -> Extracted:
    return finish_blocks(select_main(blocks, opt), "html", opt, url)


def make_html_split_kernel(opt: ConvertOptions = DEFAULT_OPTIONS,
                           target_chars: int = HTML_TARGET_CHARS):
    """mapInArrow 1->N: oversized payload -> (state, slice) segments."""
    return split_frame(opt, "html",
                       lambda payload: _cut_html(payload, target_chars))


def make_html_seg_kernel(opt: ConvertOptions = DEFAULT_OPTIONS):
    """mapInArrow: seeded-parse one segment -> its blocks."""
    return seg_frame(lambda r: _parse_seeded(r["seg"], r["state"]))


def make_html_merge_kernel(opt: ConvertOptions = DEFAULT_OPTIONS,
                           tally=None):
    """mapInArrow: a doc's concatenated blocks -> global select_main ->
    finish_blocks (the one-shot path's own functions)."""
    return merge_frame(opt, _finish_html, tally)
