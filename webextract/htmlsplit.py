"""The HTML pieces of the oversized-document tier (split.py).

Boilerplate scoring is a document-GLOBAL decision, so a giant HTML page
can only be split where semantics don't change — BETWEEN tag tokens,
with the full parser state that crosses the cut carried along:

* cut (``scan_cuts``, one task per oversized doc, i.e. one of at
  least ``2 * split_bytes`` bytes, which split.n_segments cuts into 2
  or more pieces): a structural pass — the one-shot parse's own
  tokenizer (``dom._fast_feed``) driving its own ``_Parser`` tag
  handlers, with text dropped.  It still tokenizes every byte, so it
  costs about 0.7x a full parse (measured in-process).  At
  candidate cut tags (block/container start tags, outside skipped
  subtrees and tables) it snapshots the crossing state: open element
  stack with per-element child counts (sibling numbering!),
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

from .dom import (Block, _BLOCK, _CONTAINER, _Parser, _fast_feed, _feed_all,
                  decode_html)
from .extract import Extracted, finish_blocks, select_main
from .options import ConvertOptions, DEFAULT_OPTIONS
from .split import merge_frame, n_segments, seg_frame, split_frame

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


class _CutScan(_Parser):
    """The one-shot parse's tag handlers with text dropped, recording
    each cut before the start tag it lands on is handled."""

    def __init__(self, target_chars: int) -> None:
        super().__init__()
        self.target_chars = target_chars
        self.next_cut = target_chars    # earliest offset of the next cut
        self.cuts: list[tuple[int, str]] = []

    def handle_data(self, data: str) -> None:
        pass

    def handle_starttag(self, tag: str, attrs) -> None:
        s = self.tag_start
        if (s >= self.next_cut and tag in CUT_TAGS and not self.skip
                and not self.tables):
            self.cuts.append((s, snapshot_state(self)))
            self.next_cut = s + self.target_chars
        super().handle_starttag(tag, attrs)


def scan_cuts(text: str, target_chars: int) -> list[tuple[int, str]]:
    """[(cut_pos, state_json)] — structural pass over the token stream.

    ``dom._fast_feed`` drives the genuine _Parser handlers for tags, so
    stack/sibling/flag bookkeeping cannot drift from the real parse
    (test_htmlsplit parity tests pin this); text is tokenized and
    dropped.  Cuts land on start tags of block/container elements at
    least ``target_chars`` apart, never inside skipped subtrees
    (script/style/svg/...) or tables.  Raises when a handler raises."""
    p = _CutScan(target_chars)
    _fast_feed(p, text)
    return p.cuts


def _parse_seeded(text: str, state_json: str | None) -> tuple[list[Block], bool]:
    """(blocks, ok) for one seeded segment; never raises (same
    guarantee as dom.parse_blocks).  ok=False means the feed raised
    mid-segment — the one-shot parse would have stopped THERE, so the
    merge must drop every later segment's blocks to stay
    byte-identical."""
    p = seed_parser(state_json)
    ok = _feed_all(p, text)
    return p.blocks, ok


# ---------------------------------------------------------------------------
# the HTML pieces of the split tier (split.py): cut, parse, finish
# ---------------------------------------------------------------------------

def _cut_html(payload: bytes, split_bytes: int):
    text = decode_html(payload)
    target_chars = -(-len(text) // n_segments(payload, split_bytes))
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


def make_html_split_kernel(opt: ConvertOptions, split_bytes: int):
    """mapInArrow 1->N: oversized payload -> (state, slice) segments."""
    return split_frame(opt, "html",
                       lambda payload: _cut_html(payload, split_bytes))


def make_html_seg_kernel(opt: ConvertOptions = DEFAULT_OPTIONS):
    """mapInArrow: seeded-parse one segment -> its blocks."""
    return seg_frame(lambda r: _parse_seeded(r["seg"], r["state"]))


def make_html_merge_kernel(opt: ConvertOptions = DEFAULT_OPTIONS):
    """mapInArrow: a doc's concatenated blocks -> global select_main ->
    finish_blocks (the one-shot path's own functions)."""
    return merge_frame(opt, _finish_html)
