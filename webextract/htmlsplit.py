"""Oversized-HTML split tier: cut-point scan -> fan-out -> global merge.

Closes the last r2 "What's missing" item: boilerplate scoring is a
document-GLOBAL decision, so a 1 GB HTML page used to pin one task for
its whole parse.  This tier splits the work in the only place HTML can
be split without changing semantics — BETWEEN tag tokens, with the full
parser state that crosses the cut carried along:

1. scan pass (one task, the oversized doc): a structural token scan —
   the SAME regex tokenizer and the SAME ``_Parser`` handlers as the
   real parse, but skipping every text token, so it costs a fraction of
   a full parse.  At candidate cut tags (block/container start tags,
   outside script/style/tables) it snapshots the crossing state: open
   element stack with per-element child counts (sibling numbering!),
   a/pre/blockquote depths, root counts.
2. ``repartition(url, seg_idx)`` — the one payload shuffle; each
   segment is a substring of the decoded document plus its ~1 KB state.
3. segment parse (parallel): a ``_Parser`` SEEDED with the snapshot
   parses its slice; because the tokenizer restarts cleanly at a token
   boundary and flush-at-tag == flush-at-EOF for the block open across
   the cut, the concatenated block lists are IDENTICAL to the one-shot
   parse (asserted by the byte-identity tests, including paths, sibling
   indexes, li numbering, boiler/semantic flags).
4. merge (one small task per doc): reassemble blocks in seg order,
   renumber idx, then run the SAME ``select_main`` (global density
   scoring over the full block list) and the SAME ``finish_blocks``
   serializer tail as extract_document — byte-identity by construction,
   payload long gone (only block structs cross the merge shuffle).

Non-HTML oversized payloads that route here (e.g. a giant CSV — the
SQL router can't sniff) take a fallback lane: one segment carries the
raw payload to the merge, which runs plain ``extract_document``.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from .dom import (Block, _Parser, _RAWTEXT, _RAWTEXT_END, _TAGNAME, _TOKEN,
                  _WANT_ATTRS, _BLOCK, _CONTAINER, _is_startend,
                  _parse_attrs, decode_html)
from .extract import extract_document, finish_blocks, select_main
from .options import ConvertOptions, DEFAULT_OPTIONS
from .udfs import (Tally, append_extracted, extract_batch, extract_ddl,
                   new_extract_out)

HTML_TARGET_CHARS = 1 * 1024 * 1024   # aim for ~1 MB decoded per segment
SPLIT_FLUSH_BYTES = 64 * 1024 * 1024  # split-kernel output batch budget

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
# kernels
# ---------------------------------------------------------------------------

_HSEG_DDL = ("url string, warc_ts timestamp, rid bigint, lang string, "
             "part_id int, seg_idx int, n_segs int, orig_bytes bigint, "
             "verdict string, fmt string, error string, state string, "
             "seg string, payload binary")
_HSEG_ARROW = pa.schema([
    ("url", pa.large_string()), ("warc_ts", pa.timestamp("us")),
    ("rid", pa.int64()), ("lang", pa.string()), ("part_id", pa.int32()),
    ("seg_idx", pa.int32()), ("n_segs", pa.int32()),
    ("orig_bytes", pa.int64()), ("verdict", pa.string()),
    ("fmt", pa.string()), ("error", pa.string()), ("state", pa.string()),
    ("seg", pa.large_string()), ("payload", pa.large_binary())])

# blocks travel between the seg and merge kernels as ONE compact JSON
# blob per segment, not nested Arrow structs: the payload is opaque to
# SQL either way, and to_pylist() on 13-field struct lists measured
# ~4 s per 34k segments at sf0.1 vs near-free binary + C-speed
# json loads/dumps
_HSEGX_DDL = ("url string, warc_ts timestamp, rid bigint, lang string, "
              "part_id int, seg_idx int, n_segs int, orig_bytes bigint, "
              "verdict string, fmt string, error string, payload binary, "
              "perr boolean, blocks binary")
_HSEGX_ARROW = pa.schema([
    ("url", pa.large_string()), ("warc_ts", pa.timestamp("us")),
    ("rid", pa.int64()), ("lang", pa.string()), ("part_id", pa.int32()),
    ("seg_idx", pa.int32()), ("n_segs", pa.int32()),
    ("orig_bytes", pa.int64()), ("verdict", pa.string()),
    ("fmt", pa.string()), ("error", pa.string()),
    ("payload", pa.large_binary()), ("perr", pa.bool_()),
    ("blocks", pa.large_binary())])


def _admit_html(payload: bytes, opt: ConvertOptions):
    """(verdict, fmt, error) from the SHARED admission chain
    (extract.admit_payload — one copy, round-3 review), or None when
    the payload is extractable html; ('fallback', fmt, None) for
    admitted non-html formats."""
    from .extract import admit_payload
    fmt, refused = admit_payload(payload, opt)
    if refused is not None:
        return (refused.status, refused.fmt, refused.error)
    if fmt != "html":
        return ("fallback", fmt, None)
    return None


def make_html_split_kernel(opt: ConvertOptions = DEFAULT_OPTIONS,
                           target_chars: int = HTML_TARGET_CHARS):
    """mapInArrow 1->N: oversized payload -> (state, slice) segments."""

    def split_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = {n: batch.column(n) for n in batch.schema.names}
            urls = cols["url"].to_pylist()
            htmls = cols["html"].to_pylist()
            ts = cols["warc_ts"].to_pylist() if "warc_ts" in cols \
                else [None] * len(urls)
            langs = cols["lang"].to_pylist() if "lang" in cols \
                else [None] * len(urls)
            rids = cols["rid"].to_pylist() if "rid" in cols \
                else [None] * len(urls)
            pids = cols["part_id"].to_pylist() if "part_id" in cols \
                else [None] * len(urls)
            out = {f.name: [] for f in _HSEG_ARROW}
            acc = 0   # pending output bytes; bounds worker memory to
            #           ~one oversized doc's segments, not a whole batch

            def emit(i, seg_idx, n_segs, verdict, fmt, error, state, seg,
                     payload):
                nonlocal acc
                out["url"].append(urls[i])
                out["warc_ts"].append(ts[i])
                out["rid"].append(rids[i])
                out["lang"].append(langs[i])
                out["part_id"].append(pids[i])
                out["seg_idx"].append(seg_idx)
                out["n_segs"].append(n_segs)
                out["orig_bytes"].append(len(htmls[i]) if htmls[i] else 0)
                out["verdict"].append(verdict)
                out["fmt"].append(fmt)
                out["error"].append(error)
                out["state"].append(state)
                out["seg"].append(seg)
                out["payload"].append(payload)
                acc += (len(seg) if seg else 0) \
                    + (len(payload) if payload else 0)

            def flush():
                nonlocal out, acc
                b = pa.RecordBatch.from_pydict(
                    {f.name: pa.array(out[f.name], f.type)
                     for f in _HSEG_ARROW})
                out = {f.name: [] for f in _HSEG_ARROW}
                acc = 0
                return b

            for i, payload in enumerate(htmls):
                try:
                    bad = _admit_html(payload or b"", opt)
                    if bad is not None:
                        verdict, fmt, error = bad
                        emit(i, 0, 1, verdict, fmt, error, None, None,
                             payload if verdict == "fallback" else None)
                    else:
                        text = decode_html(payload)
                        try:
                            cuts = scan_cuts(text, target_chars)
                        except Exception:
                            # the one-shot parse SWALLOWS handler
                            # exceptions (no-raise contract); a scan
                            # failure must therefore degrade to "no
                            # cuts" (single seeded-less segment =
                            # exactly the one-shot parse), never to a
                            # failure row one-shot wouldn't produce
                            cuts = []
                        bounds = [(0, None)] + cuts + [(len(text), None)]
                        n_segs = len(bounds) - 1
                        for j in range(n_segs):
                            start, state = bounds[j]
                            end = bounds[j + 1][0]
                            emit(i, j, n_segs, "", "html", "", state,
                                 text[start:end], None)
                except Exception as e:  # total-function contract
                    emit(i, 0, 1, "failure", "html",
                         f"{type(e).__name__}: {e}", None, None, None)
                if acc >= SPLIT_FLUSH_BYTES:
                    yield flush()
            if out["url"]:
                yield flush()

    return split_batches


def make_html_seg_kernel(opt: ConvertOptions = DEFAULT_OPTIONS):
    """mapInArrow: seeded-parse one segment -> block structs (payload
    slice dropped; raw payload rides along for fallback rows only)."""

    def seg_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = {n: batch.column(n).to_pylist()
                    for n in batch.schema.names}
            out = {n: (cols[n] if n not in ("blocks", "perr", "state",
                                            "seg")
                       else []) for n in _HSEGX_ARROW.names}
            out["blocks"] = []
            out["perr"] = []
            for i, seg in enumerate(cols["seg"]):
                if cols["verdict"][i] or seg is None:
                    out["blocks"].append(b"[]")
                    out["perr"].append(False)
                    continue
                blocks, ok = _parse_seeded(seg, cols["state"][i])
                out["perr"].append(not ok)
                out["blocks"].append(json.dumps(
                    [[b.tag, b.kind, b.path, b.container_path, b.depth,
                      b.text, b.link_chars, b.boiler, b.semantic,
                      b.heading_level, b.li_index,
                      [list(r) for r in b.cells]
                      if b.cells is not None else None,
                      b.src] for b in blocks],
                    separators=(",", ":")).encode("utf-8"))
            yield pa.RecordBatch.from_pydict(
                {f.name: pa.array(out[f.name], f.type)
                 for f in _HSEGX_ARROW})

    return seg_batches


def make_html_merge_kernel(opt: ConvertOptions = DEFAULT_OPTIONS,
                           tally=None):
    """mapInArrow merge over pre-aggregated rows: concatenated block
    list -> global select_main -> finish_blocks (the one-shot path's
    own functions, so output is byte-identical).  ``tally``: as in
    udfs.make_extract_kernel."""

    def merge_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .extract import Extracted
        counts = Tally(tally) if tally is not None else None
        for batch in batches:
            cols = {n: batch.column(n).to_pylist()
                    for n in batch.schema.names}
            out = new_extract_out()
            for i in range(len(cols["url"])):
                url, ts, lang, pid = (cols["url"][i], cols["warc_ts"][i],
                                      cols["lang"][i], cols["part_id"][i])
                nb = cols["orig_bytes"][i]
                verdict, fmt, err = (cols["verdict"][i], cols["fmt"][i],
                                     cols["error"][i])
                if verdict == "fallback":
                    r = extract_document(bytes(cols["payload"][i]), opt, url)
                    append_extracted(out, r, url, ts, lang, nb, pid)
                    continue
                if verdict:
                    append_extracted(
                        out, Extracted(status=verdict, fmt=fmt, error=err),
                        url, ts, lang, nb, pid)
                    continue
                blocks: list[Block] = []
                stop = False
                for seg in cols["segs"][i]:          # sorted by seg_idx
                    if stop:
                        # a prior segment's feed raised: the one-shot
                        # parse would have stopped there, so later
                        # segments contribute nothing
                        break
                    stop = bool(seg["perr"])
                    for (tag, kind, path, cpath, depth, text, link_chars,
                         boiler, semantic, hlevel, li_index, cells,
                         src) in json.loads(bytes(seg["blocks"] or b"[]")):
                        blocks.append(Block(
                            idx=len(blocks), tag=tag, kind=kind,
                            path=path, container_path=cpath,
                            depth=depth, text=text,
                            link_chars=link_chars,
                            boiler=boiler, semantic=semantic,
                            heading_level=hlevel, li_index=li_index,
                            cells=tuple(tuple(r) for r in cells)
                            if cells is not None else None,
                            src=src))
                main = select_main(blocks, opt)
                r = finish_blocks(main, "html", opt, url)
                append_extracted(out, r, url, ts, lang, nb, pid)
            yield extract_batch(out, counts)
        if counts is not None:
            counts.report()

    return merge_batches


def _html_fan_out(df: DataFrame, cpus: int) -> int:
    """Shared fan-out cap — see split._fan_out (the segment-parse
    stage is python-task-overhead-bound above ~1 partition/core)."""
    from .split import _fan_out
    return _fan_out(df, cpus)


def extracted_html_split_branch(src: DataFrame,
                                opt: ConvertOptions = DEFAULT_OPTIONS,
                                cpus: int = 32,
                                target_chars: int = HTML_TARGET_CHARS,
                                tally=None) -> DataFrame:
    """The html fan-out branch (callers route oversized non-PDF rows
    here; see split.extracted_split_df).  One payload repartition;
    payload dropped before the merge aggregate except fallback rows.
    ``tally``: as in pipeline.extracted_df."""
    segs = (src.withColumn("rid", F.monotonically_increasing_id())
            # rid uniquifies exact-duplicate (url, warc_ts) input rows
            # through the merge key (round-3 review finding)
            .mapInArrow(make_html_split_kernel(opt, target_chars),
                        _HSEG_DDL)
            .repartition(_html_fan_out(src, cpus), F.col("url"),
                         F.col("seg_idx"))
            .mapInArrow(make_html_seg_kernel(opt), _HSEGX_DDL))
    agg = (segs.groupBy("url", "warc_ts", "rid")
           .agg(F.first("lang").alias("lang"),
                F.first("part_id").alias("part_id"),
                F.first("orig_bytes").alias("orig_bytes"),
                F.max("verdict").alias("verdict"),
                F.max("fmt").alias("fmt"),
                F.max("error").alias("error"),
                F.first("payload", ignorenulls=True).alias("payload"),
                F.sort_array(F.collect_list(
                    F.struct("seg_idx", "perr", "blocks"))).alias("segs")))
    return agg.mapInArrow(make_html_merge_kernel(opt, tally),
                          extract_ddl(tally))
