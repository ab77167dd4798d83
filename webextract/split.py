"""The cut chain for oversized documents: split -> fan-out -> merge.

Operator C11's scale path (SURVEY.md §2.3/§4.1; reference precedent
examples/split_processing.py:73-118 — page-range fan-out followed by
``DoclingDocument.concatenate``).  ``tier_df`` cuts each document into
pieces parsed across tasks and merges them back, byte-identical to the
one-shot kernel.  The job does not run it: ``pipeline.extracted_df(
split_bytes=...)`` spreads the payloads at the bar over one task per
core and parses each whole, because cutting costs more than it saves
(the serial cut scan alone costs 0.45-0.7 of a whole parse, measured
in-process, and the chain adds two shuffles and a serial merge).  It
stays, tested, while the benchmark's tracer (perfbench/trace.py) hooks
its kernels by name, and as the way to parse one document on many
cores once the cut scan is much cheaper than a parse.

``tier_df`` unions two chains of the same shape, one for mini-PDFs
(this module) and one for every other payload (htmlsplit.py), routed
by the PDF magic prefix.  Each kernel is a per-row function run by
``udfs.row_kernel``, and the merge emits plain EXTRACT rows:

1. split kernel (narrow 1->N mapInArrow): document-level admission runs
   HERE, once, on the whole payload, through the one-shot path's own
   ``extract.admit_payload``; refused docs ship one verdict row.  An
   admitted doc is cut into n_segments, at least 2 for a routed
   payload: mini-PDFs into page groups that keep the ORIGINAL header
   and page numbers (this module), HTML between tag tokens with the
   crossing parser state (htmlsplit.py).
2. ``repartition(url, seg_idx)`` — the ONE payload shuffle: it moves
   only the docs that get cut, those of at least ``2 * split_bytes``
   bytes, and turns a straggler doc into N parallel tasks, one segment
   partition per core.
3. segment kernel (narrow): parses each segment into blocks and drops
   its payload, so only block blobs cross the merge shuffle.
4. merge (groupBy(url, warc_ts, rid) + collect_list, then one batched
   kernel): reassembles the blocks in seg_idx order, renumbers them and
   finishes the doc with the one-shot path's own functions
   (``select_main`` for HTML, ``finish_blocks`` for both) — output is
   byte-identical to ``extract_document`` by construction.

An admitted payload of another format than the tier's (e.g. a giant
CSV routed to the HTML tier — the SQL router can't sniff) takes a
fallback lane: one segment carries the raw payload to the merge, which
runs plain ``extract_document``.
"""

from __future__ import annotations

import json

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from . import pdfmini
from .dom import Block
from .extract import (Extracted, admit_payload, extract_document, failed,
                      finish_blocks)
from .options import ConvertOptions, DEFAULT_OPTIONS
from .session import cores
from .udfs import EXTRACT_ARROW, EXTRACT_SCHEMA, extracted_row, row_kernel

# a segment row: its doc's carried columns, its place in the doc, the
# doc's verdict (fmt/error only set with one), and the format's piece:
# parser state + decoded slice (HTML), a page-group payload (PDF), or
# the raw payload (fallback lane)
_DOC_ARROW = [
    ("url", pa.large_string()), ("warc_ts", pa.timestamp("us")),
    ("rid", pa.int64()), ("lang", pa.string()), ("seg_idx", pa.int32()),
    ("orig_bytes", pa.int64()),
    ("verdict", pa.string()), ("fmt", pa.string()), ("error", pa.string())]
_SEG_ARROW = pa.schema(_DOC_ARROW + [
    ("state", pa.string()), ("seg", pa.large_string()),
    ("html", pa.large_binary())])
# an extracted segment: blocks as ONE compact JSON blob, not nested
# Arrow structs (to_pylist() on 13-field struct lists measured ~4 s per
# 34k segments at sf0.1 vs near-free binary + C-speed json); the raw
# payload rides along on the fallback lane only
_SEGX_ARROW = pa.schema(_DOC_ARROW + [
    ("payload", pa.large_binary()), ("perr", pa.bool_()),
    ("blocks", pa.large_binary())])
SEG_SCHEMA = from_arrow_schema(_SEG_ARROW)
_SEGX_SCHEMA = from_arrow_schema(_SEGX_ARROW)


def n_segments(payload: bytes, split_bytes: int) -> int:
    """Segments an oversized payload is cut into: each carries at least
    about ``split_bytes`` (a smaller piece only adds per-segment cost
    after the fan-out), so a payload under twice that is not cut.  That
    is also the bar at which the job spreads a payload whole
    (pipeline.oversized)."""
    return max(1, len(payload) // split_bytes)


def split_frame(opt: ConvertOptions, fmt: str, cut):
    """mapInArrow 1->N: each oversized doc -> its segment rows.
    ``cut(payload)`` returns an admitted ``fmt`` payload's segments as
    (state, seg, html) triples.  A segment weighs the payload bytes it
    carries, so an output batch holds about one budget of segments
    however many an input batch's docs are cut into."""

    def split_row(row):
        payload = row.pop("html")
        row["orig_bytes"] = len(payload) if payload else 0
        try:
            got, r = admit_payload(payload, opt)
            if r is None and got == fmt:
                r = cut(payload)
        except Exception as e:
            # total-function contract (abort_on_error=false): a corrupt
            # payload becomes a failure ROW, never a task failure — the
            # one-shot kernel's row
            r = failed(e)
        if isinstance(r, Extracted):
            segs = [{"verdict": r.status, "fmt": r.fmt, "error": r.error}]
        elif r is None:
            segs = [{"verdict": "fallback", "fmt": got, "html": payload}]
        else:
            segs = [{"verdict": "", "state": state, "seg": seg, "html": html}
                    for state, seg, html in r]
        for j, seg in enumerate(segs):
            yield (dict(row, seg_idx=j, **seg),
                   len(seg.get("seg") or "") + len(seg.get("html") or b""))

    return row_kernel(split_row, _SEG_ARROW)


def seg_frame(parse):
    """mapInArrow: ``parse(row) -> (blocks, ok)`` each segment into a
    block blob; ok=False means the parse stopped inside the segment.
    A row weighs its blob and fallback payload bytes."""

    def seg_row(r):
        blocks, ok = [], True
        if not r["verdict"]:        # a doc's verdict rides along
            try:
                blocks, ok = parse(r)
            except Exception as e:  # total-function contract
                x = failed(e)
                r.update(verdict=x.status, fmt=x.fmt, error=x.error)
        r["payload"] = r["html"] if r["verdict"] == "fallback" else None
        r["perr"] = not ok
        # every Block field but idx, in declaration order
        r["blocks"] = json.dumps(
            [list(vars(b).values())[1:] for b in blocks],
            separators=(",", ":")).encode("utf-8")
        yield r, len(r["blocks"]) + len(r["payload"] or b"")

    return row_kernel(seg_row, _SEGX_ARROW)


def _merged_blocks(segs: list[dict]) -> list[Block]:
    """A doc's blocks, its segments concatenated in seg_idx order and
    renumbered.  A segment whose parse stopped (perr) is the last: the
    one-shot parse would have stopped there too."""
    blocks: list[Block] = []
    for seg in segs:
        for f in json.loads(seg["blocks"]):
            cells = None if f[11] is None else tuple(map(tuple, f[11]))
            blocks.append(Block(len(blocks), *f[:11], cells, f[12]))
        if seg["perr"]:
            break
    return blocks


def merge_frame(opt: ConvertOptions, finish):
    """mapInArrow merge over PRE-AGGREGATED rows (one row per doc with
    its segments collected and sorted): a verdict row, the fallback
    lane, or ``finish(blocks, opt, url) -> Extracted``.  A row weighs
    its doc's payload bytes, as in udfs.make_extract_kernel.

    mapInArrow over collect_list-aggregated rows, NOT per-group
    applyInPandas: a grouped-map pays one pandas DataFrame round-trip
    PER DOCUMENT (measured ~7ms/doc — 35 s for a 5k-doc corpus), while
    one Arrow batch here carries hundreds of documents."""

    def merge_row(r):
        if r["verdict"] == "fallback":
            x = extract_document(r["payload"], opt, r["url"])
        elif r["verdict"]:
            x = Extracted(status=r["verdict"], fmt=r["fmt"], error=r["error"])
        else:
            x = finish(_merged_blocks(r["segs"]), opt, r["url"])
        yield extracted_row(x, r, r["orig_bytes"]), r["orig_bytes"]

    return row_kernel(merge_row, EXTRACT_ARROW)


def _fan_out(src: DataFrame, split_kernel, seg_kernel,
             merge_kernel) -> DataFrame:
    """split kernel -> repartition(url, seg_idx) -> segment kernel ->
    one aggregated row per doc -> merge kernel.

    The fan-out is one segment partition per core: the segment-parse
    stage is python-task-overhead-bound above that (measured at sf1.0:
    16 parts 5.6 s, 32 parts 4.7 s, 128 parts 7.8 s).  The doc key is
    (url, warc_ts, rid): the crawl's natural primary key plus a
    physical uniquifier, so a recrawled url — or an outright duplicate
    row — is two documents, exactly like the 1:1 normal path.  max()
    over verdict/fmt/error surfaces a failed SEGMENT's verdict over its
    siblings' "" (their fmt/error are null)."""
    segs = (src.withColumn("rid", F.monotonically_increasing_id())
            .mapInArrow(split_kernel, SEG_SCHEMA)
            .repartition(cores(src.sparkSession),
                         F.col("url"), F.col("seg_idx"))
            .mapInArrow(seg_kernel, _SEGX_SCHEMA))
    agg = (segs.groupBy("url", "warc_ts", "rid")
           .agg(F.first("lang").alias("lang"),
                F.first("orig_bytes").alias("orig_bytes"),
                F.max("verdict").alias("verdict"),
                F.max("fmt").alias("fmt"),
                F.max("error").alias("error"),
                F.first("payload", ignorenulls=True).alias("payload"),
                F.sort_array(F.collect_list(
                    F.struct("seg_idx", "perr", "blocks"))).alias("segs")))
    return agg.mapInArrow(merge_kernel, EXTRACT_SCHEMA)


# ---------------------------------------------------------------------------
# the mini-PDF pieces: cut by page group, parse, finish
# ---------------------------------------------------------------------------

def _slice_pages(payload: bytes, split_bytes: int) -> list[bytes]:
    """Re-pack an admitted mini-PDF into ``n_segments`` page groups that
    keep the ORIGINAL n_pages and page numbers (so page_range and the
    pdf/page[N] block paths are unchanged downstream)."""
    n_pages, runs = pdfmini.parse_runs(payload)
    by_page: dict[int, list] = {}
    for r in runs:
        by_page.setdefault(r[0], []).append(r)
    pages = sorted(by_page)
    per = -(-len(pages) // n_segments(payload, split_bytes)) or 1
    return [pdfmini.pack_runs(n_pages, [r for p in pages[i:i + per]
                                        for r in by_page[p]])
            for i in range(0, len(pages), per)] \
        or [payload]  # zero-run doc: one whole segment


def _finish_pdf(blocks: list[Block], opt: ConvertOptions,
                url: str) -> Extracted:
    for b in blocks:    # the run index in a path is doc-global
        b.path = f"{b.container_path}/run[{b.idx}]"
    return finish_blocks(blocks, "pdf", opt, url)


def make_split_kernel(opt: ConvertOptions, split_bytes: int):
    """mapInArrow 1->N: oversized mini-PDF -> page-group segments."""
    return split_frame(opt, "pdf", lambda payload: [
        (None, None, seg) for seg in _slice_pages(payload, split_bytes)])


def make_seg_extract_kernel(opt: ConvertOptions = DEFAULT_OPTIONS):
    """mapInArrow: a page-group segment -> its blocks, by the one-shot
    parse on ORIGINAL page numbers (per-page reading order makes the
    concatenation equal the unsplit parse)."""
    return seg_frame(lambda r: (
        pdfmini.parse_pdf_blocks(r["html"], opt.page_range), True))


def make_merge_kernel(opt: ConvertOptions = DEFAULT_OPTIONS):
    """mapInArrow: a doc's page-group blocks -> its EXTRACT row."""
    return merge_frame(opt, _finish_pdf)


def tier_df(big: DataFrame, opt: ConvertOptions, split_bytes: int
            ) -> DataFrame:
    """The cut chain's EXTRACT rows for ``big``, source rows of at least
    ``2 * split_bytes`` bytes (pipeline.oversized, the smallest payload
    n_segments cuts).  Mini-PDFs take the page-split chain and all
    other payloads the cut-point chain (htmlsplit.py), cut into pieces
    of at least about ``split_bytes``; the two are unioned.  Both end
    in EXTRACT_SCHEMA, byte-identical to the plain kernel's rows.  Not
    on the job path: pipeline.extracted_df spreads these rows whole."""
    from . import htmlsplit
    is_pdf = (F.substring(F.col("html").cast("binary"), 1,
                          len(pdfmini.MAGIC)) == F.lit(pdfmini.MAGIC))
    pdf = _fan_out(
        big.filter(is_pdf), make_split_kernel(opt, split_bytes),
        make_seg_extract_kernel(opt), make_merge_kernel(opt))
    html = _fan_out(
        big.filter(~is_pdf),
        htmlsplit.make_html_split_kernel(opt, split_bytes),
        htmlsplit.make_html_seg_kernel(opt),
        htmlsplit.make_html_merge_kernel(opt))
    return pdf.unionByName(html)
