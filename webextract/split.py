"""Distributed oversized-document tier: split -> fan-out -> merge.

Operator C11's scale path (SURVEY.md §2.3/§4.1; reference precedent
examples/split_processing.py:73-118 — page-range fan-out followed by
``DoclingDocument.concatenate``).  The in-kernel byte-budget rebatcher
(udfs.py) bounds MEMORY per task, but a single 1 GB document still pins
one task end-to-end; this tier spreads its parse across the cluster.
It is one chain, parameterized by format:

1. split kernel (narrow 1->N mapInArrow): document-level admission runs
   HERE, once, on the whole payload, through the one-shot path's own
   ``extract.admit_payload``; refused docs ship one verdict row.  An
   admitted doc is cut into segments: mini-PDFs into page groups that
   keep the ORIGINAL header and page numbers (this module), HTML
   between tag tokens with the crossing parser state (htmlsplit.py).
2. ``repartition(url, seg_idx)`` — the ONE payload shuffle: it moves
   only the oversized docs (everything under ``split_bytes`` stays on
   the no-shuffle path) and turns a straggler doc into N parallel
   tasks, one segment partition per core.
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
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from . import pdfmini
from .dom import Block
from .extract import (Extracted, admit_payload, extract_document, failed,
                      finish_blocks)
from .options import ConvertOptions, DEFAULT_OPTIONS
from .udfs import (Tally, append_extracted, extract_batch, extract_schema,
                   extract_input_cols, make_extract_kernel, new_extract_out)

SPLIT_BYTES = 8 * 1024 * 1024         # payloads >= this fan out
SPLIT_FLUSH_BYTES = 64 * 1024 * 1024  # split-kernel output batch budget

# a segment row: its doc's carried columns, its place in the doc, the
# doc's verdict (fmt/error only set with one), and the format's piece:
# parser state + decoded slice (HTML), a page-group payload (PDF), or
# the raw payload (fallback lane)
_DOC_ARROW = [
    ("url", pa.large_string()), ("warc_ts", pa.timestamp("us")),
    ("rid", pa.int64()), ("lang", pa.string()), ("part_id", pa.int32()),
    ("seg_idx", pa.int32()), ("n_segs", pa.int32()),
    ("orig_bytes", pa.int64()), ("verdict", pa.string()),
    ("fmt", pa.string()), ("error", pa.string())]
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


def split_frame(opt: ConvertOptions, fmt: str, cut):
    """mapInArrow 1->N: each oversized doc -> its segment rows.
    ``cut(payload)`` returns an admitted ``fmt`` payload's segments as
    (state, seg, html) triples.  Output batches flush at
    SPLIT_FLUSH_BYTES, which bounds worker memory to about one oversized
    doc's segments, not a whole input batch's."""

    def split_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows, acc = [], 0
            for row in batch.to_pylist():
                payload = row.pop("html")
                row["orig_bytes"] = len(payload) if payload else 0
                try:
                    got, r = admit_payload(payload, opt)
                    if r is None and got == fmt:
                        r = cut(payload)
                except Exception as e:
                    # total-function contract (abort_on_error=false): a
                    # corrupt payload becomes a failure ROW, never a
                    # task failure — the one-shot kernel's row
                    r = failed(e)
                if isinstance(r, Extracted):
                    segs = [{"verdict": r.status, "fmt": r.fmt,
                             "error": r.error}]
                elif r is None:
                    segs = [{"verdict": "fallback", "fmt": got,
                             "html": payload}]
                else:
                    segs = [{"verdict": "", "state": state, "seg": seg,
                             "html": html} for state, seg, html in r]
                for j, seg in enumerate(segs):
                    rows.append(dict(row, seg_idx=j, n_segs=len(segs),
                                     **seg))
                    acc += len(seg.get("seg") or "") \
                        + len(seg.get("html") or b"")
                if acc >= SPLIT_FLUSH_BYTES:
                    yield pa.RecordBatch.from_pylist(rows, _SEG_ARROW)
                    rows, acc = [], 0
            if rows:
                yield pa.RecordBatch.from_pylist(rows, _SEG_ARROW)

    return split_batches


def seg_frame(parse):
    """mapInArrow: ``parse(row) -> (blocks, ok)`` each segment into a
    block blob; ok=False means the parse stopped inside the segment."""

    def seg_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = batch.to_pylist()
            for r in rows:
                blocks, ok = [], True
                if not r["verdict"]:        # a doc's verdict rides along
                    try:
                        blocks, ok = parse(r)
                    except Exception as e:  # total-function contract
                        x = failed(e)
                        r.update(verdict=x.status, fmt=x.fmt, error=x.error)
                r["payload"] = r["html"] if r["verdict"] == "fallback" \
                    else None
                r["perr"] = not ok
                # every Block field but idx, in declaration order
                r["blocks"] = json.dumps(
                    [list(vars(b).values())[1:] for b in blocks],
                    separators=(",", ":")).encode("utf-8")
            yield pa.RecordBatch.from_pylist(rows, _SEGX_ARROW)

    return seg_batches


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


def merge_frame(opt: ConvertOptions, finish, tally=None):
    """mapInArrow merge over PRE-AGGREGATED rows (one row per doc with
    its segments collected and sorted): a verdict row, the fallback
    lane, or ``finish(blocks, opt, url) -> Extracted``.  ``tally``: as
    in udfs.make_extract_kernel.

    mapInArrow over collect_list-aggregated rows, NOT per-group
    applyInPandas: a grouped-map pays one pandas DataFrame round-trip
    PER DOCUMENT (measured ~7ms/doc — 35 s for a 5k-doc corpus), while
    one Arrow batch here carries hundreds of documents."""

    def merge_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        counts = Tally(tally) if tally is not None else None
        for batch in batches:
            out = new_extract_out()
            for r in batch.to_pylist():
                if r["verdict"] == "fallback":
                    x = extract_document(r["payload"], opt, r["url"])
                elif r["verdict"]:
                    x = Extracted(status=r["verdict"], fmt=r["fmt"],
                                  error=r["error"])
                else:
                    x = finish(_merged_blocks(r["segs"]), opt, r["url"])
                append_extracted(out, x, r["url"], r["warc_ts"], r["lang"],
                                 r["orig_bytes"], r["part_id"])
            yield extract_batch(out, counts)
        if counts is not None:
            counts.report()

    return merge_batches


def _fan_out(src: DataFrame, split_kernel, seg_kernel, merge_kernel,
             tally) -> DataFrame:
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
            .repartition(src.sparkSession.sparkContext.defaultParallelism,
                         F.col("url"), F.col("seg_idx"))
            .mapInArrow(seg_kernel, _SEGX_SCHEMA))
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
    return agg.mapInArrow(merge_kernel, extract_schema(tally))


# ---------------------------------------------------------------------------
# the mini-PDF pieces: cut by page group, parse, finish
# ---------------------------------------------------------------------------

def _slice_pages(payload: bytes, pages_per_seg: int) -> list[bytes]:
    """Re-pack an admitted mini-PDF into per-page-group payloads that
    keep the ORIGINAL n_pages and page numbers (so page_range and the
    pdf/page[N] block paths are unchanged downstream)."""
    import struct
    n_pages, runs = pdfmini.parse_runs(payload)
    by_page: dict[int, list] = {}
    for r in runs:
        by_page.setdefault(r[0], []).append(r)
    pages = sorted(by_page)
    groups = [pages[i:i + pages_per_seg]
              for i in range(0, len(pages), pages_per_seg)]
    out = []
    for grp in groups:
        seg_runs = [r for p in grp for r in by_page[p]]
        buf = [pdfmini.MAGIC, struct.pack(">II", n_pages, len(seg_runs))]
        for page, x, y, fs, text in seg_runs:
            tb = text.encode("utf-8")
            buf.append(pdfmini._HDR.pack(page, x, y, fs, len(tb)))
            buf.append(tb)
        out.append(b"".join(buf))
    return out or [payload]  # zero-run doc: one whole segment


def _finish_pdf(blocks: list[Block], opt: ConvertOptions,
                url: str) -> Extracted:
    for b in blocks:    # the run index in a path is doc-global
        b.path = f"{b.container_path}/run[{b.idx}]"
    return finish_blocks(blocks, "pdf", opt, url)


def make_split_kernel(opt: ConvertOptions = DEFAULT_OPTIONS,
                      pages_per_seg: int = 1):
    """mapInArrow 1->N: oversized mini-PDF -> page-group segments."""
    return split_frame(opt, "pdf", lambda payload: [
        (None, None, seg) for seg in _slice_pages(payload, pages_per_seg)])


def make_seg_extract_kernel(opt: ConvertOptions = DEFAULT_OPTIONS):
    """mapInArrow: a page-group segment -> its blocks, by the one-shot
    parse on ORIGINAL page numbers (per-page reading order makes the
    concatenation equal the unsplit parse)."""
    return seg_frame(lambda r: (
        pdfmini.parse_pdf_blocks(r["html"], opt.page_range), True))


def make_merge_kernel(opt: ConvertOptions = DEFAULT_OPTIONS, tally=None):
    """mapInArrow: a doc's page-group blocks -> its EXTRACT row."""
    return merge_frame(opt, _finish_pdf, tally)


def extracted_split_df(pages: DataFrame, opt: ConvertOptions = DEFAULT_OPTIONS,
                       cpus: int = 32, split_bytes: int = SPLIT_BYTES,
                       pages_per_seg: int = 1,
                       html_split: bool = False,
                       html_target_chars: int | None = None,
                       tally=None) -> DataFrame:
    """Extraction with the oversized-document fan-out tier.

    Routing is declarative so Catalyst prunes every branch's scan:
    payloads under ``split_bytes`` take the normal no-shuffle kernel
    path; oversized mini-PDFs take the page-split chain; with
    ``html_split=True`` oversized NON-PDF payloads take the cut-point
    chain (htmlsplit.py) instead of pinning one task.  All branches
    union to the same EXTRACT schema, so downstream (waves, IceTable
    commit, chunkers) is tier-oblivious.  ``cpus`` is accepted for
    call-site compatibility and unused.  ``tally``: as in
    pipeline.extracted_df — each branch's final kernel (plain, PDF
    merge, HTML merge) tallies the rows it emits."""
    src = pages.select(*extract_input_cols(pages.columns, tally))
    # coalesce: a NULL html payload makes the predicates SQL NULL, which
    # every branch filter would drop — the row must take the normal
    # kernel path (which emits its skipped verdict).
    is_big = F.coalesce(F.length("html") >= F.lit(split_bytes),
                        F.lit(False))
    is_pdf = (F.substring(F.col("html").cast("binary"), 1,
                          len(pdfmini.MAGIC)) == F.lit(pdfmini.MAGIC))
    is_split = F.coalesce(is_big & is_pdf, F.lit(False))
    is_html_split = (F.coalesce(is_big & ~is_pdf, F.lit(False))
                     if html_split else F.lit(False))
    normal = (src.filter(~is_split & ~is_html_split)
              .mapInArrow(make_extract_kernel(opt, tally=tally),
                          extract_schema(tally)))
    out = normal.unionByName(_fan_out(
        src.filter(is_split), make_split_kernel(opt, pages_per_seg),
        make_seg_extract_kernel(opt), make_merge_kernel(opt, tally), tally))
    if html_split:
        from . import htmlsplit
        out = out.unionByName(_fan_out(
            src.filter(is_html_split),
            htmlsplit.make_html_split_kernel(
                opt, html_target_chars or htmlsplit.HTML_TARGET_CHARS),
            htmlsplit.make_html_seg_kernel(opt),
            htmlsplit.make_html_merge_kernel(opt, tally), tally))
    return out
