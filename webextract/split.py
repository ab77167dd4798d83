"""Distributed oversized-document tier: page split -> fan-out -> merge.

Operator C11's scale path (SURVEY.md §2.3/§4.1; reference precedent
examples/split_processing.py:73-118 — page-range fan-out followed by
``DoclingDocument.concatenate``).  The in-kernel byte-budget rebatcher
(udfs.py) bounds MEMORY per task, but a single 1 GB PDF still pins one
task end-to-end; this tier spreads its PAGES across the cluster:

1. split kernel (narrow 1->N mapInArrow): an oversized mini-PDF payload
   is sliced into per-page-group segment payloads that keep the
   ORIGINAL page numbers and header, so every downstream stage sees
   exactly the bytes/pages the unsplit parse would.  Document-level
   admission (max_file_size, from_formats, max_num_pages — the checks
   extract_document runs once per doc) happens HERE, once, on the whole
   payload; refused docs ship one empty segment carrying the verdict.
2. ``repartition(url, seg_idx)`` — the ONE shuffle that matters: it
   moves only the oversized docs' payload (by construction a tiny
   fraction of the corpus; everything under ``split_bytes`` stays on
   the no-shuffle path) and is what turns a straggler doc into N
   parallel tasks.
3. segment extract kernel (narrow): parses each segment into block rows
   (page, text, heading_level) — per-page reading order is identical to
   the unsplit parse because ``reading_order`` sorts within pages.
4. merge (groupBy(url).applyInPandas): reassembles the block list in
   seg_idx order, renumbers global run indices, and re-serializes with
   the SAME serializer functions as extract_document — byte-identical
   output for every to_format, the reference's concatenate semantics.

HTML payloads never take this tier: boilerplate scoring is a
document-GLOBAL decision (text/link-density over the whole block tree),
so splitting an HTML doc would change semantics.  Oversized HTML is
handled by byte-budget rebatching + fine scan splits instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from . import pdfmini
from .dom import Block, collapse_ws
from .options import ConvertOptions, DEFAULT_OPTIONS
from .udfs import (Tally, extract_batch, extract_ddl, extract_input_cols,
                   make_extract_kernel, new_extract_out)

SPLIT_BYTES = 8 * 1024 * 1024        # payloads >= this fan out by page

# segment frame: original header/page numbers preserved in `html`
_SEG_DDL = ("url string, warc_ts timestamp, rid bigint, lang string, "
            "part_id int, seg_idx int, n_segs int, orig_bytes bigint, "
            "verdict string, error string, html binary")
_SEG_ARROW = pa.schema([
    ("url", pa.large_string()), ("warc_ts", pa.timestamp("us")),
    ("rid", pa.int64()),
    ("lang", pa.string()), ("part_id", pa.int32()),
    ("seg_idx", pa.int32()), ("n_segs", pa.int32()),
    ("orig_bytes", pa.int64()), ("verdict", pa.string()),
    ("error", pa.string()), ("html", pa.large_binary())])

# extracted segment: blocks as structs, payload dropped (rows shrink ~5x
# before the merge shuffle)
_SEGX_DDL = ("url string, warc_ts timestamp, rid bigint, lang string, "
             "part_id int, seg_idx int, n_segs int, orig_bytes bigint, "
             "verdict string, error string, "
             "blocks array<struct<page:int,text:string,level:int>>")
_SEGX_ARROW = pa.schema([
    ("url", pa.large_string()), ("warc_ts", pa.timestamp("us")),
    ("rid", pa.int64()),
    ("lang", pa.string()), ("part_id", pa.int32()),
    ("seg_idx", pa.int32()), ("n_segs", pa.int32()),
    ("orig_bytes", pa.int64()), ("verdict", pa.string()),
    ("error", pa.string()),
    ("blocks", pa.list_(pa.struct([("page", pa.int32()),
                                   ("text", pa.large_string()),
                                   ("level", pa.int32())])))])


def _admit(payload: bytes, opt: ConvertOptions) -> tuple[str, str] | None:
    """Document-level admission, mirroring extract_document's checks in
    the same order (extract.py) so refused docs are byte-identical."""
    if payload is None or len(payload) == 0:
        return ("skipped", "empty payload")
    if len(payload) > opt.max_file_size:
        return ("skipped", "file too large")
    if "pdf" not in opt.from_formats:
        return ("skipped", "format pdf not admitted")
    if pdfmini.peek_n_pages(payload) > opt.max_num_pages:
        return ("skipped", "too many pages")
    return None


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


def make_split_kernel(opt: ConvertOptions = DEFAULT_OPTIONS,
                      pages_per_seg: int = 1):
    """mapInArrow 1->N: oversized PDF -> admitted page-group segments."""

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
            out = {k: [] for k in _SEG_ARROW.names}

            def emit(i, seg_idx, n_segs, verdict, error, payload):
                out["url"].append(urls[i])
                out["warc_ts"].append(ts[i])
                out["rid"].append(rids[i])
                out["lang"].append(langs[i])
                out["part_id"].append(pids[i])
                out["seg_idx"].append(seg_idx)
                out["n_segs"].append(n_segs)
                out["orig_bytes"].append(len(htmls[i]) if htmls[i] else 0)
                out["verdict"].append(verdict)
                out["error"].append(error)
                out["html"].append(payload)

            for i, payload in enumerate(htmls):
                try:
                    # admission INSIDE the guard: peek_n_pages on a
                    # truncated header raises exactly like it does in
                    # extract_document's try block
                    bad = _admit(payload or b"", opt)
                    segs = (None if bad is not None
                            else _slice_pages(payload, pages_per_seg))
                except Exception as e:
                    # total-function contract (abort_on_error=false):
                    # a corrupt payload becomes a failure ROW, never a
                    # task failure.  Same error text as the one-shot
                    # kernel (parse_runs/peek raise identically there).
                    emit(i, 0, 1, "failure", f"{type(e).__name__}: {e}",
                         None)
                    continue
                if bad is not None:
                    emit(i, 0, 1, bad[0], bad[1], None)
                    continue
                for j, seg in enumerate(segs):
                    emit(i, j, len(segs), "", "", seg)
            yield pa.RecordBatch.from_pydict(
                {f.name: pa.array(out[f.name], f.type) for f in _SEG_ARROW})

    return split_batches


def make_seg_extract_kernel(opt: ConvertOptions = DEFAULT_OPTIONS):
    """mapInArrow: parse one segment -> (page, text, level) block rows.
    Page-sliced by opt.page_range on ORIGINAL page numbers, exactly like
    parse_pdf_blocks; serialization is deferred to the merge."""

    def seg_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = {n: batch.column(n) for n in batch.schema.names}
            htmls = cols["html"].to_pylist()
            out = {n: (cols[n].to_pylist() if n != "blocks" and n != "html"
                       else []) for n in _SEGX_ARROW.names}
            out["blocks"] = []
            for i, payload in enumerate(htmls):
                if out["verdict"][i]:          # admission verdict rides along
                    out["blocks"].append([])
                    continue
                try:
                    a, b = opt.page_range
                    _, runs = pdfmini.parse_runs(payload)
                    runs = [r for r in runs if a <= r[0] <= b]
                    blocks = []
                    for page, x, y, fs, text in pdfmini.reading_order(runs):
                        text = collapse_ws(text)
                        if not text:
                            continue
                        blocks.append({"page": page, "text": text,
                                       "level": pdfmini.run_level(fs)})
                except Exception as e:  # total-function contract
                    out["verdict"][i] = "failure"
                    out["error"][i] = f"{type(e).__name__}: {e}"
                    blocks = []
                out["blocks"].append(blocks)
            yield pa.RecordBatch.from_pydict(
                {f.name: pa.array(out[f.name], f.type) for f in _SEGX_ARROW})

    return seg_batches


def make_merge_kernel(opt: ConvertOptions = DEFAULT_OPTIONS, tally=None):
    """mapInArrow merge over PRE-AGGREGATED rows (one row per url with
    its segment structs collected and sorted): rebuild the global block
    list in seg_idx order and re-serialize with extract_document's own
    serializer functions (byte-identity by construction).  ``tally``:
    as in udfs.make_extract_kernel.

    mapInArrow over collect_list-aggregated rows, NOT per-group
    applyInPandas: a grouped-map pays one pandas DataFrame round-trip
    PER DOCUMENT (measured ~7ms/doc — 35 s for a 5k-doc corpus), while
    one Arrow batch here carries hundreds of documents."""
    from .extract import (serialize_doctags, serialize_html,
                          serialize_html_split_page, serialize_json,
                          serialize_md, serialize_text)

    def merge_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        counts = Tally(tally) if tally is not None else None
        for batch in batches:
            cols = {n: batch.column(n).to_pylist()
                    for n in batch.schema.names}
            out = new_extract_out()

            def emit(i, **kw):
                row = {"url": cols["url"][i], "warc_ts": cols["warc_ts"][i],
                       "lang": cols["lang"][i], "status": "success",
                       "fmt": "pdf", "text": "", "text_md": "",
                       "doctags": "", "text_html": "", "text_html_split": "",
                       "text_json": "", "spans": [], "images": [],
                       "n_blocks": 0, "bytes_in": cols["orig_bytes"][i],
                       "error": None, "part_id": cols["part_id"][i]}
                row.update(kw)
                for k, v in row.items():
                    out[k].append(v)

            for i in range(len(cols["url"])):
                if cols["verdict"][i]:
                    # mirror extract_document's refused/failed-row shape:
                    # size checks fire BEFORE sniffing and exception rows
                    # use the Extracted default (fmt "html" both);
                    # format/page admission checks fire after (fmt "pdf")
                    fmt = "pdf" if cols["error"][i] in (
                        "format pdf not admitted", "too many pages") \
                        else "html"
                    emit(i, status=cols["verdict"][i],
                         error=cols["error"][i], fmt=fmt)
                    continue
                blocks: list[Block] = []
                for seg in cols["segs"][i]:          # sorted by seg_idx
                    for sb in (seg["blocks"] or []):
                        blocks.append(pdfmini.pdf_block(
                            int(sb["page"]), sb["text"],
                            int(sb["level"]), len(blocks)))
                if not blocks:
                    emit(i, status="skipped", error="no content")
                    continue
                text, spans = serialize_text(blocks)
                kw = {"text": text, "n_blocks": len(blocks),
                      "spans": [{"start": s, "end": e, "kind": k, "path": p}
                                for (s, e, k, p) in spans]}
                if "md" in opt.to_formats:
                    kw["text_md"] = serialize_md(
                        blocks, opt.md_page_break_placeholder,
                        opt.image_export_mode)
                if "doctags" in opt.to_formats:
                    kw["doctags"] = serialize_doctags(blocks)
                if "html" in opt.to_formats:
                    kw["text_html"] = serialize_html(blocks)
                if "html_split_page" in opt.to_formats:
                    kw["text_html_split"] = serialize_html_split_page(blocks)
                if "json" in opt.to_formats:
                    kw["text_json"] = serialize_json(blocks, cols["url"][i])
                emit(i, **kw)
            yield extract_batch(out, counts)
        if counts is not None:
            counts.report()

    return merge_batches


def _fan_out(df: DataFrame, cpus: int) -> int:
    """Segment fan-out partition count: the requested cpus*4, capped
    at the session's total parallelism.  The segment-parse stage is
    python-task-overhead-bound above ~1 partition per core (measured
    at sf1.0: 16 parts 5.6 s, 32 parts 4.7 s, 128 parts 7.8 s), so a
    caller sized for a bigger cluster never over-fans the session it
    actually runs in; on a real cluster defaultParallelism is the
    cluster's core count and the cap IS one partition per core."""
    try:
        cores = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        cores = cpus * 4
    return max(1, min(cpus * 4, cores))


def extracted_split_df(pages: DataFrame, opt: ConvertOptions = DEFAULT_OPTIONS,
                       cpus: int = 32, split_bytes: int = SPLIT_BYTES,
                       pages_per_seg: int = 1,
                       html_split: bool = False,
                       html_target_chars: int | None = None,
                       tally=None) -> DataFrame:
    """Extraction with the oversized-document fan-out tiers.

    Routing is declarative so Catalyst prunes every branch's scan:
    payloads under ``split_bytes`` take the normal no-shuffle kernel
    path; oversized mini-PDFs take page split -> repartition -> parse
    -> merge; with ``html_split=True`` oversized NON-PDF payloads take
    the cut-point tier (htmlsplit.py: structural scan -> seeded
    segment parses -> global select_main merge) instead of pinning one
    task.  All branches union to the same EXTRACT schema, so
    downstream (waves, IceTable commit, chunkers) is tier-oblivious.
    ``tally``: as in pipeline.extracted_df — each branch's final kernel
    (plain, PDF merge, HTML merge) tallies the rows it emits."""
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
                          extract_ddl(tally)))
    segs = (src.filter(is_split)
            # rid: a physical per-row uniquifier for the merge key —
            # (url, warc_ts) alone would COLLAPSE exact-duplicate input
            # rows (same url AND same timestamp) into one corrupted
            # merged doc, where the 1-row-in/1-row-out normal path
            # emits two rows (round-3 review finding)
            .withColumn("rid", F.monotonically_increasing_id())
            .mapInArrow(make_split_kernel(opt, pages_per_seg), _SEG_DDL)
            .repartition(_fan_out(pages, cpus), F.col("url"),
                         F.col("seg_idx"))
            .mapInArrow(make_seg_extract_kernel(opt), _SEGX_DDL))
    # merge shuffle moves BLOCK rows (payload already dropped); one
    # aggregated row per doc feeds the batched merge kernel.  The doc
    # key is (url, warc_ts, rid): the crawl's natural primary key per
    # the input_hint schema plus the physical uniquifier, so a
    # recrawled url — or an outright duplicate row — is two documents,
    # exactly like the normal path.  max() over verdict/error surfaces
    # a failed SEGMENT's verdict over its siblings' "".
    agg = (segs.groupBy("url", "warc_ts", "rid")
           .agg(F.first("lang").alias("lang"),
                F.first("part_id").alias("part_id"),
                F.first("orig_bytes").alias("orig_bytes"),
                F.max("verdict").alias("verdict"),
                F.max("error").alias("error"),
                F.sort_array(F.collect_list(
                    F.struct("seg_idx", "blocks"))).alias("segs")))
    merged = agg.mapInArrow(make_merge_kernel(opt, tally),
                            extract_ddl(tally))
    out = normal.unionByName(merged)
    if html_split:
        from .htmlsplit import (HTML_TARGET_CHARS,
                                extracted_html_split_branch)
        out = out.unionByName(extracted_html_split_branch(
            src.filter(is_html_split), opt, cpus,
            html_target_chars or HTML_TARGET_CHARS, tally))
    return out
