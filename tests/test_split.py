"""Distributed oversized-doc tier (VERDICT item 7): the split path's
output must be byte-identical to the unsplit kernel for every column,
every to_format, and every admission outcome — the reference's
split_processing precedent (examples/split_processing.py:73-118) where
page-range fan-out + concatenate must reproduce the one-shot convert.
"""

from __future__ import annotations

import datetime

from webextract import pdfmini
from webextract.docpages import PAGES_SCHEMA
from webextract.options import ConvertOptions
from webextract.pipeline import extracted_df

ALL_FORMATS = ConvertOptions(
    to_formats=("md", "text", "doctags", "html", "html_split_page", "json"),
    md_page_break_placeholder="<!-- pb -->")

TS = datetime.datetime(2025, 3, 1, 12, 0, 0)


def _mk_pdfs():
    """Varied multi-page mini-PDFs: headings, two columns (x bands),
    reversed wire order, a page with no runs, single-page, many-page."""
    docs = []
    # doc 0: 4 pages, headings + bodies, reversed wire order
    pages = []
    for p in range(4):
        runs = [(50, 30, 24, f"Title {p}"),
                (50, 80, 11, f"left body {p} alpha beta"),
                (400, 80, 11, f"right col {p} gamma delta"),
                (50, 140, 18, f"Sub {p}")]
        pages.append(runs)
    docs.append(pdfmini.write_pdf([list(reversed(p)) for p in pages]))
    # doc 1: page 2 of 3 empty
    docs.append(pdfmini.write_pdf([
        [(10, 10, 11, "only page one text")],
        [],
        [(10, 10, 11, "page three text")]]))
    # doc 2: single page
    docs.append(pdfmini.write_pdf([[(10, 10, 24, "Lone Title"),
                                    (10, 50, 11, "lone body")]]))
    # doc 3: zero runs at all
    docs.append(pdfmini.write_pdf([[], []]))
    # doc 4: 7 pages x 3 runs
    docs.append(pdfmini.write_pdf(
        [[(10, 10 + 20 * j, 11, f"p{p} r{j} words here") for j in range(3)]
         for p in range(7)]))
    return docs


def _pages_df(spark, payloads):
    rows = [(f"pdf://{i}", TS, p, "", "en") for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, PAGES_SCHEMA).repartition(3)


def _collect(df):
    rows = {}
    for r in df.collect():
        d = r.asDict(recursive=True)
        rows[d.pop("url")] = d
    return rows


def _assert_identical(spark, payloads, opt, split_bytes=1):
    pages = _pages_df(spark, payloads)
    ref = _collect(extracted_df(pages, opt))
    got = _collect(extracted_df(pages, opt, split_bytes=split_bytes))
    assert set(got) == set(ref)
    for url in ref:
        for k in ref[url]:
            assert got[url][k] == ref[url][k], (url, k, got[url][k],
                                                ref[url][k])


def test_split_path_byte_identical_all_formats(spark):
    _assert_identical(spark, _mk_pdfs(), ALL_FORMATS)


def test_split_path_page_groups(spark):
    """split_bytes=195 cuts doc 0 (422 B, 4 pages) into 2 page groups
    and doc 4 (585 B, 7 pages) into 3; the small docs stay whole."""
    _assert_identical(spark, _mk_pdfs(), ALL_FORMATS, split_bytes=195)


def test_split_path_page_range(spark):
    _assert_identical(spark, _mk_pdfs(),
                      ALL_FORMATS.with_(page_range=(2, 3)))


def test_split_path_admission(spark):
    # file too large / format not admitted / too many pages — refused
    # rows must match the unsplit kernel byte-for-byte
    _assert_identical(spark, _mk_pdfs(), ALL_FORMATS.with_(max_file_size=60))
    _assert_identical(spark, _mk_pdfs(),
                      ALL_FORMATS.with_(from_formats=("html", "md")))
    _assert_identical(spark, _mk_pdfs(), ALL_FORMATS.with_(max_num_pages=3))


def test_small_and_html_docs_stay_on_narrow_path(spark):
    """Routing: only oversized mini-PDFs cross the shuffle; HTML and
    small PDFs keep the no-shuffle plan (checked by result equality with
    a split_bytes above every payload: the split branch is empty)."""
    html = (b"<html><body><article><p>" + b"content words here " * 30
            + b"</p></article></body></html>")
    payloads = _mk_pdfs() + [html]
    pages = _pages_df(spark, payloads)
    ref = _collect(extracted_df(pages, ALL_FORMATS))
    got = _collect(extracted_df(pages, ALL_FORMATS, split_bytes=1 << 30))
    assert got == ref
    assert got["pdf://5"]["fmt"] == "html"


def test_extracted_df_schema_is_extract_schema(spark):
    """extracted_df emits EXTRACT_SCHEMA on the plain and the tier plan,
    whether or not the source carries the write's part key."""
    from webextract.pipeline import with_part_id
    from webextract.udfs import EXTRACT_SCHEMA
    pages = _pages_df(spark, _mk_pdfs())
    for src in (pages, with_part_id(pages, 4)):
        for split_bytes in (None, 1):
            out = extracted_df(src, ALL_FORMATS, split_bytes=split_bytes)
            assert out.schema == EXTRACT_SCHEMA, (src.columns, split_bytes)


def test_split_spreads_segments(spark):
    """The point of the tier: one oversized doc becomes many tasks.
    A payload of L bytes becomes L // split_bytes page groups (at most
    one per page with runs), each a segment row."""
    from webextract.split import make_split_kernel, SEG_SCHEMA
    doc = _mk_pdfs()[4]  # 7 pages, 585 bytes
    pages = _pages_df(spark, [doc])
    for split_bytes, n in ((1, 7), (len(doc) // 3, 3), (len(doc) // 2, 2),
                           (len(doc), 1)):
        assert n == min(7, len(doc) // split_bytes)
        segs = (pages.select("url", "warc_ts", "lang", "html")
                .mapInArrow(make_split_kernel(ALL_FORMATS, split_bytes),
                            SEG_SCHEMA))
        rows = segs.collect()
        assert sorted(r.seg_idx for r in rows) == list(range(n)), split_bytes
        # every segment is a valid mini-PDF with the ORIGINAL page count
        for r in rows:
            assert pdfmini.peek_n_pages(bytes(r.html)) == 7


def test_run_extract_with_split_tier_matches_default(spark, tmp_path):
    """Pipeline integration: run_extract(split_bytes=...) commits a
    table byte-identical to the default path, including lineage counts
    (the tier is an execution strategy, not a semantic change)."""
    from webextract.icetable import IceTable
    from webextract.pipeline import run_extract
    from webextract.synth import pages_df
    mixed = _pages_df(spark, _mk_pdfs()).unionByName(
        pages_df(spark, 40, parallelism=2))
    ref_root, split_root = str(tmp_path / "ref"), str(tmp_path / "split")
    run_extract(spark, mixed, ref_root, partitions=8, waves=2, cpus=4)
    run_extract(spark, mixed, split_root, partitions=8, waves=2, cpus=4,
                split_bytes=1)
    ref = {r.url: (r.status, r.text, r.text_md, r.bytes_in)
           for r in IceTable(ref_root).read(spark).collect()}
    got = {r.url: (r.status, r.text, r.text_md, r.bytes_in)
           for r in IceTable(split_root).read(spark).collect()}
    assert got == ref and len(ref) == 45


def test_abort_on_error_fails_job_keeps_snapshots(spark, tmp_path):
    """abort_on_error=true (docs/usage.md:24): the job raises on a wave
    with failures, committed snapshots survive for resume."""
    import pytest
    from webextract.docpages import PAGES_SCHEMA
    from webextract.icetable import IceTable
    from webextract.options import ConvertOptions
    from webextract.pipeline import run_extract
    # a payload that sniffs as json_docling but fails to parse -> failure
    bad = b'{"schema_name": "other-schema", "blocks": [}'
    rows = [(f"doc://{i}",
             TS,
             bad if i == 7 else b"<html><body><article><p>"
             + b"fine words " * 30 + b"</p></article></body></html>",
             "", "en") for i in range(30)]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA).repartition(4)
    root = str(tmp_path / "abort")
    with pytest.raises(Exception, match="abort_on_error"):
        run_extract(spark, pages, root, partitions=8, waves=8, cpus=4,
                    opt=ConvertOptions(abort_on_error=True))
    tbl = IceTable(root)
    assert 0 < len(tbl.committed_parts()) <= 8   # partial progress kept
    # default tolerates the failure row and completes
    root2 = str(tmp_path / "tolerant")
    s = run_extract(spark, pages, root2, partitions=8, waves=2, cpus=4)
    assert sorted(IceTable(root2).committed_parts()) == list(range(8))
    statuses = {r.url: r.status for r in IceTable(root2).read(spark).collect()}
    assert statuses["doc://7"] == "failure"


def test_corrupt_oversized_pdf_is_failure_row_not_task_failure(spark):
    """Round-2 review finding: a corrupt oversized mini-PDF must become
    a status=failure ROW matching the one-shot kernel byte-for-byte,
    never a task/job failure (abort_on_error=false contract)."""
    import struct
    corrupt = pdfmini.MAGIC + struct.pack(">II", 2, 1) + b"\x00\x01"
    _assert_identical(spark, _mk_pdfs() + [corrupt], ALL_FORMATS)


def test_same_url_different_warc_ts_stay_separate(spark):
    """Round-2 review finding: a recrawled url (same url, different
    warc_ts) is two documents through the split tier, like the 1:1
    normal path."""
    import datetime
    docs = _mk_pdfs()
    rows = [("pdf://same", datetime.datetime(2025, 1, 1), docs[0], "", "en"),
            ("pdf://same", datetime.datetime(2025, 6, 1), docs[4], "", "en")]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    got = (extracted_df(pages, ALL_FORMATS, split_bytes=1)
           .select("url", "warc_ts", "text").collect())
    assert len(got) == 2
    texts = {r.warc_ts.month: r.text for r in got}
    assert "Title 0" in texts[1] and "p6 r2" in texts[6]


def test_truncated_magic_payload_is_failure_row(spark):
    """Second-review finding: a MAGIC-prefixed payload too short for the
    header must fail as a ROW through the split tier (admission peek
    raises inside the guard), identical to the one-shot kernel."""
    _assert_identical(spark, [pdfmini.MAGIC, pdfmini.MAGIC + b"\x00"],
                      ALL_FORMATS)


def test_null_html_row_takes_normal_path(spark):
    """ADVICE r2 (medium): a NULL html payload made is_split SQL NULL,
    so BOTH branch filters dropped the row and the document vanished
    from the committed table.  It must take the normal kernel path and
    come back as a skipped 'empty payload' row, identical to one-shot."""
    _assert_identical(spark, _mk_pdfs() + [None, b""], ALL_FORMATS)


def test_split_kernel_flushes_at_byte_budget(monkeypatch):
    """Every kernel's frame (udfs.row_kernel) bounds its output batches
    at BATCH_BYTE_BUDGET — the plain extraction kernel and the split
    kernel alike — with the same rows as one unbounded batch."""
    import pyarrow as pa
    from webextract import split, udfs
    batch = pa.RecordBatch.from_pydict({
        "url": [f"pdf://{i}" for i in range(5)], "warc_ts": [TS] * 5,
        "html": _mk_pdfs()})
    kernels = (udfs.make_extract_kernel(ALL_FORMATS),
               split.make_split_kernel(ALL_FORMATS, 1))
    refs = [list(kernel(iter([batch]))) for kernel in kernels]
    # the budget is read when a kernel runs, not when it is built
    monkeypatch.setattr(udfs, "BATCH_BYTE_BUDGET", 300)
    for kernel, ref in zip(kernels, refs):
        got = list(kernel(iter([batch])))
        assert len(ref) == 1 and len(got) > 1, kernel.__name__
        assert [r for b in got for r in b.to_pylist()] == ref[0].to_pylist()
