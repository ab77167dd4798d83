"""Oversized-HTML split tier (r2 item 9): seeded-parser segments must be
byte-identical to the one-shot parse for every column — paths, sibling
indexes, li numbering, boiler flags, spans, all six serializers — with
cuts forced across every structural feature (target_chars=1 puts a cut
at EVERY eligible tag)."""

from __future__ import annotations

import datetime

import pytest

from webextract.dom import parse_blocks
from webextract.docpages import PAGES_SCHEMA
from webextract.extract import extract_document
from webextract.htmlsplit import _parse_seeded, scan_cuts
from webextract.options import ConvertOptions
from webextract.pipeline import extracted_df
from webextract.synth import gen_page

ALL_FORMATS = ConvertOptions(
    to_formats=("md", "text", "doctags", "html", "html_split_page", "json"))

TS = datetime.datetime(2025, 3, 1, 12, 0, 0)

NASTY = [
    # boilerplate page with nav/aside/footer + article (global scoring
    # must still pick the article after reassembly)
    (b"<html><body><nav><ul>" + b'<li><a href="/x">menu link</a></li>' * 9
     + b"</ul></nav><div id='page'><aside><ul>"
     + b'<li><a href="/y">rel</a></li>' * 8 + b"</ul></aside>"
     + b"<article><h1>Title Here</h1>"
     + b"<p>" + b"alpha beta gamma " * 30 + b"</p>"
     + b"<p>second paragraph of content words here and more</p>"
     + b"</article></div><footer>site footer links</footer></body></html>"),
    # ordered/unordered lists crossing cuts (li numbering must survive)
    (b"<html><body><article><ol>" + b"<li>item one text</li>" * 7
     + b"</ol><ul><li>bullet text</li><li>another bullet</li></ul>"
     + b"<p>closing para text content words</p></article></body></html>"),
    # table + pre/code + blockquote + img
    (b"<html><body><article><h1>Rich</h1>"
     b"<table><tr><td>a1</td><td>b1</td></tr><tr><td>a2</td><td>b2</td>"
     b"</tr></table><pre>  raw\ncode block  </pre>"
     b"<blockquote>quoted words<p>nested quote para</p></blockquote>"
     b'<img src="pic.png"><p>after image text content</p>'
     b"</article></body></html>"),
    # unclosed tags + script/style + entities + links inside text
    (b"<html><body><div class='content'><h2>Head &amp; tail</h2>"
     b"<script>var x = '<p>not a para</p>';</script>"
     b"<style>.x{color:red}</style>"
     b"<p>unclosed para with <a href='/z'>a link inside</a> and text"
     b"<p>second implicitly closed para</p>"
     b"<div>trailing implicit text directly in div</div>"
     b"</div></body></html>"),
    # boiler class hints + nested containers + _text pending blocks
    (b"<html><body><div class='sidebar related'><p>related junk link"
     b" farm</p></div><main>leading main text"
     b"<section><h3>Sec</h3><p>deep section words text</p>"
     b"loose section tail</section></main></body></html>"),
    # block/container tags inside table cells (no cut may land inside a
    # table: the cell text would leave the table block)
    (b"<html><body><article><h2>Cells</h2><table><tr>"
     b"<td><p>cell para one</p><p>cell para two</p></td>"
     b"<td><div>cell div text</div></td></tr><tr>"
     b"<td><ul><li>cell item a</li><li>cell item b</li></ul></td>"
     b"<td>plain cell</td></tr></table>"
     b"<p>after the table paragraph words</p></article></body></html>"),
    # block/container tags inside skipped subtrees (no cut may land
    # inside one: the seeded parse would keep the skipped text)
    (b"<html><body><div class='content'><p>before the skip words</p>"
     b"<noscript><div><p>noscript para text</p></div></noscript>"
     b"<svg><g><p>svg para text</p></g></svg>"
     b"<p>after the skip words here</p></div></body></html>"),
]


def _synth_pages(n=12):
    return [gen_page(i)["html"] for i in range(n)]


@pytest.mark.parametrize("target", [1, 40, 400])
def test_seeded_parse_identical_blocks(target):
    """Cut at every eligible tag (target=1) and at coarser strides:
    concatenated seeded-segment blocks == one-shot parse blocks, field
    for field (idx renumbered)."""
    for payload in NASTY + _synth_pages():
        text = payload.decode("utf-8", "replace") \
            if isinstance(payload, bytes) else payload
        want = parse_blocks(text)
        cuts = scan_cuts(text, target)
        bounds = [(0, None)] + cuts + [(len(text), None)]
        got = []
        for j in range(len(bounds) - 1):
            start, state = bounds[j]
            end = bounds[j + 1][0]
            got.extend(_parse_seeded(text[start:end], state)[0])
        assert len(got) == len(want), (target, len(got), len(want))
        for g, w in zip(got, want):
            for f in ("tag", "kind", "path", "container_path", "depth",
                      "text", "link_chars", "boiler", "semantic",
                      "heading_level", "li_index", "cells", "src"):
                assert getattr(g, f) == getattr(w, f), \
                    (target, f, getattr(g, f), getattr(w, f))


def _pages_df(spark, payloads):
    rows = [(f"doc://{i}", TS, p, "", "en") for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, PAGES_SCHEMA).repartition(3)


def _collect(df):
    return {r["url"]: r.asDict(recursive=True) for r in df.collect()}


def test_html_split_tier_byte_identical(spark):
    """Whole corpus forced through the html tier (split_bytes=1: a cut
    at every eligible tag): every column equals the one-shot kernel."""
    payloads = NASTY + _synth_pages(8)
    pages = _pages_df(spark, payloads)
    ref = _collect(extracted_df(pages, ALL_FORMATS))
    got = _collect(extracted_df(pages, ALL_FORMATS, split_bytes=1))
    assert set(got) == set(ref)
    for url in ref:
        for k in ref[url]:
            assert got[url][k] == ref[url][k], (url, k)


def test_html_split_tier_admission_and_fallback(spark):
    """Admission verdicts (empty/too-large/unknown/not-admitted) and
    the non-html fallback lane (md payload routed to the html tier)
    must match one-shot rows byte-for-byte."""
    payloads = [
        b"",                                     # empty -> skipped
        b"\x00\xff\xfejunk" * 10,                # unknown -> skipped
        b"# md heading\n\nmd body text here\n",  # fallback lane
        NASTY[0],
    ]
    pages = _pages_df(spark, payloads)
    for opt in (ALL_FORMATS, ALL_FORMATS.with_(max_file_size=30),
                ALL_FORMATS.with_(from_formats=("pdf",))):
        ref = _collect(extracted_df(pages, opt))
        got = _collect(extracted_df(pages, opt, split_bytes=1))
        assert got == ref, opt


def test_html_split_spreads_segments(spark):
    """The point of the tier: one oversized doc becomes many segments,
    at most L // split_bytes of them."""
    from webextract.htmlsplit import make_html_split_kernel
    from webextract.split import SEG_SCHEMA
    pages = _pages_df(spark, [NASTY[0]])
    segs = (pages.select("url", "warc_ts", "lang", "html")
            .mapInArrow(make_html_split_kernel(ALL_FORMATS, 64), SEG_SCHEMA)
            .collect())
    assert 3 < len(segs) <= len(NASTY[0]) // 64
    assert sorted(r.seg_idx for r in segs) == list(range(len(segs)))
    # segment text reassembles the decoded payload exactly
    joined = "".join(r.seg for r in sorted(segs, key=lambda r: r.seg_idx))
    assert joined == NASTY[0].decode("utf-8")


def test_pdf_tier_still_works_with_html_split_on(spark):
    """Both tiers at once: oversized mini-PDFs take the page tier,
    oversized html the cut tier, small docs the narrow path."""
    from webextract import pdfmini
    pdf = pdfmini.write_pdf([[(10, 10, 11, "page one words")],
                             [(10, 10, 11, "page two words")]])
    payloads = [pdf, NASTY[0], b"<p>tiny</p>"]
    pages = _pages_df(spark, payloads)
    ref = _collect(extracted_df(pages, ALL_FORMATS))
    got = _collect(extracted_df(pages, ALL_FORMATS, split_bytes=20))
    assert got == ref


def test_tier_takes_only_payloads_it_cuts(spark, monkeypatch):
    """The routing bar is 2 * split_bytes, the smallest payload that
    split.n_segments cuts: one byte under it yields no segment row (the
    plain kernel extracts it), and at it the split kernel emits at
    least 2 segments."""
    from webextract import htmlsplit
    segs = spark.sparkContext.accumulator(0)
    make = htmlsplit.make_html_split_kernel

    def counting(opt, split_bytes):
        kernel = make(opt, split_bytes)

        def run(batches):
            for b in kernel(batches):
                segs.add(b.num_rows)
                yield b
        return run
    monkeypatch.setattr(htmlsplit, "make_html_split_kernel", counting)
    split_bytes = 256
    body = (b"<html><body><article>" + b"<p>alpha beta gamma delta</p>" * 20
            + b"</article></body></html>")

    def n_segs(size):
        payload = body[:size]
        assert len(payload) == size
        segs.value = 0
        (row,) = extracted_df(_pages_df(spark, [payload]), ALL_FORMATS,
                              split_bytes=split_bytes).collect()
        assert row.text == extract_document(payload, ALL_FORMATS).text
        return segs.value
    assert n_segs(2 * split_bytes - 1) == 0
    assert n_segs(2 * split_bytes) >= 2


def test_html_split_tier_plan_shape(spark):
    """Scale shape pinned: normal branch no-shuffle; each tier crosses
    exactly ONE payload repartition; the raw payload, the decoded
    segment text and state are DROPPED before the merge aggregate's
    exchange (only block structs + the rare fallback payload cross
    it).  No kernel and no merge aggregate takes the write's part key,
    even from a source that carries one."""
    from webextract.pipeline import with_part_id
    from webextract.synth import pages_df
    pages = with_part_id(pages_df(spark, 50, parallelism=4), 4)
    opt = (extracted_df(pages, split_bytes=1024)
           ._jdf.queryExecution().optimizedPlan().toString())
    # one payload repartition per tier (pdf + html), none elsewhere
    assert opt.count("RepartitionByExpression") == 2, opt[:2000]
    # normal branch (first union child, ':-' prefixed lines before the
    # first merge) carries no exchange
    first_merge = opt.index("merge_batches")
    normal = [ln for ln in opt[:first_merge].splitlines()
              if ln.startswith(":")]
    assert normal and not any("Repartition" in ln or "Exchange" in ln
                              for ln in normal), normal
    # every merge Aggregate's input excludes the segment text and
    # parser state: the output attributes (last [...]) of its child
    lines = opt.splitlines()
    agg_is = [i for i, ln in enumerate(lines) if "Aggregate [url" in ln]
    assert len(agg_is) == 2
    for i in agg_is:
        child = lines[i + 1]
        out = child.rsplit("[", 1)[1]
        assert not any(c in out for c in ("html", " seg#", "state#")), child
        assert "part_id" not in lines[i] + child, lines[i]
    # the extraction kernels: plain + 3 per chain
    kernels = [ln for ln in lines if "MapInArrow" in ln]
    assert len(kernels) == 7, kernels
    assert not any("part_id" in ln for ln in kernels), kernels


def test_run_extract_with_html_tier_matches_default(spark, tmp_path):
    """Product surface: run_extract(split_bytes=...) commits the same
    table as the default pipeline (synth corpus incl. skew bombs).
    ``html_split`` is still accepted, and unused."""
    from webextract.icetable import IceTable
    from webextract.pipeline import run_extract
    from webextract.synth import pages_df
    pages = pages_df(spark, 120, parallelism=4)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    run_extract(spark, pages, a, partitions=8, waves=2, cpus=4)
    run_extract(spark, pages, b, partitions=8, waves=2, cpus=4,
                split_bytes=2048, html_split=True)
    ra = {r["url"]: r.asDict(recursive=True)
          for r in IceTable(a).read(spark).collect()}
    rb = {r["url"]: r.asDict(recursive=True)
          for r in IceTable(b).read(spark).collect()}
    assert set(ra) == set(rb)
    for url in ra:
        assert ra[url] == rb[url], url


def test_exact_duplicate_rows_stay_separate(spark):
    """r3 review finding: two input rows with the SAME (url, warc_ts)
    — an outright duplicate crawl record — must come out as two rows
    through BOTH fan-out tiers (the rid uniquifier in the merge key),
    exactly like the 1:1 normal path."""
    from webextract import pdfmini
    pdf = pdfmini.write_pdf([[(10, 10, 11, "dup page words")]])
    rows = [("dup://x", TS, NASTY[0], "", "en"),
            ("dup://x", TS, NASTY[0], "", "en"),
            ("dup://p", TS, pdf, "", "en"),
            ("dup://p", TS, pdf, "", "en")]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA).repartition(2)
    ref = sorted((r["url"], r["status"], r["text"]) for r in
                 extracted_df(pages, ALL_FORMATS).collect())
    got = sorted((r["url"], r["status"], r["text"]) for r in
                 extracted_df(pages, ALL_FORMATS, split_bytes=1).collect())
    assert len(got) == 4
    assert got == ref
