"""The benchmark's tracer (perfbench/trace.py) hooks the split tier by
module attribute: the kernel factories when the plan is built, and the
per-format helpers inside the Python workers.  These tests pin that
every hooked name exists and is still reached on the job path, so a
refactor cannot silently zero a per-layer metric."""

from __future__ import annotations

import datetime
import importlib
from collections import Counter

import pyarrow as pa

from webextract import htmlsplit, pdfmini, pipeline, split
from webextract.docpages import PAGES_SCHEMA
from webextract.extract import extract_document
from webextract.options import DEFAULT_OPTIONS
from perfbench.trace import KERNEL_FACTORIES

TS = datetime.datetime(2025, 3, 1, 12, 0, 0)
PDF = pdfmini.write_pdf([[(10, 10, 24, "Title"), (10, 50, 11, "one")],
                         [(10, 10, 11, "page two words")]])
HTML = (b"<html><body><article><h1>Head</h1>"
        + b"<p>alpha beta gamma delta</p>" * 8 + b"</article></body></html>")
SPLIT_FACTORIES = [(m, a) for m, a, _ in KERNEL_FACTORIES if m != "udfs"]


def _counting(monkeypatch, calls, mod, attr):
    fn = getattr(mod, attr)

    def wrapper(*a, **k):
        calls[attr] += 1
        return fn(*a, **k)
    monkeypatch.setattr(mod, attr, wrapper)


def test_kernel_factories_resolve_and_build_the_plan(spark, monkeypatch):
    for mod_name, attr, _ in KERNEL_FACTORIES:
        assert callable(getattr(importlib.import_module(
            f"webextract.{mod_name}"), attr)), (mod_name, attr)
    assert len(SPLIT_FACTORIES) == 6
    calls = Counter()
    for mod_name, attr in SPLIT_FACTORIES:
        _counting(monkeypatch, calls,
                  importlib.import_module(f"webextract.{mod_name}"), attr)
    pages = spark.createDataFrame(
        [("pdf://0", TS, PDF, "", "en"), ("html://1", TS, HTML, "", "en")],
        PAGES_SCHEMA)
    pipeline.extracted_df(pages, split_bytes=1)
    assert set(calls) == {a for _, a in SPLIT_FACTORIES}, calls


def _run_chain(make_split, make_seg, make_merge, payload):
    """The tier's three kernels in-process, with the groupBy +
    sort_array(collect_list) between segment and merge done by hand."""
    batch = pa.RecordBatch.from_pydict(
        {"url": ["u://0"], "warc_ts": [TS], "lang": ["en"], "rid": [0],
         "html": [payload]})
    segs = [r for b in make_seg()(make_split()(iter([batch])))
            for r in b.to_pylist()]
    doc = dict(segs[0], segs=sorted(
        ({"seg_idx": s["seg_idx"], "perr": s["perr"], "blocks": s["blocks"]}
         for s in segs), key=lambda s: s["seg_idx"]))
    merged = pa.RecordBatch.from_pylist([doc])
    (out,) = make_merge()(iter([merged]))
    return len(segs), out.to_pylist()[0]


def test_per_format_helpers_run_in_the_kernels(monkeypatch):
    calls = Counter()
    _counting(monkeypatch, calls, split, "_slice_pages")
    _counting(monkeypatch, calls, htmlsplit, "scan_cuts")
    _counting(monkeypatch, calls, htmlsplit, "_parse_seeded")
    opt = DEFAULT_OPTIONS
    n, row = _run_chain(lambda: split.make_split_kernel(opt, 1),
                        lambda: split.make_seg_extract_kernel(opt),
                        lambda: split.make_merge_kernel(opt), PDF)
    assert n == 2 and row["text"] == extract_document(PDF, opt).text
    n, row = _run_chain(
        lambda: htmlsplit.make_html_split_kernel(opt, 32),
        lambda: htmlsplit.make_html_seg_kernel(opt),
        lambda: htmlsplit.make_html_merge_kernel(opt), HTML)
    assert n > 1 and row["text"] == extract_document(HTML, opt).text
    assert calls == {"_slice_pages": 1, "scan_cuts": 1,
                     "_parse_seeded": n}, calls
