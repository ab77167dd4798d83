"""Operator tests: C9 image export modes, P4 document timeout,
C10 md page-break placeholder, S6 artifact-sink invariant."""

from __future__ import annotations

import base64
import glob
import os

from webextract import pdfmini
from webextract.extract import extract_document
from webextract.options import ConvertOptions
from webextract.synth import gen_page

PNG = bytes([137, 80, 78, 71]) + b"0123456789abcdef"
DATA_URI = "data:image/png;base64," + base64.b64encode(PNG).decode()

PAGE = f"""<!DOCTYPE html><html><head><title>t</title></head><body>
<article><h1>Pictures and text</h1>
<p>{'lead paragraph with plenty of words to anchor the content cluster ' * 4}</p>
<img src="{DATA_URI}">
<p>{'second paragraph also has a decent amount of running text here ' * 4}</p>
<img src="https://img.example/7.jpg">
</article></body></html>""".encode()


def test_image_placeholder_mode():
    r = extract_document(PAGE, ConvertOptions(image_export_mode="placeholder"))
    assert r.status == "success"
    assert r.text_md.count("<!-- image -->") == 2
    assert [(i, u) for i, u, d in r.images] == [(0, None),
                                                (1, "https://img.example/7.jpg")]
    assert all(d is None for _, _, d in r.images)
    # images carry no text and no span
    assert "image" not in [k for (_, _, k, _) in r.spans]


def test_image_embedded_mode():
    r = extract_document(PAGE, ConvertOptions(image_export_mode="embedded"))
    assert f"![image]({DATA_URI})" in r.text_md
    # remote url: nothing to inline, the original ref is kept
    assert "![image](https://img.example/7.jpg)" in r.text_md
    assert r.images[0][2] == PNG               # decoded data-URI bytes


def test_image_referenced_mode_invariant():
    r = extract_document(PAGE, ConvertOptions(image_export_mode="referenced"))
    assert "![image](images/img_0.png)" in r.text_md
    # every relative uri cited by the markdown exists as an artifact entry
    # (reference invariant: tests/test_fastapi_endpoints.py:181-215)
    cited = [p for p in r.text_md.split("(") if p.startswith("images/")]
    uris = {u for _, u, d in r.images if d is not None}
    for c in cited:
        assert c.split(")")[0] in uris


def test_artifact_sink_invariant(spark, tmp_path):
    from webextract.docpages import PAGES_SCHEMA
    from webextract.pipeline import extracted_df, write_artifacts
    import pyarrow as pa

    def gen(batches):
        for b in batches:
            ids = b.column(0).to_pylist()
            yield pa.RecordBatch.from_pydict({
                "url": pa.array([f"art://{i}" for i in ids], pa.large_string()),
                "warc_ts": pa.array([None] * len(ids), pa.timestamp("us")),
                "html": pa.array([PAGE] * len(ids), pa.large_binary()),
                "text": pa.array([""] * len(ids), pa.large_string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
            })

    pages = spark.range(0, 6, 1, 2).mapInArrow(gen, PAGES_SCHEMA)
    out = extracted_df(pages, ConvertOptions(image_export_mode="referenced"))
    d = str(tmp_path / "artifacts")
    write_artifacts(out, d)
    docs = sorted(glob.glob(os.path.join(d, "*", "doc.md")))
    assert len(docs) == 6
    for md_path in docs:
        md = open(md_path).read()
        base = os.path.dirname(md_path)
        for part in md.split("("):
            if part.startswith("images/"):
                rel = part.split(")")[0]
                assert os.path.exists(os.path.join(base, rel)), rel


def test_zip_sink_invariant(spark, tmp_path):
    """S6 (VERDICT item 9): ONE zip per partition; every image uri the
    markdown cites exists in the SAME archive at the relative in-archive
    path (reference tests/test_fastapi_endpoints.py:181-215)."""
    import zipfile
    from webextract.docpages import PAGES_SCHEMA
    from webextract.pipeline import extracted_df, write_zip_artifacts
    import pyarrow as pa

    def gen(batches):
        for b in batches:
            ids = b.column(0).to_pylist()
            yield pa.RecordBatch.from_pydict({
                "url": pa.array([f"zip://{i}" for i in ids], pa.large_string()),
                "warc_ts": pa.array([None] * len(ids), pa.timestamp("us")),
                "html": pa.array([PAGE] * len(ids), pa.large_binary()),
                "text": pa.array([""] * len(ids), pa.large_string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
            })

    pages = spark.range(0, 6, 1, 3).mapInArrow(gen, PAGES_SCHEMA)
    out = extracted_df(pages, ConvertOptions(image_export_mode="referenced"))
    d = str(tmp_path / "zips")
    write_zip_artifacts(out, d)
    zips = sorted(glob.glob(os.path.join(d, "part-*.zip")))
    assert 1 <= len(zips) <= 3                   # one archive per partition
    assert not glob.glob(os.path.join(d, "*.tmp"))
    n_docs = 0
    for zp in zips:
        with zipfile.ZipFile(zp) as z:
            names = set(z.namelist())
            mds = [n for n in names if n.endswith("/doc.md")]
            n_docs += len(mds)
            for md_name in mds:
                base = md_name.rsplit("/", 1)[0]
                md = z.read(md_name).decode()
                for part in md.split("("):
                    if part.startswith("images/"):
                        rel = part.split(")")[0]
                        assert f"{base}/{rel}" in names, rel
    assert n_docs == 6


def test_document_timeout():
    r = extract_document(PAGE, ConvertOptions(document_timeout=0.0))
    assert r.status == "failure"
    assert r.error == "document timeout"


def test_md_page_break_placeholder():
    pdf = pdfmini.write_pdf([
        [(50, 30, 24, "first page title"), (50, 80, 11, "body one")],
        [(50, 30, 11, "body two on page two")],
    ])
    opt = ConvertOptions(md_page_break_placeholder="<!-- page break -->")
    r = extract_document(pdf, opt)
    assert r.status == "success"
    md = r.text_md
    assert "<!-- page break -->" in md
    assert md.index("body one") < md.index("<!-- page break -->") \
        < md.index("body two")
    # no placeholder when unset
    r2 = extract_document(pdf, ConvertOptions())
    assert "<!-- page break -->" not in r2.text_md


def test_synth_images_roundtrip():
    """Synth corpus now carries images; extraction stays total and
    data-URI images decode in referenced mode."""
    opt = ConvertOptions(image_export_mode="referenced")
    n_imgs = 0
    for i in range(250):
        p = gen_page(i)
        r = extract_document(p["html"], opt)
        assert r.status in ("success", "skipped")
        n_imgs += len(r.images)
        for idx, uri, data in r.images:
            if uri and uri.startswith("images/"):
                assert data is not None and data[:4] == bytes([137, 80, 78, 71])
    assert n_imgs > 0


def test_to_formats_projection():
    """P5: only requested output formats are populated (docs/usage.md:15)."""
    from webextract.extract import extract_document
    all_opt = ConvertOptions(to_formats=(
        "md", "text", "doctags", "html", "html_split_page", "json"))
    r = extract_document(PAGE, all_opt)
    assert r.text_md.startswith("# Pictures and text")
    assert r.doctags.startswith("<doctag><section_header>")
    assert r.text_html.startswith("<!DOCTYPE html>\n<html>\n<head>")
    assert r.text_html_split.startswith("<!DOCTYPE html>\n<html>\n<head>")
    assert '<div class="page" data-page="1">' in r.text_html_split
    assert '"schema_name"' in r.text_json
    minimal = extract_document(PAGE, ConvertOptions(to_formats=("text",)))
    assert minimal.text and not minimal.text_md and not minimal.doctags \
        and not minimal.text_html and not minimal.text_html_split \
        and not minimal.text_json


def test_html_split_page_pdf_pages():
    """html_split_page: one <div class="page"> per PDF page, page-numbered,
    block rendering byte-identical to the plain html serializer."""
    from webextract.extract import (extract_document, serialize_html,
                                    serialize_html_split_page)
    from webextract.pdfmini import write_pdf
    pdf = write_pdf([[(72, 72, 24, "Title on page one"),
                      (72, 144, 11, "Body paragraph on page one.")],
                     [(72, 72, 11, "Second page body text here.")]])
    opt = ConvertOptions(to_formats=("html", "html_split_page"))
    r = extract_document(pdf, opt)
    assert r.status == "success"
    assert r.text_html_split.count('<div class="page"') == 2
    assert '<div class="page" data-page="1">' in r.text_html_split
    assert '<div class="page" data-page="2">' in r.text_html_split
    # stripping the page wrappers recovers exactly the plain-html body
    import re
    inner = re.sub(r'\n?</?div[^>]*>\n?', "\n",
                   r.text_html_split).replace("\n\n", "\n")
    assert "<h1>Title on page one</h1>" in r.text_html_split
    for line in r.text_html.splitlines():
        if line.startswith(("<h", "<p")):
            assert line in inner


def test_partial_success_on_undecodable_embedded_image():
    """ConversionStatus parity: a data: image whose payload doesn't
    decode while referenced/embedded export needs it -> partial_success
    (text extraction is complete; the artifact stage failed)."""
    bad = (b"<html><body><article>"
           b"<p>" + b"plenty of real content words here " * 8 + b"</p>"
           b'<img src="data:image/png;base64,@@not-base64@@">'
           b"</article></body></html>")
    r = extract_document(bad, ConvertOptions(image_export_mode="referenced"))
    assert r.status == "partial_success"
    assert r.text and "decode" in r.error
    # placeholder mode never touches payloads -> plain success
    r2 = extract_document(bad, ConvertOptions(image_export_mode="placeholder"))
    assert r2.status == "success"
    # include_images=False disables the artifact stage -> success
    r3 = extract_document(bad, ConvertOptions(image_export_mode="referenced",
                                              include_images=False))
    assert r3.status == "success"
