"""Option-surface parity tests (VERDICT.md item 5).

The reference accepts ~25 ConvertDocumentsRequestOptions fields
(/root/reference/docling_serve/datamodel/convert.py:20-40,
docs/usage.md:14-41).  These tests pin three contracts:

* the CLI round-trips EVERY field into ConvertOptions (FormDepends
  analogue, helper_functions.py:46-115);
* ML-stage no-op fields change options_hash (they're recorded) but
  never the extracted bytes (they're no-ops);
* the honored admission fields (max_num_pages, include_images)
  actually gate.
"""

from webextract import pdfmini
from webextract.cli import build_parser, options_from_args
from webextract.extract import extract_document
from webextract.options import (ConvertOptions, DEFAULT_OPTIONS,
                                INPUT_FORMATS, OUTPUT_FORMATS)
from webextract.synth import gen_page


def test_cli_roundtrips_full_option_surface():
    args = build_parser().parse_args([
        "--output", "/tmp/x", "--synth", "1",
        "--to-formats", "md,text,doctags",
        "--from-formats", "pdf,html,md",
        "--max-file-size", "1024", "--max-num-pages", "7",
        "--page-range", "2,5", "--md-page-break-placeholder", "<!-- p -->",
        "--image-export-mode", "referenced", "--include-images", "false",
        "--images-scale", "1.0", "--document-timeout", "12.5",
        "--abort-on-error", "true",
        "--do-ocr", "false", "--force-ocr", "true",
        "--ocr-engine", "tesseract", "--ocr-lang", "en,fr",
        "--pdf-backend", "pypdfium2", "--pipeline", "vlm",
        "--do-table-structure", "false", "--table-mode", "fast",
        "--table-cell-matching", "false",
        "--do-code-enrichment", "true", "--do-formula-enrichment", "true",
        "--do-picture-classification", "true",
        "--do-picture-description", "true",
        "--picture-description-area-threshold", "0.25",
        "--picture-description-local", '{"repo_id": "x"}',
    ])
    opt = options_from_args(args)
    assert opt.to_formats == ("md", "text", "doctags")
    assert opt.from_formats == ("pdf", "html", "md")
    assert opt.max_file_size == 1024 and opt.max_num_pages == 7
    assert opt.page_range == (2, 5)
    assert opt.md_page_break_placeholder == "<!-- p -->"
    assert opt.image_export_mode == "referenced"
    assert opt.include_images is False and opt.images_scale == 1.0
    assert opt.document_timeout == 12.5 and opt.abort_on_error is True
    assert opt.do_ocr is False and opt.force_ocr is True
    assert opt.ocr_engine == "tesseract" and opt.ocr_lang == ("en", "fr")
    assert opt.pdf_backend == "pypdfium2" and opt.pipeline == "vlm"
    assert opt.do_table_structure is False and opt.table_mode == "fast"
    assert opt.table_cell_matching is False
    assert opt.do_code_enrichment and opt.do_formula_enrichment
    assert opt.do_picture_classification and opt.do_picture_description
    assert opt.picture_description_area_threshold == 0.25
    assert opt.picture_description_local == '{"repo_id": "x"}'
    # defaults == DEFAULT_OPTIONS (no drift between parser and dataclass)
    dflt = options_from_args(build_parser().parse_args(
        ["--output", "/tmp/x", "--synth", "1"]))
    assert dflt == DEFAULT_OPTIONS


def test_default_admits_all_reference_formats():
    assert DEFAULT_OPTIONS.from_formats == INPUT_FORMATS
    assert len(INPUT_FORMATS) == 15
    assert len(OUTPUT_FORMATS) == 6


def test_noop_fields_recorded_but_inert():
    html = gen_page(7)["html"]
    base = extract_document(html, DEFAULT_OPTIONS)
    tweaked_opt = DEFAULT_OPTIONS.with_(
        do_ocr=False, force_ocr=True, ocr_engine="tesseract",
        ocr_lang=("de",), pdf_backend="pypdfium2", pipeline="vlm",
        table_mode="fast", table_cell_matching=False,
        do_code_enrichment=True, do_formula_enrichment=True,
        do_picture_classification=True, do_picture_description=True,
        picture_description_area_threshold=0.5,
        picture_description_local='{"repo_id": "m"}',
        images_scale=4.0)
    tweaked = extract_document(html, tweaked_opt)
    # inert: byte-identical output under every ML-stage knob
    assert tweaked.text == base.text and tweaked.text_md == base.text_md
    assert tweaked.spans == base.spans and tweaked.status == base.status
    # recorded: the lineage hash distinguishes the option records
    assert tweaked_opt.options_hash() != DEFAULT_OPTIONS.options_hash()


def test_max_num_pages_admission():
    pages = [[(10, 10 + i, 12, f"page {p} line {i}") for i in range(3)]
             for p in range(5)]
    payload = pdfmini.write_pdf(pages)
    assert pdfmini.peek_n_pages(payload) == 5
    ok = extract_document(payload, DEFAULT_OPTIONS.with_(max_num_pages=5))
    assert ok.status == "success"
    refused = extract_document(payload, DEFAULT_OPTIONS.with_(max_num_pages=4))
    assert refused.status == "skipped" and "pages" in refused.error


def test_include_images_false_drops_images():
    html = (b"<html><body><article><p>" + b"real content here " * 20 +
            b'</p><img src="a.png" alt="pic"></article></body></html>')
    with_imgs = extract_document(
        html, DEFAULT_OPTIONS.with_(image_export_mode="referenced"))
    without = extract_document(
        html, DEFAULT_OPTIONS.with_(image_export_mode="referenced",
                                    include_images=False))
    assert with_imgs.images and not without.images
    assert without.text == with_imgs.text


def test_options_hash_stable_and_picklable():
    import pickle
    o = ConvertOptions()
    assert pickle.loads(pickle.dumps(o)) == o
    assert o.options_hash() == ConvertOptions().options_hash()


def test_format_enums_consistent():
    """options.INPUT_FORMATS (admission surface) is the one format enum:
    formats.sniff (the sniff surface) names exactly its 15 entries."""
    import io
    import zipfile

    from webextract.formats import sniff

    def ooxml(part):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr(part, "<x/>")
        return buf.getvalue()

    samples = [
        ooxml("word/document.xml"), ooxml("ppt/slides/slide1.xml"),
        b"<html><body>x</body></html>", b"\x89PNG\r\n\x1a\nxxxx",
        b"%PDF-1.4 ...", b"= Title\n\ntext", b"# Heading\n\ntext",
        b"a,b,c\n1,2,3\n", ooxml("xl/worksheets/sheet1.xml"),
        b'<?xml version="1.0"?><us-patent-grant/>',
        b'<?xml version="1.0"?><article><front/></article>',
        b'<?xml version="1.0"?><mets xmlns="m"/>',
        b'{"schema_name":"WebExtractDocument","blocks":[]}',
        b"ID3\x04\x00tag", b"WEBVTT\n\n00:00:00.000 --> 00:00:01.000\nhi"]
    assert tuple(sniff(p) for p in samples) == INPUT_FORMATS


def test_cli_chunk_stage(spark, tmp_path):
    """CLI chunker surface (r4): --chunk emits chunk parquet under
    <output>/chunks with the requested tokenizer/budget honored."""
    from webextract.cli import main
    out = str(tmp_path / "cli_table")
    rc = main(["--synth", "40", "--output", out, "--partitions", "4",
               "--waves", "1",
               "--chunk", "hybrid", "--chunk-max-tokens", "32",
               "--chunk-tokenizer", "subword"])
    assert rc == 0
    ch = spark.read.parquet(f"{out}/chunks")
    assert ch.count() > 0
    from pyspark.sql import functions as F
    assert ch.agg(F.max("n_tokens")).first()[0] <= 32
    # subword counts, not word counts: at least one chunk has
    # n_tokens above its whitespace word count
    rows = ch.select("chunk_text", "n_tokens").collect()
    assert any(r.n_tokens > len(r.chunk_text.split()) for r in rows)


def test_cli_chunk_trained_wordpiece(spark, tmp_path):
    """--chunk-trainer wordpiece: the in-run vocabulary trains with the
    likelihood argmax, lands as the uniform 4-column merge-table
    artifact, and the chunker replays it (trained counts, not word
    counts)."""
    from webextract.cli import main
    out = str(tmp_path / "cli_wp")
    rc = main(["--synth", "40", "--output", out, "--partitions", "4",
               "--waves", "1",
               "--chunk", "hybrid", "--chunk-max-tokens", "32",
               "--chunk-tokenizer", "trained",
               "--chunk-trainer", "wordpiece",
               "--chunk-train-rounds", "4"])
    assert rc == 0
    mdf = spark.read.parquet(f"{out}/merges")
    assert set(mdf.columns) == {"rank", "lhs", "rhs", "n"}
    assert mdf.count() == 4
    # the saved artifact IS the wordpiece table for this corpus
    from webextract import corpus
    from webextract.icetable import IceTable
    committed = IceTable(out).read(spark)
    want = [(r["rank"], r["lhs"], r["rhs"], r["n"])
            for r in corpus.wordpiece_train(
                committed.select("text"), n_merges=4)
            .orderBy("rank").collect()]
    got = [(r["rank"], r["lhs"], r["rhs"], r["n"])
           for r in mdf.orderBy("rank").collect()]
    assert got == want
    ch = spark.read.parquet(f"{out}/chunks")
    assert ch.count() > 0
    from pyspark.sql import functions as F
    assert ch.agg(F.max("n_tokens")).first()[0] <= 32
