"""Conversion options — the engine's "logical plan" record.

Mirrors the FULL option surface of the reference's
ConvertDocumentsRequestOptions (/root/reference/docling_serve/datamodel/
convert.py:20-40 and /root/reference/docs/usage.md:14-41), field for
field.  Fields that configure ML stages this deterministic engine does
not run (OCR, TableFormer, picture VLMs, code/formula enrichment) are
accepted, validated-by-shape, hashed into ``options_hash`` and recorded
in the snapshot lineage — exactly like the reference accepts them and
routes them to pipeline stages — but are EXPLICIT no-ops here, each
marked below.  Silently dropping them would make option records
non-portable between the engines.

The dataclass is broadcast (by closure capture) into the Arrow UDF; it
must stay picklable and hashable so a compiled-extractor cache keyed by
``options_hash`` works like the reference's converter LRU
(settings.py:52, options_cache_size; cache internals app.py:275-287).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field, fields, replace

# Input formats (reference InputFormat enum, docs/usage.md:14).
INPUT_FORMATS = ("docx", "pptx", "html", "image", "pdf", "asciidoc", "md",
                 "csv", "xlsx", "xml_uspto", "xml_jats", "mets_gbs",
                 "json_docling", "audio", "vtt")

# Output-format names (reference OutputFormat enum, docs/usage.md:15).
OUTPUT_FORMATS = ("md", "json", "html", "html_split_page", "text", "doctags")


@dataclass(frozen=True)
class ConvertOptions:
    # admission (reference: from_formats docs/usage.md:14 — defaults to
    # ALL 15 formats exactly like the reference; max_num_pages /
    # max_file_size settings.py:74-75)
    from_formats: tuple[str, ...] = INPUT_FORMATS
    max_file_size: int = 256 * 1024 * 1024
    max_num_pages: int = 10_000

    # output projection (reference: to_formats docs/usage.md:15; the
    # reference defaults to md only — we add text because the
    # north-rule byte-identity contract is defined on plain text)
    to_formats: tuple[str, ...] = ("md", "text")

    # page slicing (reference: page_range docs/usage.md:25)
    page_range: tuple[int, int] = (1, 10_000)

    # markdown page-break placeholder (docs/usage.md:31)
    md_page_break_placeholder: str = ""

    # image export mode (ImageRefMode placeholder|embedded|referenced,
    # docs/usage.md:16; referenced-mode artifact invariant tested like
    # the reference's zip test, tests/test_fastapi_endpoints.py:181-215)
    image_export_mode: str = "placeholder"
    include_images: bool = True      # docs/usage.md:29
    images_scale: float = 2.0        # docs/usage.md:30 — no-op (no raster)

    # OCR stage (docs/usage.md:17-20) — EXPLICIT no-ops: the synthetic
    # corpus is born-digital, and OCR is model inference (SURVEY.md C5
    # stage slot).  Recorded in lineage via options_hash.
    do_ocr: bool = True
    force_ocr: bool = False
    ocr_engine: str = "easyocr"
    ocr_lang: tuple[str, ...] = ()

    # PDF backend selector (PdfBackend enum, docs/usage.md:21) — our
    # deterministic mini-PDF parser stands in for all four; recorded.
    pdf_backend: str = "dlparse_v4"
    pipeline: str = "standard"       # ProcessingPipeline (docs/usage.md:24)

    # table structure (docs/usage.md:22-23,28): the deterministic
    # <table>→cells extraction always runs; TableFormer-specific knobs
    # (mode/cell matching) are recorded no-ops (C6 stage slot).
    do_table_structure: bool = True
    table_mode: str = "accurate"
    table_cell_matching: bool = True

    # enrichment stages (docs/usage.md:32-38) — ML stage slots (C7/C8),
    # recorded no-ops.  picture_description_{local,api} carry the
    # nested model configs as JSON strings, exactly how the reference's
    # FormDepends flattens nested pydantic models on multipart forms
    # (helper_functions.py:46-115).
    do_code_enrichment: bool = False
    do_formula_enrichment: bool = False
    do_picture_classification: bool = False
    do_picture_description: bool = False
    picture_description_area_threshold: float = 0.05
    picture_description_local: str | None = None
    picture_description_api: str | None = None
    vlm_pipeline_model: str | None = None
    vlm_pipeline_model_local: str | None = None
    vlm_pipeline_model_api: str | None = None

    # main-content selection knobs (north_star: text/link-density
    # scoring) — OUR extension beyond the reference surface
    min_block_chars: int = 15          # blocks shorter than this score less
    max_link_density: float = 0.35     # block-level admit threshold
    link_char_penalty: float = 2.0     # container score: chars - p*link_chars
    boiler_damp: float = 0.05          # nav/header/footer/aside damping
    semantic_boost: float = 1.5        # <article>/<main> container boost

    # per-document timeout seconds (reference: document_timeout
    # datamodel/convert.py:33-40); checked per Arrow batch
    document_timeout: float = 604800.0

    # abort_on_error=false default like the reference (docs/usage.md:24):
    # failures become status='failure' rows, never kill the job
    abort_on_error: bool = False

    def with_(self, **kw) -> "ConvertOptions":
        return replace(self, **kw)

    def as_dict(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self)}

    def options_hash(self) -> str:
        """Stable digest of the full option record — the converter-cache
        key (reference: options-hash keyed LRU, app.py:275-287) and the
        lineage record of WHICH options produced a snapshot."""
        items = sorted((k, repr(v)) for k, v in self.as_dict().items())
        return hashlib.md5(repr(items).encode()).hexdigest()[:16]


DEFAULT_OPTIONS = ConvertOptions()
