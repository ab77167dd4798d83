"""Pure extraction kernel: blocks -> main content -> serialized outputs.

The reference delegates conversion to docling's DocumentConverter and
asserts golden output prefixes per format
(/root/reference/tests/test_1-url-all-outputs.py:74-127: md "## ...",
text contains title, doctags "<doctag><page_header><loc", json
'"schema_name"').  Here the conversion core is reimplemented as a
deterministic pipeline: text-density + link-density scoring over the
flat block-DOM (readability/trafilatura-style, per BASELINE.json
north_star), largest-cluster container selection, then serialization to
text/md/doctags/html/json.

BYTE-IDENTITY CONTRACT (SURVEY.md §7.4#1): ``extract_document`` is the
single definition of extraction.  Tests call it row-at-a-time as the
oracle; the Arrow UDF calls it per batch element.  Nothing may
re-implement any normalization rule elsewhere.
"""

from __future__ import annotations

import base64
import json
import re
import time
from dataclasses import dataclass, field

from .dom import Block, decode_html, parse_blocks
from .formats import BINARY_PARSERS, TEXT_PARSERS, sniff
from .options import ConvertOptions, DEFAULT_OPTIONS
from . import pdfmini

SPAN_KINDS = ("heading", "para", "list_item", "table", "code", "quote",
              "caption")


@dataclass
class Extracted:
    """One output row (mirrors ExportDocumentResponse,
    /root/reference/docling_serve/datamodel/responses.py:25-30)."""
    status: str = "success"      # success|partial_success|skipped|failure
    text: str = ""
    text_md: str = ""
    doctags: str = ""
    text_html: str = ""
    text_html_split: str = ""
    text_json: str = ""
    n_blocks: int = 0
    fmt: str = "html"
    error: str | None = None
    # spans: (start, end, kind, path) char offsets into ``text``
    spans: list[tuple[int, int, str, str]] = field(default_factory=list)
    # images: (idx, uri, data) per ImageRefMode (operator C9; reference
    # docs/usage.md:16 placeholder|embedded|referenced)
    images: list[tuple[int, str | None, bytes | None]] = field(default_factory=list)


# ---------------------------------------------------------------------------
# main-content selection (operator C3)
# ---------------------------------------------------------------------------

def _block_mass(b: Block, opt: ConvertOptions) -> float:
    """Effective content mass of a block for container scoring."""
    mass = max(0.0, b.chars - opt.link_char_penalty * b.link_chars)
    if b.kind == "heading":
        mass += 20.0                      # headings anchor content clusters
    elif b.chars < opt.min_block_chars:
        mass *= 0.5
    if b.boiler:
        mass *= opt.boiler_damp
    return mass


DESCEND_FRACTION = 0.6   # descend while the dominant child holds >= 60%


def select_main(blocks: list[Block], opt: ConvertOptions) -> list[Block]:
    """Pick the main-content container by density-cluster descent.

    1. Every container path prefix accumulates the effective mass of the
       blocks under it; article/main subtrees get ``semantic_boost``,
       boilerplate subtrees (nav/footer/... tags or class/id hints) are
       damped in ``_block_mass``.
    2. Walk DOWN from the root: descend into the heaviest child container
       while it holds >= DESCEND_FRACTION of the current container's
       mass (ties broken lexicographically — deterministic).  The walk
       stops at the tightest container around the dominant content
       cluster, which defeats both sibling link-farms and duplicate
       smaller content candidates.
    3. Admit that container's blocks, dropping boilerplate-tagged blocks
       and high link-density blocks (headings/tables/code tolerate more).
    """
    if not blocks:
        return []
    # accumulate mass per unique container path first (blocks cluster in
    # few containers), then spread each container's total up its prefix
    # chain once — ~5-10× fewer prefix walks than per-block spreading
    per_cpath: dict[str, float] = {}
    for b in blocks:
        mass = _block_mass(b, opt)
        if b.semantic:
            mass *= opt.semantic_boost
        per_cpath[b.container_path] = per_cpath.get(b.container_path, 0.0) + mass
    scores: dict[str, float] = {}
    children: dict[str, set] = {}
    prefix_cache: dict[str, list[str]] = {}
    for cpath, mass in per_cpath.items():
        chain = prefix_cache.get(cpath)
        if chain is None:
            parts = cpath.split("/") if cpath else []
            chain = ["/".join(parts[:i]) for i in range(len(parts) + 1)]
            prefix_cache[cpath] = chain
        for i, prefix in enumerate(chain):
            scores[prefix] = scores.get(prefix, 0.0) + mass
            if i + 1 < len(chain):
                children.setdefault(prefix, set()).add(chain[i + 1])
    if scores.get("", 0.0) <= 0:
        return []
    chosen = ""
    while True:
        kids = children.get(chosen)
        if not kids:
            break
        top = max(sorted(kids), key=lambda c: scores[c])
        if scores[top] < DESCEND_FRACTION * scores[chosen]:
            break
        chosen = top
    out = []
    for b in blocks:
        if chosen and not (b.container_path == chosen
                           or b.container_path.startswith(chosen + "/")):
            continue
        if b.boiler:
            continue
        limit = (0.5 if b.kind in ("heading", "table", "code")
                 else opt.max_link_density)
        if b.chars and b.link_density > limit:
            continue
        out.append(b)
    return out


# ---------------------------------------------------------------------------
# serializers (operator C10; byte-identity contract lives here)
# ---------------------------------------------------------------------------

def serialize_text(blocks: list[Block]) -> tuple[str, list[tuple[int, int, str, str]]]:
    """Plain-text flattening + span offsets. Blocks joined by blank line;
    each span is the half-open char range of one block within the text."""
    parts: list[str] = []
    spans: list[tuple[int, int, str, str]] = []
    pos = 0
    for b in blocks:
        if b.kind == "image":
            continue  # pictures carry no text (md/doctags render them)
        if parts:
            pos += 2  # "\n\n"
        start = pos
        parts.append(b.text)
        pos += len(b.text)
        spans.append((start, pos, b.kind, b.path))
    return "\n\n".join(parts), spans


_DATA_URI = re.compile(r"^data:image/([a-z0-9.+-]+);base64,(.*)$", re.I | re.S)


def decode_data_uri(src: str | None) -> tuple[str | None, bytes | None]:
    """data:image/<fmt>;base64,... -> (fmt, bytes); (None, None) otherwise."""
    if not src:
        return None, None
    m = _DATA_URI.match(src)
    if not m:
        return None, None
    try:
        return m.group(1).lower(), base64.b64decode(m.group(2), validate=False)
    except Exception:
        return None, None


def collect_images(blocks: list[Block], mode: str
                   ) -> tuple[list[tuple[int, str | None, bytes | None]], bool]:
    """Per-document image artifacts (operator C9) + artifact-failure
    flag.  placeholder: refs only; embedded: inline bytes decoded from
    data URIs; referenced: deterministic relative sidecar paths (the
    zip-sink invariant — every referenced uri exists as an artifact —
    mirrors the reference test, tests/test_fastapi_endpoints.py:181-215).
    The flag is True when an artifact-producing mode needed a data: URI
    payload that failed to decode (drives partial_success without a
    second base64 pass)."""
    out: list[tuple[int, str | None, bytes | None]] = []
    failed = False
    i = 0
    for b in blocks:
        if b.kind != "image":
            continue
        fmt, data = decode_data_uri(b.src)
        if mode == "referenced" and data is not None:
            out.append((i, f"images/img_{i}.{fmt}", data))
        elif mode == "embedded" and data is not None:
            out.append((i, b.src, data))
        else:
            if (mode in ("referenced", "embedded") and b.src
                    and b.src.startswith("data:")):
                failed = True
            out.append((i, b.src if b.src and not b.src.startswith("data:")
                        else None, None))
        i += 1
    return out, failed


def _md_image(b: Block, mode: str, img_idx: int) -> str:
    if mode == "embedded" and b.src:
        return f"![image]({b.src})"
    if mode == "referenced":
        fmt, data = decode_data_uri(b.src)
        if data is not None:
            return f"![image](images/img_{img_idx}.{fmt})"
        if b.src:
            return f"![image]({b.src})"
    return "<!-- image -->"


def _page_of(b: Block) -> int:
    """PDF page number from the block's container path, 0 for HTML."""
    cp = b.container_path
    if cp.startswith("pdf/page["):
        return int(cp[9:cp.index("]")])
    return 0


def _md_block(b: Block) -> str:
    if b.kind == "heading":
        return "#" * max(1, b.heading_level) + " " + b.text
    if b.kind == "list_item":
        return (f"{b.li_index}. " if b.li_index else "- ") + b.text
    if b.kind == "code":
        return "```\n" + b.text + "\n```"
    if b.kind == "quote":
        return "\n".join("> " + ln for ln in b.text.split("\n"))
    if b.kind == "table" and b.cells:
        w = max(len(r) for r in b.cells)
        rows = [list(r) + [""] * (w - len(r)) for r in b.cells]
        lines = ["| " + " | ".join(rows[0]) + " |",
                 "|" + "---|" * w]
        lines += ["| " + " | ".join(r) + " |" for r in rows[1:]]
        return "\n".join(lines)
    return b.text


def serialize_md(blocks: list[Block], page_break: str = "",
                 image_mode: str = "placeholder") -> str:
    """Markdown serialization (reference md assertions: '## ' headings,
    test_1-url-all-outputs.py:74-79). Consecutive list items group with
    single newlines; everything else separated by blank lines.  Images
    render per ImageRefMode (C9); PDF page transitions insert
    ``page_break`` when set (md_page_break_placeholder,
    docs/usage.md:31)."""
    out: list[str] = []
    prev_list = False
    prev_page: int | None = None
    img_idx = 0
    for b in blocks:
        if b.kind == "image":
            piece = _md_image(b, image_mode, img_idx)
            img_idx += 1
        else:
            piece = _md_block(b)
        page = _page_of(b)
        if out:
            if page_break and prev_page is not None and page != prev_page:
                out.append("\n\n" + page_break + "\n\n")
            else:
                out.append("\n" if (b.kind == "list_item" and prev_list)
                           else "\n\n")
        out.append(piece)
        prev_list = b.kind == "list_item"
        prev_page = page
    return "".join(out)


def serialize_doctags(blocks: list[Block]) -> str:
    """Doctags-style serialization (reference asserts
    '<doctag><page_header><loc' prefix, test_1-url-all-outputs.py:122-127).
    We emit <doctag> root with one tag per block + loc = block idx."""
    tag_for = {"heading": "section_header", "para": "text",
               "list_item": "list_item", "code": "code", "quote": "quote",
               "table": "otsl", "caption": "caption", "image": "picture"}
    parts = ["<doctag>"]
    for i, b in enumerate(blocks):
        t = tag_for.get(b.kind, "text")
        parts.append(f"<{t}><loc_{i}>{b.text}</{t}>")
    parts.append("</doctag>")
    return "".join(parts)


def _esc_html(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _html_block(b: Block) -> str:
    """One block -> HTML element. Single definition shared by the html
    and html_split_page serializers (byte-identity contract)."""
    esc = _esc_html
    if b.kind == "heading":
        lv = max(1, b.heading_level)
        return f"<h{lv}>{esc(b.text)}</h{lv}>"
    if b.kind == "list_item":
        return f"<li>{esc(b.text)}</li>"
    if b.kind == "code":
        return f"<pre><code>{esc(b.text)}</code></pre>"
    if b.kind == "quote":
        return f"<blockquote>{esc(b.text)}</blockquote>"
    if b.kind == "table" and b.cells:
        rows = "".join(
            "<tr>" + "".join(f"<td>{esc(c)}</td>" for c in r) + "</tr>"
            for r in b.cells)
        return f"<table>{rows}</table>"
    if b.kind == "image":
        return f'<img src="{esc(b.src or "")}">'
    return f"<p>{esc(b.text)}</p>"


def serialize_html(blocks: list[Block]) -> str:
    """HTML serialization (reference asserts '<!DOCTYPE html>\\n<html>\\n<head>'
    prefix, test_1-url-all-outputs.py:98-103)."""
    body = [_html_block(b) for b in blocks]
    return ("<!DOCTYPE html>\n<html>\n<head></head>\n<body>\n"
            + "\n".join(body) + "\n</body>\n</html>")


def serialize_html_split_page(blocks: list[Block]) -> str:
    """html_split_page output format (reference OutputFormat enum,
    docs/usage.md:15): same HTML rendering, but each source page wrapped
    in its own <div class="page"> container — HTML docs yield one page
    div, PDFs one per parsed page (page number from the block's
    pdf/page[N] container path)."""
    pages: list[tuple[int, list[str]]] = []
    for b in blocks:
        page = _page_of(b)
        if not pages or pages[-1][0] != page:
            pages.append((page, []))
        pages[-1][1].append(_html_block(b))
    # PDF pages are 1-based (pdfmini page_range); HTML blocks report 0
    divs = [f'<div class="page" data-page="{p if p > 0 else 1}">\n'
            + "\n".join(body) + "\n</div>" for p, body in pages]
    return ("<!DOCTYPE html>\n<html>\n<head></head>\n<body>\n"
            + "\n".join(divs) + "\n</body>\n</html>")


def serialize_json(blocks: list[Block], url: str = "") -> str:
    """JSON document IR (reference asserts '"schema_name": "DoclingDocument"',
    test_1-url-all-outputs.py:86-91 — ours uses its own schema name)."""
    return json.dumps({
        "schema_name": "WebExtractDocument",
        "version": "1.0.0",
        "origin": url,
        "blocks": [{"idx": b.idx, "tag": b.tag, "kind": b.kind,
                    "path": b.path, "text": b.text,
                    "heading_level": b.heading_level} for b in blocks],
    }, ensure_ascii=False, separators=(",", ":"))


# ---------------------------------------------------------------------------
# top-level per-document extraction (the oracle AND the batch kernel body)
# ---------------------------------------------------------------------------

def admit_payload(payload: bytes,
                  opt: ConvertOptions) -> tuple[str, Extracted | None]:
    """(fmt, refusal) — the admission chain (empty, max_file_size,
    sniff, from_formats, then a PDF's max_num_pages) in its canonical
    order.  THE single copy: the one-shot kernel and the split tiers'
    split kernels all call this, so a new/reordered check or changed
    error string can never silently break the tiers' row-identity
    contract.

    Sniffing (``formats.sniff``, operator C1 in SURVEY.md §2.3) is
    schema-on-read per document, like the reference (docs/usage.md:14);
    a truly-unknown payload is SKIPPED, never mangled through the HTML
    parser.  The page cap (reference settings.py:74-75) is a
    header-only peek, so a refused PDF never pays a parse."""
    if payload is None or len(payload) == 0:
        return "html", Extracted(status="skipped", error="empty payload")
    if len(payload) > opt.max_file_size:
        return "html", Extracted(status="skipped", error="file too large")
    fmt = sniff(payload)
    if fmt == "unknown":
        return fmt, Extracted(status="skipped", fmt="unknown",
                              error="unknown format")
    if fmt not in opt.from_formats:
        return fmt, Extracted(status="skipped", fmt=fmt,
                              error=f"format {fmt} not admitted")
    if fmt == "pdf" and pdfmini.peek_n_pages(payload) > opt.max_num_pages:
        return fmt, Extracted(status="skipped", fmt=fmt,
                              error="too many pages")
    return fmt, None


def extract_document(payload: bytes, opt: ConvertOptions = DEFAULT_OPTIONS,
                     url: str = "") -> Extracted:
    """bytes -> Extracted. Deterministic, total (never raises).

    Per-document timeout (P4, reference datamodel/convert.py:33-40) is
    checked at stage boundaries — a pure single-threaded kernel cannot
    be preempted mid-parse, so the guarantee is "no document *continues*
    past its deadline", matching abort_on_error=false semantics (the row
    becomes status=failure, the job never dies)."""
    t0 = time.monotonic()

    def timed_out() -> bool:
        return (time.monotonic() - t0) > opt.document_timeout

    try:
        fmt, refused = admit_payload(payload, opt)
        if refused is not None:
            return refused
        if fmt == "pdf":
            # born-digital PDFs carry no boilerplate: all runs are content
            # (density clustering would truncate multi-page docs)
            main = pdfmini.parse_pdf_blocks(payload, opt.page_range)
        elif fmt == "html":
            main = select_main(parse_blocks(payload), opt)
        elif fmt in TEXT_PARSERS:
            # structured text formats carry no boilerplate: every block
            # is content (like the PDF path)
            main = TEXT_PARSERS[fmt](decode_html(payload))
        elif fmt in BINARY_PARSERS:
            main = BINARY_PARSERS[fmt](payload)
        elif fmt == "image" and opt.do_ocr:
            # C5 OCR stage, deterministic subset: glyph-grid rasters in
            # BMP or PNG containers (media.render_text_bmp/_png output)
            # are recognized pixel-exactly; any other codec/layout is an
            # honest skip (the ML-OCR slot).  '?' marks an unrecognized
            # glyph — garbage, not text.
            from .formats import _blk
            from .media import ocr_image
            t = ocr_image(payload)
            if t is None or "?" in t:
                return Extracted(status="skipped", fmt=fmt,
                                 error="image OCR found no "
                                       "recognizable text")
            main = []
            if t:
                _blk(main, "ocr", "p", "para", t)
        elif fmt == "audio":
            # audio InputFormat content path (reference docs/usage.md:14
            # routes audio to an ASR pipeline): 16-bit PCM WAVs decode
            # to a deterministic signal-stats transcript stand-in (the
            # ASR-model slot); compressed codecs are an honest skip.
            from .formats import _blk
            from .media import wav_pcm_summary
            t = wav_pcm_summary(payload)
            if t is None:
                return Extracted(status="skipped", fmt=fmt,
                                 error="no PCM decode for this audio "
                                       "payload")
            main = []
            _blk(main, "audio", "p", "para", t)
        else:
            # images with do_ocr=false route to the media operators
            # (webextract/media.py)
            return Extracted(status="skipped", fmt=fmt,
                             error=f"no text backend for format {fmt}")
        if timed_out():
            return Extracted(status="failure", fmt=fmt,
                             error="document timeout")
        return finish_blocks(main, fmt, opt, url, timed_out)
    except Exception as e:  # abort_on_error=false semantics
        return failed(e)


def failed(e: Exception) -> Extracted:
    """The failure row of a document whose conversion raised ``e`` (fmt
    stays the Extracted default)."""
    return Extracted(status="failure", error=f"{type(e).__name__}: {e}")


def finish_blocks(main: list[Block], fmt: str,
                  opt: ConvertOptions = DEFAULT_OPTIONS, url: str = "",
                  timed_out=lambda: False) -> Extracted:
    """Selected blocks -> Extracted: the shared post-parse tail of
    extract_document (serialize + images + output-format projection).
    Factored out so the split tier's merge produces byte-identical
    rows by running the SAME code, not a copy."""
    if not main:
        return Extracted(status="skipped", fmt=fmt, n_blocks=0,
                         error="no content")
    text, spans = serialize_text(main)
    images, img_failed = (collect_images(main, opt.image_export_mode)
                          if opt.include_images else ([], False))
    res = Extracted(status="success", fmt=fmt, text=text, spans=spans,
                    n_blocks=len(main), images=images)
    # output-format projection (P5, docs/usage.md:15,408): only the
    # requested formats are populated, others stay empty/null
    if "md" in opt.to_formats:
        res.text_md = serialize_md(main, opt.md_page_break_placeholder,
                                   opt.image_export_mode)
    if "doctags" in opt.to_formats:
        res.doctags = serialize_doctags(main)
    if "html" in opt.to_formats:
        res.text_html = serialize_html(main)
    if "html_split_page" in opt.to_formats:
        res.text_html_split = serialize_html_split_page(main)
    if "json" in opt.to_formats:
        res.text_json = serialize_json(main, url)
    if timed_out():
        return Extracted(status="failure", fmt=fmt,
                         error="document timeout")
    # partial_success (reference ConversionStatus): the document
    # converted, but an artifact stage failed — here, a data: image
    # whose payload doesn't decode while an artifact-producing
    # export mode needs it.  Text/serialization are complete.
    if img_failed:
        res.status = "partial_success"
        res.error = "one or more embedded images failed to decode"
    return res
