"""Deterministic mini-PDF: binary payload parse + reading-order sort.

Stands in for the reference's PDF backends (PdfBackend enum
pypdfium2/dlparse_v1/v2/v4, /root/reference/docs/usage.md:21) which are
native libs absent from this sandbox.  The payload format is defined
here and written by ``synth.py`` (FIXTURES.md §3): a page count plus
per-run records ``(page, x, y, font_size, text)`` serialized
length-prefixed and emitted in SHUFFLED order, so the parser must
reconstruct reading order: column detection by x-range, then
``(page, column, y_band, x)`` sort — two-column layouts defeat a naive
y sort by construction.

Wire format (big-endian):
    b"%PDF-MINI\\n"  u32 n_pages  u32 n_runs
    then per run: u16 page(1-based) u16 x u16 y u8 font_size
                  u32 len  utf8 text[len]
"""

from __future__ import annotations

import struct

from .dom import Block, collapse_ws

MAGIC = b"%PDF-MINI\n"
Y_BAND = 20          # runs within a band are one visual line
COLUMN_X = 300       # column index = x // COLUMN_X
_HDR = struct.Struct(">HHHB I")


def pack_runs(n_pages: int, runs: list[tuple]) -> bytes:
    """(n_pages, [(page, x, y, font_size, text), ...]) -> payload bytes,
    runs in the given order — the one serializer (``parse_runs`` is its
    inverse)."""
    out = [MAGIC, struct.pack(">II", n_pages, len(runs))]
    for page, x, y, fs, text in runs:
        tb = text.encode("utf-8")
        out.append(_HDR.pack(page, x, y, fs, len(tb)))
        out.append(tb)
    return b"".join(out)


def write_pdf(pages_runs: list[list[tuple[int, int, int, str]]]) -> bytes:
    """Serialize [[(x, y, font_size, text), ...] per page] -> bytes.
    Caller is responsible for shuffling run order before passing in."""
    return pack_runs(len(pages_runs), [
        (pi + 1, x, y, fs, t)
        for pi, page in enumerate(pages_runs) for (x, y, fs, t) in page])


def parse_runs(payload: bytes) -> tuple[int, list[tuple[int, int, int, int, str]]]:
    """bytes -> (n_pages, [(page, x, y, font_size, text), ...]) as stored."""
    if not payload.startswith(MAGIC):
        raise ValueError("not a mini-PDF payload")
    off = len(MAGIC)
    n_pages, n_runs = struct.unpack_from(">II", payload, off)
    off += 8
    runs = []
    for _ in range(n_runs):
        page, x, y, fs, ln = _HDR.unpack_from(payload, off)
        off += _HDR.size
        text = payload[off:off + ln].decode("utf-8")
        off += ln
        runs.append((page, x, y, fs, text))
    return n_pages, runs


def peek_n_pages(payload: bytes) -> int:
    """Header-only page count — the max_num_pages admission check
    (reference settings.py:74) must not pay a full parse to refuse."""
    if not payload.startswith(MAGIC):
        raise ValueError("not a mini-PDF payload")
    return struct.unpack_from(">II", payload, len(MAGIC))[0]


def reading_order(runs: list[tuple[int, int, int, int, str]]):
    """Reconstruct reading order (operator C4, SURVEY.md §2.3):
    per page, columns by x-range, then top-to-bottom in y bands, then x."""
    return sorted(runs, key=lambda r: (r[0], r[1] // COLUMN_X,
                                       r[2] // Y_BAND, r[1], r[2]))


def run_level(font_size: int) -> int:
    """Heading classification by font size.  The split tier parses each
    page group with ``parse_pdf_blocks`` too, so there is no second
    classifier to keep in step."""
    return 1 if font_size >= 24 else (2 if font_size >= 18 else 0)


def pdf_block(page: int, text: str, level: int, idx: int) -> Block:
    """One ordered run -> Block row (the run index ``idx`` is the
    caller's concern; the split tier's merge renumbers it doc-global)."""
    return Block(
        idx=idx, tag=f"h{level}" if level else "p",
        kind="heading" if level else "para",
        path=f"pdf/page[{page}]/run[{idx}]",
        container_path=f"pdf/page[{page}]",
        depth=2, text=text, link_chars=0, boiler=False, semantic=False,
        heading_level=level)


def parse_pdf_blocks(payload: bytes,
                     page_range: tuple[int, int] = (1, 10_000)) -> list[Block]:
    """Parse + order + page-slice (P2, docs/usage.md:25) into Block rows
    compatible with the HTML path, so select_main/serializers are shared."""
    _, runs = parse_runs(payload)
    a, b = page_range
    runs = [r for r in runs if a <= r[0] <= b]
    blocks: list[Block] = []
    for page, x, y, fs, text in reading_order(runs):
        text = collapse_ws(text)
        if not text:
            continue
        blocks.append(pdf_block(page, text, run_level(fs), len(blocks)))
    return blocks
