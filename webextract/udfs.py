"""Arrow-vectorized batch kernels (mapInArrow) — the ONLY Python compute.

North-rule constraint: no per-row Python UDFs anywhere.  The extraction
and chunking kernels cross the JVM<->Python boundary once per Arrow
RecordBatch; inside the batch the per-document work calls the SAME pure
functions the tests use as the oracle (byte-identity contract,
SURVEY.md §7.4#1).  Strings/bytes are materialized from Arrow exactly
once and results go back as large_string/large_binary arrays, so no
pandas round-trip can alter bytes.

Every job-path kernel (here, split.py, htmlsplit.py, pipeline.py) is
one frame, ``row_kernel``, around a per-row function.  The frame
materializes each input batch (at most
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) as Python rows
and flushes the output rows as one Arrow batch once their summed
weight, in bytes as the per-row function counts them, reaches
``BATCH_BYTE_BUDGET``.  The budget bounds the size of OUTPUT batches
only: a skew-bomb row still costs its whole input batch in worker
memory before any budget applies (SURVEY.md §7.4#4).

The extraction kernel and the split tiers' merge kernels carry
``part_id`` through when their input has it (``extract_input_cols``):
the run's write kernel (``IceTable.stage_parts``) groups the rows by
it and counts each part's lineage counters (``lineage_counters``) as
it writes the part's file, so a commit needs no Spark pass of its own.

The frame also trims the fixed cost of every Python task after a
worker's first: it turns zipimporter cache invalidation into a no-op
in that worker (``_stop_zip_rereads``).
"""

from __future__ import annotations

import sys
import zipimport
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from .chunk import chunk_blocks_from_spans
from .extract import Extracted, extract_document
from .options import ConvertOptions, DEFAULT_OPTIONS

BATCH_BYTE_BUDGET = 64 * 1024 * 1024

SPAN_TYPE = pa.list_(pa.struct([
    ("start", pa.int64()), ("end", pa.int64()),
    ("kind", pa.string()), ("path", pa.string())]))

IMAGE_TYPE = pa.list_(pa.struct([
    ("idx", pa.int32()), ("uri", pa.string()), ("data", pa.large_binary())]))

_EXTRACT_ARROW = pa.schema([
    ("url", pa.large_string()), ("warc_ts", pa.timestamp("us")),
    ("lang", pa.string()), ("status", pa.string()), ("fmt", pa.string()),
    ("text", pa.large_string()), ("text_md", pa.large_string()),
    ("doctags", pa.large_string()), ("text_html", pa.large_string()),
    ("text_html_split", pa.large_string()), ("text_json", pa.large_string()),
    ("spans", SPAN_TYPE), ("images", IMAGE_TYPE), ("n_blocks", pa.int32()),
    ("bytes_in", pa.int64()), ("error", pa.string())])

# the EXTRACT row plus the part_id it came with, which the run's write
# partitions by
_EXTRACT_PART_ARROW = _EXTRACT_ARROW.append(pa.field("part_id", pa.int32()))

LINEAGE_COUNTERS = ("num_docs", "num_processed", "num_succeeded",
                    "num_partial", "num_failed", "num_skipped",
                    "bytes_in", "bytes_out")


def lineage_counters(rows: pa.Table) -> dict[str, int]:
    """One part's EXTRACT rows -> its ``LINEAGE_COUNTERS``: documents,
    those attempted (every row but an admission refusal), per status,
    payload bytes in, and UTF-8 bytes of ``text`` out (bytes, not
    codepoints: a codepoint count undercounts non-ASCII text up to
    4x)."""
    by_status = {v["values"]: v["counts"] for v in
                 pc.value_counts(rows.column("status")).to_pylist()}
    n = rows.num_rows
    return {"num_docs": n,
            "num_processed": n - by_status.get("skipped", 0),
            "num_succeeded": by_status.get("success", 0),
            "num_partial": by_status.get("partial_success", 0),
            "num_failed": by_status.get("failure", 0),
            "num_skipped": by_status.get("skipped", 0),
            "bytes_in": pc.sum(rows.column("bytes_in")).as_py() or 0,
            "bytes_out": pc.sum(pc.binary_length(
                rows.column("text"))).as_py() or 0}


def _keep_zip_directory(self) -> None:
    """A Python worker's ``zipimporter.invalidate_caches``: keep the
    archive's directory as read (see ``_stop_zip_rereads``)."""


def _stop_zip_rereads() -> None:
    """In a Python worker process, inside a task, on Python < 3.13:
    make ``zipimporter.invalidate_caches`` a no-op, once per process.

    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` before every task, and before
    3.13 each of the worker's zipimporters then re-reads the whole
    central directory of its archive (``pyspark.zip`` has 1328
    entries; a local-mode worker holds 16 importers, and one re-read
    costs about 10 ms on a 4-vCPU x86 host).  This is safe: Spark never
    rewrites an archive that is already on a worker's ``sys.path``
    during one application, and a zip added later (``--py-files``,
    ``addPyFile``) is a new path, so it gets a new importer that reads
    its directory.  ``FileFinder`` invalidation is untouched, so the
    files ``setup_spark_files`` puts in its ``add_path`` directory are
    still found.  3.13's ``invalidate_caches`` only drops the cache,
    so there is nothing to save.  The first task of each worker still
    pays once, and the saving relies on Python worker reuse
    (``spark.python.worker.reuse``, on by default).  The driver, where
    ``TaskContext.get()`` is None, keeps the stock method."""
    if (sys.version_info < (3, 13) and TaskContext.get() is not None
            and zipimport.zipimporter.invalidate_caches
            is not _keep_zip_directory):
        zipimport.zipimporter.invalidate_caches = _keep_zip_directory


def row_kernel(per_row, arrow_schema: pa.Schema):
    """The one mapInArrow frame.  ``per_row(row)`` yields
    ``(out_row, n_bytes)`` pairs for each input row dict; the output
    rows flush as one ``arrow_schema`` batch once their summed n_bytes
    reach ``BATCH_BYTE_BUDGET`` (read when the kernel runs) and at the
    end of every input batch.  In a worker the kernel first calls
    ``_stop_zip_rereads``.  The kernel is named after
    ``per_row`` (``extract_row`` -> ``extract_batches``), which is the
    name EXPLAIN shows."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _stop_zip_rereads()
        budget = BATCH_BYTE_BUDGET
        for batch in batches:
            rows, acc = [], 0
            for row in batch.to_pylist():
                for out, n_bytes in per_row(row):
                    rows.append(out)
                    acc += n_bytes
                    if acc >= budget:
                        yield pa.RecordBatch.from_pylist(rows, arrow_schema)
                        rows, acc = [], 0
            if rows:
                yield pa.RecordBatch.from_pylist(rows, arrow_schema)

    kernel.__name__ = per_row.__name__.removesuffix("_row") + "_batches"
    return kernel


def extract_input_cols(columns: list[str]) -> list[str]:
    """The source columns an extraction plan reads (column pruning: a
    naive ``text`` column is never scanned), ``part_id`` when the
    source has it."""
    cols = ["url", "warc_ts", "lang", "html"] \
        if "lang" in columns else ["url", "warc_ts", "html"]
    return cols + ["part_id"] if "part_id" in columns else cols


def extract_arrow(part_id: bool) -> pa.Schema:
    """An extraction kernel's output, with the input's part_id when
    ``part_id``."""
    return _EXTRACT_PART_ARROW if part_id else _EXTRACT_ARROW


def extract_schema(part_id: bool) -> StructType:
    return from_arrow_schema(extract_arrow(part_id))


def extracted_row(r: Extracted, row: dict, bytes_in: int) -> dict:
    """One Extracted result + the input row it came from (url, warc_ts,
    lang, part_id) -> an EXTRACT row dict — the single place an
    Extracted becomes a row (the plain kernel and the split tiers'
    merge kernels both call this)."""
    return {"url": row["url"], "warc_ts": row.get("warc_ts"),
            "lang": row.get("lang"), "status": r.status, "fmt": r.fmt,
            "text": r.text, "text_md": r.text_md, "doctags": r.doctags,
            "text_html": r.text_html, "text_html_split": r.text_html_split,
            "text_json": r.text_json,
            "spans": [{"start": s, "end": e, "kind": k, "path": p}
                      for (s, e, k, p) in r.spans],
            "images": [{"idx": i, "uri": u, "data": d}
                       for (i, u, d) in r.images],
            "n_blocks": r.n_blocks, "bytes_in": bytes_in, "error": r.error,
            "part_id": row.get("part_id")}


def make_extract_kernel(opt: ConvertOptions = DEFAULT_OPTIONS,
                        part_id: bool = False):
    """Returns the mapInArrow function for the extract stage (operators
    C1-C4, C10 of SURVEY.md §2.3 fused into one narrow pass).  With
    ``part_id`` the input carries ``part_id`` and the output keeps it.
    A row weighs its payload bytes."""

    def extract_row(row):
        html = row["html"]
        bytes_in = len(html) if html else 0
        yield extracted_row(extract_document(html, opt, row["url"]), row,
                            bytes_in), bytes_in

    return row_kernel(extract_row, extract_arrow(part_id))


_CHUNK_ARROW = pa.schema([
    ("url", pa.large_string()), ("chunk_idx", pa.int32()),
    ("chunk_text", pa.large_string()), ("heading", pa.string()),
    ("n_tokens", pa.int32())])
CHUNK_SCHEMA = from_arrow_schema(_CHUNK_ARROW)


def make_chunk_kernel(chunker: str = "hybrid", max_tokens: int = 256,
                      tokenizer: str = "word", merge_peers: bool = True,
                      merges: tuple[tuple[str, str], ...] | None = None):
    """mapInArrow 1->N chunker (operators K1/K2, SURVEY.md §2.4) over the
    extracted frame (columns url, text, spans).  Followed by nothing:
    the kernel itself emits exploded chunk rows (UDTF-style).
    ``tokenizer``/``merge_peers`` mirror the reference's HybridChunker
    options (datamodel/requests.py:109-130); ``merges`` is the trained
    BPE vocabulary artifact for tokenizer="trained" (the reference's
    model-name-selects-vocab parameterization, app.py:1145-1150) —
    an n_merges-row catalog artifact shipped in the task closure."""

    def chunk_row(row):
        for c in chunk_blocks_from_spans(row["text"] or "", row["spans"] or [],
                                         chunker, max_tokens, tokenizer,
                                         merge_peers, merges):
            yield {"url": row["url"], "chunk_idx": c.idx,
                   "chunk_text": c.text, "heading": c.heading,
                   "n_tokens": c.n_tokens}, len(c.text)

    return row_kernel(chunk_row, _CHUNK_ARROW)
