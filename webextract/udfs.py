"""Arrow-vectorized batch kernels (mapInArrow) — the ONLY Python compute.

North-rule constraint: no per-row Python UDFs anywhere.  The extraction
and chunking kernels cross the JVM<->Python boundary once per Arrow
RecordBatch; inside the batch the per-document work calls the SAME pure
functions the tests use as the oracle (byte-identity contract,
SURVEY.md §7.4#1).  Strings/bytes are materialized from Arrow exactly
once and results go back as large_string/large_binary arrays, so no
pandas round-trip can alter bytes.

Batch memory is bounded by a byte-budget rebatcher: a batch whose html
payloads exceed ``BATCH_BYTE_BUDGET`` is split before processing, so one
skew-bomb row cannot blow up Python worker memory (SURVEY.md §7.4#4);
this mirrors the reference's stage batching knobs
(/root/reference/docling_serve/settings.py:77-82).

Given a lineage accumulator (``new_tally``), the extraction kernels —
this one and the split tiers' merge kernels — also tally each part's
lineage counters (``LINEAGE_COUNTERS``) as they produce its rows: the
pass that already holds every row's status, ``bytes_in`` and ``text``
counts them, so a wave commit needs no second Spark pass over the
written stage.  Each kernel reports its tallies once, when its
partition ends, under its task's ``(stage_id, partition_id)``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from .chunk import chunk_blocks_from_spans
from .extract import extract_document
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

# a tallying kernel's output: the EXTRACT row plus the part_id it came
# with, which the wave write partitions by
_EXTRACT_PART_ARROW = _EXTRACT_ARROW.append(pa.field("part_id", pa.int32()))
EXTRACT_SCHEMA = from_arrow_schema(_EXTRACT_ARROW)
EXTRACT_PART_SCHEMA = from_arrow_schema(_EXTRACT_PART_ARROW)

LINEAGE_COUNTERS = ("num_docs", "num_processed", "num_succeeded",
                    "num_partial", "num_failed", "num_skipped",
                    "bytes_in", "bytes_out")
_STATUS_SLOT = {"success": 2, "partial_success": 3, "failure": 4,
                "skipped": 5}


class TallyParam(AccumulatorParam):
    """Lineage accumulator value: ``{(stage_id, partition_id): {part_id:
    [counter, ...]}}``.  The merge REPLACES the entry of a task key
    instead of adding to it, so a task that runs again (a retry, a
    recomputed stage, a speculative copy) overwrites its own tallies
    and is counted once."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        value1.update(value2)
        return value1


def new_tally(sc):
    """A fresh lineage accumulator for one wave's kernels."""
    return sc.accumulator({}, TallyParam())


def part_counters(tallies: dict) -> dict[int, dict[str, int]]:
    """Per-task tallies (a ``TallyParam`` value) -> ``{part_id:
    {counter: total}}`` over every task."""
    sums: dict[int, list[int]] = {}
    for parts in tallies.values():
        for part_id, c in parts.items():
            t = sums.setdefault(part_id, [0] * len(LINEAGE_COUNTERS))
            for i, v in enumerate(c):
                t[i] += v
    return {p: dict(zip(LINEAGE_COUNTERS, t)) for p, t in sums.items()}


class Tally:
    """One kernel partition's lineage counters per part_id, in
    ``LINEAGE_COUNTERS`` order; ``report`` sends them to the
    accumulator once, when the partition is done."""

    def __init__(self, acc) -> None:
        self.acc = acc
        self.parts: dict[int, list[int]] = {}

    def count(self, out: dict) -> None:
        """Count the rows of an EXTRACT column-list dict."""
        for part_id, status, bytes_in, text in zip(
                out["part_id"], out["status"], out["bytes_in"],
                out["text"]):
            c = self.parts.get(part_id)
            if c is None:
                c = self.parts[part_id] = [0] * len(LINEAGE_COUNTERS)
            c[0] += 1
            # processed = attempted: every row but an admission refusal
            if status != "skipped":
                c[1] += 1
            slot = _STATUS_SLOT.get(status)
            if slot is not None:
                c[slot] += 1
            c[6] += bytes_in or 0
            # bytes, not codepoints: len(text) undercounts non-ASCII
            # text up to 4x
            if text:
                c[7] += len(text.encode("utf-8"))

    def report(self) -> None:
        ctx = TaskContext.get()
        self.acc.add({(ctx.stageId(), ctx.partitionId()): self.parts})


def extract_input_cols(columns: list[str], tally) -> list[str]:
    """The source columns an extraction plan reads (column pruning: a
    naive ``text`` column is never scanned); a tallying plan also
    reads ``part_id``."""
    cols = ["url", "warc_ts", "lang", "html"] \
        if "lang" in columns else ["url", "warc_ts", "html"]
    return cols if tally is None else cols + ["part_id"]


def extract_schema(tally) -> StructType:
    return EXTRACT_SCHEMA if tally is None else EXTRACT_PART_SCHEMA


def new_extract_out() -> dict:
    """Fresh column-list dict for the EXTRACT schema (plus part_id)."""
    return {f.name: [] for f in _EXTRACT_PART_ARROW}


def extract_batch(out: dict, counts: Tally | None) -> pa.RecordBatch:
    """Column lists -> one output batch.  With ``counts`` the rows are
    tallied and the batch keeps their part_id."""
    schema = _EXTRACT_ARROW
    if counts is not None:
        counts.count(out)
        schema = _EXTRACT_PART_ARROW
    return pa.RecordBatch.from_pydict(
        {f.name: pa.array(out[f.name], f.type) for f in schema})


def append_extracted(out: dict, r, url, ts, lang, bytes_in,
                     part_id) -> None:
    """Append one Extracted result as a row into the column lists —
    the single place an Extracted becomes an EXTRACT-schema row (the
    batch kernel and the split tiers' merge kernels all call this)."""
    out["url"].append(url)
    out["warc_ts"].append(ts)
    out["lang"].append(lang)
    out["status"].append(r.status)
    out["fmt"].append(r.fmt)
    out["text"].append(r.text)
    out["text_md"].append(r.text_md)
    out["doctags"].append(r.doctags)
    out["text_html"].append(r.text_html)
    out["text_html_split"].append(r.text_html_split)
    out["text_json"].append(r.text_json)
    out["spans"].append([{"start": s, "end": e, "kind": k, "path": p}
                         for (s, e, k, p) in r.spans])
    out["images"].append([{"idx": i, "uri": u, "data": d}
                          for (i, u, d) in r.images])
    out["n_blocks"].append(r.n_blocks)
    out["bytes_in"].append(bytes_in)
    out["error"].append(r.error)
    out["part_id"].append(part_id)


def _split_by_budget(htmls: list, budget: int) -> Iterator[tuple[int, int]]:
    """Yield (start, end) slices whose summed payload <= budget
    (single oversized rows get their own slice)."""
    start, acc = 0, 0
    for i, h in enumerate(htmls):
        n = len(h) if h is not None else 0
        if acc and acc + n > budget:
            yield start, i
            start, acc = i, 0
        acc += n
    if start < len(htmls):
        yield start, len(htmls)


def make_extract_kernel(opt: ConvertOptions = DEFAULT_OPTIONS,
                        budget: int = BATCH_BYTE_BUDGET, tally=None):
    """Returns the mapInArrow function for the extract stage (operators
    C1-C4, C10 of SURVEY.md §2.3 fused into one narrow pass).  With a
    ``tally`` accumulator the input carries ``part_id``, which the
    output keeps, and the kernel reports its lineage counters."""

    def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        counts = Tally(tally) if tally is not None else None
        for batch in batches:
            cols = {n: batch.column(n) for n in batch.schema.names}
            urls = cols["url"].to_pylist()
            htmls = cols["html"].to_pylist()
            ts = cols["warc_ts"].to_pylist() if "warc_ts" in cols else [None] * len(urls)
            langs = cols["lang"].to_pylist() if "lang" in cols else [None] * len(urls)
            pids = cols["part_id"].to_pylist() if "part_id" in cols else [None] * len(urls)
            for lo, hi in _split_by_budget(htmls, budget):
                out = new_extract_out()
                for i in range(lo, hi):
                    r = extract_document(htmls[i], opt, urls[i])
                    append_extracted(out, r, urls[i], ts[i], langs[i],
                                     len(htmls[i]) if htmls[i] else 0,
                                     pids[i])
                yield extract_batch(out, counts)
        if counts is not None:
            counts.report()

    return extract_batches


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

    def chunk_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            urls = batch.column("url").to_pylist()
            texts = batch.column("text").to_pylist()
            spans = batch.column("spans").to_pylist()
            out = {"url": [], "chunk_idx": [], "chunk_text": [],
                   "heading": [], "n_tokens": []}
            for u, t, sp in zip(urls, texts, spans):
                for c in chunk_blocks_from_spans(t or "", sp or [], chunker,
                                                 max_tokens, tokenizer,
                                                 merge_peers, merges):
                    out["url"].append(u)
                    out["chunk_idx"].append(c.idx)
                    out["chunk_text"].append(c.text)
                    out["heading"].append(c.heading)
                    out["n_tokens"].append(c.n_tokens)
            yield pa.RecordBatch.from_pydict(
                {f.name: pa.array(out[f.name], f.type)
                 for f in _CHUNK_ARROW})

    return chunk_batches
