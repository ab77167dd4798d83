"""Plan builder: read -> admit -> partition -> extract -> write+lineage.

The DataFrame plan is declared; Catalyst does column pruning (the naive
``text`` column never reaches the kernel), filter pushdown, and AQE
coalescing.  Explicit choices we make (SURVEY.md §4.2):

* ``part_id = pmod(xxhash64(url), P)`` (``part_expr``) — deterministic
  url-hash partitioning; the resume anti-filter and per-partition
  lineage key.  The write computes it from ``url``, which the kernels
  pass through unchanged, so extraction carries nothing of the write.
* extraction is one narrow mapInArrow pass (no shuffle) outside the
  oversized-document tier (split.py); the only other shuffle is the
  final write layout.
* one Spark action per run: every part the run owns is extracted,
  shuffled by part_id and written by a write task that also counts the
  part's lineage counters and PUBLISHES the part (IceTable.stage_parts).
  The driver then commits the parts in W wave-sized groups, each one
  atomic snapshot of the IceTable manifest, so the commit reads nothing
  back.  A killed run resumes by skipping committed part_ids and
  committing ("adopting") the parts it had published but not committed
  (checkpoint-resume, north_rule).
"""

from __future__ import annotations

import datetime
import os
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .dom import parse_anchors, parse_metadata
from .icetable import IceTable
from .options import ConvertOptions, DEFAULT_OPTIONS
from .session import cores
from .split import tier_df
from .udfs import (CHUNK_SCHEMA, EXTRACT_SCHEMA, LINEAGE_COUNTERS,
                   extract_input_cols, lineage_counters, make_chunk_kernel,
                   make_extract_kernel, row_kernel)

DEFAULT_PARTITIONS = 64
# the columns whose per-file bounds the write records and a commit keeps
STATS_COLS = ("url",)


def part_expr(partitions: int = DEFAULT_PARTITIONS):
    """A row's part: ``pmod(xxhash64(url), partitions)`` as an int."""
    return F.pmod(F.xxhash64("url"), F.lit(partitions)).cast("int")


def with_part_id(df: DataFrame, partitions: int = DEFAULT_PARTITIONS) -> DataFrame:
    return df.withColumn("part_id", part_expr(partitions))


def extracted_df(pages: DataFrame, opt: ConvertOptions = DEFAULT_OPTIONS,
                 split_bytes: int | None = None) -> DataFrame:
    """pages(url, warc_ts, html, [text], [lang], ...) -> EXTRACT_SCHEMA.

    A pure narrow map: scan splits feed the Arrow kernel directly — raw
    HTML is NEVER shuffled (at 100 TB the payload shuffle IS the job
    cost; measured 1.5-3× wall locally too).  The kernel's byte budget
    (udfs.row_kernel) bounds only its output batches: a skew bomb's
    whole input batch (≤ maxRecordsPerBatch rows) is in worker memory
    first.  Scan-split size is the knob for straggler bound
    (spark.sql.files.maxPartitionBytes).

    ``split_bytes`` spreads a giant document over tasks: a payload of
    at least ``2 * split_bytes`` bytes takes the fan-out tier
    (split.tier_df), every other one this kernel."""
    src = pages.select(*extract_input_cols(pages.columns))
    tier = None
    if split_bytes is not None:
        # coalesce: a NULL payload makes the predicate SQL NULL, which
        # both filters would drop; it takes the kernel, which emits its
        # skipped verdict
        is_big = F.coalesce(F.length("html") >= F.lit(2 * split_bytes),
                            F.lit(False))
        tier = tier_df(src.filter(is_big), opt, split_bytes)
        src = src.filter(~is_big)
    out = src.mapInArrow(make_extract_kernel(opt), EXTRACT_SCHEMA)
    return out if tier is None else out.unionByName(tier)


_LINKS_ARROW = pa.schema([
    ("url", pa.large_string()), ("link_no", pa.int32()),
    ("href", pa.large_string()), ("anchor", pa.large_string()),
    ("boiler", pa.bool_()), ("semantic", pa.bool_())])


def links_df(pages: DataFrame) -> DataFrame:
    """pages -> exploded out-link rows (url, link_no, href, anchor,
    boiler, semantic): the WAT-extraction pass of a crawl pipeline —
    the out-link graph (corpus.pagerank's edge feed) plus anchor text,
    with the DOM's boilerplate classification attached so nav/footer
    link farms are separable from in-content citations.

    Same narrow shape as extracted_df: scan splits feed ONE Arrow
    kernel, raw HTML never shuffles, and the output rows are ~100
    bytes (the payload is dropped in-kernel), so the link table of a
    100 TB crawl is a small fraction of its input.  link_no is the
    document-order index (reference conversion keeps hyperlinks inside
    its document items; here the link surface is a first-class
    extraction output)."""

    def links_row(row):
        if row["html"]:
            for i, (href, anchor, boiler, sem) in enumerate(
                    parse_anchors(row["html"])):
                yield {"url": row["url"], "link_no": i, "href": href,
                       "anchor": anchor, "boiler": boiler,
                       "semantic": sem}, len(href) + len(anchor)

    return pages.select("url", "html").mapInArrow(
        row_kernel(links_row, _LINKS_ARROW), from_arrow_schema(_LINKS_ARROW))


_META_ARROW = pa.schema([(c, pa.large_string()) for c in (
    "url", "title", "meta_description", "meta_robots", "og_title",
    "canonical_url", "html_lang")])


def metadata_df(pages: DataFrame) -> DataFrame:
    """pages -> one page-metadata row per non-empty payload (url,
    title, meta_description, meta_robots, og_title, canonical_url,
    html_lang) — the head-extraction pass: the columns a training
    pipeline filters on (robots noindex exclusion, declared language
    vs lang-id cross-check, canonical as a dedup hint, title for
    attribution/display).

    Same narrow shape as links_df/extracted_df: scan splits feed ONE
    Arrow kernel, raw HTML never shuffles, output rows are a few
    hundred bytes — and the kernel's parse cost is hard-bounded to the
    <head> prefix (dom.parse_metadata), so a skew-bomb body costs
    nothing here."""

    def meta_row(row):
        if row["html"]:
            vals = (row["url"], *parse_metadata(row["html"]))
            yield (dict(zip(_META_ARROW.names, vals)),
                   sum(len(v) for v in vals if v))

    return pages.select("url", "html").mapInArrow(
        row_kernel(meta_row, _META_ARROW), from_arrow_schema(_META_ARROW))


def chunks_df(extracted: DataFrame, chunker: str = "hybrid",
              max_tokens: int = 256, tokenizer: str = "word",
              merge_peers: bool = True,
              merges: tuple[tuple[str, str], ...] | None = None
              ) -> DataFrame:
    """Extracted frame -> exploded chunk rows (K1/K2). Narrow: chunking
    is per-document, no shuffle (SURVEY.md §3.3).  ``merges``: trained
    BPE merge table for tokenizer="trained" (chunk.py docstring)."""
    src = extracted.select("url", "text", "spans")
    return src.mapInArrow(
        make_chunk_kernel(chunker, max_tokens, tokenizer, merge_peers,
                          merges),
        CHUNK_SCHEMA)


def write_artifacts(extracted: DataFrame, out_dir: str) -> None:
    """Directory-of-artifacts sink — the reference's ZipTarget analogue
    (response_preparation.py:47-54): per document a md file plus its
    referenced image sidecars at the RELATIVE paths the markdown cites
    (invariant mirrored from tests/test_fastapi_endpoints.py:181-215).

    Executor-side foreachPartition writer; suitable for test/export
    volumes — a 10^12-doc run would emit artifact *bundles* (tar/zip
    per partition) instead of billions of small files."""
    def _write(rows) -> None:
        import hashlib
        import os
        for r in rows:
            d = os.path.join(out_dir,
                             hashlib.md5((r["url"] or "").encode()).hexdigest()[:16])
            os.makedirs(os.path.join(d, "images"), exist_ok=True)
            with open(os.path.join(d, "doc.md"), "w") as f:
                f.write(r["text_md"] or "")
            for im in (r["images"] or []):
                if im["data"] is not None and im["uri"]:
                    with open(os.path.join(d, im["uri"]), "wb") as f:
                        f.write(bytes(im["data"]))

    extracted.select("url", "text_md", "images").foreachPartition(_write)


def write_zip_artifacts(extracted: DataFrame, out_dir: str) -> None:
    """ZipTarget sink (reference response_preparation.py:47-54): ONE zip
    archive per Spark partition, each document a `<md5(url)>/doc.md`
    entry plus its referenced image sidecars at the RELATIVE in-archive
    paths the markdown cites (invariant of reference
    tests/test_fastapi_endpoints.py:181-215).

    Per-partition bundles are the 10^12-doc shape: a bounded number of
    archive objects instead of billions of small files; each task
    streams its rows into its own zip and atomically renames, so a
    retried task never leaves a torn archive."""
    def _write(rows) -> None:
        import hashlib
        import itertools
        import os
        import zipfile
        from pyspark import TaskContext
        first = next(rows, None)
        if first is None:
            return  # empty partition -> no archive
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(out_dir, exist_ok=True)
        final = os.path.join(out_dir, f"part-{pid:05d}.zip")
        # tmp name unique PER ATTEMPT: with speculative execution or a
        # zombie retry, two attempts of the same partition run
        # concurrently — a shared tmp path would interleave writes and
        # os.replace could publish a torn archive.  Distinct tmp files +
        # atomic rename = last attempt wins with a complete archive.
        tmp = f"{final}.{ctx.taskAttemptId()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for r in itertools.chain([first], rows):
                d = hashlib.md5((r["url"] or "").encode()).hexdigest()[:16]
                z.writestr(f"{d}/doc.md", r["text_md"] or "")
                for im in (r["images"] or []):
                    if im["data"] is not None and im["uri"]:
                        z.writestr(f"{d}/{im['uri']}", bytes(im["data"]))
        os.replace(tmp, final)
        # reap tmp files orphaned by killed/lost attempts of THIS
        # partition (round-3 review): a still-running speculative
        # loser whose tmp vanishes fails its os.replace and retries —
        # harmless, its output is redundant by definition
        import glob
        for stale in glob.glob(f"{final}.*.tmp"):
            try:
                os.remove(stale)
            except OSError:
                pass

    extracted.select("url", "text_md", "images").foreachPartition(_write)


def _wave_groups(parts: list[int], waves: int) -> list[list[int]]:
    if not parts:
        return []
    waves = max(1, min(waves, len(parts)))
    size = -(-len(parts) // waves)
    return [parts[i:i + size] for i in range(0, len(parts), size)]


def commit_stage(spark: SparkSession, table: IceTable, run_id: str,
                 records: dict[int, dict | None], opt: ConvertOptions,
                 wall_ms: int, partitions: int) -> tuple[str, list[dict]]:
    """Commit one group of parts as one atomic snapshot with per-part
    lineage counters — counters ≡ processing_meta
    (/root/reference/docling_serve/orchestrator_factory.py:104-106) —
    then drop the parts' publication records.  ``records`` ({part_id:
    record}, IceTable.stage_parts or IceTable.published) names every
    part the snapshot commits; a part without rows has no record and
    is still DONE: it commits with no files and zero counters.
    write_wave calls it once per wave-sized group, batch or streaming,
    and run_extract once for the parts it adopts, always through this
    module's global (perfbench's tracer counts waves by its spans).

    Each record holds what the write task that wrote the part counted
    and read: its counters, and each file's row count and url bounds
    from the closed writer's footer, passed on to IceTable.commit as
    ``file_rows``/``file_stats`` — so no Spark job runs here and no
    parquet footer is opened.

    ``partitions`` is recorded next to ``options_hash`` so a resume
    with other parameters can be refused (run_extract)."""
    parts_meta = []
    for p, rec in records.items():
        rec = rec or {"files": [], "counters": dict.fromkeys(
            LINEAGE_COUNTERS, 0)}
        meta = {"part_id": p, "files": rec["files"],
                "counters": {**rec["counters"], "wall_ms": wall_ms}}
        for k in ("file_rows", "file_stats"):
            if k in rec:
                meta[k] = rec[k]
        parts_meta.append(meta)
    # a stat, not a footer read: an orphan GC run without a grace window
    # may have taken a file the run wrote, and the snapshot must not
    # list it
    gone = [f for m in parts_meta for f in m["files"] if not os.path.isfile(f)]
    if gone:
        raise FileNotFoundError(f"written files are gone: {gone[:3]}")
    from . import __version__
    # lineage records WHICH options produced this snapshot (the
    # reference persists the request options with the task record);
    # options_hash is also the converter-cache key (options.py).
    snap = table.commit(run_id, parts_meta,
                        datetime.datetime.utcnow().isoformat(),
                        versions={"webextract": __version__,
                                  "spark": spark.version,
                                  "partitions": partitions,
                                  "options_hash": opt.options_hash(),
                                  "options": {k: repr(v) for k, v
                                              in opt.as_dict().items()}},
                        # writer-records-bounds: url bounds per wave
                        # file feed IceTable.scan's manifest pruning
                        # (wave files are url-hash partitioned so their
                        # bounds overlap; a sort_by compaction is what
                        # makes them disjoint)
                        stats_cols=STATS_COLS)
    table.unpublish((r["run_id"], p) for p, r in records.items() if r)
    return snap, parts_meta


def _commit_wave(spark: SparkSession, table: IceTable, run_id: str,
                 records: dict[int, dict | None], opt: ConvertOptions,
                 since: float, partitions: int) -> tuple[dict, list[dict]]:
    """commit_stage over ``records`` -> (the snapshot's summary entry,
    its committed parts); ``wall_ms`` runs from ``since``."""
    t1 = time.time()
    wall_ms = int((t1 - since) * 1000)
    snap, parts_meta = commit_stage(spark, table, run_id, records, opt,
                                    wall_ms, partitions)
    return {"snapshot_id": snap, "parts": list(records),
            "num_docs": sum(m["counters"]["num_docs"] for m in parts_meta),
            "wall_ms": wall_ms,
            "commit_ms": int((time.time() - t1) * 1000)}, parts_meta


def write_wave(spark: SparkSession, table: IceTable, pages: DataFrame,
               run_id: str, opt: ConvertOptions, partitions: int,
               groups: list[list[int]] | None = None,
               split_bytes: int | None = None):
    """The write of a batch run and of a streaming epoch: ONE Spark
    action extracts the ``pages`` rows, gives each its ``part_id`` from
    its url, shuffles them by part_id and writes and publishes each part
    (IceTable.stage_parts, stamped with ``options_hash`` and
    ``partitions`` for a resume to check).  The write uses
    min(parts, cores) tasks: every core writes, and a task's fixed cost
    is paid once per core, not once per part.  Each part is one file
    whatever the task count; at cluster scale a real catalog would
    further split a part by target file size.

    ``groups`` are the part ids of a batch run's waves: the source rows
    are filtered to them and the action writes them all.  A streaming
    epoch passes ``groups=None``: it takes every row, and the parts it
    wrote form its one group.  ``split_bytes`` as in run_extract.

    Returns ``(write_ms, commits)``: the action's time, and an iterator
    that commits the next group in order as one snapshot (commit_stage)
    each step, yielding the wave's summary entry and its committed
    parts.  Every part of a group commits, one without rows with zero
    counters.  A group the caller does not iterate to is not committed;
    its parts stay published (run_extract adopts them on resume)."""
    t0 = time.time()
    parts = None if groups is None else [p for g in groups for p in g]
    if parts is not None:
        pages = pages.filter(part_expr(partitions).isin(parts))
    out = with_part_id(extracted_df(pages, opt, split_bytes), partitions)
    n_tasks = min(partitions if parts is None else len(parts), cores(spark))
    records = table.stage_parts(
        out, run_id, n_tasks, lineage_counters,
        {"options_hash": opt.options_hash(), "partitions": partitions},
        STATS_COLS)
    write_ms = int((time.time() - t0) * 1000)

    def commits():
        since = t0
        for group in [sorted(records)] if groups is None else groups:
            wave = _commit_wave(spark, table, run_id,
                                {p: records.get(p) for p in group}, opt,
                                since, partitions)
            since = time.time()
            yield wave

    return write_ms, commits()


def check_resume(table: IceTable, partitions: int,
                 opt: ConvertOptions) -> None:
    """Refuse to resume into a table whose last run committed with
    another ``partitions`` or other options: part ids would name other
    url sets (rows committed twice or never) or the table would mix
    rows from two option sets.  The last run is the newest run record
    in the table's chain (IceTable.manifest), so a row-level delete or
    upsert at the head does not hide it, and a compaction's rewrite
    snapshot carries it past history expiry (IceTable.compact).  A
    table without a run record (one from before it) is not checked."""
    have = table.manifest().run
    if not have:
        return
    if (have["partitions"], have.get("options_hash")) != (
            partitions, opt.options_hash()):
        raise ValueError(
            f"cannot resume {table.root}: its last run committed with "
            f"partitions={have['partitions']}, options_hash="
            f"{have.get('options_hash')}; this run has partitions="
            f"{partitions}, options_hash={opt.options_hash()}. Rerun "
            f"with the table's parameters or into a new root.")


def run_extract(spark: SparkSession, pages: DataFrame, table_root: str,
                opt: ConvertOptions = DEFAULT_OPTIONS,
                partitions: int = DEFAULT_PARTITIONS, waves: int = 4,
                cpus: int = 32, run_id: str | None = None,
                fail_after_wave: int | None = None,
                split_bytes: int | None = None,
                html_split: bool = True) -> dict:
    """The job driver: resumable extraction run, written by one Spark
    action and committed in ``waves`` snapshots (write_wave).

    A resume (a table with committed or published parts) first runs
    check_resume, then commits, as its first snapshot, every part a
    crashed run published but did not commit whose record has this
    run's ``partitions`` and options and whose files all exist
    (``adopted_parts``), and computes only the parts left.
    ``fail_after_wave=k`` returns after committing wave k of the parts
    computed, as a crash there would (tests only): the later waves'
    parts stay published.
    ``split_bytes`` enables the oversized-document fan-out tier
    (split.py): a payload of at least ``2 * split_bytes`` bytes is
    page-split (mini-PDF) or cut-point-split (HTML, htmlsplit.py) into
    pieces of at least about ``split_bytes``, parsed across tasks
    instead of pinning one; smaller payloads and None keep the pure
    no-shuffle plan.  A row's part comes from its url at the write
    (write_wave).  ``cpus`` and ``html_split`` are accepted for
    call-site compatibility and unused.
    A resume with another ``partitions`` or other options than the
    table's last run raises ValueError before anything is written.
    Returns a summary: ``skipped_parts`` (the run's own parts, 0 to
    ``partitions - 1``, committed when it started; an upsert's part is
    not one), ``adopted_parts``, ``write_ms`` (the run's action) and
    one entry per snapshot in ``waves`` (the adoption's first, marked
    ``adopted``), each with its counters, ``wall_ms`` (from the end of
    the previous commit, or the run's start, to its own commit: plan,
    scan, kernels and write for the first wave written) and
    ``commit_ms`` (commit_stage).
    """
    t0 = time.time()
    table = IceTable(table_root)
    run_id = run_id or uuid.uuid4().hex[:12]
    committed = table.committed_parts()
    # every committed part, not only the run's own: a table committed
    # with more partitions than this run's is refused too
    if committed:
        check_resume(table, partitions, opt)
    adopted = table.published(committed, {
        "options_hash": opt.options_hash(), "partitions": partitions})
    todo = [p for p in range(partitions)
            if p not in committed and p not in adopted]
    summary = {"run_id": run_id, "partitions": partitions,
               "skipped_parts": sorted(p for p in committed
                                       if 0 <= p < partitions),
               "adopted_parts": sorted(adopted), "write_ms": 0,
               "waves": []}
    groups = _wave_groups(todo, waves)

    def check_abort(parts_meta, what, later: list[int]):
        # abort_on_error=true (reference docs/usage.md:24): fail the JOB
        # on the first snapshot holding a failed document.  Committed
        # snapshots are kept, so a rerun after the fix resumes from
        # here — abort is a stop, not a rollback — but the later
        # groups' parts are unpublished: a rerun recomputes them from
        # the fixed input instead of adopting rows of the old one.
        n_failed = sum(m["counters"]["num_failed"] for m in parts_meta)
        if opt.abort_on_error and n_failed:
            table.unpublish((run_id, p) for p in later)
            raise RuntimeError(
                f"abort_on_error: {what} contains {n_failed} failed "
                f"document(s); committed snapshots are kept (resume "
                f"after fixing the input)")

    if adopted:
        wave, parts_meta = _commit_wave(spark, table, run_id, adopted, opt,
                                        t0, partitions)
        summary["waves"].append({"wave": 0, "adopted": True, **wave})
        check_abort(parts_meta, "the adopted parts", [])
    if not groups:
        return summary
    summary["write_ms"], commits = write_wave(
        spark, table, pages, run_id, opt, partitions, groups, split_bytes)
    for wi, (wave, parts_meta) in enumerate(commits):
        wave = {"wave": len(summary["waves"]), **wave}
        summary["waves"].append(wave)
        check_abort(parts_meta, f"wave {wave['wave']}",
                    [p for g in groups[wi + 1:] for p in g])
        if fail_after_wave is not None and wi >= fail_after_wave:
            summary["injected_failure"] = True
            return summary
    return summary
