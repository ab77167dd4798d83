"""Plan builder: read -> admit -> partition -> extract -> write+lineage.

The DataFrame plan is declared; Catalyst does column pruning (the naive
``text`` column never reaches the kernel), filter pushdown, and AQE
coalescing.  Explicit choices we make (SURVEY.md §4.2):

* ``part_id = pmod(xxhash64(url), P)`` — deterministic url-hash
  partitioning; the resume anti-filter and per-partition lineage key.
  It is computed once, on the source rows, and rides through the
  kernels to the write.
* extraction is one narrow mapInArrow pass (no shuffle); the only
  shuffle is the final write layout.
* waves: part_ids are processed in W groups, each group written by one
  Spark action and committed atomically to the IceTable manifest — a
  killed run resumes by skipping committed part_ids (checkpoint-resume,
  north_rule).  The kernels tally each part's lineage counters as they
  extract, so the commit reads nothing back.
"""

from __future__ import annotations

import datetime
import glob
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .icetable import IceTable
from .options import ConvertOptions, DEFAULT_OPTIONS
from .udfs import (CHUNK_SCHEMA, LINEAGE_COUNTERS, extract_schema,
                   extract_input_cols, make_chunk_kernel, make_extract_kernel,
                   new_tally, part_counters)

DEFAULT_PARTITIONS = 64


def with_part_id(df: DataFrame, partitions: int = DEFAULT_PARTITIONS) -> DataFrame:
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(partitions)).cast("int"))


def extracted_df(pages: DataFrame, opt: ConvertOptions = DEFAULT_OPTIONS,
                 cpus: int = 32, tally=None) -> DataFrame:
    """pages(url, warc_ts, html, [text], [lang]) -> extracted frame.

    A pure narrow map: scan splits feed the Arrow kernel directly — raw
    HTML is NEVER shuffled (at 100 TB the payload shuffle IS the job
    cost; measured 1.5-3× wall locally too).  Skew bombs are defused
    inside the kernel by byte-budget rebatching, and scan-split size is
    the knob for straggler bound (spark.sql.files.maxPartitionBytes).
    ``cpus`` is accepted for call-site compatibility and unused.

    ``tally`` (udfs.new_tally): ``pages`` carries ``part_id``, the
    output keeps it, and the kernel reports per-part lineage counters
    into the accumulator (run_extract's wave commit).
    """
    src = pages.select(*extract_input_cols(pages.columns, tally))
    return src.mapInArrow(make_extract_kernel(opt, tally=tally),
                          extract_schema(tally))


LINKS_SCHEMA_DDL = ("url string, link_no int, href string, "
                    "anchor string, boiler boolean, semantic boolean")


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
    import pyarrow as pa

    from .dom import parse_anchors

    src = pages.select("url", "html")

    def kern(batches):
        for b in batches:
            urls = b.column("url").to_pylist()
            htmls = b.column("html").to_pylist()
            u_o, n_o, h_o, a_o, b_o, s_o = [], [], [], [], [], []
            for u, payload in zip(urls, htmls):
                if not payload:
                    continue
                for i, (href, anchor, boiler, sem) in enumerate(
                        parse_anchors(payload)):
                    u_o.append(u)
                    n_o.append(i)
                    h_o.append(href)
                    a_o.append(anchor)
                    b_o.append(boiler)
                    s_o.append(sem)
            yield pa.RecordBatch.from_pydict({
                "url": pa.array(u_o, pa.large_string()),
                "link_no": pa.array(n_o, pa.int32()),
                "href": pa.array(h_o, pa.large_string()),
                "anchor": pa.array(a_o, pa.large_string()),
                "boiler": pa.array(b_o, pa.bool_()),
                "semantic": pa.array(s_o, pa.bool_()),
            })

    return src.mapInArrow(kern, LINKS_SCHEMA_DDL)


META_SCHEMA_DDL = ("url string, title string, meta_description string, "
                   "meta_robots string, og_title string, "
                   "canonical_url string, html_lang string")


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
    import pyarrow as pa

    from .dom import parse_metadata

    src = pages.select("url", "html")

    def kern(batches):
        for b in batches:
            urls = b.column("url").to_pylist()
            htmls = b.column("html").to_pylist()
            cols = {k: [] for k in ("url", "title", "meta_description",
                                    "meta_robots", "og_title",
                                    "canonical_url", "html_lang")}
            for u, payload in zip(urls, htmls):
                if not payload:
                    continue
                t, d, r, og, canon, lang = parse_metadata(payload)
                cols["url"].append(u)
                cols["title"].append(t)
                cols["meta_description"].append(d)
                cols["meta_robots"].append(r)
                cols["og_title"].append(og)
                cols["canonical_url"].append(canon)
                cols["html_lang"].append(lang)
            yield pa.RecordBatch.from_pydict({
                k: pa.array(v, pa.large_string())
                for k, v in cols.items()})

    return src.mapInArrow(kern, META_SCHEMA_DDL)


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
                 stage: str, expect_parts: list[int],
                 opt: ConvertOptions, wall_ms: int,
                 counters: dict[int, dict], partitions: int
                 ) -> tuple[str, list[dict]]:
    """Commit a written stage dir as one atomic snapshot with per-part
    lineage counters — counters ≡ processing_meta
    (/root/reference/docling_serve/orchestrator_factory.py:104-106).
    Shared by the batch wave driver and the streaming epoch sink.

    ``counters`` ({part_id: {num_docs, ..., bytes_out}},
    udfs.part_counters) were tallied by the extraction kernels while
    they produced the rows, so no Spark job runs here: the only I/O is
    the listing of the part dirs and IceTable.commit's footer reads.
    They count each row exactly once because the lineage accumulator's
    merge REPLACES per (stage_id, partition_id) instead of adding: a
    task that runs again — a retry, a stage recomputed after a lost
    shuffle, a speculative copy — reports under the same key and
    overwrites its earlier tally, and the action that wrote the stage
    has returned, so every task that produced its rows has reported.
    A part with no rows (an all-empty wave writes no files at all) is
    still DONE: it commits with zero counters.

    ``partitions`` is recorded next to ``options_hash`` so a resume
    with other parameters can be refused (run_extract)."""
    parts_meta = []
    for p in expect_parts:
        # glob.escape: a table root containing glob metacharacters
        # ('[..]', '*') must not silently match nothing — empty
        # manifests would later read as an empty table and let
        # expire_orphans delete live data (round-3 review)
        files = sorted(glob.glob(os.path.join(
            glob.escape(os.path.join(stage, f"part_id={p}")),
            "*.parquet")))
        c = dict(counters.get(p) or dict.fromkeys(LINEAGE_COUNTERS, 0))
        c["wall_ms"] = wall_ms
        parts_meta.append({"part_id": p, "files": files, "counters": c})
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
                        # writer-records-bounds: footer-only url stats
                        # per wave file feed IceTable.scan's manifest
                        # pruning (wave files are url-hash partitioned
                        # so their bounds overlap; a sort_by compaction
                        # is what makes them disjoint)
                        stats_cols=("url",))
    return snap, parts_meta


def check_resume(table: IceTable, partitions: int,
                 opt: ConvertOptions) -> None:
    """Refuse to resume a run whose snapshot heads the table with
    another ``partitions`` or other options: part ids would name other
    url sets (rows committed twice or never) or the table would mix
    rows from two option sets.  A head without the ``partitions``
    record — a table from before it, or a maintenance snapshot such as
    a compaction — is not checked."""
    head = table.latest_snapshot() or {}
    have = head.get("versions") or {}
    if "partitions" not in have:
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
                html_split: bool = False) -> dict:
    """The job driver: wave-committed, resumable extraction run.

    ``fail_after_wave`` injects a crash between commits (tests only).
    ``split_bytes`` enables the oversized-document fan-out tier
    (split.py): payloads >= the threshold are page-split (mini-PDF) —
    and, with ``html_split`` also set, cut-point-split (HTML,
    htmlsplit.py) — across tasks instead of pinning one task; None
    keeps the pure no-shuffle plan.  ``cpus`` is accepted for call-site
    compatibility and unused.
    A resume (some parts already committed) with another ``partitions``
    or other options than the table's last run raises ValueError before
    anything is written.
    Returns a summary with per-wave counters and phase times: ``wall_ms``
    (plan, scan, kernels and write) and ``commit_ms`` (commit_stage).
    """
    table = IceTable(table_root)
    run_id = run_id or uuid.uuid4().hex[:12]
    committed = table.committed_parts()
    if committed:
        check_resume(table, partitions, opt)
    todo = [p for p in range(partitions) if p not in committed]
    pages_p = with_part_id(pages, partitions)
    summary = {"run_id": run_id, "partitions": partitions,
               "skipped_parts": sorted(committed), "waves": []}

    for wi, wave_parts in enumerate(_wave_groups(todo, waves)):
        t0 = time.time()
        # a fresh accumulator per wave: its tallies are this wave's only
        tally = new_tally(spark.sparkContext)
        wave_df = pages_p.filter(F.col("part_id").isin(wave_parts))
        if split_bytes is not None:
            from .split import extracted_split_df
            out = extracted_split_df(wave_df, opt, cpus,
                                     split_bytes=split_bytes,
                                     html_split=html_split, tally=tally)
        else:
            out = extracted_df(wave_df, opt, cpus, tally=tally)
        stage = table.staging_dir(run_id, wi)
        # one shuffle, on the EXTRACTED rows (≈5× smaller than raw
        # HTML), into the committed url-hash layout: exactly one file
        # per part_id instead of tasks×parts small files.  At cluster
        # scale a real catalog would further split each partition by
        # target file size.
        (out.repartition(max(1, len(wave_parts)), F.col("part_id"))
         .write.mode("overwrite").partitionBy("part_id").parquet(stage))

        t1 = time.time()
        wall_ms = int((t1 - t0) * 1000)
        snap, parts_meta = commit_stage(spark, table, run_id, stage,
                                        wave_parts, opt, wall_ms,
                                        part_counters(tally.value),
                                        partitions)
        summary["waves"].append({
            "wave": wi, "snapshot_id": snap, "parts": wave_parts,
            "num_docs": sum(m["counters"]["num_docs"] for m in parts_meta),
            "wall_ms": wall_ms,
            "commit_ms": int((time.time() - t1) * 1000)})
        # abort_on_error=true (reference docs/usage.md:24): fail the JOB
        # on the first wave containing a failed document.  The wave's
        # snapshot is already committed, so a rerun after the fix
        # resumes from here — abort is a stop, not a rollback.
        if opt.abort_on_error:
            n_failed = sum(m["counters"]["num_failed"] for m in parts_meta)
            if n_failed:
                raise RuntimeError(
                    f"abort_on_error: wave {wi} contains {n_failed} "
                    f"failed document(s); committed snapshots are kept "
                    f"(resume after fixing the input)")
        if fail_after_wave is not None and wi >= fail_after_wave:
            summary["injected_failure"] = True
            return summary
    return summary
