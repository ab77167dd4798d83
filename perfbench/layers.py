"""Per-layer metrics of a traced run, from its spans, the job
summaries ``run_extract`` returned and Spark's event log."""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

KERNEL_SUFFIX = "_kernel"


def load_spans(trace_dir: str, driver_rows: list[dict]) -> list[dict]:
    rows = list(driver_rows)
    for path in sorted(glob.glob(os.path.join(trace_dir, "spans-*.jsonl"))):
        with open(path) as f:
            rows.extend(json.loads(line) for line in f)
    return rows


def self_times(spans: list[dict]) -> dict[str, int]:
    """span id -> duration minus the time its direct children cover
    (children run nested in the same process, never overlapping)."""
    covered: dict[str, int] = defaultdict(int)
    for s in spans:
        if s["parent"]:
            covered[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - covered[s["id"]] for s in spans}


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """name -> {count, total_s, self_s} over the given spans."""
    own = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                       "self_s": 0.0})
        t["count"] += 1
        t["total_s"] += (s["end"] - s["start"]) / 1e9
        t["self_s"] += own[s["id"]] / 1e9
    return out


def _sum(spans, name, key=None) -> float:
    if key is None:
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == name) / 1e9
    return sum(s["counters"].get(key, 0) for s in spans if s["name"] == name)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def kernel_compute(spans: list[dict]) -> dict[str, int]:
    """kernel span id -> its duration minus the input waits inside it."""
    wait: dict[str, int] = defaultdict(int)
    for s in spans:
        if s["name"] == "udfs.input":
            wait[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - wait[s["id"]]
            for s in spans if s["name"].endswith(KERNEL_SUFFIX)}


def span_metrics(spans: list[dict]) -> dict[str, float]:
    """Per-layer metrics of the spans of one timed job."""
    own = self_times(spans)
    compute = kernel_compute(spans)
    parse_s = _sum(spans, "dom.parse_blocks")
    return {
        "udfs.kernel_s": sum(compute.values()) / 1e9,
        "udfs.marshal_s": sum(own[k] for k in compute) / 1e9,
        "udfs.input_wait_s": _sum(spans, "udfs.input"),
        "udfs.batches": _sum(spans, "udfs.input", "batches"),
        "dom.parse_blocks_s": parse_s,
        "dom.blocks": _sum(spans, "dom.parse_blocks", "blocks"),
        "dom.mb_per_s": _ratio(
            _sum(spans, "dom.parse_blocks", "in_bytes") / 1e6, parse_s),
        "extract.select_main_s": _sum(spans, "extract.select_main"),
        "extract.finish_blocks_s": _sum(spans, "extract.finish_blocks"),
        "extract.kept_block_share": _ratio(
            _sum(spans, "extract.select_main", "kept_blocks"),
            _sum(spans, "extract.select_main", "in_blocks")),
        "extract.out_bytes_per_in_byte": _ratio(
            _sum(spans, "extract.extract_document", "out_bytes"),
            _sum(spans, "extract.extract_document", "in_bytes")),
        "pdfmini.parse_pdf_blocks_s": _sum(spans, "pdfmini.parse_pdf_blocks"),
        "pdfmini.docs": sum(1 for s in spans
                            if s["name"] == "pdfmini.parse_pdf_blocks"),
        "split.segments": (_sum(spans, "split.slice_pages", "segments")
                           + _sum(spans, "htmlsplit.scan_cuts", "segments")),
        "htmlsplit.scan_cuts_s": _sum(spans, "htmlsplit.scan_cuts"),
        "htmlsplit.parse_blocks_seeded_s": _sum(
            spans, "htmlsplit.parse_blocks_seeded"),
        "htmlsplit.segments": _sum(spans, "htmlsplit.scan_cuts", "segments"),
        "htmlsplit.merge_s": sum(
            compute[s["id"]] for s in spans
            if s["name"] == "htmlsplit.merge_kernel") / 1e9,
        "pipeline.commit_stage_s": _sum(spans, "pipeline.commit_stage"),
        "icetable.commit_s": _sum(spans, "icetable.commit"),
        "icetable.committed_parts_s": _sum(spans, "icetable.committed_parts"),
        "icetable.files_written": _sum(spans, "pipeline.commit_stage",
                                       "files"),
        "icetable.bytes_written": _sum(spans, "pipeline.commit_stage",
                                       "bytes"),
    }


def wave_accounting(job_start: int, spans: list[dict],
                    cpus: int) -> list[dict]:
    """Per wave: its wall time (previous commit's end to its own), the
    commit, the kernel compute spread over the cores, and what those
    spans leave unaccounted for (scan, shuffle, parquet write,
    scheduling and idle cores)."""
    by_id = {s["id"]: s for s in spans}
    compute = kernel_compute(spans)
    commits = sorted((s for s in spans
                      if s["name"] == "pipeline.commit_stage"),
                     key=lambda s: s["start"])
    waves, lo = [], job_start
    for c in commits:
        hi = c["end"]
        busy = sum(ns for k, ns in compute.items()
                   if lo <= by_id[k]["start"] < hi)
        wall = (hi - lo) / 1e9
        commit = (c["end"] - c["start"]) / 1e9
        kernel = busy / 1e9 / cpus
        waves.append({"wall_s": wall, "commit_s": commit,
                      "kernel_per_core_s": kernel,
                      "unaccounted_s": wall - commit - kernel})
        lo = hi
    return waves


def event_log_tasks(event_dir: str) -> list[dict]:
    """Finished tasks from the Spark event log(s) in ``event_dir``."""
    tasks = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                    "launch_ms": info["Launch Time"],
                    "finish_ms": info["Finish Time"],
                    "input_bytes": m.get("Input Metrics", {})
                    .get("Bytes Read", 0),
                    "shuffle_write_bytes": m.get("Shuffle Write Metrics", {})
                    .get("Shuffle Bytes Written", 0),
                    "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)),
                })
    return tasks


def task_metrics(tasks: list[dict]) -> dict[str, float]:
    """Scan, shuffle, spill and task-time metrics of one job's tasks."""
    durs = [(t["finish_ms"] - t["launch_ms"]) / 1e3 for t in tasks]
    by_stage: dict[tuple, list[float]] = defaultdict(list)
    for t, d in zip(tasks, durs):
        by_stage[t["stage"]].append(d)
    skews = [max(ds) / statistics.median(ds) for ds in by_stage.values()
             if len(ds) >= 2 and statistics.median(ds) > 0]
    return {
        "pipeline.scan_bytes": sum(t["input_bytes"] for t in tasks),
        "pipeline.shuffle_write_bytes": sum(t["shuffle_write_bytes"]
                                            for t in tasks),
        "pipeline.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "pipeline.task_s_p50": statistics.median(durs) if durs else 0.0,
        "pipeline.task_s_max": max(durs, default=0.0),
        "pipeline.task_skew": max(skews, default=1.0),
    }


def job_metrics(spans: list[dict], tasks: list[dict], summary: dict,
                window: tuple[int, int], window_ms: tuple[float, float],
                cpus: int) -> tuple[dict[str, float], list[dict]]:
    """Every per-layer metric of one traced job, plus its per-wave
    accounting.  ``window`` bounds the job in monotonic ns, and
    ``window_ms`` in wall-clock ms (the event log's clock)."""
    job = [s for s in spans if window[0] <= s["start"] < window[1]]
    m = span_metrics(job)
    waves = wave_accounting(window[0], job, cpus)
    walls = [w["wall_ms"] / 1e3 for w in summary["waves"]]
    m.update({
        "pipeline.waves": len(walls),
        "pipeline.wave_s_p50": statistics.median(walls) if walls else 0.0,
        "pipeline.wave_s_max": max(walls, default=0.0),
        "pipeline.unaccounted_s": sum(w["unaccounted_s"] for w in waves),
    })
    m.update(task_metrics([t for t in tasks
                           if window_ms[0] <= t["launch_ms"] < window_ms[1]]))
    return m, waves
