"""Span recording for the traced benchmark run.

A span is one call into a layer: name, start, end (``time.monotonic_ns``,
which every process on the host shares), its own id and its parent's
id, plus counters measured at that boundary.  Spans are kept in memory
by the process that made them.  The driver writes its spans when the
run ends; a Python worker appends its spans to
``$PERFBENCH_TRACE_DIR/spans-<pid>.jsonl`` when a kernel finishes its
partition, which is still inside the task.

Two kinds of hook record spans, both installed from the benchmark:

* driver hooks (``install_driver_hooks``) wrap the driver-side calls
  (``commit_stage``, ``IceTable.commit``/``committed_parts``) and the
  kernel factories, so every ``mapInArrow`` kernel the job builds is
  wrapped in ``traced_kernel`` before it is pickled;
* worker hooks (``install_worker_hooks``) wrap the per-document
  functions inside the Python workers.  ``perfbench.worker_daemon``
  installs them when the worker daemon starts, so every forked worker
  resolves the pickled function references to the wrappers.

The recorder is module state on purpose: the wrappers reach it by
import path from inside pickled kernels and forked workers.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"


class Recorder:
    """Spans of one process, nested by call order."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._next = 0

    def begin(self) -> tuple[int, int, int]:
        self._next += 1
        sid = self._next
        parent = self._stack[-1] if self._stack else 0
        self._stack.append(sid)
        return sid, parent, time.monotonic_ns()

    def end(self, name: str, sid: int, parent: int, t0: int,
            counters: dict | None = None, t1: int | None = None) -> None:
        t1 = t1 or time.monotonic_ns()
        self._stack.pop()
        self.spans.append((name, t0, t1, sid, parent, counters))

    def rows(self) -> list[dict]:
        pid = os.getpid()
        return [{"name": n, "start": t0, "end": t1, "id": f"{pid}:{sid}",
                 "parent": f"{pid}:{par}" if par else None, "pid": pid,
                 "counters": c or {}}
                for n, t0, t1, sid, par, c in self.spans]

    def flush(self, directory: str | None) -> None:
        """Append the spans to this process's file and forget them."""
        if not directory or not self.spans:
            return
        path = os.path.join(directory, f"spans-{os.getpid()}.jsonl")
        with open(path, "a") as f:
            f.writelines(json.dumps(r) + "\n" for r in self.rows())
        self.spans.clear()


RECORDER = Recorder()


def traced(name: str, fn, count=None):
    """``fn`` wrapped in a span; ``count(result, *args, **kwargs)``
    returns the span's counters."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        sid, parent, t0 = RECORDER.begin()
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            RECORDER.end(name, sid, parent, t0)
            raise
        t1 = time.monotonic_ns()
        RECORDER.end(name, sid, parent, t0,
                     count(out, *args, **kwargs) if count else None, t1)
        return out
    return wrapper


# -- kernels ------------------------------------------------------------------

def traced_kernel(name: str, fn):
    """A ``mapInArrow`` function that runs ``fn`` with one span per
    output batch and one ``udfs.input`` child span per input batch
    pulled (the wait for the JVM side)."""
    def kernel(batches):
        return _run_kernel(name, fn, batches)
    return kernel


def _timed_input(batches):
    it = iter(batches)
    while True:
        sid, parent, t0 = RECORDER.begin()
        try:
            b = next(it)
        except StopIteration:
            RECORDER.end("udfs.input", sid, parent, t0, {"batches": 0})
            return
        except BaseException:
            RECORDER.end("udfs.input", sid, parent, t0)
            raise
        RECORDER.end("udfs.input", sid, parent, t0,
                     {"batches": 1, "rows": b.num_rows})
        yield b


def _run_kernel(name, fn, batches):
    gen = fn(_timed_input(batches))
    try:
        while True:
            sid, parent, t0 = RECORDER.begin()
            try:
                out = next(gen)
            except StopIteration:
                RECORDER.end(name, sid, parent, t0, {"rows": 0})
                return
            except BaseException:
                RECORDER.end(name, sid, parent, t0)
                raise
            RECORDER.end(name, sid, parent, t0, {"rows": out.num_rows})
            yield out
    finally:
        RECORDER.flush(os.environ.get(TRACE_DIR_ENV))


# -- counters -----------------------------------------------------------------

def _count_extract(r, payload, *a, **k):
    return {"in_bytes": len(payload) if payload else 0,
            "out_bytes": len(r.text.encode("utf-8")) if r.text else 0}


def _count_parse(blocks, payload, *a, **k):
    return {"blocks": len(blocks), "in_bytes": len(payload) if payload else 0}


def _count_select(kept, blocks, *a, **k):
    return {"in_blocks": len(blocks), "kept_blocks": len(kept)}


def _count_cuts(cuts, *a, **k):
    return {"segments": len(cuts) + 1}


def _count_seeded(res, *a, **k):
    return {"blocks": len(res[0])}


def _count_slices(segs, *a, **k):
    return {"segments": len(segs)}


def _count_commit(res, *a, **k):
    files = [f for m in res[1] for f in m["files"]]
    return {"files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files)}


def _patch_everywhere(original, wrapper) -> None:
    """Rebind every webextract module attribute that holds
    ``original`` (``from x import f`` copies included)."""
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("webextract") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)


def install_worker_hooks() -> None:
    from webextract import dom, extract, htmlsplit, pdfmini, split
    for fn, name, count in (
            (extract.extract_document, "extract.extract_document",
             _count_extract),
            (dom.parse_blocks, "dom.parse_blocks", _count_parse),
            (extract.select_main, "extract.select_main", _count_select),
            (extract.finish_blocks, "extract.finish_blocks", None),
            (pdfmini.parse_pdf_blocks, "pdfmini.parse_pdf_blocks", None),
            (htmlsplit.scan_cuts, "htmlsplit.scan_cuts", _count_cuts),
            # the segment kernel calls _parse_seeded; parse_blocks_seeded
            # is its test-surface twin
            (htmlsplit._parse_seeded, "htmlsplit.parse_blocks_seeded",
             _count_seeded),
            (split._slice_pages, "split.slice_pages", _count_slices)):
        _patch_everywhere(fn, traced(name, fn, count))


KERNEL_FACTORIES = (
    ("udfs", "make_extract_kernel", "udfs.extract_kernel"),
    ("split", "make_split_kernel", "split.split_kernel"),
    ("split", "make_seg_extract_kernel", "split.seg_kernel"),
    ("split", "make_merge_kernel", "split.merge_kernel"),
    ("htmlsplit", "make_html_split_kernel", "htmlsplit.split_kernel"),
    ("htmlsplit", "make_html_seg_kernel", "htmlsplit.seg_kernel"),
    ("htmlsplit", "make_html_merge_kernel", "htmlsplit.merge_kernel"),
)


def install_driver_hooks() -> None:
    import importlib

    from webextract import icetable, pipeline
    for mod_name, attr, span in KERNEL_FACTORIES:
        factory = getattr(importlib.import_module(f"webextract.{mod_name}"),
                          attr)

        def make(*a, _factory=factory, _span=span, **k):
            return traced_kernel(_span, _factory(*a, **k))
        _patch_everywhere(factory, functools.wraps(factory)(make))
    _patch_everywhere(pipeline.commit_stage,
                      traced("pipeline.commit_stage", pipeline.commit_stage,
                             _count_commit))
    table = icetable.IceTable
    table.commit = traced("icetable.commit", table.commit)
    table.committed_parts = traced("icetable.committed_parts",
                                   table.committed_parts)
