"""The kernel frame's worker setup (``udfs._stop_zip_rereads``).

Every ``row_kernel`` kernel makes zipimporter cache invalidation a
no-op in its Python worker, so a reused worker stops re-reading the
central directory of every archive on its path before each task.  The
driver keeps the stock method, a zip added mid-application stays
importable, and the job's output does not change.
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from webextract import udfs
from webextract.extract import extract_document
from webextract.pipeline import run_extract
from webextract.icetable import IceTable
from webextract.synth import gen_page, pages_df

_PROBE_ARROW = pa.schema([("pid", pa.int64()), ("reads", pa.int64()),
                          ("value", pa.int64())])


def _probe_job(spark, n_parts: int, per_row) -> list:
    """Run ``per_row`` through ``udfs.row_kernel`` over ``n_parts``
    one-row partitions and collect its rows in partition order."""
    src = spark.range(0, n_parts, 1, n_parts)
    kernel = udfs.row_kernel(per_row, _PROBE_ARROW)
    return (src.mapInArrow(kernel, "pid long, reads long, value long")
            .collect())


def _stock(method) -> bool:
    return (method is not udfs._keep_zip_directory
            and method.__module__ == "zipimport"
            and method.__qualname__ == "zipimporter.invalidate_caches")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13's invalidate_caches reads nothing")
def test_reused_worker_reads_no_zip_directory(spark):
    """(a) Each task reports how often ``zipimport._read_directory`` ran
    in its process since the previous task there, counted by a wrapper
    the process's first task installs; every later task reports 0."""

    def count_row(row):
        import os
        import zipimport
        read = zipimport._read_directory
        if hasattr(read, "reads"):
            reads, read.reads = read.reads, 0
        else:
            def counted(path, _read=read):
                counted.reads += 1
                return _read(path)
            counted.reads = 0
            zipimport._read_directory = counted
            reads = -1          # first task in this process
        yield {"pid": os.getpid(), "reads": reads, "value": row["id"]}, 0

    n = 4 * spark.sparkContext.defaultParallelism
    by_pid: dict[int, list[int]] = {}
    later: list[int] = []
    # earlier jobs may have left more idle workers than cores, so a
    # job's tasks can each land on a worker this test has not seen:
    # repeat the job until enough tasks ran in a worker a second time
    for _ in range(4):
        rows = _probe_job(spark, n, count_row)
        assert sorted(r.value for r in rows) == list(range(n))
        for r in rows:
            by_pid.setdefault(r.pid, []).append(r.reads)
        later = [x for reads in by_pid.values() for x in reads if x != -1]
        if len(later) >= n:
            break
    assert len(later) >= n, by_pid
    assert later == [0] * len(later), by_pid
    # (b) the driver's importers keep the stock method
    assert _stock(zipimport.zipimporter.invalidate_caches)
    assert not hasattr(zipimport._read_directory, "reads")


def test_driver_calls_keep_stock_method():
    """Outside a task (the driver, an in-process kernel) the frame
    installs nothing."""
    kernel = udfs.row_kernel(lambda row: iter(()), _PROBE_ARROW)
    batch = pa.RecordBatch.from_pylist([{"id": 1}],
                                       pa.schema([("id", pa.int64())]))
    assert list(kernel(iter([batch]))) == []
    assert _stock(zipimport.zipimporter.invalidate_caches)


def test_zip_added_mid_application_imports(spark, tmp_path):
    """(c) After the no-op is installed in the workers, a zip added with
    ``addPyFile`` is a new path with a new importer: a later task in
    the same workers imports from it."""

    def pid_row(row):
        import os
        yield {"pid": os.getpid(), "reads": 0, "value": row["id"]}, 0

    n = 4 * spark.sparkContext.defaultParallelism
    before = {r.pid for r in _probe_job(spark, n, pid_row)}

    mod = f"wx_late_{os.getpid()}"
    path = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{mod}/__init__.py", "VALUE = 41\n")
    spark.sparkContext.addPyFile(str(path))

    def import_row(row, _mod=mod):
        import importlib
        import os
        value = importlib.import_module(_mod).VALUE + row["id"]
        yield {"pid": os.getpid(), "reads": 0, "value": value}, 0

    rows = _probe_job(spark, n, import_row)
    assert sorted(r.value for r in rows) == [41 + i for i in range(n)]
    # the import ran in workers that had the no-op before the zip came
    assert before & {r.pid for r in rows}


def test_run_extract_byte_identical(spark, tmp_path):
    """(d) The job's committed rows are ``extract_document``'s, byte for
    byte, on a corpus whose PDFs take the page-split tier and whose
    larger HTML pages (the 5 MB skew bomb included) take the HTML
    split tier."""
    n, giant = 48, dict(giant_every=20, giant_words=5000)
    pages = pages_df(spark, n, parallelism=4, **giant)
    root = str(tmp_path / "t")
    run_extract(spark, pages, root, partitions=8, waves=2,
                split_bytes=512)
    cols = ("status", "fmt", "text", "text_md", "doctags")
    got = {r.url: tuple(r[c] for c in cols)
           for r in IceTable(root).read(spark).collect()}
    assert len(got) == n
    fmts = set()
    for i in range(n):
        page = gen_page(i, **giant)
        r = extract_document(page["html"], url=page["url"])
        fmts.add(r.fmt)
        assert got[page["url"]] == tuple(getattr(r, c) for c in cols), i
    assert {"pdf", "html"} <= fmts
