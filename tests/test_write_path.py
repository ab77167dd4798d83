"""The write paths into the table.

``IceTable.stage`` writes a staged frame and lists its data files;
``IceTable.stage_parts`` writes a run's parts, one file each, and
publishes them, and ``pipeline.write_wave`` writes and commits every
run, batch or streaming.  These tests pin what those paths promise: a
commit lists exactly the files its write produced (also under a table
root full of glob metacharacters), each part is exactly one file, a
run's write runs ``min(parts, defaultParallelism)`` tasks, a wave
commit opens no footer and walks no snapshot chain, a retried attempt
never adds a file to a part, a part's file and record are durable
before the record is published, and a published part is committed only
while its file exists.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webextract import icetable, pipeline
from webextract.icetable import IceTable
from webextract.options import DEFAULT_OPTIONS
from webextract.pipeline import extracted_df, run_extract, with_part_id
from webextract.synth import pages_df
from webextract.udfs import lineage_counters


def _committed(tbl: IceTable) -> list[dict]:
    return [m for s in tbl.snapshots() for m in s["partitions"]]


def test_stage_lists_data_files_by_partition(spark, tmp_path):
    tbl = IceTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "a b"), (2, "x/y=z"), (3, "a b"), (4, "é%")], "n int, k string")
    staged = tbl.stage(df.repartition(1), "r", 3, by=("k",))
    assert list(staged) == sorted([("a b",), ("x/y=z",), ("é%",)])
    for (k,), files in staged.items():
        assert files == sorted(files) and len(files) == 1
        assert files[0].startswith(tbl.staging_dir("r", 3) + os.sep)
        assert sorted(spark.read.parquet(*files).toPandas()["n"]) == \
            sorted(r["n"] for r in df.collect() if r["k"] == k)
    flat = tbl.stage(df.coalesce(1), "r", 4)
    assert list(flat) == [()] and len(flat[()]) == 1
    assert os.path.exists(os.path.join(tbl.staging_dir("r", 4), "_SUCCESS"))
    assert all(f.endswith(".parquet") for f in flat[()])


def test_glob_metachar_root(spark, tmp_path):
    """A table root with glob metacharacters: every part with rows
    commits its files, every doc reads back once, a rerun skips every
    part and orphan GC keeps every live file."""
    root = str(tmp_path / "t[1]*")
    pages = pages_df(spark, 40, parallelism=2)
    s = run_extract(spark, pages, root, partitions=8, waves=3)
    assert len(s["waves"]) == 3
    tbl = IceTable(root)
    metas = _committed(tbl)
    assert sorted(m["part_id"] for m in metas) == list(range(8))
    assert sum(m["counters"]["num_docs"] for m in metas) == 40
    for m in metas:
        assert bool(m["files"]) == (m["counters"]["num_docs"] > 0), m
        assert all(os.path.isfile(f) for f in m["files"])
    want = sorted(r["url"] for r in pages.select("url").collect())
    assert sorted(r["url"] for r in tbl.read(spark).collect()) == want
    again = run_extract(spark, pages, root, partitions=8, waves=3)
    assert again["skipped_parts"] == list(range(8)) and not again["waves"]
    live = tbl.data_files()
    assert tbl.expire_orphans() == 0
    assert all(os.path.isfile(f) for f in live)
    assert tbl.read(spark).count() == 40


@pytest.mark.parametrize("split", [False, True], ids=["plain", "split_tier"])
def test_one_file_per_part_and_write_tasks(spark, tmp_path, split):
    """With more parts than defaultParallelism, the run's one write
    stage runs min(parts, defaultParallelism) tasks and each wave still
    commits exactly one data file per non-empty part."""
    sc = spark.sparkContext
    dp = sc.defaultParallelism
    partitions, waves = 4 * dp, 2          # 2 * dp parts per wave
    group = "write-tasks"
    kw = {"split_bytes": 1} if split else {}
    sc.setJobGroup(group, "one run")
    try:
        s = run_extract(spark, pages_df(spark, 6 * partitions, parallelism=2),
                        str(tmp_path / "t"), partitions=partitions,
                        waves=waves, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(s["waves"]) == waves

    tbl = IceTable(str(tmp_path / "t"))
    assert len(tbl.snapshots()) == waves
    metas = _committed(tbl)
    assert sorted(m["part_id"] for m in metas) == list(range(partitions))
    assert sum(m["counters"]["num_docs"] for m in metas) == 6 * partitions
    for m in metas:
        assert len(m["files"]) == (m["counters"]["num_docs"] > 0), m

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    assert write_job.status == "SUCCEEDED"
    write_stage = tracker.getStageInfo(max(write_job.stageIds))
    assert write_stage.numTasks == min(partitions, dp)


def test_wave_commit_reads_each_footer_once(spark, tmp_path, monkeypatch):
    """A wave commit opens no parquet footer, because each file's
    bounds and row count come from the write task that closed it, and
    reads no snapshot of the chain."""
    opened, snapshots, per_wave = [], [], []
    counting = [False]
    parquet_file = pq.ParquetFile
    read_snapshot = IceTable._snapshot

    class CountingParquetFile(parquet_file):
        def __init__(self, source, *a, **k):
            if counting[0]:
                opened.append(source)
            super().__init__(source, *a, **k)

    def counting_snapshot(self, snap_id):
        if counting[0]:
            snapshots.append(snap_id)
        return read_snapshot(self, snap_id)

    commit = pipeline.commit_stage

    def counted_commit(*a, **k):
        opened.clear()
        snapshots.clear()
        counting[0] = True
        try:
            snap, parts_meta = commit(*a, **k)
        finally:
            counting[0] = False
        per_wave.append((list(opened), list(snapshots),
                         [f for m in parts_meta for f in m["files"]]))
        return snap, parts_meta

    monkeypatch.setattr(pq, "ParquetFile", CountingParquetFile)
    monkeypatch.setattr(IceTable, "_snapshot", counting_snapshot)
    monkeypatch.setattr(pipeline, "commit_stage", counted_commit)
    run_extract(spark, pages_df(spark, 40, parallelism=2),
                str(tmp_path / "t"), partitions=8, waves=3)
    assert len(per_wave) == 3
    for opens, snaps, files in per_wave:
        assert files and opens == []
        assert snaps == []
    tbl = IceTable(str(tmp_path / "t"))
    rows = tbl.data_file_rows()
    assert set(rows) == set(tbl.data_files())
    assert sum(rows.values()) == 40
    for f, n in rows.items():
        assert pq.ParquetFile(f).metadata.num_rows == n
    for f, bounds in tbl.data_file_stats().items():
        assert bounds == IceTable.file_column_stats(f, ("url",)) != {}


def _record(tbl: IceTable, run_id: str, part_id: int) -> str:
    return os.path.join(tbl.files_dir, run_id, f"part-{part_id:05d}.json")


def test_retried_attempt_and_orphans(spark, tmp_path):
    """Two attempts of one part write two files with different names;
    the commit lists only the files of the attempt the action returned,
    one file for the part.  The orphan GC then removes the other
    attempt's file, and a published but uncommitted part's file
    together with its record; a commit refuses a file that is gone."""
    tbl = IceTable(str(tmp_path / "t"))
    rows = (with_part_id(extracted_df(pages_df(spark, 40, parallelism=2)), 4)
            .filter("part_id = 1").toArrow())
    assert rows.num_rows > 0
    run_dir = os.path.join(tbl.files_dir, "r")
    os.makedirs(run_dir)
    stamp = {"options_hash": DEFAULT_OPTIONS.options_hash(), "partitions": 4}
    write = icetable._part_writer(run_dir, run_dir, "r", lineage_counters,
                                  stamp, ("url",), None)

    def attempt() -> dict:
        out = list(write(iter(rows.to_batches())))
        assert len(out) == 1 and out[0].column("part_id").to_pylist() == [1]
        return json.loads(out[0].column("record")[0].as_py())

    first, second = attempt(), attempt()
    assert first["files"] != second["files"]
    assert all(os.path.isfile(f) for f in first["files"] + second["files"])
    with open(_record(tbl, "r", 1)) as f:
        assert json.load(f) == second         # the last to publish
    assert first["counters"] == second["counters"]
    assert first["counters"]["num_docs"] == rows.num_rows

    pipeline.commit_stage(spark, tbl, "r", {1: first}, DEFAULT_OPTIONS, 0, 4)
    (meta,) = _committed(tbl)
    assert meta["files"] == first["files"] and len(meta["files"]) == 1
    assert not os.path.exists(_record(tbl, "r", 1))
    assert tbl.expire_orphans() == 1
    assert not os.path.exists(second["files"][0])
    assert tbl.read(spark).count() == rows.num_rows

    third = attempt()                         # published, never committed
    assert tbl.published(set(), stamp) == {1: third}
    assert tbl.expire_orphans() == 1
    assert not os.path.exists(third["files"][0])
    assert not os.path.exists(_record(tbl, "r", 1))
    with pytest.raises(FileNotFoundError):    # never commit a lost file
        pipeline.commit_stage(spark, tbl, "r", {1: third}, DEFAULT_OPTIONS,
                              0, 4)
    assert tbl.read(spark).count() == rows.num_rows

    # a writer killed between its temp file and the os.replace leaves
    # the temp file; the GC removes it once it is past the grace window
    litter = [os.path.join(run_dir, "part-00001.json.dead.tmp"),
              os.path.join(tbl.meta_dir, "_CURRENT.dead.tmp")]
    for path in litter:
        with open(path, "w") as f:
            f.write("torn")
    assert tbl.expire_orphans(grace_seconds=3600) == 0
    assert all(map(os.path.exists, litter))
    for path in litter:
        os.utime(path, (time.time() - 7200,) * 2)
    assert tbl.expire_orphans(grace_seconds=3600) == 0
    assert not any(map(os.path.exists, litter))
    assert tbl.read(spark).count() == rows.num_rows


def test_publish_makes_file_and_record_durable_first(tmp_path, monkeypatch):
    """Each part's data file is fsynced, then its record's temp file,
    before the record's os.replace: a host crash cannot leave a
    published record naming a torn file."""
    run_dir = os.path.realpath(tmp_path / "r")
    os.makedirs(run_dir)
    events = []
    fsync, replace = os.fsync, os.replace

    def recording_fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        fsync(fd)

    def recording_replace(src, dst, **kw):
        events.append(("replace", src, dst))
        replace(src, dst, **kw)
    monkeypatch.setattr(os, "fsync", recording_fsync)
    monkeypatch.setattr(os, "replace", recording_replace)
    batch = pa.RecordBatch.from_pydict({
        "part_id": pa.array([1, 1, 2], pa.int32()),
        "url": ["http://a/1", "http://a/2", "http://b/1"]})
    write = icetable._part_writer(run_dir, run_dir, "r",
                                  lambda t: {"num_docs": t.num_rows}, {},
                                  ("url",), None)
    (out,) = write(iter([batch]))
    records = dict(zip(out.column("part_id").to_pylist(),
                       map(json.loads, out.column("record").to_pylist())))
    assert sorted(records) == [1, 2]
    want = []
    for p, rec in sorted(records.items()):
        final = os.path.join(run_dir, f"part-{p:05d}.json")
        (tmp,) = [e[1] for e in events if e[0] == "replace" and e[2] == final]
        want += [("fsync", rec["files"][0]), ("fsync", tmp),
                 ("replace", tmp, final)]
        with open(final) as f:
            assert json.load(f) == rec
    assert events == want


def _crash_after_first_wave(spark, root: str, pages) -> tuple[str, set[int]]:
    s = run_extract(spark, pages, root, partitions=8, waves=4,
                    fail_after_wave=0)
    assert s.get("injected_failure")
    tbl = IceTable(root)
    published = {p for p in range(8)
                 if os.path.exists(_record(tbl, s["run_id"], p))}
    assert published and not published & tbl.committed_parts()
    return s["run_id"], published


def test_resume_recomputes_parts_whose_files_are_gone(spark, tmp_path):
    """A published part whose file is gone, deleted by hand or by an
    orphan GC run between the crash and the resume, is recomputed; it
    is never committed without its rows."""
    pages = pages_df(spark, 40, parallelism=2)
    want = sorted(r["url"] for r in pages.select("url").collect())

    root = str(tmp_path / "by_hand")
    run_id, published = _crash_after_first_wave(spark, root, pages)
    tbl = IceTable(root)
    lost = min(published)
    with open(_record(tbl, run_id, lost)) as f:
        os.remove(json.load(f)["files"][0])
    s = run_extract(spark, pages, root, partitions=8, waves=4)
    assert s["adopted_parts"] == sorted(published - {lost})
    assert lost in {p for w in s["waves"] if not w.get("adopted")
                    for p in w["parts"]}
    assert sorted(r["url"] for r in tbl.read(spark).collect()) == want

    root = str(tmp_path / "gc")
    run_id, published = _crash_after_first_wave(spark, root, pages)
    tbl = IceTable(root)
    assert tbl.expire_orphans() == len(published)
    assert not any(os.path.exists(_record(tbl, run_id, p))
                   for p in published)
    s = run_extract(spark, pages, root, partitions=8, waves=4)
    assert s["adopted_parts"] == []
    metas = _committed(tbl)
    assert sorted(m["part_id"] for m in metas) == list(range(8))
    for m in metas:
        assert len(m["files"]) == (m["counters"]["num_docs"] > 0), m
    assert sorted(r["url"] for r in tbl.read(spark).collect()) == want
