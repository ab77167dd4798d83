"""One write path into the table.

``IceTable.stage`` is the only code that writes a staged frame and lists
its data files, and ``pipeline.write_wave`` stages and commits every
wave, batch or streaming.  These tests pin what that path promises: a
commit lists exactly the files its write produced (also under a table
root full of glob metacharacters), each part is exactly one file, each
wave's write runs ``min(parts, defaultParallelism)`` tasks, and a wave
commit opens each new file's footer once without walking the snapshot
chain.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from webextract import pipeline
from webextract.icetable import IceTable
from webextract.pipeline import run_extract
from webextract.synth import pages_df


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
def test_one_file_per_part_and_write_tasks(spark, tmp_path, monkeypatch,
                                           split):
    """With more parts per wave than defaultParallelism, each wave's
    write runs min(parts, defaultParallelism) tasks and still commits
    exactly one data file per non-empty part."""
    sc = spark.sparkContext
    dp = sc.defaultParallelism
    partitions, waves = 4 * dp, 2          # 2 * dp parts per wave
    groups = ["write-tasks-0"]
    commit = pipeline.commit_stage

    def commit_then_next_group(*a, **k):
        # each wave's jobs run under their own job group
        res = commit(*a, **k)
        groups.append(f"write-tasks-{len(groups)}")
        sc.setJobGroup(groups[-1], "next wave")
        return res
    monkeypatch.setattr(pipeline, "commit_stage", commit_then_next_group)
    kw = {"split_bytes": 1} if split else {}
    sc.setJobGroup(groups[0], "first wave")
    try:
        s = run_extract(spark, pages_df(spark, 6 * partitions, parallelism=2),
                        str(tmp_path / "t"), partitions=partitions,
                        waves=waves, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(s["waves"]) == waves == len(groups) - 1

    tbl = IceTable(str(tmp_path / "t"))
    metas = _committed(tbl)
    assert sorted(m["part_id"] for m in metas) == list(range(partitions))
    assert sum(m["counters"]["num_docs"] for m in metas) == 6 * partitions
    for m in metas:
        assert len(m["files"]) == (m["counters"]["num_docs"] > 0), m

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    for wave, group in zip(s["waves"], groups):
        write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
        assert write_job.status == "SUCCEEDED"
        write_stage = tracker.getStageInfo(max(write_job.stageIds))
        assert write_stage.numTasks == min(len(wave["parts"]), dp), wave


def test_wave_commit_reads_each_footer_once(spark, tmp_path, monkeypatch):
    """A wave commit opens each new file's footer once (bounds and row
    count together) and reads no snapshot of the chain."""
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
        assert files and sorted(opens) == sorted(files)
        assert snaps == []
    tbl = IceTable(str(tmp_path / "t"))
    rows = tbl.data_file_rows()
    assert set(rows) == set(tbl.data_files())
    assert sum(rows.values()) == 40
