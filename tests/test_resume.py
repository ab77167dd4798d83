"""Checkpoint-resume lifecycle: kill between wave commits, rerun skips
committed partitions, final output identical to an uninterrupted run
(north_rule: resumable from checkpoint with per-partition lineage)."""

import pyspark.sql.functions as F
import pytest

from webextract.icetable import IceTable
from webextract.pipeline import run_extract
from webextract.synth import pages_df

N = 300
PARTS = 16


def test_run_commit_resume(spark, tmp_path):
    pages = pages_df(spark, N, parallelism=8)

    # uninterrupted reference run
    ref_root = str(tmp_path / "ref")
    s0 = run_extract(spark, pages, ref_root, partitions=PARTS, waves=2, cpus=4)
    ref_tbl = IceTable(ref_root)
    assert sorted(ref_tbl.committed_parts()) == list(range(PARTS))
    ref_rows = {r.url: (r.status, r.text, r.text_md)
                for r in ref_tbl.read(spark).collect()}
    assert len(ref_rows) == N

    # interrupted run: crash after wave 0 of 4
    root = str(tmp_path / "tbl")
    s1 = run_extract(spark, pages, root, partitions=PARTS, waves=4, cpus=4,
                     fail_after_wave=0)
    assert s1.get("injected_failure")
    tbl = IceTable(root)
    committed_1 = tbl.committed_parts()
    assert 0 < len(committed_1) < PARTS

    # resume: must skip committed parts, finish the rest
    s2 = run_extract(spark, pages, root, partitions=PARTS, waves=4, cpus=4)
    assert sorted(s2["skipped_parts"]) == sorted(committed_1)
    assert sorted(tbl.committed_parts()) == list(range(PARTS))

    got = {r.url: (r.status, r.text, r.text_md)
           for r in tbl.read(spark).collect()}
    assert got == ref_rows                      # byte-identical to one-shot

    # lineage counters: processing_meta shape, totals consistent
    lin = tbl.lineage_df(spark)
    tot = lin.agg(F.sum("num_docs"), F.sum("num_succeeded"),
                  F.sum("num_failed"), F.sum("num_skipped")).collect()[0]
    assert tot[0] == N
    assert tot[1] + tot[2] + tot[3] == N
    assert tot[1] > 0.9 * N
    # two runs contributed
    runs = {r.run_id for r in lin.collect()}
    assert len(runs) == 2

    # snapshot lineage records the full option record + its hash
    # (VERDICT item 5: options must be portable between engines)
    snap = tbl.latest_snapshot()
    from webextract.options import DEFAULT_OPTIONS
    assert snap["versions"]["options_hash"] == DEFAULT_OPTIONS.options_hash()
    assert "do_ocr" in snap["versions"]["options"]

    # time travel: reading as-of the interrupted run's last snapshot
    # sees exactly the partitions committed then, not the resumed rest
    mid = [s for s in tbl.snapshots() if s["run_id"] == s1["run_id"]][0]
    early = tbl.read(spark, as_of=mid["snapshot_id"])
    assert 0 < early.count() < N
    part_ids = {r.p for r in early.select(
        F.pmod(F.xxhash64("url"), F.lit(PARTS)).cast("int").alias("p"))
        .distinct().collect()}
    assert part_ids == set(committed_1)


def test_rerun_is_noop_and_orphan_gc(spark, tmp_path):
    pages = pages_df(spark, 60, parallelism=4)
    root = str(tmp_path / "t2")
    run_extract(spark, pages, root, partitions=4, waves=1, cpus=4)
    tbl = IceTable(root)
    n_files = len(tbl.data_files())
    s = run_extract(spark, pages, root, partitions=4, waves=1, cpus=4)
    assert s["skipped_parts"] == [0, 1, 2, 3] and not s["waves"]
    assert len(tbl.data_files()) == n_files
    assert tbl.expire_orphans() == 0            # nothing dangling
    assert tbl.read(spark).count() == 60


def test_all_empty_wave_commits_and_completes(spark, tmp_path):
    """r3 review: a wave whose part_ids all hold zero rows writes no
    parquet files; the commit must record the parts as done (zero
    counters), not crash on schema inference — and the run completes."""
    pages = pages_df(spark, 3, parallelism=2)   # 3 docs over 16 parts
    root = str(tmp_path / "sparse")
    s = run_extract(spark, pages, root, partitions=16, waves=8, cpus=2)
    tbl = IceTable(root)
    assert sorted(tbl.committed_parts()) == list(range(16))
    assert tbl.read(spark).count() == 3
    assert s["skipped_parts"] == []


def test_expire_orphans_path_normalization(spark, tmp_path):
    """r3 review: opening the table through a different root spelling
    (symlink/relative) must not classify every live file as an orphan
    and delete the table."""
    import os
    pages = pages_df(spark, 40, parallelism=4)
    real = str(tmp_path / "realtbl")
    run_extract(spark, pages, real, partitions=4, waves=2, cpus=2)
    link = str(tmp_path / "linktbl")
    os.symlink(real, link)
    assert IceTable(link).expire_orphans() == 0
    assert IceTable(real).read(spark).count() == 40


def _table_state(root):
    """The head snapshot and every file under the table root."""
    import os
    return (IceTable(root).current_snapshot_id(),
            sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                   for f in fs))


def test_resume_refuses_other_partitions_or_options(spark, tmp_path):
    """A crashed run at partitions=8 resumed at partitions=16 would
    commit part ids naming other url sets (220 rows for 200 urls); a
    resume with other options would mix two option sets.  Both raise
    before anything is written, naming both values."""
    from webextract.options import ConvertOptions
    pages = pages_df(spark, 200, parallelism=4)
    root = str(tmp_path / "mismatch")
    run_extract(spark, pages, root, partitions=8, waves=4, cpus=2,
                fail_after_wave=0)
    before = _table_state(root)
    with pytest.raises(ValueError, match="partitions=8.*partitions=16"):
        run_extract(spark, pages, root, partitions=16, waves=4, cpus=2)
    assert _table_state(root) == before
    other = ConvertOptions(to_formats=("md",))
    with pytest.raises(ValueError, match=other.options_hash()):
        run_extract(spark, pages, root, opt=other, partitions=8, waves=4,
                    cpus=2)
    assert _table_state(root) == before
    # the matching resume still completes the table exactly once
    run_extract(spark, pages, root, partitions=8, waves=4, cpus=2)
    assert IceTable(root).read(spark).count() == 200
