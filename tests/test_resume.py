"""Checkpoint-resume lifecycle: kill between wave commits, rerun skips
committed partitions, final output identical to an uninterrupted run
(north_rule: resumable from checkpoint with per-partition lineage).

A run writes all its parts in one Spark action and its write tasks
publish each part before the driver commits the waves, so a run can
also die mid-write, mid-commit or while a resume commits the parts it
adopts; each such crash is followed by a resume that must read every
url exactly once, byte-identical to an uninterrupted run, and never
read what the crash left unpublished or uncommitted."""

import datetime
import os

import pyspark.sql.functions as F
import pytest

from webextract import icetable
from webextract.icetable import IceTable
from webextract.pipeline import run_extract, with_part_id
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


def test_resume_refusal_holds_after_compaction(spark, tmp_path):
    """A row-level delete, an upsert or a compaction at the head does
    not hide the last run's partitions and options, so a resume with
    other parameters is still refused, also once expiry dropped every
    snapshot below the compaction's rewrite.  Unchecked, a partitions=8
    rerun of 320 pages over a compacted partitions=4 table of 200
    skipped parts 0-3 as done and read back 363 rows for 252 urls; over
    one whose head was a delete of one url, 362 rows for 251 urls."""
    from webextract.options import ConvertOptions
    root = str(tmp_path / "compacted")
    run_extract(spark, pages_df(spark, 200, parallelism=4), root,
                partitions=4, waves=2, cpus=2)
    tbl = IceTable(root)
    first, second = (r.url for r in tbl.read(spark).select("url")
                     .orderBy("url").limit(2).collect())
    heads = {
        "delete_where": lambda: tbl.delete_where(
            spark, spark.createDataFrame([(first,)], "url string"),
            ("url",), "delete", "t-delete"),
        "upsert": lambda: tbl.upsert(
            spark, tbl.read(spark).filter(F.col("url") == second),
            ("url",), "upsert", "t-upsert"),
        "compact": lambda: tbl.compact(
            spark, target_file_bytes=64 << 20)["snapshot_id"]}
    pages = pages_df(spark, 320, parallelism=4)
    other = ConvertOptions(to_formats=("md",))
    for head, commit in heads.items():
        assert commit()
        for expire in (False, True) if head == "compact" else (False,):
            if expire:
                tbl.expire_snapshots(keep=1)
                assert len(tbl.snapshots()) == 1
            before = _table_state(root)
            with pytest.raises(ValueError,
                               match="partitions=4.*partitions=8"):
                run_extract(spark, pages, root, partitions=8, waves=2,
                            cpus=2)
            with pytest.raises(ValueError, match=other.options_hash()):
                run_extract(spark, pages, root, opt=other, partitions=4,
                            waves=2, cpus=2)
            assert _table_state(root) == before
    # the table's own parameters: every part is done, nothing recomputed
    # (the upsert's rows, committed as part -2, are not a part of the run)
    s = run_extract(spark, pages, root, partitions=4, waves=2, cpus=2)
    assert s["skipped_parts"] == [0, 1, 2, 3] and s["waves"] == []
    urls = [r.url for r in tbl.read(spark).select("url").collect()]
    assert len(urls) == len(set(urls)) == 199 and first not in urls


class Crash(Exception):
    """A crash injected into the driver or a write task."""


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """The pages and the rows of one uninterrupted run, by url."""
    pages = pages_df(spark, N, parallelism=8)
    root = str(tmp_path_factory.mktemp("reference") / "t")
    run_extract(spark, pages, root, partitions=PARTS, waves=4)
    return pages, _rows(spark, root)


def _rows(spark, root) -> dict:
    rows = IceTable(root).read(spark).collect()
    by_url = {r.url: r for r in rows}
    assert len(by_url) == len(rows)                 # every url once
    return by_url


def _published(root, run_id) -> set[int]:
    run_dir = os.path.join(IceTable(root).files_dir, run_id)
    return {int(m.group(1)) for m in map(icetable._RECORD.fullmatch,
                                         os.listdir(run_dir)) if m}


def _crash_on_pointer_swap(monkeypatch, root, nth: int) -> None:
    """os.replace raises instead of swapping the table's _CURRENT
    pointer on its ``nth`` call, after the snapshot file is written."""
    real, calls = os.replace, []
    current = os.path.join(root, "metadata", "_CURRENT")

    def replace(src, dst, **kw):
        if dst == current:
            calls.append(dst)
            if len(calls) == nth:
                raise Crash("killed before the pointer swap")
        return real(src, dst, **kw)
    monkeypatch.setattr(os, "replace", replace)


def test_write_task_dies_after_publishing(spark, tmp_path, monkeypatch,
                                          reference):
    """Every write task dies at its second part, after publishing its
    first: the action fails and nothing is committed.  The rerun adopts
    the published parts and computes the rest; the files the dead
    tasks wrote but never published are never read."""
    pages, want = reference
    root = str(tmp_path / "t")
    seen = []

    def die_at_second_part(part_id):
        # unpickled afresh by each task: ``seen`` is the task's own (and
        # a builtin exception, which a worker can unpickle)
        seen.append(part_id)
        if len(seen) == 2:
            raise RuntimeError("write task killed")
    monkeypatch.setattr(icetable, "_BEFORE_PUBLISH", die_at_second_part)
    with pytest.raises(Exception, match="write task killed"):
        run_extract(spark, pages, root, partitions=PARTS, waves=4,
                    run_id="crashed")
    monkeypatch.setattr(icetable, "_BEFORE_PUBLISH", None)
    tbl = IceTable(root)
    assert tbl.current_snapshot_id() is None
    published = _published(root, "crashed")
    unpublished = [fn for fn in os.listdir(os.path.join(tbl.files_dir,
                                                        "crashed"))
                   if fn.endswith(".parquet")
                   and int(fn[5:10]) not in published]
    assert published and unpublished

    s = run_extract(spark, pages, root, partitions=PARTS, waves=4)
    assert s["skipped_parts"] == []
    assert s["adopted_parts"] == sorted(published)
    assert sorted(p for w in s["waves"] for p in w["parts"]) == \
        list(range(PARTS))
    assert _rows(spark, root) == want
    live = {os.path.basename(f) for f in tbl.data_files()}
    assert not live & set(unpublished)
    assert tbl.expire_orphans() == len(unpublished)
    assert _rows(spark, root) == want


def test_crash_before_pointer_swap(spark, tmp_path, monkeypatch,
                                   reference):
    """The run dies in its second wave commit, after the snapshot file
    is written and before _CURRENT swaps to it.  The rerun never reads
    the dangling snapshot, adopts that wave's parts and the later ones,
    and reads every url once."""
    pages, want = reference
    root = str(tmp_path / "t")
    _crash_on_pointer_swap(monkeypatch, root, 2)
    with pytest.raises(Crash):
        run_extract(spark, pages, root, partitions=PARTS, waves=4)
    monkeypatch.undo()
    tbl = IceTable(root)
    head = tbl.current_snapshot_id()
    snaps = {fn[5:-5] for fn in os.listdir(tbl.meta_dir)
             if fn.startswith("snap-") and fn.endswith(".json")}
    (dangling,) = snaps - {head}
    committed = tbl.committed_parts()
    assert 0 < len(committed) < PARTS

    read, snapshot = [], IceTable._snapshot

    def reading(self, snap_id):
        read.append(snap_id)
        return snapshot(self, snap_id)
    monkeypatch.setattr(IceTable, "_snapshot", reading)
    s = run_extract(spark, pages, root, partitions=PARTS, waves=4)
    assert s["skipped_parts"] == sorted(committed)
    assert s["adopted_parts"] == sorted(set(range(PARTS)) - committed)
    assert _rows(spark, root) == want
    assert dangling not in read
    assert dangling not in {x["snapshot_id"] for x in tbl.snapshots()}


@pytest.mark.parametrize("where", ["pointer_swap", "unpublish"])
def test_crash_during_adoption_commit(spark, tmp_path, monkeypatch,
                                      reference, where):
    """A resume dies while it commits the parts it adopts: before its
    snapshot becomes the head, or after, before it drops the parts'
    records.  A second resume reads every url exactly once."""
    pages, want = reference
    root = str(tmp_path / "t")
    run_extract(spark, pages, root, partitions=PARTS, waves=4,
                fail_after_wave=0)
    tbl = IceTable(root)
    committed = tbl.committed_parts()
    if where == "pointer_swap":
        _crash_on_pointer_swap(monkeypatch, root, 1)
    else:
        def unpublish(self, parts):
            raise Crash("killed before the records were dropped")
        monkeypatch.setattr(IceTable, "unpublish", unpublish)
    with pytest.raises(Crash):
        run_extract(spark, pages, root, partitions=PARTS, waves=4)
    monkeypatch.undo()
    adopted_first = sorted(set(range(PARTS)) - committed)
    assert tbl.committed_parts() == (committed if where == "pointer_swap"
                                     else set(range(PARTS)))

    s = run_extract(spark, pages, root, partitions=PARTS, waves=4)
    assert s["adopted_parts"] == (adopted_first if where == "pointer_swap"
                                  else [])
    assert sorted(tbl.committed_parts()) == list(range(PARTS))
    assert _rows(spark, root) == want
    lin = tbl.lineage()
    assert sorted(r["part_id"] for r in lin) == list(range(PARTS))
    assert sum(r["num_docs"] for r in lin) == N


def test_abort_unpublishes_the_groups_not_committed(spark, tmp_path):
    """abort_on_error raises at the wave holding a failed document; the
    later waves' parts were written but are unpublished, so a rerun on
    the fixed input recomputes them instead of adopting rows of the old
    input."""
    from webextract.docpages import PAGES_SCHEMA
    from webextract.options import ConvertOptions
    opt = ConvertOptions(abort_on_error=True)
    ts = datetime.datetime(2025, 3, 1, 12, 0, 0)

    def pages(words: bytes, bad: str | None):
        rows = [(f"doc://{i}", ts,
                 b'{"schema_name": "other-schema", "blocks": [}'
                 if f"doc://{i}" == bad else
                 b"<html><body><article><p>" + words * 30
                 + b"</p></article></body></html>", "", "en")
                for i in range(30)]
        return spark.createDataFrame(rows, PAGES_SCHEMA).repartition(4)

    part_of = {r.url: r.part_id for r in with_part_id(
        pages(b"x ", None), 8).select("url", "part_id").collect()}
    bad = min(part_of, key=part_of.get)
    assert part_of[bad] < 7
    root = str(tmp_path / "t")
    with pytest.raises(RuntimeError, match="abort_on_error"):
        run_extract(spark, pages(b"old words ", bad), root, opt=opt,
                    partitions=8, waves=8)
    tbl = IceTable(root)
    committed = tbl.committed_parts()
    assert part_of[bad] in committed and len(committed) < 8

    s = run_extract(spark, pages(b"new words ", None), root, opt=opt,
                    partitions=8, waves=8)
    assert s["adopted_parts"] == []
    assert s["skipped_parts"] == sorted(committed)
    rows = _rows(spark, root)
    assert len(rows) == 30
    for url, r in rows.items():
        old = part_of[url] in committed
        assert (r.status == "failure") == (url == bad)
        if url != bad:
            assert ("old words" in r.text) == old
            assert ("new words" in r.text) == (not old)
