"""IceTable maintenance: compaction (rewrite_data_files) + snapshot
expiry.  The invariants: rows byte-identical through a rewrite, resume
part ids survive history expiry, time travel works until expiry, and
orphan GC never eats files that only historical snapshots reference."""

from __future__ import annotations

from pyspark.sql import functions as F

from webextract.icetable import IceTable
from webextract.pipeline import run_extract
from webextract.synth import pages_df


def _urls(df):
    return sorted(r["url"] for r in df.select("url").collect())


def test_compaction_roundtrip_and_expiry(spark, tmp_path):
    root = str(tmp_path / "tbl")
    pages = pages_df(spark, 300, parallelism=8)
    run_extract(spark, pages, root, partitions=8, waves=4, cpus=8)
    tbl = IceTable(root)
    before_rows = _urls(tbl.read(spark))
    before_files = tbl.data_files()
    pre_snap = tbl.current_snapshot_id()
    parts_before = tbl.committed_parts()
    assert len(before_files) >= 4   # wave-per-commit accretes files

    res = tbl.compact(spark, target_file_bytes=64 << 20,
                      committed_at="t-compact")
    assert res["snapshot_id"] and res["rewritten"] >= 2
    after_files = tbl.data_files()
    assert len(after_files) < len(before_files)
    assert _urls(tbl.read(spark)) == before_rows
    assert tbl.committed_parts() == parts_before
    # lineage skips the rewrite snapshot but keeps full history
    assert len(tbl.lineage()) == len(parts_before)

    # time travel: the pre-compaction snapshot still reads old files
    assert _urls(tbl.read(spark, as_of=pre_snap)) == before_rows
    # orphan GC must NOT reclaim them while their snapshots exist
    assert tbl.expire_orphans() == 0

    # history expiry reclaims exactly the rewritten small files
    out = tbl.expire_snapshots(keep=1)
    assert out["expired_snapshots"] >= 1
    assert out["removed_files"] == res["rewritten"]
    assert _urls(tbl.read(spark)) == before_rows
    # resume survives expiry via carried_parts on the rewrite snapshot
    assert tbl.committed_parts() == parts_before

    # a second compact is a no-op: everything is already at size
    res2 = tbl.compact(spark, target_file_bytes=64 << 20,
                       committed_at="t-compact-2")
    assert res2["rewritten"] == 0 and res2["snapshot_id"] is None


def test_incremental_read_changes(spark, tmp_path):
    """CDC surface: a consumer holding the last-seen snapshot id reads
    exactly the newer rows; crossing a rewrite raises instead of
    double-counting."""
    import pytest
    root = str(tmp_path / "tbl")
    pages = pages_df(spark, 200, parallelism=8)
    run_extract(spark, pages, root, partitions=4, waves=4, cpus=8)
    tbl = IceTable(root)
    chain = tbl.snapshots()          # newest first
    assert len(chain) == 4
    mid = chain[2]["snapshot_id"]    # after wave 2 of 4
    inc = tbl.read_changes(spark, since=mid)
    full = _urls(tbl.read(spark))
    upto_mid = _urls(tbl.read(spark, as_of=mid))
    assert sorted(set(full) - set(upto_mid)) == _urls(inc)
    # since=None reads everything; since=current reads nothing
    assert _urls(tbl.read_changes(spark, since=None)) == full
    assert tbl.read_changes(spark, tbl.current_snapshot_id()) is None
    # an unknown 'since' is an error, not an empty increment
    with pytest.raises(ValueError, match="not in the current chain"):
        tbl.changed_files("nonexistent-snap")
    # a rewrite inside the window invalidates the increment
    tbl.compact(spark, target_file_bytes=64 << 20, committed_at="t")
    with pytest.raises(ValueError, match="rewrite"):
        tbl.changed_files(mid)


def test_expire_refuses_delta_only_history(spark, tmp_path):
    """Round-4 review: snapshots are delta manifests, so on a table
    that has never been compacted there is NO safely-expirable history
    — dropping an ancestor delta removes the only references to its
    files and the orphan GC then deletes committed rows."""
    root = str(tmp_path / "tbl")
    run_extract(spark, pages_df(spark, 200, parallelism=8), root,
                partitions=4, waves=4, cpus=8)
    tbl = IceTable(root)
    before = _urls(tbl.read(spark))
    out = tbl.expire_snapshots(keep=2)       # the CLI default
    assert out["expired_snapshots"] == 0 and out["removed_files"] == 0
    assert out["skipped_unsafe"] == 2
    assert _urls(tbl.read(spark)) == before
    assert len(tbl.committed_parts()) == 4


def test_expire_clamps_to_newest_rewrite(spark, tmp_path):
    """With deltas committed AFTER a compaction, expiry may only reach
    history strictly below the rewrite snapshot: the post-rewrite
    deltas are not superseded by any full manifest."""
    root = str(tmp_path / "tbl")
    run_extract(spark, pages_df(spark, 200, parallelism=8), root,
                partitions=4, waves=2, cpus=8, run_id="r1")
    tbl = IceTable(root)
    tbl.compact(spark, target_file_bytes=64 << 20, committed_at="t-c")
    # two deltas: table rows copied under new urls, one snapshot each
    for p in (4, 5):
        _commit_frame(tbl, spark, tbl.read(spark).limit(7).withColumn(
            "url", F.concat(F.lit(f"d{p}:"), F.col("url"))), p)
    before = _urls(tbl.read(spark))
    assert len(before) == 214
    parts = tbl.committed_parts()
    # keep=1 would cut into the post-rewrite deltas; the clamp holds
    out = tbl.expire_snapshots(keep=1)
    assert out["skipped_unsafe"] == 2        # the two deltas
    assert _urls(tbl.read(spark)) == before
    assert tbl.committed_parts() == parts


def test_compact_cas_folds_interleaved_wave(spark, tmp_path, monkeypatch):
    """Round-4 review (TOCTOU): a wave committed between compact's scan
    and its rewrite commit must surface in the rewrite's replacement
    file list, not silently vanish from the live view."""
    from webextract.icetable import IceTable as IT
    import os
    root = str(tmp_path / "tbl")
    run_extract(spark, pages_df(spark, 200, parallelism=8), root,
                partitions=4, waves=4, cpus=8)
    tbl = IT(root)
    before = _urls(tbl.read(spark))

    # stage a real extra wave file to interleave
    race_dir = tbl.staging_dir("race-run", 0)
    (tbl.read(spark).limit(7).withColumn("url", F.concat(F.lit("race:"),
                                                         F.col("url")))
     .coalesce(1).write.mode("overwrite").parquet(race_dir))
    race_files = sorted(
        os.path.join(race_dir, fn) for fn in os.listdir(race_dir)
        if fn.endswith(".parquet") and not fn.startswith((".", "_")))

    orig_commit, fired = IT.commit, {"n": 0}

    def racy_commit(self, *a, **kw):
        if kw.get("rewrite") and fired["n"] == 0:
            fired["n"] += 1
            orig_commit(self, "race-run",
                        [{"part_id": 99, "files": race_files,
                          "counters": {}}], "t-race")
        return orig_commit(self, *a, **kw)

    monkeypatch.setattr(IT, "commit", racy_commit)
    res = tbl.compact(spark, target_file_bytes=64 << 20,
                      committed_at="t-compact")
    assert res["snapshot_id"] and fired["n"] == 1
    after = _urls(tbl.read(spark))
    assert after == sorted(before + [u for u in after
                                     if u.startswith("race:")])
    assert sum(u.startswith("race:") for u in after) == 7
    assert 99 in tbl.committed_parts()
    # and the raced rows survive history expiry (full-manifest rewrite
    # folded them in, carried part id preserved)
    tbl.expire_snapshots(keep=1)
    assert _urls(tbl.read(spark)) == after
    assert 99 in tbl.committed_parts()


def test_read_changes_none_after_compaction(spark, tmp_path):
    """since=None is the bootstrap read — it must short-circuit to the
    live file set, not trip the rewrite guard (round-4 review)."""
    root = str(tmp_path / "tbl")
    run_extract(spark, pages_df(spark, 200, parallelism=8), root,
                partitions=4, waves=4, cpus=8)
    tbl = IceTable(root)
    tbl.compact(spark, target_file_bytes=64 << 20, committed_at="t")
    assert _urls(tbl.read_changes(spark, since=None)) == \
        _urls(tbl.read(spark))


def test_orphan_gc_grace_window(spark, tmp_path):
    """Iceberg older_than contract: a just-staged (uncommitted) wave
    file sits inside the grace window and survives GC; with no grace
    it is reclaimed."""
    root = str(tmp_path / "tbl")
    run_extract(spark, pages_df(spark, 100, parallelism=8), root,
                partitions=4, waves=1, cpus=8)
    tbl = IceTable(root)
    staged = tbl.staging_dir("live-run", 0)
    (tbl.read(spark).limit(3).coalesce(1)
     .write.mode("overwrite").parquet(staged))
    assert tbl.expire_orphans(grace_seconds=3600) == 0
    assert tbl.expire_orphans() == 1


def test_sorted_compaction_prunes_scan(spark, tmp_path):
    """Sort-order rewrite + manifest file skipping: after compact
    (sort_by=url), the rewritten files cover disjoint url ranges,
    their footer bounds land in the manifest, and a narrow range
    scan() opens a strict subset of files while returning exactly the
    rows a full-read filter would.  Committed waves are INTERLEAVED by
    construction (url mod wave), so pre-rewrite bounds all overlap —
    the no-pruning baseline is real, not an accident of the data."""
    import os
    root = str(tmp_path / "tbl")
    tbl = IceTable(root)
    n, waves = 400, 8
    for w in range(waves):
        rows = [(i, f"u{i:05d}", f"payload {i} " + "x" * 200)
                for i in range(n) if i % waves == w]
        df = spark.createDataFrame(rows,
                                   "doc_id long, url string, text string")
        out = tbl.staging_dir(f"w{w}", 0)
        df.coalesce(1).write.mode("overwrite").parquet(out)
        files = sorted(os.path.join(out, f) for f in os.listdir(out)
                       if f.endswith(".parquet"))
        tbl.commit(f"w{w}", [{"part_id": w, "files": files,
                              "counters": {}}], "t",
                   stats_cols=("url",))

    lo, hi = "u00100", "u00199"
    want = sorted(r["url"] for r in tbl.read(spark)
                  .filter(F.col("url").between(lo, hi))
                  .select("url").collect())
    assert len(want) == 100
    df0, picked0, total0 = tbl.scan(spark, "url", lo, hi)
    assert picked0 == total0 == waves   # interleaved: no pruning

    sizes = [os.path.getsize(f) for f in tbl.data_files()]
    target = 2 * max(sizes) + 2   # target//2 > max: ALL small
    res = tbl.compact(spark, target_file_bytes=target,
                      committed_at="t", sort_by="url")
    assert res["snapshot_id"] and res["new_files"] >= 3
    stats = tbl.data_file_stats()
    assert stats and all("url" in v for v in stats.values())
    bounds = sorted(v["url"] for v in stats.values())
    assert len(bounds) == res["new_files"] >= 3
    for (a_lo, a_hi), (b_lo, b_hi) in zip(bounds, bounds[1:]):
        assert a_hi <= b_lo          # disjoint ranges after the sort

    df1, picked1, total1 = tbl.scan(spark, "url", lo, hi)
    assert sorted(r["url"] for r in df1.select("url").collect()) == want
    assert 0 < picked1 < total1      # REAL pruning, not vacuous
    # a range beyond the table prunes to zero files, no Spark job
    none_df, p, t = tbl.scan(spark, "url", "zzz", "zzzz")
    assert none_df is None and p == 0

    # an UNSORTED compaction must still re-record bounds (a rewrite
    # stops the stats walk — losing them would disable scan pruning
    # forever; round-4 review)
    root2 = str(tmp_path / "tbl2")
    run_extract(spark, pages_df(spark, 200, parallelism=8), root2,
                partitions=4, waves=2, cpus=8)
    t2 = IceTable(root2)
    assert t2.compact(spark, target_file_bytes=64 << 20,
                      committed_at="t2")["snapshot_id"]
    stats2 = t2.data_file_stats()
    assert stats2 and all("url" in v for v in stats2.values())


def test_compact_copies_stats_forward(spark, tmp_path, monkeypatch):
    """A rewrite must (a) derive its stats columns from what the live
    manifests already track (not a hardcoded default) and (b) copy
    kept files' bounds forward instead of re-reading their footers —
    at 10^12 docs the kept set is millions of footers the rewrite
    never opened (round-4 review)."""
    import os
    root = str(tmp_path / "tbl")
    tbl = IceTable(root)
    # wave 0: one BIG file (will be kept), waves 1-2: small (rewritten)
    for w, n in ((0, 3000), (1, 40), (2, 40)):
        rows = [(w * 100000 + i, f"u{w}{i:05d}", "x" * 400)
                for i in range(n)]
        df = spark.createDataFrame(rows,
                                   "doc_id long, url string, text string")
        out = tbl.staging_dir(f"w{w}", 0)
        df.coalesce(1).write.mode("overwrite").parquet(out)
        files = sorted(os.path.join(out, f) for f in os.listdir(out)
                       if f.endswith(".parquet"))
        tbl.commit(f"w{w}", [{"part_id": w, "files": files,
                              "counters": {}}], "t",
                   stats_cols=("url", "doc_id"))
    sizes = {f: os.path.getsize(f) for f in tbl.data_files()}
    big = max(sizes, key=sizes.get)
    prior_big = tbl.data_file_stats()[big]
    assert set(prior_big) == {"url", "doc_id"}

    read_paths = []
    orig = IceTable.file_column_stats

    def counting(path, cols):
        read_paths.append(path)
        return orig(path, cols)
    monkeypatch.setattr(IceTable, "file_column_stats",
                        staticmethod(counting))

    # target chosen so only the big file is kept; stats_cols DERIVED
    res = tbl.compact(spark, target_file_bytes=2 * sizes[big] - 2,
                      committed_at="t2")
    assert res["snapshot_id"] and res["kept"] == 1
    # the kept file's footer was never re-opened...
    assert big not in read_paths
    # ...and each rewritten output's footer was read exactly ONCE
    # (pre-read outside the CAS loop, pre-populated into commit)
    assert read_paths and len(read_paths) == len(set(read_paths))
    # ...but its bounds survived the rewrite, copied forward verbatim
    stats = tbl.data_file_stats()
    assert stats[big] == prior_big
    # and the rewritten outputs re-recorded BOTH tracked columns
    new = [f for f in stats if f != big]
    assert new and all(set(stats[f]) == {"url", "doc_id"} for f in new)


def test_compact_new_sort_column_backfills_kept(spark, tmp_path):
    """compact(sort_by=<previously untracked column>) must backfill
    that column's bounds on KEPT files too — copy-forward skips only
    already-tracked columns, otherwise the kept set would stay
    unprunable on the new sort key forever (a rewrite stops the stats
    walk, so no later pass could recover them)."""
    import os
    root = str(tmp_path / "tbl")
    tbl = IceTable(root)
    for w, n in ((0, 3000), (1, 40), (2, 40)):
        rows = [(w * 100000 + i, f"u{w}{i:05d}", "x" * 400)
                for i in range(n)]
        df = spark.createDataFrame(rows,
                                   "doc_id long, url string, text string")
        out = tbl.staging_dir(f"w{w}", 0)
        df.coalesce(1).write.mode("overwrite").parquet(out)
        files = sorted(os.path.join(out, f) for f in os.listdir(out)
                       if f.endswith(".parquet"))
        tbl.commit(f"w{w}", [{"part_id": w, "files": files,
                              "counters": {}}], "t",
                   stats_cols=("url",))   # doc_id NOT tracked yet
    sizes = {f: os.path.getsize(f) for f in tbl.data_files()}
    big = max(sizes, key=sizes.get)
    res = tbl.compact(spark, target_file_bytes=2 * sizes[big] - 2,
                      committed_at="t2", sort_by="doc_id")
    assert res["snapshot_id"] and res["kept"] == 1
    stats = tbl.data_file_stats()
    # every live file — kept AND rewritten — now carries doc_id bounds
    assert all({"url", "doc_id"} <= set(v) for v in stats.values())
    # and the kept file's backfilled bounds are correct
    assert stats[big]["doc_id"] == [0, 2999]


# ---------------------------------------------------------------------------
# schema evolution (round-4 verdict item 4): field-id rename + add with
# NULL backfill, surviving compaction, CDC, scan pruning, time travel
# ---------------------------------------------------------------------------

def _commit_frame(tbl, spark, df, part_id, stats=()):
    import os
    out = tbl.staging_dir(f"w{part_id}", 0)
    df.coalesce(1).write.mode("overwrite").parquet(out)
    files = sorted(os.path.join(out, fn) for fn in os.listdir(out)
                   if fn.endswith(".parquet")
                   and not fn.startswith((".", "_")))
    return tbl.commit(f"w{part_id}",
                      [{"part_id": part_id, "files": files,
                        "counters": {}}], "t", stats_cols=tuple(stats))


def _evo_table(spark, tmp_path):
    tbl = IceTable(str(tmp_path / "evo"))
    tbl.init_schema([("doc_id", "bigint"), ("url", "string")])
    v0 = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 4, "0"))
        .alias("url"))
    _commit_frame(tbl, spark, v0, 0, stats=("url",))
    snap_v0 = tbl.current_snapshot_id()
    tbl.rename_column("url", "page_url")
    tbl.add_column("quality", "bigint")
    v2 = spark.range(100, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 4, "0"))
        .alias("page_url"),
        (F.col("id") % 7).cast("bigint").alias("quality"))
    _commit_frame(tbl, spark, v2, 1, stats=("page_url",))
    return tbl, snap_v0


def test_schema_evolution_mapped_read_and_backfill(spark, tmp_path):
    tbl, _ = _evo_table(spark, tmp_path)
    df = tbl.read(spark)
    assert set(df.columns) == {"doc_id", "page_url", "quality"}
    rows = {r["doc_id"]: (r["page_url"], r["quality"])
            for r in df.collect()}
    assert len(rows) == 200
    assert rows[5] == ("u0005", None)          # old file: NULL backfill
    assert rows[150] == ("u0150", 150 % 7)     # new file: real value


def test_schema_evolution_cdc_across_boundary(spark, tmp_path):
    tbl, snap_v0 = _evo_table(spark, tmp_path)
    inc = tbl.read_changes(spark, since=snap_v0)
    got = sorted(r["doc_id"] for r in inc.collect())
    assert got == list(range(100, 200))
    assert set(inc.columns) == {"doc_id", "page_url", "quality"}


def test_schema_evolution_partial_compaction_keeps_file_schemas(
        spark, tmp_path, monkeypatch):
    """A kept (not rewritten) old-schema file must still resolve the
    rename on every read after the rewrite snapshot — the per-file
    schema ids ride in the rewrite partition's file_schemas."""
    import os
    tbl, _ = _evo_table(spark, tmp_path)
    files = tbl.data_files()
    sizes = {f: os.path.getsize(f) for f in files}
    # force: old v0 file "kept" (pretend it is large), new file small
    v0_file = tbl.data_files_with_schema()[-1]
    # target so that only some files rewrite: keep the largest
    big = max(files, key=lambda f: sizes[f])
    real_getsize = os.path.getsize
    monkeypatch.setattr(
        "os.path.getsize",
        lambda p: (10 << 30) if p == big else real_getsize(p))
    # add one more small v2 wave so >=2 small files exist
    extra = spark.range(200, 220).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 4, "0"))
        .alias("page_url"),
        (F.col("id") % 7).cast("bigint").alias("quality"))
    _commit_frame(tbl, spark, extra, 2, stats=("page_url",))
    res = tbl.compact(spark, target_file_bytes=64 << 20,
                      committed_at="t")
    assert res["snapshot_id"] and res["kept"] >= 1
    df = tbl.read(spark)
    assert set(df.columns) == {"doc_id", "page_url", "quality"}
    assert df.count() == 220
    # the kept file's rows still resolve through its own schema id
    rows = {r["doc_id"]: r["page_url"] for r in df.collect()}
    assert rows[0] == "u0000" and rows[219] == "u0219"


def test_schema_evolution_scan_prunes_through_rename(spark, tmp_path):
    tbl, _ = _evo_table(spark, tmp_path)
    import os
    # more waves so the sorted rewrite yields SEVERAL disjoint-range
    # output files (one output file can never demonstrate pruning)
    for w in range(2, 8):
        extra = spark.range(w * 100, w * 100 + 100).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("u"),
                     F.lpad(F.col("id").cast("string"), 4, "0"))
            .alias("page_url"),
            (F.col("id") % 7).cast("bigint").alias("quality"))
        _commit_frame(tbl, spark, extra, w, stats=("page_url",))
    sizes = [os.path.getsize(f) for f in tbl.data_files()]
    tbl.compact(spark, target_file_bytes=2 * max(sizes) + 2,
                committed_at="t", sort_by="page_url")
    df, scanned, total = tbl.scan(spark, "page_url", "u0010", "u0019")
    got = sorted(r["doc_id"] for r in df.collect())
    assert got == list(range(10, 20))
    assert scanned < total  # sorted layout actually pruned


def test_schema_evolution_scan_skips_prenatal_files(spark, tmp_path):
    """Range scan on a column added AFTER a file was written prunes
    that file wholesale (all rows would be NULL)."""
    tbl, _ = _evo_table(spark, tmp_path)
    df, scanned, total = tbl.scan(spark, "quality", 0, 6)
    assert scanned < total
    got = sorted(r["doc_id"] for r in df.collect())
    assert got == list(range(100, 200))


def test_schema_evolution_time_travel_old_snapshot(spark, tmp_path):
    """as_of an old snapshot still projects to the CURRENT schema
    (Iceberg: schema is table metadata, not snapshot state)."""
    tbl, snap_v0 = _evo_table(spark, tmp_path)
    df = tbl.read(spark, as_of=snap_v0)
    assert set(df.columns) == {"doc_id", "page_url", "quality"}
    assert df.count() == 100


def test_schema_evolution_errors(spark, tmp_path):
    import pytest
    tbl = IceTable(str(tmp_path / "err"))
    with pytest.raises(ValueError):
        tbl.add_column("x", "int")          # init first
    tbl.init_schema([("a", "bigint")])
    with pytest.raises(ValueError):
        tbl.init_schema([("a", "bigint")])  # double init
    with pytest.raises(ValueError):
        tbl.add_column("a", "int")          # duplicate name
    with pytest.raises(ValueError):
        tbl.rename_column("zz", "b")        # unknown column
    tbl.add_column("b", "string")
    with pytest.raises(ValueError):
        tbl.rename_column("a", "b")         # collision
    assert [f["name"] for f in tbl.current_schema()["fields"]] \
        == ["a", "b"]
    assert tbl.current_schema()["schema_id"] == 1  # init=0, +b=1


# ---------------------------------------------------------------------------
# row-level deletes (Iceberg v2 merge-on-read equality deletes)
# ---------------------------------------------------------------------------

def _del_table(spark, tmp_path):
    tbl = IceTable(str(tmp_path / "del"))
    v = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"))
    _commit_frame(tbl, spark, v, 0, stats=("doc_id",))
    return tbl


def test_row_delete_merge_on_read_and_time_travel(spark, tmp_path):
    tbl = _del_table(spark, tmp_path)
    pre = tbl.current_snapshot_id()
    keys = spark.range(0, 100, 3).select(F.col("id").alias("doc_id"))
    tbl.delete_where(spark, keys, ("doc_id",), "d0", "t")
    got = sorted(r["doc_id"] for r in tbl.read(spark).collect())
    assert got == [i for i in range(100) if i % 3 != 0]
    # time travel to before the delete still sees every row
    assert tbl.read(spark, as_of=pre).count() == 100
    # delete files are referenced: GC reclaims nothing
    assert tbl.expire_orphans() == 0


def test_row_delete_upsert_atomic_and_sequence_exempt(spark, tmp_path):
    """An upsert's own rows are exempt from its own delete; older rows
    with the same keys disappear."""
    tbl = _del_table(spark, tmp_path)
    new = spark.range(10, 20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("v2_"), F.col("id").cast("string")).alias("text"))
    tbl.upsert(spark, new, ("doc_id",), "up0", "t")
    rows = {r["doc_id"]: r["text"] for r in tbl.read(spark).collect()}
    assert len(rows) == 100                      # no dup doc_ids
    assert rows[10] == "v2_10" and rows[19] == "v2_19"
    assert rows[9] == "t9" and rows[20] == "t20"


def test_row_delete_compaction_applies_physically(spark, tmp_path):
    tbl = _del_table(spark, tmp_path)
    import os
    keys = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    tbl.delete_where(spark, keys, ("doc_id",), "d0", "t")
    sizes = [os.path.getsize(f) for f in tbl.data_files()]
    res = tbl.compact(spark, target_file_bytes=2 * max(sizes) + 2,
                      committed_at="t", sort_by="doc_id")
    assert res["snapshot_id"]
    # post-compaction: no delete state left in the live chain
    _, deletes = tbl._live_set()
    assert deletes == []
    got = sorted(r["doc_id"] for r in tbl.read(spark).collect())
    assert got == list(range(50, 100))
    # pruned scan agrees and prunes deleted-range files
    df, scanned, total = tbl.scan(spark, "doc_id", 60, 69)
    assert sorted(r["doc_id"] for r in df.collect()) == list(range(60, 70))
    assert scanned <= total


def test_row_delete_cdc_window_raises(spark, tmp_path):
    import pytest
    tbl = _del_table(spark, tmp_path)
    pre = tbl.current_snapshot_id()
    keys = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    tbl.delete_where(spark, keys, ("doc_id",), "d0", "t")
    with pytest.raises(ValueError, match="row-level delete"):
        tbl.changed_files_with_schema(pre)
    # bootstrap (since=None) is the delete-aware full read
    assert tbl.read_changes(spark, since=None).count() == 90


def test_row_delete_key_survives_rename(spark, tmp_path):
    """A delete written before a key-column rename still applies: the
    delete frame resolves through its write-time schema's field ids."""
    tbl = IceTable(str(tmp_path / "delren"))
    tbl.init_schema([("doc_id", "bigint"), ("text", "string")])
    v = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"))
    _commit_frame(tbl, spark, v, 0)
    keys = spark.range(0, 40, 2).select(F.col("id").alias("doc_id"))
    tbl.delete_where(spark, keys, ("doc_id",), "d0", "t")
    tbl.rename_column("doc_id", "document_id")
    df = tbl.read(spark)
    assert set(df.columns) == {"document_id", "text"}
    got = sorted(r["document_id"] for r in df.collect())
    assert got == [i for i in range(40) if i % 2 == 1]
