"""One walk reads the table's manifest (IceTable.manifest): every reader
is a projection of it, so at any snapshot the live file list, the
files the read opens, the per-file facts, the committed parts and the
run record agree — across deltas, a row-level delete, a rename, a
partitioned write, a compaction that keeps files, and a rewrite in the
older one-part shape."""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import functions as F

from webextract.icetable import IceTable


def _frame(spark, lo, hi, url="url"):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 4, "0"))
        .alias(url))


def _commit(tbl, spark, df, part_id, versions=None):
    files = tbl.stage(df.coalesce(1), f"w{part_id}").get((), [])
    return tbl.commit(f"w{part_id}", [{"part_id": part_id, "files": files,
                                       "counters": {}}], "t",
                      versions=versions, stats_cols=("url",))


def _agree(spark, tbl, as_of):
    """Check that every reader agrees with the walk at ``as_of``."""
    m = tbl.manifest(as_of)
    paths = tbl.data_files(as_of)
    assert paths and paths == [e.path for e in m.files]
    assert [f for f, _ in tbl.data_files_with_schema(as_of)] == paths
    assert [r.file_path for r in tbl.files_df(spark, as_of).collect()] \
        == paths
    opened = {unquote(urlparse(u).path)
              for u in tbl.read(spark, as_of).inputFiles()}
    deletes = {f for d in m.deletes for f in d[1]}
    assert opened == set(paths) | deletes
    assert set(tbl.data_file_stats(as_of)) <= set(paths)
    assert set(tbl.data_file_rows(as_of)) <= set(paths)
    assert tbl.committed_parts(as_of) == m.parts == {0, 1, 2}
    assert m.run == {"partitions": 4, "options_hash": "h1"}
    assert tbl.read(spark, as_of).count() == 390
    return m


def _facts(m):
    """{path: entry} without the facts of the snapshot listing it."""
    return {e.path: e._replace(snapshot_id=None, seq=None, part_id=None)
            for e in m.files}


def test_every_reader_is_one_walk(spark, tmp_path):
    tbl = IceTable(str(tmp_path / "t"))
    tbl.init_schema([("doc_id", "bigint"), ("url", "string")])
    _commit(tbl, spark, _frame(spark, 0, 100), 0,
            {"partitions": 4, "options_hash": "h0"})
    _commit(tbl, spark, _frame(spark, 100, 200), 1,
            {"partitions": 4, "options_hash": "h1"})
    tbl.delete_where(spark, spark.range(0, 10).withColumnRenamed(
        "id", "doc_id"), ("doc_id",), "d", "t")
    tbl.rename_column("url", "page_url")
    tbl.set_partition_spec([("b", "bucket", "doc_id", 4)])
    tbl.commit("p", tbl.write_partitioned(
        spark, _frame(spark, 200, 400, "page_url"), "p", part_id=2), "t",
        stats_cols=("page_url",))
    old = tbl.current_snapshot_id()
    before = _agree(spark, tbl, old)
    assert before.deletes and len(tbl.data_files_with_partition(old)) == 4

    # the delete forces the two delta files into the rewrite; the four
    # partitioned files are at size and kept
    sizes = [os.path.getsize(f) for f in tbl.data_files_with_partition()]
    res = tbl.compact(spark, target_file_bytes=2 * min(sizes),
                      committed_at="tc")
    assert res["snapshot_id"] and res["kept"] == 4
    after = _agree(spark, tbl, None)
    assert not after.deletes
    kept = set(tbl.data_files_with_partition(old)) & set(tbl.data_files())
    assert len(kept) == 4
    # each kept file carries every fact forward: schema id, bounds, row
    # count and partition values
    assert {f: _facts(after)[f] for f in kept} \
        == {f: _facts(before)[f] for f in kept}
    assert tbl.data_files_with_partition() \
        == tbl.data_files_with_partition(old)

    # a rewrite in the older shape (one part -1 whose maps carry the
    # per-file facts, no partition values) reads back alike
    head = tbl.manifest()
    tbl.commit("old-shape", [{
        "part_id": -1, "files": [e.path for e in head.files],
        "counters": {},
        "file_schemas": {e.path: e.schema_id for e in head.files},
        "file_stats": {e.path: e.stats for e in head.files},
        "file_rows": {e.path: e.rows for e in head.files}}], "t",
        versions=head.run, rewrite=True, carried_parts=sorted(head.parts))
    older = _agree(spark, tbl, None)
    assert {f: e._replace(partition=None, spec_id=None)
            for f, e in _facts(head).items()} == _facts(older)
    assert tbl.data_files_with_partition() == {}
