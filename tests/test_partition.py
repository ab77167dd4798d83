"""Hidden partitioning (Iceberg partition-spec transforms): partition
values derive from data columns via bucket/truncate/day/identity and
live only in manifest metadata; scans filter on SOURCE columns and the
transform prunes files.  Invariants: pruning is a pure cost lever
(results == plain filters), the prune ratio is real, data files never
carry derived columns, and spec evolution leaves old files pruning
under their own spec."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webextract.icetable import IceTable

SF_DIR = "/root/testdata/sf0.01"


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value")


def _make(spark, tmp_path):
    tbl = IceTable(str(tmp_path / "t"))
    tbl.set_partition_spec([("d", "day", "ts", None),
                            ("b", "bucket", "event_type", 8)])
    tbl.commit("w0", tbl.write_partitioned(spark, _events(spark), "w0"),
               "t")
    return tbl


def _ids(df):
    return sorted(r["event_id"] for r in df.collect())


def test_partition_prune_correct_and_actually_prunes(spark, tmp_path):
    tbl = _make(spark, tmp_path)
    ev = _events(spark)
    lo, hi = "2024-01-02 00:00:00", "2024-01-03 23:59:59"
    df, scanned, total = tbl.scan_by_partition(spark, "ts", lo, hi)
    assert _ids(df) == _ids(ev.filter(F.col("ts").between(lo, hi)))
    n_days = ev.select(F.date_format("ts", "yyyy-MM-dd")).distinct().count()
    assert total > scanned > 0
    assert scanned <= total * 2 / n_days + 8   # ~2 of n_days days kept

    df, scanned2, total2 = tbl.scan_by_partition(spark, "event_type",
                                                 "click")
    assert _ids(df) == _ids(ev.filter(F.col("event_type") == "click"))
    assert scanned2 < total2            # other buckets pruned

    # a range over the bucketed column cannot prune (order scattered)
    # but must stay correct
    df, scanned3, _ = tbl.scan_by_partition(spark, "event_type",
                                            "click", "view")
    assert _ids(df) == _ids(ev.filter(
        F.col("event_type").between("click", "view")))
    assert scanned3 == total


def test_partition_values_hidden_from_data_files(spark, tmp_path):
    tbl = _make(spark, tmp_path)
    df = tbl.read(spark)
    assert set(df.columns) == {"event_id", "ts", "user_id",
                               "event_type", "value"}
    assert df.count() == _events(spark).count()
    # manifest carries the tuples instead
    pinfo = tbl.data_files_with_partition()
    assert pinfo and all(set(v[0]) == {"d", "b"}
                         for v in pinfo.values())


def test_partition_spec_evolution_old_files_keep_old_spec(spark,
                                                          tmp_path):
    tbl = _make(spark, tmp_path)
    ev = _events(spark)
    # evolve: drop the bucket field, day only, wider truncate on type
    tbl.set_partition_spec([("d", "day", "ts", None),
                            ("tt", "truncate", "event_type", 2)])
    shifted = ev.withColumn("ts", F.col("ts") + F.expr(
        "INTERVAL 30 DAYS"))
    tbl.commit("w1", tbl.write_partitioned(spark, shifted, "w1",
                                           part_id=1), "t1")
    both = ev.unionByName(shifted)
    # equality on event_type prunes v0 files via bucket AND v1 files
    # via the truncate prefix — each under its own spec
    df, scanned, total = tbl.scan_by_partition(spark, "event_type",
                                               "click")
    assert _ids(df) == _ids(both.filter(F.col("event_type") == "click"))
    assert scanned < total
    # the day field survives evolution; a range hitting only the
    # shifted month prunes every v0 file
    df, scanned2, _ = tbl.scan_by_partition(
        spark, "ts", "2024-01-31 00:00:00", "2024-02-02 23:59:59")
    assert _ids(df) == _ids(both.filter(F.col("ts").between(
        "2024-01-31 00:00:00", "2024-02-02 23:59:59")))
    v0_files = {f for f, (pv, sid) in
                tbl.data_files_with_partition().items() if sid == 0}
    assert scanned2 <= total - len(v0_files) + 2


def test_partition_spec_validation(spark, tmp_path):
    tbl = IceTable(str(tmp_path / "t"))
    with pytest.raises(ValueError):
        tbl.set_partition_spec([("x", "year", "ts", None)])
    with pytest.raises(ValueError):
        tbl.set_partition_spec([("x", "bucket", "ts", 0)])
    with pytest.raises(ValueError):
        tbl.write_partitioned(spark, _events(spark), "w0")  # no spec


def test_partition_truncate_numeric_and_string(spark, tmp_path):
    tbl = IceTable(str(tmp_path / "t"))
    tbl.set_partition_spec([("ub", "truncate", "user_id", 10),
                            ("tp", "truncate", "event_type", 1)])
    tbl.commit("w0", tbl.write_partitioned(spark, _events(spark), "w0"),
               "t")
    ev = _events(spark)
    df, scanned, total = tbl.scan_by_partition(spark, "user_id", 12, 27)
    assert _ids(df) == _ids(ev.filter(F.col("user_id").between(12, 27)))
    assert scanned < total
    df, scanned2, _ = tbl.scan_by_partition(spark, "event_type", "view")
    assert _ids(df) == _ids(ev.filter(F.col("event_type") == "view"))
    assert scanned2 < total


def test_partition_prune_holds_after_compaction_keeps_files(spark,
                                                            tmp_path):
    """A compaction that keeps files carries their partition values
    forward: results still equal the plain filter, and no kept file
    whose bucket cannot hold the value is scanned.  Without the values
    a kept file looks unpartitioned and is always scanned (64 of 64
    files, and no partition metadata left)."""
    import os
    import statistics
    tbl = _make(spark, tmp_path)
    ev = _events(spark)
    extra = spark.createDataFrame(ev.limit(50).collect(), ev.schema)
    tbl.commit("w1", tbl.write_partitioned(spark, extra, "w1",
                                           part_id=1), "t1")
    both = ev.unionByName(extra)
    sizes = [os.path.getsize(f) for f in tbl.data_files()]
    res = tbl.compact(spark, int(2 * statistics.median(sizes)),
                      committed_at="tc")
    assert res["snapshot_id"] and res["kept"] > 0
    pinfo = tbl.data_files_with_partition()
    assert len(pinfo) == res["kept"]
    df, scanned, total = tbl.scan_by_partition(spark, "event_type",
                                               "click")
    assert _ids(df) == _ids(both.filter(F.col("event_type") == "click"))
    bucket = IceTable._partition_value_of("bucket", 8, "click")
    can_match = sum(pv["b"] in (bucket, "__HIVE_DEFAULT_PARTITION__")
                    for pv, _ in pinfo.values())
    # the rewritten outputs mix buckets and are scanned; of the kept
    # files, only those whose bucket can hold the value
    assert scanned == total - res["kept"] + can_match < total
