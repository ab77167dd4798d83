"""Per-part lineage counters are tallied by the extraction kernels.

Every wave commit records, per part_id, the eight counters of
``udfs.LINEAGE_COUNTERS``.  The kernels count them while they produce
the rows; these tests pin them against the aggregation the commit used
to run over each written stage (``stage_aggregation``), applied to the
committed rows, on every path that commits: the plain kernel, the PDF
and HTML split tiers, and the streaming sink.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from webextract.icetable import IceTable
from webextract.pipeline import run_extract
from webextract.synth import PAGES_SCHEMA, pages_df
from webextract.udfs import LINEAGE_COUNTERS, TallyParam, part_counters

ZERO = dict.fromkeys(LINEAGE_COUNTERS, 0)

UNICODE_TEXT = ("Überschrift naïve café — 日本語のテキストと漢字 "
                "ümlaut straße € ½ ") * 12
UNICODE_PAGE = ("https://unicode.example/0.html",
                datetime.datetime(2025, 3, 1, 12, 0, 0),
                (f"<html><body><article><h1>Überschrift café</h1>"
                 f"<p>{UNICODE_TEXT}</p><p>{UNICODE_TEXT}</p>"
                 f"</article></body></html>").encode("utf-8"),
                "", "de")


def with_unicode_page(spark, pages):
    return pages.unionByName(spark.createDataFrame([UNICODE_PAGE],
                                                   PAGES_SCHEMA))


def stage_aggregation(rows) -> dict[int, dict[str, int]]:
    """The groupBy commit_stage ran over each written stage dir before
    the kernels tallied the counters (the test oracle)."""
    agg = rows.groupBy("part_id").agg(
        F.count("*").alias("num_docs"),
        F.sum(F.when(F.col("status") != "skipped", 1).otherwise(0))
        .alias("num_processed"),
        F.sum(F.when(F.col("status") == "success", 1).otherwise(0))
        .alias("num_succeeded"),
        F.sum(F.when(F.col("status") == "partial_success", 1).otherwise(0))
        .alias("num_partial"),
        F.sum(F.when(F.col("status") == "failure", 1).otherwise(0))
        .alias("num_failed"),
        F.sum(F.when(F.col("status") == "skipped", 1).otherwise(0))
        .alias("num_skipped"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum(F.octet_length(F.col("text").cast("binary")).cast("long"))
        .alias("bytes_out"))
    return {r["part_id"]: {k: r[k] or 0 for k in LINEAGE_COUNTERS}
            for r in agg.collect()}


def committed_with_part(spark, tbl, partitions):
    return tbl.read(spark).withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(partitions)).cast("int"))


def lineage_by_part(tbl) -> dict[int, dict[str, int]]:
    out: dict[int, dict[str, int]] = {}
    for r in tbl.lineage():
        c = out.setdefault(r["part_id"], dict(ZERO))
        for k in LINEAGE_COUNTERS:
            c[k] += r[k]
    return out


def assert_batch_lineage(spark, root, partitions):
    """Each part has exactly one lineage row, equal to the oracle over
    the committed rows (zero for a part with no rows)."""
    tbl = IceTable(root)
    lin = tbl.lineage()
    assert sorted(r["part_id"] for r in lin) == list(range(partitions))
    want = stage_aggregation(committed_with_part(spark, tbl, partitions))
    for r in lin:
        got = {k: r[k] for k in LINEAGE_COUNTERS}
        assert got == want.get(r["part_id"], ZERO), r["part_id"]
    return tbl


PATHS = {
    "plain": dict(n=200, job=dict()),
    # mini-PDFs are 0.5-2.7 KB: those of at least 1 KB (2 * split_bytes)
    # take the page-split tier
    "pdf_split": dict(n=200, job=dict(split_bytes=512)),
    "html_split": dict(n=100, giant_every=25,
                       job=dict(split_bytes=16 * 1024)),
}


@pytest.mark.parametrize("path", sorted(PATHS))
def test_counters_equal_stage_aggregation(spark, tmp_path, path):
    cfg = PATHS[path]
    pages = with_unicode_page(spark, pages_df(
        spark, cfg["n"], parallelism=4, giant_every=cfg.get("giant_every"),
        giant_words=5000))
    root = str(tmp_path / path)
    run_extract(spark, pages, root, partitions=8, waves=2, cpus=2,
                **cfg["job"])
    tbl = assert_batch_lineage(spark, root, 8)
    rows = tbl.read(spark)
    assert rows.count() == cfg["n"] + 1
    # the non-ASCII page counts UTF-8 bytes, not characters
    text = rows.filter(F.col("url") == UNICODE_PAGE[0]).first()["text"]
    assert len(text.encode("utf-8")) > len(text) > 0
    if "split_bytes" in cfg["job"]:
        # some documents did take the split tier under test
        split = rows.filter(
            F.col("bytes_in") >= 2 * cfg["job"]["split_bytes"])
        if path == "pdf_split":
            split = split.filter(F.col("fmt") == "pdf")
        assert split.count() > 0


def test_all_empty_waves_commit_zero_counters(spark, tmp_path):
    """3 docs over 16 parts: most waves hold no rows and write no
    files; their parts commit with zero counters."""
    root = str(tmp_path / "sparse")
    run_extract(spark, pages_df(spark, 3, parallelism=2), root,
                partitions=16, waves=8, cpus=2)
    tbl = assert_batch_lineage(spark, root, 16)
    zero_parts = [r for r in tbl.lineage()
                  if all(r[k] == 0 for k in LINEAGE_COUNTERS)]
    assert len(zero_parts) >= 13


def test_streaming_sink_counters(spark, tmp_path):
    from webextract.streaming import stream_extract_to_icetable
    src = str(tmp_path / "pages_in")
    with_unicode_page(spark, pages_df(spark, 60, parallelism=2)) \
        .repartition(3).write.parquet(src)
    root = str(tmp_path / "ice")
    q = stream_extract_to_icetable(spark, src, root,
                                   str(tmp_path / "ckpt"),
                                   partitions=8)
    assert q.awaitTermination(120), "stream did not drain in time"
    tbl = IceTable(root)
    want = stage_aggregation(committed_with_part(spark, tbl, 8))
    assert sum(c["num_docs"] for c in want.values()) == 61
    assert lineage_by_part(tbl) == want


def test_rerun_task_tally_is_counted_once():
    """A retried or speculative task reports under the same (stage,
    partition) key: the merge replaces its tally, so totals hold."""
    param = TallyParam()
    first = {(3, 0): {5: [2, 2, 1, 0, 1, 0, 100, 40]}}
    other = {(3, 1): {5: [1, 0, 0, 0, 0, 1, 7, 0], 6: [1] * 8}}
    acc = param.addInPlace(param.zero(None), dict(first))
    acc = param.addInPlace(acc, dict(other))
    once = part_counters(acc)
    acc = param.addInPlace(acc, dict(first))
    assert part_counters(acc) == once
    assert once[5] == dict(zip(LINEAGE_COUNTERS,
                               [3, 2, 1, 0, 1, 1, 107, 40]))


def test_plain_wave_is_one_write_action(spark, tmp_path):
    """A plain-path wave launches the AQE shuffle-map job and the
    write, nothing else: no pass re-reads the stage to count it."""
    sc = spark.sparkContext
    pages = pages_df(spark, 40, parallelism=2)
    group = "lineage-one-action"
    sc.setJobGroup(group, "one plain wave")
    try:
        s = run_extract(spark, pages, str(tmp_path / "one"), partitions=4,
                        waves=1, cpus=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(s["waves"]) == 1 and s["waves"][0]["num_docs"] == 40
    assert "commit_ms" in s["waves"][0]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs
