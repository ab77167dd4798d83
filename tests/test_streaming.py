"""Streaming surface tests: exactly-once file ingest + watermarked windows.

Verifies the foreachBatch path produces byte-identical results to the
batch path (same kernel), that checkpoint resume never reprocesses
consumed files, and that the watermarked windowed agg matches its batch
equivalent.
"""

from __future__ import annotations

import os

import pytest

from webextract.docpages import docs_to_pages
from webextract.streaming import (stream_extract, stream_lang_counts,
                                  windowed_lang_counts)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def pages_dir(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    pages = docs_to_pages(docs)
    d = str(tmp_path / "pages_in")
    pages.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _await(q, timeout=120):
    assert q.awaitTermination(timeout), "stream did not drain in time"


def test_stream_extract_matches_batch(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_extract(spark, pages_dir, out, ckpt)
    _await(q)
    got = spark.read.parquet(out)
    assert got.count() == 120
    # byte-identity vs the batch path on the same input
    from webextract.pipeline import extracted_df
    batch = extracted_df(spark.read.parquet(pages_dir))
    s = {r["url"]: (r["text"], r["text_md"]) for r in
         got.select("url", "text", "text_md").collect()}
    b = {r["url"]: (r["text"], r["text_md"]) for r in
         batch.select("url", "text", "text_md").collect()}
    assert s == b

    # resume: no new input files → no new epochs, nothing reprocessed
    epochs_before = set(os.listdir(out))
    q2 = stream_extract(spark, pages_dir, out, ckpt)
    _await(q2)
    assert set(os.listdir(out)) == epochs_before
    assert spark.read.parquet(out).count() == 120


def test_stream_new_files_incremental(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    _await(stream_extract(spark, pages_dir, out, ckpt))
    # a new crawl drop arrives
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .filter("doc_id >= 200 and doc_id < 240")
    docs_to_pages(docs).write.mode("append").parquet(pages_dir)
    _await(stream_extract(spark, pages_dir, out, ckpt))
    assert spark.read.parquet(out).count() == 160


def test_stream_dedup_stateful_first_seen(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: each content hash is
    emitted exactly once across micro-batches AND across query restarts
    (state survives in the checkpoint)."""
    from pyspark.sql import functions as F
    from webextract.streaming import stream_dedup

    in_dir = str(tmp_path / "dd_in")
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    # drop 1: docs 0-59
    d1 = docs.filter("doc_id < 60")
    docs_to_pages(d1).write.mode("overwrite").parquet(in_dir)
    _await(stream_dedup(spark, in_dir, out, ckpt))
    n_unique_1 = d1.select("text").distinct().count()
    got1 = spark.read.parquet(out)
    assert got1.count() == n_unique_1
    assert got1.select("content_sha").distinct().count() == n_unique_1

    # drop 2 (restarted query): re-crawled copies of docs 0-19 under new
    # urls + genuinely new docs 60-79
    recrawl = docs.filter("doc_id < 20").withColumn(
        "doc_id", F.col("doc_id") + 100000)  # new urls, same text
    fresh = docs.filter("doc_id >= 60 and doc_id < 80")
    docs_to_pages(recrawl.unionByName(fresh)).write.mode(
        "append").parquet(in_dir)
    _await(stream_dedup(spark, in_dir, out, ckpt))

    all_texts = d1.select("text").unionByName(fresh.select("text"))
    n_unique_all = all_texts.distinct().count()
    got2 = spark.read.parquet(out)
    assert got2.count() == n_unique_all, "duplicate or lost emissions"
    assert got2.select("content_sha").distinct().count() == n_unique_all


def test_windowed_lang_counts_stream_vs_batch(spark, pages_dir, tmp_path):
    # batch reference on the same frame
    pages = spark.read.parquet(pages_dir)
    # docpages leaves warc_ts null; synthesize event times for windows
    from pyspark.sql import functions as F
    timed = pages.withColumn(
        "warc_ts",
        F.expr("timestamp '2025-01-01 00:00:00' + make_interval(0,0,0,0,0,0,"
               "xxhash64(url) % 600)"))
    timed_dir = str(tmp_path / "timed")
    timed.write.mode("overwrite").parquet(timed_dir)

    expect = {(r["win_start"], r["lang"]): (r["n_pages"], r["bytes_in"])
              for r in windowed_lang_counts(
                  spark.read.parquet(timed_dir)).collect()}

    q = stream_lang_counts(spark, timed_dir, str(tmp_path / "ckpt3"),
                           queryName="t_lang_counts")
    _await(q)
    got = {(r["win_start"], r["lang"]): (r["n_pages"], r["bytes_in"])
           for r in spark.sql("select * from t_lang_counts").collect()}
    # append-mode emits only watermark-closed windows → subset of batch,
    # and every emitted window must match the batch aggregation exactly
    assert got, "no windows emitted"
    for key, val in got.items():
        assert expect[key] == val


def test_stream_to_icetable_exactly_once(spark, pages_dir, tmp_path):
    """Streaming epochs commit atomic IceTable snapshots with lineage
    counters; restart with no new files adds no snapshots; epoch-keyed
    run_ids make redelivery a no-op; new files append a new snapshot."""
    from webextract.docpages import docs_to_pages
    from webextract.icetable import IceTable
    from webextract.streaming import stream_extract_to_icetable
    root = str(tmp_path / "ice")
    ckpt = str(tmp_path / "ckpt_ice")
    _await(stream_extract_to_icetable(spark, pages_dir, root, ckpt))
    tbl = IceTable(root)
    assert tbl.read(spark).count() == 120
    snaps1 = tbl.snapshots()
    assert all(s["run_id"].startswith("stream-") for s in snaps1)
    lin = tbl.lineage_df(spark)
    from pyspark.sql import functions as F
    assert lin.agg(F.sum("num_docs")).first()[0] == 120
    assert snaps1[0]["versions"]["options_hash"]

    # restart, nothing new: no extra snapshots, count unchanged
    _await(stream_extract_to_icetable(spark, pages_dir, root, ckpt))
    assert len(IceTable(root).snapshots()) == len(snaps1)
    assert tbl.read(spark).count() == 120

    # new crawl files arrive: one more epoch commits, counts add up
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .limit(150).filter("doc_id >= 120")
    docs_to_pages(docs).repartition(2).write.mode("append").parquet(pages_dir)
    _await(stream_extract_to_icetable(spark, pages_dir, root, ckpt))
    n_new = docs.count()
    assert tbl.read(spark).count() == 120 + n_new
    assert len(IceTable(root).snapshots()) == len(snaps1) + 1


def test_checkpoint_reset_recommits_fresh_run_ids(spark, pages_dir, tmp_path):
    """r3 review: deleting the checkpoint restarts epochs at 0 — the
    sink's query tag must be checkpoint-LIFETIME-scoped so the replay
    commits under fresh run_ids instead of silently dropping every
    batch against the old epoch-0 run_id."""
    import shutil
    from webextract.icetable import IceTable
    from webextract.streaming import stream_extract_to_icetable
    root = str(tmp_path / "ice_reset")
    ckpt = str(tmp_path / "ckpt_reset")
    _await(stream_extract_to_icetable(spark, pages_dir, root, ckpt))
    n1 = IceTable(root).read(spark).count()
    assert n1 > 0
    shutil.rmtree(ckpt)    # operator resets the checkpoint, table kept
    _await(stream_extract_to_icetable(spark, pages_dir, root, ckpt))
    # the replayed input COMMITS (fresh run_ids) — a stream table
    # legitimately holds both deliveries; silent drop was the bug
    assert IceTable(root).read(spark).count() == 2 * n1


def test_stream_neardup_matches_batch(spark, tmp_path):
    """r3 verdict item 8, stream≡batch identity: the stateful MinHash
    near-dup operator, run with ONE FILE PER MICRO-BATCH (real
    cross-batch state, files arriving in doc_id order), must flag
    exactly the docs the order-independent batch rule flags — near-dup
    iff any LSH band bucket contains a smaller doc_id."""
    from pyspark.sql import functions as F
    from webextract.corpus import lsh_band_keys
    from webextract.streaming import stream_near_dup

    in_dir = str(tmp_path / "nd_in")
    out = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(150)
    pages = docs_to_pages(docs).withColumn(
        "doc_id", F.substring("url", 7, 20).cast("bigint"))
    # three UNORDERED drops -> three micro-batches: the middle id range
    # arrives first, so smaller ids land AFTER larger ones and the
    # retroactive-correction path is exercised for real (r4 review)
    for lo, hi in ((50, 100), (0, 50), (100, 100000)):
        (pages.filter(f"doc_id >= {lo} and doc_id < {hi}")
         .drop("doc_id").coalesce(1)
         .write.mode("append").parquet(in_dir))
        _await(stream_near_dup(spark, in_dir, out, ckpt,
                               max_files_per_trigger=1))

    got = {r.doc_id: r.is_near_dup for r in
           spark.read.parquet(out).groupBy("doc_id")
           .agg(F.max(F.col("dup_in_band").cast("int")).cast("boolean")
                .alias("is_near_dup")).collect()}

    # batch truth from the SAME band-key expressions
    bk = lsh_band_keys(docs.select("doc_id", "text"))
    from pyspark.sql import Window
    w = Window.partitionBy("band", "band_key")
    truth = {r.doc_id: r.dup for r in
             bk.withColumn("bmin", F.min("doc_id").over(w))
             .groupBy("doc_id")
             .agg(F.max((F.col("bmin") < F.col("doc_id")).cast("int"))
                  .cast("boolean").alias("dup"))
             .collect()}
    assert got == truth
    assert any(truth.values()), "corpus should contain near-dups"
    assert not all(truth.values())


def test_stream_neardup_state_survives_restart(spark, tmp_path):
    """A doc arriving in a LATER query run whose bucket was populated in
    an EARLIER run must still be flagged — the bucket-min state lives in
    the checkpoint, not the batch."""
    from pyspark.sql import functions as F
    from webextract.streaming import stream_near_dup

    in_dir = str(tmp_path / "nr_in")
    out = str(tmp_path / "nr_out")
    ckpt = str(tmp_path / "nr_ckpt")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    first = spark.createDataFrame(
        [(f"doc://{i}", None, None, f"{base} tail{i} x{i} y{i} z{i}", "en")
         for i in (1, 2)],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    first.coalesce(1).write.mode("append").parquet(in_dir)
    _await(stream_near_dup(spark, in_dir, out, ckpt))

    # restart with a near-copy of doc 1 under a LARGER id, plus a
    # near-copy under a SMALLER id (id 0) — the smaller arrival must
    # retroactively flag doc 1, the old bucket minimum (r4 review)
    second = spark.createDataFrame(
        [(f"doc://{900}", None, None, f"{base} tail1 x1 y1 q900", "en"),
         (f"doc://{0}", None, None, f"{base} tail1 x1 y1 z1", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    second.coalesce(1).write.mode("append").parquet(in_dir)
    _await(stream_near_dup(spark, in_dir, out, ckpt))

    got = {r.doc_id: r.dup for r in
           spark.read.parquet(out).groupBy("doc_id")
           .agg(F.max(F.col("dup_in_band").cast("int")).cast("boolean")
                .alias("dup")).collect()}
    assert got[900] is True, "cross-restart state lost"
    assert got[1] is True, "retroactive correction missing"
    assert got[0] is False, "new bucket minimum must stay unflagged"


def test_stream_neardup_ttl_horizon(spark, tmp_path):
    """TTL-bounded state (r4): a bucket FORGETS its minimum once event
    time advances ttl past its last arrival, so a near-copy arriving
    beyond the horizon is NOT flagged; within the horizon it is.
    Three micro-batches: seed doc -> watermark-advancing filler (the
    seed's bucket times out) -> near-copy."""
    from pyspark.sql import functions as F
    from webextract.streaming import stream_near_dup

    in_dir = str(tmp_path / "ttl_in")
    out = str(tmp_path / "ttl_out")
    ckpt = str(tmp_path / "ttl_ckpt")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        _await(stream_near_dup(spark, in_dir, out, ckpt,
                               max_files_per_trigger=1,
                               ttl_seconds=60))

    import datetime as dt
    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)
    # batch 1: the seed doc
    drop([("doc://1", t0, None, f"{base} tail1 x1 y1 z1", "en")])
    # batch 2: unrelated doc 10 minutes later -> watermark advances
    # far past the seed bucket's ttl, expiring its state
    drop([("doc://50", t0 + dt.timedelta(minutes=10), None,
           "completely different words entirely unrelated content "
           "nothing shared here at all zzz qqq www", "en")])
    # batch 3: near-copy of the seed, beyond the horizon -> NOT a dup
    drop([("doc://900", t0 + dt.timedelta(minutes=11), None,
           f"{base} tail1 x1 y1 q900", "en")])
    got = {r.doc_id: r.dup for r in
           spark.read.parquet(out).groupBy("doc_id")
           .agg(F.max(F.col("dup_in_band").cast("int")).cast("boolean")
                .alias("dup")).collect()}
    assert got[900] is False, "expired bucket still flagged"
    assert got[1] is False

    # control: same drops with NO ttl -> the copy IS flagged
    in2, out2, ck2 = (str(tmp_path / "nt_in"), str(tmp_path / "nt_out"),
                      str(tmp_path / "nt_ckpt"))
    for rows in (
        [("doc://1", t0, None, f"{base} tail1 x1 y1 z1", "en")],
        [("doc://900", t0 + dt.timedelta(minutes=11), None,
          f"{base} tail1 x1 y1 q900", "en")],
    ):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(in2)
        _await(stream_near_dup(spark, in2, out2, ck2,
                               max_files_per_trigger=1))
    got2 = {r.doc_id: r.dup for r in
            spark.read.parquet(out2).groupBy("doc_id")
            .agg(F.max(F.col("dup_in_band").cast("int")).cast("boolean")
                 .alias("dup")).collect()}
    assert got2[900] is True


def test_streaming_hh_matches_batch(spark, tmp_path):
    """Stream≡batch identity for the MG frequency sketch: three
    micro-batches of token-disjoint heavy/tail mixes; the final
    max-version sketch per group + exact recount must equal the batch
    heavy_hitters frame, and every group's summary stays bounded at
    capacity through the cross-batch merges."""
    from pyspark.sql import functions as F
    from webextract import corpus
    from webextract.streaming import stream_heavy_hitters

    in_dir = str(tmp_path / "hh_in")
    out = str(tmp_path / "hh_out")
    ckpt = str(tmp_path / "hh_ckpt")
    rows = []
    for i in range(150):
        head = ["alpha"] * 6 + ["beta"] * 4 + ["gamma"] * 2 + ["eps"]
        tail = [f"u{i}x{j}" for j in range(6)]
        rows.append((i, " ".join(head + tail)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pages = docs_to_pages(docs.withColumn("lang", F.lit("en")))
    pages_id = pages.withColumn(
        "doc_id", F.substring("url", 7, 20).cast("bigint"))
    for lo, hi in ((50, 100), (0, 50), (100, 100000)):
        (pages_id.filter(f"doc_id >= {lo} and doc_id < {hi}")
         .drop("doc_id").coalesce(1)
         .write.mode("append").parquet(in_dir))
        q = stream_heavy_hitters(spark, in_dir, out, ckpt,
                                 max_files_per_trigger=1,
                                 groups=8, capacity=16)
        q.awaitTermination()

    sk = spark.read.parquet(out)
    # bounded state: every (grp, ver) snapshot is <= capacity rows
    snap = sk.groupBy("grp", "ver").count().collect()
    assert max(r["count"] for r in snap) <= 16
    live = (sk.join(sk.groupBy("grp").agg(F.max("ver").alias("ver")),
                    ["grp", "ver"]).select("token").distinct())
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    total = toks.count()
    got = {(r["token"], r["freq"]) for r in
           (toks.join(F.broadcast(live), "token")
            .groupBy("token").agg(F.count("*").alias("freq"))
            .filter(F.col("freq") * 10 >= F.lit(total))).collect()}
    want = {(r["token"], r["freq"]) for r in
            corpus.heavy_hitters(docs, capacity=16,
                                 min_share_den=10).collect()}
    assert got == want
    assert {t for t, _ in got} == {"alpha", "beta", "gamma"}


def test_streaming_hll_matches_batch(spark, tmp_path):
    """Stream≡batch identity for the HLL cardinality sketch: three
    unordered micro-batches; the sink's max-per-register live table
    must EQUAL the batch register table exactly (monotone max needs no
    version column), and replaying the whole input into the same sink
    must not change it (idempotence under at-least-once)."""
    from pyspark.sql import functions as F
    from webextract import corpus
    from webextract.streaming import stream_hll_registers

    in_dir = str(tmp_path / "hll_in")
    out = str(tmp_path / "hll_out")
    ckpt = str(tmp_path / "hll_ckpt")
    rows = [(i, " ".join(f"w{i % 40}x{j}" for j in range(8)),
             "en" if i % 3 else "de") for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string")
    pages = docs_to_pages(docs)
    pages_id = pages.withColumn(
        "doc_id", F.substring("url", 7, 20).cast("bigint"))
    for lo, hi in ((40, 80), (0, 40), (80, 100000)):
        (pages_id.filter(f"doc_id >= {lo} and doc_id < {hi}")
         .drop("doc_id").coalesce(1)
         .write.mode("append").parquet(in_dir))
        q = stream_hll_registers(spark, in_dir, out, ckpt,
                                 max_files_per_trigger=1)
        q.awaitTermination()

    sink = spark.read.parquet(out)
    live = sink.groupBy("lang", "idx").agg(F.max("m_j").alias("m_j"))
    batch = corpus.hll_registers(
        docs.select(F.col("lang").alias("source"), "text")).select(
        F.col("source").alias("lang"), "idx", "m_j")
    assert sorted(map(tuple, live.collect())) == \
        sorted(map(tuple, batch.collect()))

    # replay the full input through a FRESH checkpoint into the SAME
    # sink: max-merge must leave the live registers unchanged
    q = stream_hll_registers(spark, in_dir, out,
                             str(tmp_path / "hll_ckpt2"),
                             max_files_per_trigger=1)
    q.awaitTermination()
    live2 = (spark.read.parquet(out)
             .groupBy("lang", "idx").agg(F.max("m_j").alias("m_j")))
    assert sorted(map(tuple, live2.collect())) == \
        sorted(map(tuple, batch.collect()))


def test_streaming_bloom_matches_batch(spark, tmp_path):
    """Stream≡batch identity for the Bloom seen-set: three unordered
    micro-batches of urls OR into per-word state; the sink's bit_or
    live bitmap must EQUAL corpus.bloom_build of the same urls, and a
    full replay through a fresh checkpoint into the same sink must
    change nothing (monotone bits — at-least-once is enough)."""
    from pyspark.sql import functions as F
    from webextract import corpus
    from webextract.streaming import stream_bloom_words

    in_dir = str(tmp_path / "bl_in")
    out = str(tmp_path / "bl_out")
    ckpt = str(tmp_path / "bl_ckpt")
    urls = spark.createDataFrame(
        [(i, f"http://h{i % 7}.example.com/p/{i}") for i in range(90)],
        "doc_id long, url string")
    stream_rows = urls.select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        "doc_id")
    for lo, hi in ((30, 60), (0, 30), (60, 100000)):
        (stream_rows.filter(f"doc_id >= {lo} and doc_id < {hi}")
         .drop("doc_id").coalesce(1)
         .write.mode("append").parquet(in_dir))
        q = stream_bloom_words(spark, in_dir, out, ckpt,
                               max_files_per_trigger=1)
        q.awaitTermination()

    live = (spark.read.parquet(out)
            .groupBy("word_idx").agg(F.expr("bit_or(bits)").alias("bits")))
    batch = corpus.bloom_build(urls)
    assert sorted(map(tuple, live.collect())) == \
        sorted(map(tuple, batch.collect()))

    q = stream_bloom_words(spark, in_dir, out,
                           str(tmp_path / "bl_ckpt2"),
                           max_files_per_trigger=1)
    q.awaitTermination()
    live2 = (spark.read.parquet(out)
             .groupBy("word_idx").agg(F.expr("bit_or(bits)").alias("bits")))
    assert sorted(map(tuple, live2.collect())) == \
        sorted(map(tuple, batch.collect()))


def test_streaming_len_histogram_matches_batch(spark, tmp_path):
    """Stream≡batch identity for the quantile sketch: three unordered
    micro-batches; the sink's max-per-bucket live histogram must EQUAL
    the batch log2 histogram exactly (running counts are monotone —
    no version column), and replaying the whole input through a FRESH
    checkpoint into the same sink must leave it unchanged (a replay
    recounts from zero to the same totals, so max-merge is a no-op)."""
    from pyspark.sql import functions as F
    from webextract.streaming import stream_len_histogram

    in_dir = str(tmp_path / "lh_in")
    out = str(tmp_path / "lh_out")
    rows = [(i, "x" * (2 ** (3 + i % 5) + i % 3), "en")
            for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string")
    pages = docs_to_pages(docs)
    pages_id = pages.withColumn(
        "doc_id", F.substring("url", 7, 20).cast("bigint"))
    for lo, hi in ((40, 80), (0, 40), (80, 100000)):
        (pages_id.filter(f"doc_id >= {lo} and doc_id < {hi}")
         .drop("doc_id").coalesce(1)
         .write.mode("append").parquet(in_dir))
        q = stream_len_histogram(spark, in_dir, out,
                                 str(tmp_path / "lh_ckpt"),
                                 max_files_per_trigger=1)
        q.awaitTermination()

    live = (spark.read.parquet(out)
            .groupBy("bucket").agg(F.max("cnt").alias("cnt")))
    batch = (docs.filter(F.length("text") > 0)
             .select(F.floor(F.log2(F.length("text").cast("double")))
                     .cast("long").alias("bucket"))
             .groupBy("bucket").agg(F.count("*").alias("cnt")))
    assert sorted(map(tuple, live.collect())) == \
        sorted(map(tuple, batch.collect()))

    q = stream_len_histogram(spark, in_dir, out,
                             str(tmp_path / "lh_ckpt2"),
                             max_files_per_trigger=1)
    q.awaitTermination()
    live2 = (spark.read.parquet(out)
             .groupBy("bucket").agg(F.max("cnt").alias("cnt")))
    assert sorted(map(tuple, live2.collect())) == \
        sorted(map(tuple, batch.collect()))


def test_stream_sessions_matches_batch(spark, tmp_path):
    """Built-in session_window sessionization: the streaming run's
    finalized sessions must equal the batch evaluation of the SAME
    expression (minus the flush sentinels, which by construction stay
    in state and never reach the sink), and the gap-merge boundary is
    CLOSED: two events exactly `gap` apart merge (diff > gap breaks —
    the same rule as the batch events_sessions gate)."""
    import datetime

    from pyspark.sql import functions as F
    from webextract.streaming import session_aggregates, stream_sessions

    base = datetime.datetime(2024, 1, 1)

    def ev(eid, secs, uid):
        return (eid, base + datetime.timedelta(seconds=secs), uid)

    rows = [
        ev(1, 0, 1), ev(2, 10, 1),          # one session (gap 30s)
        ev(3, 45, 1),                        # 35s later -> new session
        ev(4, 75, 1),                        # exactly 30s -> MERGES
        ev(5, 0, 2), ev(6, 29, 2),           # 29s -> same session
        ev(7, 60, 2),                        # 31s -> new session
    ]
    sentinel_ts = base + datetime.timedelta(days=2)
    rows += [(-2, sentinel_ts, 1), (-3, sentinel_ts, 2)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    in_dir = str(tmp_path / "in")
    df.coalesce(1).write.parquet(in_dir)

    q = stream_sessions(spark, in_dir, str(tmp_path / "out"),
                        str(tmp_path / "ckpt"), gap="30 seconds")
    q.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(str(tmp_path / "out"))
                     .select("user_id", "sess_start", "n_events")
                     .collect()))

    # batch evaluation of the same expression, sentinels dropped
    batch = (session_aggregates(df, gap="30 seconds")
             .filter(F.col("sess_start") < F.lit(sentinel_ts))
             .select("user_id", "sess_start", "n_events"))
    want = sorted(map(tuple, batch.collect()))
    assert got == want
    # boundary semantics: user 1 = {0,10} and {45,75} (the exactly-30s
    # pair MERGED); user 2 = {0,29} and {60} (31s broke)
    per_user = {}
    for uid, _, n in got:
        per_user.setdefault(uid, []).append(n)
    assert sorted(per_user[1]) == [2, 2]
    assert sorted(per_user[2]) == [1, 2]
    # the sentinels never reached the sink
    assert all(s < sentinel_ts for _, s, _ in got)


def test_stream_join_matches_batch(spark, tmp_path):
    """r5 stream-stream interval join: the REAL two-stream availableNow
    run's sink must equal the batch evaluation of the same join — and
    the horizon boundary is closed (a view exactly 10 minutes after
    the click matches; 10 minutes + 1 microsecond does not)."""
    import datetime

    from webextract.streaming import attribution_join, stream_attribution

    base = datetime.datetime(2024, 3, 1)

    def ev(eid, secs_us, uid, etype):
        return (eid, base + datetime.timedelta(microseconds=int(secs_us * 1e6)),
                uid, etype)

    clicks = [ev(1, 0, 1, "click"), ev(2, 1000, 1, "click"),
              ev(3, 50, 2, "click")]
    views = [ev(10, 30, 1, "view"),            # matches click 1
             ev(11, 600, 1, "view"),           # exactly 10 min: matches 1
             ev(12, 600.000001, 2, "view"),    # hmm relative to click 3
             ev(13, 40, 2, "view"),            # before click 3? no: 40 < 50
             ev(14, 650.000001, 2, "view"),    # 600.000001s after click 3
             ev(15, 1200, 1, "view")]          # matches click 2 only
    ddl = "event_id long, ts timestamp, user_id long, event_type string"
    cdf = spark.createDataFrame(clicks, ddl)
    vdf = spark.createDataFrame(views, ddl)
    cdir, vdir = str(tmp_path / "c"), str(tmp_path / "v")
    cdf.coalesce(1).write.parquet(cdir)
    vdf.coalesce(1).write.parquet(vdir)

    q = stream_attribution(spark, cdir, vdir, str(tmp_path / "out"),
                           str(tmp_path / "ckpt"))
    q.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(str(tmp_path / "out"))
                     .select("click_id", "view_id", "lag_sec").collect()))
    batch = sorted(map(tuple, attribution_join(cdf, vdf)
                       .select("click_id", "view_id", "lag_sec")
                       .collect()))
    assert got == batch
    pairs = {(c, v) for c, v, _ in got}
    assert (1, 11) in pairs            # closed 10-minute boundary
    assert (3, 14) not in pairs        # 1 microsecond past the horizon
    assert (3, 13) not in pairs        # view before the click
    assert (2, 15) in pairs and (1, 15) not in pairs


def test_streaming_kmv_matches_batch(spark, tmp_path):
    """Stream≡batch identity for the KMV/theta sketch: three unordered
    micro-batches fold into per-lang k-min array state; the sink's
    merged live sketch (flatten → distinct → sort → slice-k) must
    EQUAL corpus.kmv_sketches of the same docs, and a full replay
    through a fresh checkpoint into the same sink must change nothing
    (k-min merge is monotone — at-least-once is enough)."""
    from pyspark.sql import functions as F
    from webextract import corpus
    from webextract.streaming import stream_kmv_sketches

    k = corpus.KMV_K
    in_dir = str(tmp_path / "kmv_in")
    out = str(tmp_path / "kmv_out")
    rows = [(i, " ".join(f"t{i}b{j}" for j in range(8)),
             "en" if i % 3 else "de") for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string")
    pages = docs_to_pages(docs)
    pages_id = pages.withColumn(
        "doc_id", F.substring("url", 7, 20).cast("bigint"))
    for lo, hi in ((40, 80), (0, 40), (80, 100000)):
        (pages_id.filter(f"doc_id >= {lo} and doc_id < {hi}")
         .drop("doc_id").coalesce(1)
         .write.mode("append").parquet(in_dir))
        q = stream_kmv_sketches(spark, in_dir, out,
                                str(tmp_path / "kmv_ckpt"),
                                max_files_per_trigger=1)
        q.awaitTermination()

    def merged(df):
        return {r["lang"]: list(r["hs"]) for r in
                df.groupBy("lang").agg(F.slice(F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("hs")))),
                    1, k).alias("hs")).collect()}

    live = merged(spark.read.parquet(out))
    batch = {r["grp"]: list(r["hs"]) for r in
             corpus.kmv_sketches(docs).collect()}
    assert live == batch

    # full replay into the SAME sink through a fresh checkpoint:
    # k-min merge must leave the live sketch unchanged
    q = stream_kmv_sketches(spark, in_dir, out,
                            str(tmp_path / "kmv_ckpt2"),
                            max_files_per_trigger=1)
    q.awaitTermination()
    assert merged(spark.read.parquet(out)) == batch
