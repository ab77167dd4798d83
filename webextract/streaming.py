"""Structured Streaming surface: continuous ingest of page files.

The reference is queue/batch-based (SURVEY.md §2.6 — no stream
processing), so batch is this engine's primary mode; this module is the
continuous-ingest variant for a crawler that keeps appending page files
to the input table.  Per the design note in SURVEY.md §2.6 it reuses
the IDENTICAL batch stages via foreachBatch — zero operator changes:
each micro-batch flows through extracted_df() (same tiering, same
Arrow kernel, same byte-identity contract).

Exactly-once: the checkpoint directory tracks consumed input files;
foreachBatch output is idempotent per epoch_id (epoch subdirectory +
overwrite), the standard Structured Streaming sink recipe.

Also provides the classic streaming-analytics shape: watermarked
tumbling-window counts over warc_ts (late data beyond the watermark is
dropped).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .options import ConvertOptions, DEFAULT_OPTIONS
from .pipeline import extracted_df

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def pages_stream(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int = 64) -> DataFrame:
    """File-source stream over the pages directory (new parquet files =
    new crawl output).  maxFilesPerTrigger bounds micro-batch size the
    way the reference bounds its queue (queue_max_size, settings.py:78)."""
    return (spark.readStream
            .schema(StructType.fromDDL(PAGES_DDL))
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_dir))


def stream_extract(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str,
                   opt: ConvertOptions = DEFAULT_OPTIONS,
                   cpus: int = 8):
    """readStream → foreachBatch(batch extraction) → parquet epochs.

    Returns the started StreamingQuery (availableNow trigger: drains all
    pending files, then stops — the batch-job-over-a-stream shape).
    Rerunning after a crash resumes from the checkpoint: consumed files
    are never reprocessed, and an epoch directory that was half-written
    is overwritten idempotently.
    """

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        out = extracted_df(batch_df, opt, cpus=cpus)
        (out.write.mode("overwrite")
         .parquet(os.path.join(output_dir, f"epoch={epoch_id}")))

    return (pages_stream(spark, input_dir)
            .writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def stream_extract_to_icetable(spark: SparkSession, input_dir: str,
                               table_root: str, checkpoint_dir: str,
                               opt: ConvertOptions = DEFAULT_OPTIONS,
                               cpus: int = 8, partitions: int = 16):
    """Continuous ingest committing each micro-batch as an ATOMIC
    IceTable snapshot with full lineage counters — the streaming twin
    of run_extract's wave commit (shared commit_stage helper).

    Exactly-once end to end: the streaming checkpoint tracks consumed
    source files, and each epoch commits under run_id
    ``stream-<checkpoint-hash>-<epoch>`` — a redelivered epoch after a
    crash-restart finds its run_id already committed and becomes a
    no-op, so rows are never double-committed, while a DIFFERENT query
    (fresh checkpoint) into the same table gets non-colliding run_ids.  Contract note: unlike a batch
    table, a stream table legitimately recommits the same part_id
    across epochs (new data for that url-hash range), so
    ``committed_parts()`` batch-resume semantics do not apply to it —
    read it via the manifests like any other IceTable."""
    import glob as _glob
    import time as _time

    from .icetable import IceTable
    from .pipeline import commit_stage, with_part_id
    from .udfs import new_tally, part_counters

    table = IceTable(table_root)
    # run_id = stream-<checkpoint-tag>-<epoch>: the tag scopes
    # idempotence to THIS query's delivery log.  The tag is a uuid
    # SENTINEL STORED INSIDE the checkpoint dir, not a hash of its
    # path (round-3 review): deleting/recreating the checkpoint at the
    # same path restarts epochs at 0, and a path-hash tag would
    # collide with the old run_ids — every new micro-batch silently
    # dropped while the source marked its files consumed.  The
    # sentinel dies with the checkpoint, so a reset gets fresh
    # run_ids; a RESUMED checkpoint keeps it, preserving redelivery
    # idempotence.
    os.makedirs(checkpoint_dir, exist_ok=True)
    tagf = os.path.join(checkpoint_dir, "webextract-query-tag")
    if not os.path.exists(tagf):
        import uuid as _uuid
        tmp = f"{tagf}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            f.write(_uuid.uuid4().hex[:12])
        os.replace(tmp, tagf)
    with open(tagf) as f:
        qtag = f.read().strip()
    # committed run_ids loaded ONCE per query start (not per epoch —
    # walking the whole snapshot chain per batch is O(chain) JSON reads
    # and a stream table's chain grows forever); redelivery only occurs
    # after a restart, which rebuilds this set.
    seen = {s["run_id"] for s in table.snapshots()}

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        run_id = f"stream-{qtag}-{epoch_id:08d}"
        if run_id in seen:
            return          # redelivered epoch: already committed
        if batch_df.isEmpty():
            return          # zero-row batch: nothing to stage/commit
        t0 = _time.time()
        tally = new_tally(spark.sparkContext)
        out = extracted_df(with_part_id(batch_df, partitions), opt,
                           cpus=cpus, tally=tally)
        stage = table.staging_dir(run_id, 0)
        (out.repartition(max(1, partitions // 4), F.col("part_id"))
         .write.mode("overwrite").partitionBy("part_id").parquet(stage))
        present = sorted(
            int(d.rsplit("=", 1)[1])
            for d in _glob.glob(os.path.join(_glob.escape(stage),
                                             "part_id=*")))
        commit_stage(spark, table, run_id, stage, present, opt,
                     int((_time.time() - t0) * 1000),
                     part_counters(tally.value), partitions)
        seen.add(run_id)

    return (pages_stream(spark, input_dir)
            .writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def windowed_lang_counts(pages: DataFrame, window: str = "1 minute",
                         watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregation over crawl time: pages
    and bytes per (window, lang); rows later than the watermark are
    dropped (late-data policy).  Works on both the stream (append mode)
    and the equivalent batch frame (tests cross-check the two)."""
    return (pages
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("win"), "lang")
            .agg(F.count("*").alias("n_pages"),
                 F.sum(F.length("html")).alias("bytes_in"))
            .select(F.col("win.start").alias("win_start"), "lang",
                    "n_pages", "bytes_in"))


def stream_lang_counts(spark: SparkSession, input_dir: str,
                       checkpoint_dir: str, queryName: str = "lang_counts"):
    """Streaming variant of the windowed aggregation → in-memory sink
    (append mode: a window emits once its watermark passes)."""
    return (windowed_lang_counts(pages_stream(spark, input_dir))
            .writeStream
            .queryName(queryName)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .format("memory")
            .start())


SESSION_GAP = "30 minutes"
EVENTS_DDL = "event_id long, ts timestamp, user_id long"


def session_aggregates(events: DataFrame,
                       gap: str = SESSION_GAP) -> DataFrame:
    """Gap-merge sessionization via Spark's BUILT-IN session_window —
    the idiomatic streaming shape (no custom state code): events of one
    user whose gaps stay under ``gap`` merge into one session window;
    state is per-open-session and evicted once the watermark passes a
    session's end.  The same expression runs batch-side (watermark is a
    no-op there), which is how the tests pin stream ≡ batch.

    Boundary semantics (pinned empirically by
    test_stream_sessions_matches_batch): session_window MERGES an
    event landing exactly ``gap`` after the previous one (closed
    boundary) — the break condition is diff > gap, the identical rule
    the batch events_sessions gate uses, so the streaming gate shares
    that gate's oracle."""
    return (events
            .withWatermark("ts", "0 seconds")
            .groupBy("user_id",
                     F.session_window("ts", gap).alias("sess"))
            .agg(F.count("*").cast("long").alias("n_events"))
            .select("user_id", F.col("sess.start").alias("sess_start"),
                    F.col("sess.end").alias("sess_end"), "n_events"))


def stream_sessions(spark: SparkSession, input_dir: str, output_dir: str,
                    checkpoint_dir: str, gap: str = SESSION_GAP):
    """readStream → session_window aggregation → parquet append sink.

    Append mode emits a session only when the watermark passes its END
    (= last event + gap), so a finite availableNow run must carry one
    flush sentinel per user AT ONE SHARED far-future timestamp T: the
    sentinels advance the watermark to T, past every real session's
    end (Spark's no-data batch then finalizes them), while every
    sentinel session (end = T + gap > watermark T) stays in state and
    never reaches the sink.  Per-user DIFFERING sentinel times would
    break that: the global watermark, driven by the latest sentinel,
    would flush every earlier user's sentinel into the sink.  The
    caller's input writer adds them; nothing here filters."""
    ev = (spark.readStream
          .schema(StructType.fromDDL(EVENTS_DDL))
          .option("maxFilesPerTrigger", "64")
          .parquet(input_dir))
    return (session_aggregates(ev, gap)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", output_dir)
            .start())


# ---------------------------------------------------------------------------
# custom stateful operator: cross-batch streaming dedup
# ---------------------------------------------------------------------------

DEDUP_OUT_DDL = "url string, content_sha string, lang string"
DEDUP_STATE_DDL = "seen int"


def first_seen_only(pages: DataFrame) -> DataFrame:
    """Stateful streaming exact-dedup: emit each content hash the FIRST
    time it is seen across ALL micro-batches (a crawler re-fetching the
    same page later in the stream is dropped).

    Custom stateful operator via ``applyInPandasWithState`` (the
    brief's UDF-backed stateful-streaming shape): state is one int per
    content-hash group, persisted in the checkpoint's state store, so
    dedup survives restarts exactly-once.  Keyed by sha2(text) — the
    state shuffle moves (url, sha, lang) rows only, never html
    payloads.

    The surviving representative for a new hash is DETERMINISTIC: the
    min(url) row within the micro-batch that first contains the hash
    (arrival/partition order would make replays of the same input emit
    different urls — round-1 advice)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def emit_first(key, pdfs, state):
        new = 0 if state.exists else 1
        best = None
        for pdf in pdfs:  # iterator must be fully drained either way
            if new and len(pdf):
                # sort_values, not idxmin: idxmin on an object column
                # with a NULL url raises TypeError and kills the query
                # (round-3 review); na_position='last' keeps the min
                # non-null url as survivor, all-null groups keep a row
                cand = pdf.sort_values("url", na_position="last") \
                    .iloc[[0]][["url", "content_sha", "lang"]]
                cu, bu = cand["url"].iloc[0], \
                    (best["url"].iloc[0] if best is not None else None)
                if best is None or (cu is not None
                                    and (bu is None or cu < bu)):
                    best = cand
        if new:
            state.update((1,))
            if best is not None:
                yield best
        # duplicates (state existed) emit nothing

    keyed = pages.select(
        "url", "lang",
        # coalesce: null-text pages hash as empty-content duplicates
        # (one survivor) instead of collapsing under a NULL group key
        F.sha2(F.coalesce(F.col("text"), F.lit("")).cast("binary"),
               256).alias("content_sha"))
    return (keyed.groupBy("content_sha")
            .applyInPandasWithState(emit_first, DEDUP_OUT_DDL,
                                    DEDUP_STATE_DDL, "append",
                                    GroupStateTimeout.NoTimeout))


def stream_dedup(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str):
    """readStream → stateful first-seen dedup → parquet append sink."""
    return (first_seen_only(pages_stream(spark, input_dir))
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", output_dir)
            .start())


# ---------------------------------------------------------------------------
# custom stateful operator: streaming MinHash NEAR-dup detection
# ---------------------------------------------------------------------------

NEARDUP_OUT_DDL = "doc_id bigint, band int, band_key string, dup_in_band boolean"
NEARDUP_STATE_DDL = "min_doc bigint"


def near_dup_flags(pages: DataFrame, ttl_seconds: int | None = None,
                   watermark: str = "10 seconds") -> DataFrame:
    """Stateful streaming NEAR-dup detection (round-3 verdict item 8):
    the corpus family's flagship capability on the streaming surface.

    Pipeline: MinHash signatures + LSH band keys are computed JVM-side
    by the SAME zero-shuffle expressions as the batch operator
    (corpus.lsh_band_keys — stream and batch share one hash family by
    construction), then ``applyInPandasWithState`` keyed by
    (band, band_key) keeps ONE bigint of state per LSH bucket: the
    minimum doc_id ever seen in that bucket across ALL micro-batches.
    Each row emits (doc_id, band, band_key, dup_in_band) where
    dup_in_band = a smaller doc_id was already seen in this bucket.
    When a SMALLER doc_id arrives after a larger one (out-of-order
    streams — round-4 review), the operator emits a retroactive
    correction row flagging the dethroned bucket minimum, so the
    doc-level aggregation max(dup_in_band) over the append sink equals
    the order-independent batch truth (doc ≠ global bucket min)
    REGARDLESS of arrival order.  Doc-level near-dup = ANY band
    flagged; aggregate bands with count(DISTINCT band) — correction
    rows duplicate (doc, band).

    Scale shape: the state shuffle moves 4 band rows of ~40 bytes per
    doc (never text or signatures); per-bucket state is ONE bigint.
    With ``ttl_seconds=None`` state is kept forever — a 10^12-doc
    stream holds |distinct buckets| longs in the state store (the same
    band-key cardinality the batch shuffle pays).  With a TTL, a
    bucket FORGETS its minimum once event time advances ttl past its
    last arrival (EventTimeTimeout against the ``watermark``): the
    sliding dedup horizon that bounds state for an infinite crawl —
    dup flags become "near-dup of anything seen within the horizon",
    the standard production tradeoff."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .corpus import lsh_band_keys

    carry = ("warc_ts",) if ttl_seconds is not None else ()
    src = (pages.withWatermark("warc_ts", watermark)
           if ttl_seconds is not None else pages)
    # adapter convention: urls are 'doc://<id>'.  try_cast, not cast —
    # under default ANSI mode a single foreign url would otherwise
    # ABORT the whole streaming query; non-conforming rows are dropped
    # instead (the caller owns id assignment upstream)
    docs = (src.select(
        F.substring("url", 7, 20).try_cast("bigint").alias("doc_id"),
        *([F.col("warc_ts")] if carry else []),
        F.coalesce(F.col("text"), F.lit("")).alias("text"))
        .filter(F.col("doc_id").isNotNull()))
    bk = lsh_band_keys(docs, carry_cols=carry)

    def emit(key, pdfs, state):
        if ttl_seconds is not None and state.hasTimedOut:
            state.remove()        # horizon passed: bucket forgets
            return
        ids: list[int] = []
        max_ts_ms = None
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf["doc_id"])
            if ttl_seconds is not None and len(pdf):
                m = pdf["warc_ts"].max()
                ms = int(m.timestamp() * 1000)
                max_ts_ms = ms if max_ts_ms is None else max(max_ts_ms, ms)
        if not ids:
            return
        if ttl_seconds is not None and max_ts_ms is not None:
            state.setTimeoutTimestamp(max_ts_ms + ttl_seconds * 1000)
        seen_min = state.get[0] if state.exists else None
        ids.sort()
        out_ids: list[int] = []
        flags: list[bool] = []
        for d in ids:
            if seen_min is None:
                out_ids.append(d)
                flags.append(False)
                seen_min = d
            elif d > seen_min:
                out_ids.append(d)
                flags.append(True)
            elif d == seen_min:          # re-delivery: not its own dup
                out_ids.append(d)
                flags.append(False)
            else:                        # d < seen_min: new champion —
                out_ids.append(seen_min)  # retro-flag the old minimum
                flags.append(True)
                out_ids.append(d)
                flags.append(False)
                seen_min = d
        state.update((int(seen_min),))
        import pandas as pd_
        yield pd_.DataFrame({"doc_id": out_ids,
                             "band": [int(key[0])] * len(out_ids),
                             "band_key": [key[1]] * len(out_ids),
                             "dup_in_band": flags})

    timeout = (GroupStateTimeout.EventTimeTimeout
               if ttl_seconds is not None else GroupStateTimeout.NoTimeout)
    # warc_ts stays on the grouped rows: EventTimeTimeout needs the
    # watermark column to survive to the stateful operator
    return (bk.groupBy("band", "band_key")
            .applyInPandasWithState(emit, NEARDUP_OUT_DDL,
                                    NEARDUP_STATE_DDL, "append", timeout))


def stream_near_dup(spark: SparkSession, input_dir: str, output_dir: str,
                    checkpoint_dir: str, max_files_per_trigger: int = 64,
                    ttl_seconds: int | None = None):
    """readStream → stateful MinHash near-dup flags → parquet append
    sink (availableNow).  ``max_files_per_trigger=1`` makes each input
    file its own micro-batch — the cross-batch state exercise the
    identity test uses; ``ttl_seconds`` bounds state via the
    event-time dedup horizon."""
    return (near_dup_flags(
                pages_stream(spark, input_dir, max_files_per_trigger),
                ttl_seconds=ttl_seconds)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", output_dir)
            .start())


# ---------------------------------------------------------------------------
# stateful streaming heavy hitters (Misra-Gries sketch per hash group)
# ---------------------------------------------------------------------------

HH_OUT_DDL = "grp int, ver int, token string, cnt bigint"
HH_STATE_DDL = "toks array<string>, cnts array<bigint>, ver int"


def heavy_hitter_summaries(pages: DataFrame, groups: int = 64,
                           capacity: int = 64) -> DataFrame:
    """Stateful streaming Misra-Gries heavy hitters — the frequency
    sketch on the streaming surface (batch twin: corpus.mg_candidates
    + corpus.heavy_hitters).

    Tokens route to ``groups`` hash groups by the engine-portable
    md5-mod family (ALL occurrences of a token land in ONE group);
    each group's state is a single bounded MG summary (at most
    ``capacity`` (token, count) pairs plus a version counter).  Per
    micro-batch a group folds its new tokens in (vectorized
    value_counts, MG merge-compress) and emits the UPDATED summary
    tagged with the incremented version — the append sink is a log
    whose max-version rows per group are the live sketch.

    Guarantee carried across batches (mergeable summaries, same bound
    as the batch kernel): a token absent from its group's final
    summary has true in-group frequency <= n_grp/(capacity+1) — and a
    token's group sees ALL its occurrences, so any token with corpus
    share >= 1/min_share_den survives whenever capacity >=
    min_share_den.  Exact-recount verification downstream is the batch
    operator's phase 2, unchanged.

    Scale shape: the state shuffle moves (grp, token) occurrence rows
    (never documents or text blobs); state is bounded at
    groups x capacity entries TOTAL for an infinite stream — this is
    the operator that watches token drift on a crawl without ever
    growing state."""

    def emit(key, pdfs, state):
        import pandas as pd_
        if state.exists:
            toks, cnts, ver = state.get
            counts = {t: int(c) for t, c in zip(toks, cnts)}
        else:
            counts, ver = {}, 0
        n_new = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            vc = pdf["token"].value_counts()
            n_new += int(vc.sum())
            for t, c in vc.items():
                counts[t] = counts.get(t, 0) + int(c)
            if len(counts) > capacity:
                kth = sorted(counts.values(), reverse=True)[capacity]
                counts = {t: c - kth for t, c in counts.items()
                          if c > kth}
        if not n_new:
            return
        ver += 1
        state.update((list(counts.keys()),
                      [int(c) for c in counts.values()], int(ver)))
        if counts:
            yield pd_.DataFrame({
                "grp": [int(key[0])] * len(counts),
                "ver": [int(ver)] * len(counts),
                "token": list(counts.keys()),
                "cnt": [int(c) for c in counts.values()]})

    grp = (F.conv(F.substring(
        F.md5(F.concat(F.lit("hhg:"), F.col("token"))), 1, 8), 16, 10)
        .cast("long") % groups).cast("int")
    toks = (pages.select(F.explode(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .alias("token"))
        .select(grp.alias("grp"), "token"))
    from pyspark.sql.streaming.state import GroupStateTimeout
    return toks.groupBy("grp").applyInPandasWithState(
        emit, HH_OUT_DDL, HH_STATE_DDL, "append",
        GroupStateTimeout.NoTimeout)


def stream_heavy_hitters(spark: SparkSession, input_dir: str,
                         output_dir: str, checkpoint_dir: str,
                         max_files_per_trigger: int = 64,
                         groups: int = 64, capacity: int = 64):
    """readStream → per-group MG summaries → parquet append sink
    (availableNow).  max_files_per_trigger=1 makes each file its own
    micro-batch — the cross-batch merge path the identity test pins."""
    return (heavy_hitter_summaries(
                pages_stream(spark, input_dir, max_files_per_trigger),
                groups=groups, capacity=capacity)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", output_dir)
            .start())


HLLS_OUT_DDL = "lang string, idx int, m_j int"
HLLS_STATE_DDL = "m_j int"


def hll_register_stream(pages: DataFrame, p_bits: int = 8,
                        salt: str = "hll1") -> DataFrame:
    """Stateful streaming HyperLogLog registers — the cardinality
    sketch on the streaming surface (batch twin: corpus.hll_registers
    + corpus.hll_estimate): per-language distinct-token tracking over
    an unbounded crawl with langs x 2^p ints of state, TOTAL, forever.

    Each (lang, register-idx) group holds ONE int (its max rho); a
    micro-batch folds its rows in with a vectorized max and emits the
    register only when it GREW.  Because registers are monotone under
    max, the append sink needs no version column: the live register
    table is max(m_j) per key over the sink — idempotent under batch
    replays (exactly-once not even required), and the same
    union-and-max that merges batch register tables merges the sink
    into them (mergeable summaries end to end).

    The rho computation (md5 -> first-byte index, 57 - bit_length of
    the 56-bit suffix) happens BEFORE the state shuffle as narrow
    engine expressions, so the exchange moves (lang, idx, rho) triples
    — never text."""
    from webextract.corpus import hll_idx_rho
    tok = pages.select(
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .alias("token"))
    # the shared recipe (corpus.hll_idx_rho) is what makes the
    # union-and-max merge with batch register tables bit-exact; batch
    # hll_registers coalesces ITS group key the same way, so null
    # langs land in the '' register set on both surfaces
    idx, rho = hll_idx_rho(F.col("token"), p_bits, salt)
    rows = tok.select("lang", idx.alias("idx"), rho.alias("rho"))

    def emit(key, pdfs, state):
        import pandas as pd_
        cur = int(state.get[0]) if state.exists else 0
        mx = cur
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, int(pdf["rho"].max()))
        if mx > cur:
            state.update((int(mx),))
            yield pd_.DataFrame({"lang": [key[0]], "idx": [int(key[1])],
                                 "m_j": [int(mx)]})

    from pyspark.sql.streaming.state import GroupStateTimeout
    return rows.groupBy("lang", "idx").applyInPandasWithState(
        emit, HLLS_OUT_DDL, HLLS_STATE_DDL, "append",
        GroupStateTimeout.NoTimeout)


def stream_hll_registers(spark: SparkSession, input_dir: str,
                         output_dir: str, checkpoint_dir: str,
                         max_files_per_trigger: int = 64,
                         p_bits: int = 8):
    """readStream → stateful HLL registers → parquet append sink
    (availableNow)."""
    return (hll_register_stream(
                pages_stream(spark, input_dir, max_files_per_trigger),
                p_bits=p_bits)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", output_dir)
            .start())


BLOOMS_OUT_DDL = "word_idx int, bits long"
BLOOMS_STATE_DDL = "bits long"


def bloom_word_stream(pages: DataFrame,
                      m_bits: int | None = None,
                      k: int | None = None,
                      salt: str = "bl1") -> DataFrame:
    """Stateful streaming Bloom seen-set — the membership sketch on
    the streaming surface (batch twin: corpus.bloom_build/bloom_probe):
    the crawl frontier's have-we-fetched-this-url question answered
    continuously with m_bits/63 longs of state, TOTAL, forever.

    Each word_idx group holds ONE long (its 63-bit word); a
    micro-batch ORs its masks in and emits the word only when it
    CHANGED.  Like the HLL registers, words are monotone (bits only
    turn on), so the append sink is versionless: the live bitmap is
    bit_or per word over the sink — idempotent under replays, and the
    same word-wise bit_or that merges batch bitmaps folds the sink
    into them.  Bit positions come from corpus.bloom_position (the
    single recipe), computed as narrow engine expressions before the
    state shuffle — the exchange moves (word_idx, mask) longs, never
    urls."""
    from webextract import corpus
    m_bits = corpus.BLOOM_M_BITS if m_bits is None else m_bits
    k = corpus.BLOOM_K if k is None else k
    pos = [corpus.bloom_position(F.col("url"), i, m_bits, salt)
           for i in range(k)]
    words = (pages.select(F.explode(F.array(*pos)).alias("pos"))
             .select((F.col("pos") / 63).cast("int").alias("word_idx"),
                     F.expr("shiftleft(1L, cast(pos % 63 as int))")
                     .alias("mask")))

    def emit(key, pdfs, state):
        import numpy as np_
        import pandas as pd_
        cur = int(state.get[0]) if state.exists else 0
        new = cur
        for pdf in pdfs:
            if len(pdf):        # vectorized OR-fold, not per-row Python
                new |= int(np_.bitwise_or.reduce(pdf["mask"].to_numpy()))
        if new != cur:
            state.update((int(new),))
            yield pd_.DataFrame({"word_idx": [int(key[0])],
                                 "bits": [int(new)]})

    from pyspark.sql.streaming.state import GroupStateTimeout
    return words.groupBy("word_idx").applyInPandasWithState(
        emit, BLOOMS_OUT_DDL, BLOOMS_STATE_DDL, "append",
        GroupStateTimeout.NoTimeout)


def stream_bloom_words(spark: SparkSession, input_dir: str,
                       output_dir: str, checkpoint_dir: str,
                       max_files_per_trigger: int = 64):
    """readStream → stateful Bloom words → parquet append sink
    (availableNow)."""
    return (bloom_word_stream(
                pages_stream(spark, input_dir, max_files_per_trigger))
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", output_dir)
            .start())


HIST_OUT_DDL = "bucket long, cnt long"
HIST_STATE_DDL = "cnt long"


def len_histogram_stream(pages: DataFrame) -> DataFrame:
    """Stateful streaming log2 length histogram — the quantile sketch
    on the streaming surface (batch twin: corpus.len_quantiles /
    quantiles_from_histogram): one long of state per occupied bucket,
    ~60 groups TOTAL, forever.

    Each micro-batch folds its row count into the bucket's running
    total and emits the bucket only when it GREW.  Running counts are
    monotone, so the append sink needs no version column: the live
    histogram is max(cnt) per bucket over the sink — the same
    union-and-max recovery the HLL registers use — and the recovered
    (bucket, cnt) frame feeds quantiles_from_histogram directly
    (mergeable summaries end to end).

    The bucketing (floor(log2(length(text)))) happens BEFORE the
    state shuffle as a narrow engine expression, so the exchange
    moves single-long rows — never text."""
    rows = (pages.select(
                F.floor(F.log2(F.length(
                    F.coalesce(F.col("text"), F.lit("")))
                    .cast("double"))).cast("long").alias("bucket"))
            .filter(F.col("bucket").isNotNull()))

    def emit(key, pdfs, state):
        import pandas as pd_
        cur = int(state.get[0]) if state.exists else 0
        add = 0
        for pdf in pdfs:
            add += len(pdf)
        if add:
            cur += add
            state.update((int(cur),))
            yield pd_.DataFrame({"bucket": [int(key[0])],
                                 "cnt": [int(cur)]})

    from pyspark.sql.streaming.state import GroupStateTimeout
    return rows.groupBy("bucket").applyInPandasWithState(
        emit, HIST_OUT_DDL, HIST_STATE_DDL, "append",
        GroupStateTimeout.NoTimeout)


def stream_len_histogram(spark: SparkSession, input_dir: str,
                         output_dir: str, checkpoint_dir: str,
                         max_files_per_trigger: int = 64):
    """readStream → stateful log2 length histogram → parquet append
    sink (availableNow)."""
    return (len_histogram_stream(
                pages_stream(spark, input_dir, max_files_per_trigger))
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", output_dir)
            .start())


# ---------------------------------------------------------------------------
# stream-stream interval join (r5): click→view attribution — the
# canonical two-stream join with watermark-bounded state (Spark docs'
# ad-monetization shape).  Inner interval joins emit matches as they
# arrive; the watermark exists to EVICT join state, which is the whole
# 100-TB story: state is bounded by (watermark + horizon) of traffic
# per key, never by stream length.
# ---------------------------------------------------------------------------

ATTR_DDL = "event_id long, ts timestamp, user_id long, event_type string"


def attribution_join(clicks: DataFrame, views: DataFrame,
                     horizon: str = "10 minutes",
                     watermark: str = "20 minutes") -> DataFrame:
    """(user_id, click_id, view_id, lag_sec): each click joined to the
    same user's views within ``horizon`` after it — equality key +
    time-interval condition, the exact shape Structured Streaming
    requires for state cleanup on BOTH sides.  The same expression
    runs batch-side (watermarks are no-ops there), which is how the
    driver gate and the stream≡batch test share one oracle."""
    c = (clicks.withWatermark("ts", watermark)
         .select(F.col("event_id").alias("click_id"),
                 F.col("ts").alias("click_ts"), "user_id"))
    v = (views.withWatermark("ts", watermark)
         .select(F.col("event_id").alias("view_id"),
                 F.col("ts").alias("view_ts"),
                 F.col("user_id").alias("v_user")))
    cond = ((F.col("user_id") == F.col("v_user"))
            & (F.col("view_ts") >= F.col("click_ts"))
            & (F.col("view_ts")
               <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")))
    # NTZ sources can't cast straight to long (ANSI); the ltz hop is
    # a no-op for ltz inputs and session-UTC-exact for ntz ones
    sec = (lambda col: F.col(col).cast("timestamp_ltz").cast("long"))
    return (c.join(v, cond)
            .select("user_id", "click_id", "view_id",
                    (sec("view_ts") - sec("click_ts")).alias("lag_sec")))


def stream_attribution(spark: SparkSession, clicks_dir: str,
                       views_dir: str, output_dir: str,
                       checkpoint_dir: str,
                       horizon: str = "10 minutes"):
    """Two file-source streams → watermarked interval join → parquet
    sink, availableNow.  Inner-join rows emit on match (append mode
    needs no sentinel flush), so a finite run's sink equals the batch
    join over the same inputs."""
    schema = StructType.fromDDL(ATTR_DDL)
    clicks = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "64").parquet(clicks_dir))
    views = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "64").parquet(views_dir))
    return (attribution_join(clicks, views, horizon=horizon)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", output_dir)
            .start())


KMVS_OUT_DDL = "lang string, hs array<bigint>"
KMVS_STATE_DDL = "hs array<bigint>"


def kmv_stream(pages: DataFrame, k: int = 64,
               salt: str = "kmv1") -> DataFrame:
    """Stateful streaming KMV/theta sketch — the fifth mergeable
    sketch on the streaming surface (batch twin: corpus.kmv_sketches),
    and the only one whose merged form answers set-INTERSECTION
    questions (corpus.kmv_overlap) over an unbounded crawl.

    Shape mirrors the batch kernel exactly: a narrow mapInPandas fold
    reduces each micro-batch partition to its local distinct k-min
    (<= langs x k longs leave ANY partition — the token stream never
    enters the state exchange), then per-lang state holds ONE sorted
    k-min array that merges via union-keep-k-smallest and emits only
    when it changed.  k-min merge is monotone (merging a stale
    emission into a newer one is the newer one — the kmv_merge gate
    pins this cross-engine), so the append sink needs no version
    column and replays are harmless: the live sketch is the
    flatten -> distinct -> sort -> slice-k of all emitted rows."""
    from webextract.corpus import _kmv_hash
    tok = pages.select(
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .alias("token"))
    rows = tok.select("lang", _kmv_hash(F.col("token")).alias("h"))

    def kmin_fold(batches):
        import pandas as pd_
        sets: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby("lang")["h"]:
                s = sets.setdefault(g, set())
                s.update(int(v) for v in sub.unique())
                if len(s) > 8 * k:
                    sets[g] = set(sorted(s)[:k])
        yield pd_.DataFrame(
            [{"lang": g, "hs": sorted(s)[:k]} for g, s in sets.items()],
            columns=["lang", "hs"])

    part = rows.mapInPandas(kmin_fold, "lang string, hs array<bigint>")

    def emit(key, pdfs, state):
        import pandas as pd_
        cur = [int(v) for v in state.get[0]] if state.exists else []
        s = set(cur)
        for pdf in pdfs:
            for arr in pdf["hs"]:
                s.update(int(v) for v in arr)
        new = sorted(s)[:k]
        if new != cur:
            state.update((new,))
            yield pd_.DataFrame({"lang": [key[0]], "hs": [new]})

    from pyspark.sql.streaming.state import GroupStateTimeout
    return part.groupBy("lang").applyInPandasWithState(
        emit, KMVS_OUT_DDL, KMVS_STATE_DDL, "append",
        GroupStateTimeout.NoTimeout)


def stream_kmv_sketches(spark: SparkSession, input_dir: str,
                        output_dir: str, checkpoint_dir: str,
                        max_files_per_trigger: int = 64, k: int = 64):
    """readStream → stateful KMV k-min state → parquet append sink
    (availableNow)."""
    return (kmv_stream(
                pages_stream(spark, input_dir, max_files_per_trigger),
                k=k)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", output_dir)
            .start())
