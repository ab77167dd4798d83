"""Per-round benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].  Output contract
(round-4 verdict item 2 — the 82-entry per-query map outgrew the
driver's tail capture and left BENCH_r04.json unparseable): the FINAL
stdout line is a COMPACT summary JSON {"metric", "value" (total sec),
"unit", "sf", "n_entries", extraction throughput fields, skew ratios,
per-family subtotals}; the full per-query map goes to
``bench/last_run.json`` (and is echoed on an earlier stdout line for
humans reading the log).

The flagship extraction number is measured over a deterministic
synthetic Common-Crawl-style page corpus (seed 42, heavy-tailed sizes,
skew bombs — webextract/synth.py) scan→kernel→noop-write, which is the
shape the north_rule grades (docs/sec at scan time).  Corpus generation
is NOT timed: pages are materialized to parquet once per sf and reused.

Timing protocol: each query plan is forced with a noop-format write
(full materialization, no driver collect); min of 3 timed passes after
a warm pass — the sandbox host shows bursty CPU steal (measured up to
~20% in 2s windows under load), so the minimum estimates capability
and the mean would grade hypervisor neighbors.  The JSON line includes
``host_steal_pct`` (whole-run /proc/stat steal share) so a
noise-inflated round is distinguishable from a code regression.
"""

from __future__ import annotations

import json
import os
import time

N_SYNTH = {"0.001": 500, "0.01": 2000, "0.1": 20000}

HEADLINE = [
    "extract_main_text", "extract_pdf_split", "extract_html_split_tier",
    "media_raster_stats", "stream_window_counts", "chunk_hybrid",
    "chunk_hybrid_subword", "dedup_exact",
    "dedup_lsh_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_clusters", "dedup_contamination",
    "dedup_embed_cosine", "dedup_substring", "quality_repetition",
    "source_stats",
    "embed_cosine_topk", "embed_ann_buckets", "embed_ivf_topk",
    "text_quality",
    "token_stats", "doc_fingerprints", "media_decode_meta",
    "pricing_summary", "revenue_by_nation", "top_orders_per_cust",
    "events_sessions", "events_hourly",
    # round-4 additions
    "media_raster_png", "media_audio_pcm", "extract_audio_source",
    "dedup_embed_multiprobe", "media_raster_gif", "media_frame_avi",
    "events_rollup", "events_range_window",
    "media_raster_jpeg",
    "line_dedup", "lm_perplexity", "pack_sequences", "url_dedup",
    "embed_pq_refine",
    "pagerank", "heavy_hitters", "dedup_semantic", "bpe_pair_counts",
    "extract_links", "dsir_weights", "frontier_filter",
    "stream_heavy_hitters",
    "dedup_incremental", "events_asof", "bm25_topk",
    "sketch_hll_distinct", "url_seen_bloom", "robots_filter",
    "stream_hll", "stream_bloom", "text_normalize",
    "weighted_sample", "table_scan_prune", "parse_sitemaps",
    "parse_cdx", "cdx_latest", "robots_sitemaps", "parse_sitemap_index",
    "page_metadata", "canonical_dedup",
    "hits", "anchor_rollup", "cdx_revisit", "frontier_schedule",
    "bpe_train", "bpe_segment", "within_doc_dedup", "c4_quality",
    "repetition_suite", "nb_quality",
    # round-5 additions
    "chunk_hybrid_trained", "table_schema_evolution", "stream_sessions",
    "table_row_deletes",
    "tfidf_topk", "inverted_postings", "len_quantiles",
    "stream_len_quantiles", "mirror_hosts", "pmi_pairs",
    "cocitation", "degree_stats", "vocab_stats",
    "table_wap", "table_partition_prune", "stream_join",
    "media_frame_mjpeg", "media_raster_jpeg_prog",
    "bigram_lm", "temperature_mix", "hashed_tfidf", "nb_langid",
    "ccnet_buckets", "image_dhash", "image_neardup",
    "media_exif", "media_exif_strip", "decontaminate", "media_video_ocr",
    "corpus_funnel", "shard_shuffle", "wet_roundtrip", "cdx_fetch",
    "corpus_report", "publish_wet_increment", "training_export",
    "jsonld_extract", "parse_feeds", "lang_pivot",
    "host_domains", "kmv_overlap", "embed_covariance", "kmv_merge",
    "domain_budget", "stream_kmv", "robots_crawl_delay", "fetch_plan",
    "bitext_mine", "table_stats_agg", "sitemap_recrawl", "c4_span_dedup",
    "pii_card_scrub", "corpus_drift", "script_profile",
    "quality_pr_sweep",
    "trustrank", "embed_sq8_topk", "readability", "audio_silence",
    "table_zorder", "wordpiece_train", "wordpiece_segment",
]

# one 25%-of-corpus boilerplate family: every 4th doc becomes a
# near-identical copy (shared 24-token base, 2 unique tail tokens) —
# at sf0.1 that is a single ~5000-member near-dup cluster, the
# worst-case shape the LSH bucket cap + component quarantine guard
SKEW_BOILER = ("subscribe to our newsletter for daily updates and "
               "follow us on social media for the latest breaking "
               "news coverage from around the world today")


def skew_docs_path(spark, sf_dir: str, sf_tag: str) -> str:
    """Materialize the skewed twin of the sf documents table once per
    sf (same row count, same schema; generation not timed)."""
    from pyspark.sql import functions as F
    path = f"/tmp/webextract_bench/skewdocs_sf{sf_tag}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        boiler = F.concat(F.lit(SKEW_BOILER + " tail"),
                          (F.col("doc_id") % 97).cast("string"),
                          F.lit(" v"), F.col("doc_id").cast("string"))
        (docs.withColumn(
            "text", F.when(F.col("doc_id") % 4 == 1, boiler)
            .otherwise(F.col("text")))
         .write.mode("overwrite").parquet(path))
    return path


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def synth_pages_path(spark, sf_tag: str, n: int, cpus: int,
                     giant_every: int | None = None) -> str:
    from webextract.synth import GEN_VERSION
    tag = "" if giant_every is None else f"_giant{giant_every}"
    path = f"/tmp/webextract_bench/pages_v{GEN_VERSION}_sf{sf_tag}_n{n}{tag}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from webextract.synth import pages_df
        pages_df(spark, n, parallelism=cpus * 2,
                 giant_every=giant_every).write.mode(
            "overwrite").parquet(path)
    return path


# family buckets for the compact summary's subtotals (everything not
# matched falls into "relational": TPC-H / events / table queries)
_FAMILIES = (
    ("extract", ("extract_", "skew_extract")),
    ("media", ("media_",)),
    ("stream", ("stream_",)),
    ("dedup", ("dedup_", "line_dedup", "url_dedup", "within_doc",
               "canonical_dedup", "skew_neardup", "mirror_hosts",
               "image_neardup", "image_dhash", "c4_span_dedup",
               "bitext_mine")),
    ("embed", ("embed_", "hashed_tfidf")),
    ("chunk", ("chunk_",)),
    ("quality", ("quality_", "c4_quality", "nb_quality", "lm_perplexity",
                 "repetition_suite", "dsir_weights", "text_quality",
                 "bigram_lm", "ccnet_buckets")),
    ("graph", ("pagerank", "hits", "anchor_rollup", "cocitation",
               "degree_stats")),
    ("crawl", ("robots_", "parse_", "cdx_", "frontier_", "url_seen",
               "sitemap", "page_metadata", "host_domains",
               "domain_budget", "fetch_plan")),
    ("tokenize", ("bpe_", "token_stats", "vocab_stats", "pmi_pairs",
                  "pack_sequences", "len_quantiles", "text_normalize",
                  "doc_fingerprints", "lang_id", "nb_langid",
                  "script_profile")),
    ("retrieval", ("bm25_", "tfidf_", "inverted_",)),
    ("sketch", ("sketch_", "heavy_hitters", "kmv_")),
    ("sample", ("weighted_sample", "sample_", "source_",
                "temperature_mix")),
)


def _family_subtotals(timings: dict[str, float]) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, sec in timings.items():
        fam = "relational"
        for f, prefixes in _FAMILIES:
            if any(name.startswith(p) or p in name for p in prefixes):
                fam = f
                break
        out[fam] = round(out.get(fam, 0.0) + sec, 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from webextract.session import get_spark
    from webextract.pipeline import extracted_df
    from webextract.queries import QUERIES

    spark = get_spark("webextract-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    cpu0 = _cpu_times()
    timings: dict[str, float] = {}

    # -- flagship: synthetic-corpus extraction (scan → kernel → sink) ----
    n_synth = N_SYNTH.get(sf_tag, 2000)
    pages_path = synth_pages_path(spark, sf_tag, n_synth, cpus)
    pages = spark.read.parquet(pages_path)

    def _timed(make_df, passes: int = 3) -> float:
        """min over `passes` timed runs after a warm run — the host has
        bursty steal noise (docstring above); the minimum estimates
        capability and the protocol is applied identically to every
        query."""
        _force(make_df())            # warm: Catalyst+codegen+workers
        walls = []
        for _ in range(passes):
            t0 = time.time()
            _force(make_df())
            walls.append(time.time() - t0)
        return min(walls)

    extract_sec = _timed(lambda: extracted_df(pages))
    timings["extract_synth"] = round(extract_sec, 3)
    docs_per_sec = round(n_synth / extract_sec, 1)

    # -- registry queries over the sf tables ------------------------------
    # TWO full sweeps, min per query across sweeps: the host's slow
    # windows span multi-second stretches (r2/r3 finding: a query read
    # 2-3x its capability when the window covered all of its
    # consecutive passes), so consecutive-pass min-of-N alone is not
    # robust — separating the retries by a whole sweep is.
    for _sweep in range(2):
        for name in HEADLINE:
            q = QUERIES[name]
            spark.catalog.clearCache()  # isolate: drop persisted frames
            t = round(_timed(lambda: q(spark, sf_dir), passes=2), 3)
            timings[name] = min(timings.get(name, float("inf")), t)

    # -- skewed-corpus stress scenario (round-3 verdict item 7) ----------
    # the full near-dup pipeline (LSH candidates → exact verify →
    # connected components → survivors) on the uniform corpus vs the
    # one-giant-boilerplate-family twin: the bucket cap + component
    # quarantine must keep the skewed run within 2× of uniform
    from pyspark.sql import functions as F
    from webextract import corpus

    def neardup_pipeline(path: str):
        docs = spark.read.parquet(path)
        pairs = corpus.lsh_jaccard_pairs(docs).select("doc_a", "doc_b")
        cl = corpus.dedup_clusters(docs, pairs=pairs)
        return cl.select(
            "doc_id", "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("keep"))

    # interleaved A/B (round-4 review): a host slow window covering one
    # variant's consecutive passes would fake a blowup (or hide one) —
    # alternate uniform/skew passes and take per-variant minima, the
    # same drift guard as the registry sweep above
    skew_path = skew_docs_path(spark, sf_dir, sf_tag)
    t_uni = t_skew = float("inf")
    for _sweep in range(2):
        spark.catalog.clearCache()
        t_uni = min(t_uni, _timed(
            lambda: neardup_pipeline(f"{sf_dir}/documents.parquet"),
            passes=1))
        spark.catalog.clearCache()
        t_skew = min(t_skew, _timed(
            lambda: neardup_pipeline(skew_path), passes=1))
    timings["skew_neardup_uniform"] = round(t_uni, 3)
    timings["skew_neardup_skewed"] = round(t_skew, 3)
    skew_ratio = round(t_skew / t_uni, 3)

    # -- extraction skew stress (round-4 verdict item 7) ------------------
    # one-giant-HTML-family twin: every doc on host site0 (doc_id%200==0,
    # i.e. ONE host) becomes a 60k-word page so that host carries ~25-30%
    # of corpus bytes; both variants run the split-tier pipeline
    # (extracted_df with split_bytes, 256 KiB threshold) so the
    # giant family fans out over cut-point segments instead of pinning
    # tasks.  Blowup is PER-BYTE (the twin is a bigger corpus by
    # construction): (t_skew/bytes_skew) / (t_uni/bytes_uni).
    skew_pages_pq = synth_pages_path(spark, sf_tag, n_synth, cpus,
                                     giant_every=200)
    skew_pages = spark.read.parquet(skew_pages_pq)
    bytes_uni = pages.select(
        F.sum(F.length("html"))).collect()[0][0] or 1
    bytes_skew = skew_pages.select(
        F.sum(F.length("html"))).collect()[0][0] or 1

    def xsplit(src):
        return extracted_df(src, split_bytes=256 * 1024)

    tx_uni = tx_skew = float("inf")
    for _sweep in range(2):  # interleaved A/B, same drift guard as above
        tx_uni = min(tx_uni, _timed(lambda: xsplit(pages), passes=1))
        tx_skew = min(tx_skew, _timed(lambda: xsplit(skew_pages),
                                      passes=1))
    timings["skew_extract_uniform"] = round(tx_uni, 3)
    timings["skew_extract_skewed"] = round(tx_skew, 3)
    extract_skew_ratio = round(
        (tx_skew / bytes_skew) / (tx_uni / bytes_uni), 3)

    total = round(sum(timings.values()), 3)
    cpu1 = _cpu_times()
    d = [b - a for a, b in zip(cpu0, cpu1)]
    steal_pct = round(100 * d[7] / max(1, sum(d)), 2)
    summary = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_tag,
        "n_entries": len(timings),
        "extract_docs_per_sec": docs_per_sec,
        "extract_n_docs": n_synth,
        "skew_blowup_ratio": skew_ratio,
        "extract_skew_blowup_ratio": extract_skew_ratio,
        "extract_skew_bytes_ratio": round(bytes_skew / bytes_uni, 3),
        "families": _family_subtotals(timings),
        "cpus": cpus,
        "host_steal_pct": steal_pct,
    }
    full = dict(summary, queries=timings)
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "bench", "last_run.json")
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    # per-query map first (humans reading the log), compact summary LAST
    # (the machine-parsed line — keep it short, the driver captures a
    # bounded stdout tail)
    print(json.dumps({"queries": timings}))
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
