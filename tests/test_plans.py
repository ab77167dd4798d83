"""Physical-plan assertions: the optimizations we claim must show up in
explain() output — column pruning at the scan, filter pushdown,
broadcast joins where dims are small, and no payload exchange in the
extraction plan (SURVEY.md §4.2)."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_extraction_scan_prunes_naive_text(spark, tmp_path):
    """The crawl's naive `text` column must never be read: extraction
    projects (url, warc_ts, lang, html) only (column pruning reaches
    ReadSchema)."""
    from webextract.docpages import docs_to_pages
    from webextract.pipeline import extracted_df
    pages_dir = str(tmp_path / "pages")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    docs_to_pages(docs).write.mode("overwrite").parquet(pages_dir)
    out = extracted_df(spark.read.parquet(pages_dir))
    plan = _plan(out)
    scan = plan[plan.index("Scan parquet"):]
    schema_line = next(l for l in scan.splitlines()
                       if l.startswith("ReadSchema"))
    assert "html" in schema_line and "url" in schema_line
    assert "text" not in schema_line, schema_line
    # narrow plan: no Exchange before the Python kernel
    assert "Exchange" not in plan.split("ArrowEvalPython")[0] \
        or "Exchange" not in plan, plan


def test_extraction_plan_has_no_shuffle(spark, tmp_path):
    """extracted_df over a pages scan is a pure narrow map — raw HTML
    payloads are never exchanged (north_rule plan shape)."""
    from webextract.docpages import docs_to_pages
    from webextract.pipeline import extracted_df
    pages_dir = str(tmp_path / "pages_ns")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    docs_to_pages(docs).write.mode("overwrite").parquet(pages_dir)
    out = extracted_df(spark.read.parquet(pages_dir))
    assert "Exchange" not in _plan(out)


def test_synth_source_does_not_share_the_kernel_stage(spark):
    """pages_df returns its pages materialized on the executors, so the
    extraction kernel over them runs alone in its stage: one MapInArrow,
    ``extract_batches``.  Chained to the ``gen_batches`` generator, each
    of the stage's tasks held two Python workers at once."""
    from webextract.pipeline import extracted_df
    from webextract.synth import pages_df

    def executed(df):
        return df._jdf.queryExecution().executedPlan().toString()

    pages = pages_df(spark, 8, parallelism=2)
    assert pages.rdd.getNumPartitions() == 2
    assert "MapInArrow" not in executed(pages), executed(pages)
    kernels = [ln for ln in executed(extracted_df(pages)).splitlines()
               if "MapInArrow" in ln]
    assert len(kernels) == 1 and "extract_batches" in kernels[0], kernels


def test_docpages_spread_exchanges_no_payload(spark):
    """The documents→pages gate adapter repartitions for parallelism,
    but the exchange may carry only the tiny doc rows: the html payload
    is BUILT by the kernel after the exchange, never shuffled."""
    from webextract.docpages import docs_to_pages
    from webextract.pipeline import extracted_df
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(extracted_df(docs_to_pages(docs)))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    scan = plan[plan.index("Scan parquet"):]
    schema_line = next(l for l in scan.splitlines()
                       if l.startswith("ReadSchema"))
    assert "html" not in schema_line, schema_line


def test_resume_antijoin_is_broadcast(spark):
    """The committed-parts anti-join must broadcast the tiny manifest
    side, never shuffle the input (SURVEY.md §2.6 joins row)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "part_id", F.col("doc_id") % 16)
    committed = spark.range(0, 16, 2).select(F.col("id").alias("part_id"))
    pending = docs.join(F.broadcast(committed), "part_id", "left_anti")
    plan = _plan(pending)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_revenue_join_broadcasts_dim(spark):
    from webextract.queries import QUERIES
    plan = _plan(QUERIES["revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan  # nation dim broadcast


def test_shipdate_filter_pushed_to_scan(spark):
    from webextract.queries import QUERIES
    plan = _plan(QUERIES["pricing_summary"](spark, SF))
    scan = plan[plan.index("Scan parquet"):]
    pushed = next(l for l in scan.splitlines()
                  if l.startswith("PushedFilters"))
    assert "l_shipdate" in pushed, pushed


def test_fingerprints_gram_hash_not_recomputed(spark):
    """The winnowing gram-hash expression must appear exactly once in
    the optimized plan: the repartition barrier between tokenization
    and the gram projection keeps CollapseProject from inlining the
    md5 gram array into the window-min pass (measured 3× recompute
    when inlined).  A Spark version change that merges the projections
    fails here, not silently in bench."""
    from webextract.corpus import fingerprints
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    opt = (fingerprints(docs)._jdf.queryExecution()
           .optimizedPlan().toString())
    # the gram-hash transform must appear in exactly ONE Project: if
    # CollapseProject ever merges the gram projection into the
    # window-min consumer, the md5 array is inlined into every
    # element_at of the window-min pass (3× recompute)
    assert opt.count("md5(cast(concat_ws") == 1, opt
    # the (conditional, fired-here) spread exchange must carry only
    # raw (doc_id, text) rows — never materialized token/gram arrays
    # (round-3 review: payload-array shuffle at production scale)
    assert "Repartition" in opt, opt
    below = opt[opt.index("Repartition"):]
    first_proj = below[below.index("Project"):below.index("\n", below.index("Project"))]
    assert "toks" not in first_proj and " g#" not in first_proj, first_proj


def test_lsh_verify_plan_prunes_and_broadcasts(spark):
    """The LSH→exact verify must (a) never sort-merge-join and (b)
    build shingle arrays only for semi-join-pruned candidate rows:
    the full-corpus shingle projection feeds ONLY the band-key
    aggregation, and both verify joins broadcast the tiny
    candidate-pair side."""
    from webextract.corpus import lsh_jaccard_pairs
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(lsh_jaccard_pairs(docs))
    assert "SortMergeJoin" not in plan
    # two broadcast verify joins + one broadcast semi-join prune
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "LeftSemi" in plan


def test_lsh_verify_broadcast_fallback_above_cap(spark):
    """Round-2 review: the verify broadcasts are size-gated.  Above
    ``broadcast_cap`` (forced here with cap=0) every candidate-side
    join must fall back to shuffle-hash — no driver-side broadcast of
    a potentially 10^9-row pair frame, and still no sort-merge."""
    from webextract.corpus import lsh_jaccard_pairs
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fallback = lsh_jaccard_pairs(docs, broadcast_cap=0)
    plan = _plan(fallback)
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("ShuffledHashJoin") >= 3, plan[:2000]
    assert "LeftSemi" in plan
    # same answer on both paths
    got = {tuple(r) for r in fallback.collect()}
    want = {tuple(r) for r in lsh_jaccard_pairs(docs).collect()}
    assert got == want


def test_simhash_plan_is_single_narrow_projection(spark):
    """Array-domain SimHash: no token explode, no groupBy — at most the
    conditional spread exchange (tiny doc rows), zero wide operators."""
    from webextract.corpus import simhash
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(simhash(docs))
    tree = plan.split("\n\n")[0]
    assert "HashAggregate" not in tree, tree
    assert "Generate" not in tree, tree           # no explode
    assert tree.count("Exchange") <= 1, tree      # spread barrier only


def test_ann_buckets_plan_has_no_md5(spark):
    """SRP hyperplane signs are driver-side literals: the per-row plan
    must contain no md5 call at all."""
    from webextract.corpus import lsh_ann_buckets
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    opt = (lsh_ann_buckets(emb, bits=8)._jdf.queryExecution()
           .optimizedPlan().toString())
    assert "md5" not in opt, opt[:2000]


def test_minhash_plan_is_projection_until_bucket_join(spark):
    """MinHash signatures must not shuffle shingle rows: everything up
    to the signature posexplode (Generate) is a narrow projection; only
    the k-rows-per-doc band groupBy exchanges."""
    from webextract.corpus import lsh_band_keys
    spark.catalog.clearCache()  # cached LSH frames from other tests would
    docs = spark.read.parquet(f"{SF}/documents.parquet")  # rewrite the plan
    plan = _plan(lsh_band_keys(docs))
    # formatted plans print top-down: nodes BELOW Generate in the tree
    # section are its inputs — the shingle/signature projections.  The
    # only exchange allowed there is the conditional _spread barrier,
    # which carries raw (doc_id, text) rows, never shingles.
    tree = plan.split("\n\n")[0]
    below_generate = tree[tree.index("Generate"):]
    assert below_generate.count("Exchange") <= 1, below_generate
    # band groupBy + spread barrier, nothing else
    assert tree.count("Exchange") <= 2, tree


def test_split_tier_plan_shape(spark):
    """Oversized-doc tier (split.py): the normal branch must stay a
    no-shuffle scan->kernel map; the mini-PDF page-split branch must
    carry payload through exactly ONE repartition (url, seg_idx) and
    must DROP the payload before the merge aggregate's exchange (blocks
    only).  No kernel and no merge aggregate takes the write's part key,
    even from a source that carries one.  The HTML chain's shape is
    pinned in test_htmlsplit."""
    from webextract.pipeline import extracted_df, with_part_id
    from webextract.synth import pages_df
    pages = with_part_id(pages_df(spark, 50, parallelism=4), 4)
    opt = (extracted_df(pages, split_bytes=1024)
           ._jdf.queryExecution().optimizedPlan().toString())
    lines = opt.splitlines()
    # union children: normal (':' lines before the first merge), the
    # PDF chain (':' lines from it on), the HTML chain ('+-' and below)
    first_merge = next(i for i, ln in enumerate(lines)
                       if "merge_batches" in ln)
    normal = [ln for ln in lines[:first_merge] if ln.startswith(":")]
    assert normal and not any("Repartition" in ln or "Exchange" in ln
                              for ln in normal), normal
    pdf = [ln for ln in lines[first_merge:] if ln.startswith(":")]
    assert any("0x255044462D4D494E490A)" in ln and "NOT (substring" not in ln
               for ln in pdf if "Filter" in ln), pdf   # %PDF-MINI magic
    # exactly one payload repartition in the PDF chain, keyed by segment
    reparts = [ln for ln in pdf if "RepartitionByExpression" in ln]
    assert len(reparts) == 1, pdf
    assert re.search(r"\[url#\d+, seg_idx#\d+\]", reparts[0]), reparts[0]
    # merge aggregate input must not contain the html payload column:
    # the output attributes (last [...]) of the node under the Aggregate
    agg_i = next(i for i, ln in enumerate(pdf) if "Aggregate [url" in ln)
    child = pdf[agg_i + 1]
    assert "html" not in child.rsplit("[", 1)[1], child
    assert not any("part_id" in ln for ln in pdf[agg_i:agg_i + 2]), pdf
    # the extraction kernels: plain + 3 per chain
    kernels = [ln for ln in lines if "MapInArrow" in ln]
    assert len(kernels) == 7, kernels
    assert not any("part_id" in ln for ln in kernels), kernels


def test_exploded_shingles_no_inlined_gram_filter(spark):
    """InferFiltersFromGenerate + pushdown must NOT inline the shingle
    expression into a scan-level Filter (measured 18×): the observe
    barrier keeps the inferred size(sh)>0 filter against the
    materialized column.  Guard: no concat_ws inside any Filter of the
    optimized plan, and the CollectMetrics barrier is present."""
    from webextract.corpus import exploded_shingles
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    opt = (exploded_shingles(docs)._jdf.queryExecution()
           .optimizedPlan().toString())
    assert "CollectMetrics" in opt, opt[:1500]
    for line in opt.splitlines():
        if line.strip().startswith(("Filter", "+- Filter")):
            assert "concat_ws" not in line, line[:300]


def test_quality_ops_are_narrow_projections(spark):
    """gopher_quality / repetition_stats / pii_scrub are admission
    filters — their 100TB shape is a WHERE clause: at most the spread
    barrier exchange, no joins, no aggregates beyond the fold."""
    from webextract.corpus import gopher_quality, pii_scrub, repetition_stats
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for make in (lambda: gopher_quality(docs),
                 lambda: repetition_stats(docs),
                 lambda: pii_scrub(docs.select("doc_id", "text"))):
        plan = _plan(make())
        tree = plan.split("\n\n")[0]
        assert "Join" not in tree, tree
        assert "HashAggregate" not in tree, tree
        assert tree.count("Exchange") <= 1, tree


def test_embed_near_dup_plan_shape(spark):
    """Embedding near-dup: staged SRP lineage (no recompute per join
    side), bucket-key equi-join only — never a sort-merge join, and
    the bounded bucket-cap frame broadcasts."""
    from webextract.corpus import embed_near_dup_pairs
    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(embed_near_dup_pairs(emb, threshold=0.3))
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "ShuffledHashJoin" in plan        # bucket-key pair join
    assert "BroadcastHashJoin" in plan       # cap semi-join
    # the expensive SRP projection lineage is checkpointed: the plan
    # scans the staged RDD, not the parquet relation, for both sides
    assert plan.count("Scan ExistingRDD") >= 2, plan[:2000]


def test_embed_multiprobe_plan_shape(spark):
    """Multi-table SRP (r4): per table ONE shuffle-hash self-join on
    the bucket key (never sort-merge on embedding-array rows), cap
    frames broadcast, and the cross-table dedup shuffles only the
    threshold-filtered pair frame — the staged (embedding, norm) side
    is a checkpoint scan, not a re-read of the source."""
    from webextract.corpus import embed_near_dup_pairs
    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    import re
    plan = _plan(embed_near_dup_pairs(emb, threshold=0.3, tables=2))
    assert "SortMergeJoin" not in plan, plan[:2000]
    # exactly one INNER bucket self-join per table; the cap prunes are
    # LeftSemi (broadcast or shuffle-hash depending on stats mode)
    assert len(re.findall(r"ShuffledHashJoin Inner", plan)) == 2, \
        plan[:2000]
    assert "LeftSemi" in plan
    # the parquet source is scanned zero times in the final plan — all
    # consumers read the staged checkpoint
    assert "Scan parquet" not in plan, plan[:2000]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Scale evidence for co-located joins (brief: 'bucketing for
    co-located joins'): two tables bucketed by the join key must join
    with ZERO Exchange operators — the shape a 100 TB fact-dim join
    relies on to skip the terabyte shuffle.  (IceTable carries data;
    this pins the Spark-side mechanics used when tables are written
    bucketed.)"""
    import uuid
    db = f"wx_bucket_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    # force the join itself to be exercised (r4 review: at this size
    # the dim auto-broadcasts and the test pinned nothing)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id") \
            .withColumn("v", F.col("doc_id") * 3)
        meta = spark.range(0, 2000).withColumnRenamed("id", "doc_id") \
            .withColumn("m", F.col("doc_id") % 7)
        for name, df in (("t_docs", docs), ("t_meta", meta)):
            (df.write.format("parquet").bucketBy(8, "doc_id")
             .sortBy("doc_id").saveAsTable(f"{db}.{name}"))
        joined = (spark.table(f"{db}.t_docs")
                  .join(spark.table(f"{db}.t_meta"), "doc_id")
                  .groupBy("m").agg(F.sum("v").alias("sv")))
        tree = _plan(joined).split("\n\n")[0]      # plan tree only, not
        # the numbered detail section (r4 review: a detail-slice made
        # the old assertion vacuously true)
        assert "SortMergeJoin" in tree, tree
        # the ONLY exchange is the 7-group aggregation above the join —
        # neither bucketed side shuffles
        assert tree.count("Exchange") == 1, tree
        assert joined.count() == 7
        # control: the same join over non-bucketed frames shuffles BOTH
        # join sides plus the aggregation
        ctrl = _plan(docs.join(meta, "doc_id").groupBy("m")
                     .agg(F.sum("v"))).split("\n\n")[0]
        assert ctrl.count("Exchange") >= 3, ctrl
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_pq_plan_shapes(spark):
    """PQ at 10^12 rows: encode is a pure narrow projection (codebooks
    are plan literals — no exchange, no join); ADC search broadcasts
    the query distance tables over the codes frame (BNLJ) and the only
    exchange is the per-query top-k window."""
    from webextract.corpus import pq_encode, pq_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    enc = _plan(pq_encode(emb))
    tree = enc.split("\n\n")[0]
    # r6: the conditional _spread barrier may add ONE narrow
    # repartition exchange on under-parallelized test tables (it
    # self-disables at scale); no join may appear
    assert tree.count("Exchange") <= 1, tree
    assert "Join" not in tree, tree
    topk = _plan(pq_topk(emb))
    # r6: ADC scores in a codes-only Arrow kernel against the COLLECTED
    # per-query distance tables (catalog artifact) — no join of any
    # kind remains; the corpus flows scan -> encode -> kernel narrowly
    assert "Join" not in topk, topk[:2000]
    assert "FlatMapInArrow" in topk or "MapInArrow" in topk, topk[:2000]
    # shuffle exchanges: hashpartitioning(qid) for the rank window,
    # plus at most the _spread repartition
    tree = topk.split("\n\n")[0]
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles <= 2, tree


def test_line_dedup_plan_shape(spark):
    """Boilerplate removal: the hot set (df>cap tail) is staged and
    BROADCAST against the segment stream — the segment payload never
    shuffles for the membership test, only for the df agg and the
    per-doc reassembly."""
    from webextract.corpus import line_dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(line_dedup(docs))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_within_doc_dedup_plan_shape(spark):
    """Two-level agg: no Window, no join, no sort-merge — intra-doc
    repeats must compress in partial aggregation, not in a per-doc
    window scan."""
    from webextract.corpus import within_doc_dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(within_doc_dedup(docs))
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree and "Join" not in tree, tree
    assert "SortMergeJoin" not in plan


def test_c4_quality_plan_shape(spark):
    """Admission filter = WHERE-clause shape: zero exchanges."""
    from webextract.corpus import c4_quality
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert "Exchange" not in _plan(c4_quality(docs))


def test_repetition_suite_plan_shape(spark):
    """All five n-gram sizes in one pass: ONE explode-side exchange to
    (doc_id, n, gram) counts + ONE per-doc rollup exchange — no join,
    no window, never an exchange per n."""
    from webextract.corpus import repetition_suite
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(repetition_suite(docs))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree and "Window" not in tree, tree
    assert tree.count("Exchange") <= 2, tree


def test_nb_quality_plan_shape(spark):
    """Weak labels are a projection (no label join); the vocab weight
    table joins the term frame via shuffle-hash (web-scale V beats any
    broadcast); totals/prior cross-ride as broadcast 1-row frames; no
    sort-merge anywhere."""
    from webextract.corpus import nb_quality
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(nb_quality(docs))
    assert "ShuffledHashJoin" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan   # totals + prior cross-ride
    assert "SortMergeJoin" not in plan


def test_vocab_stats_plan_shape(spark):
    """Aggregate-only: the type table reduces executor-side with
    partial aggregation — no join, no window, one row out."""
    from webextract.corpus import vocab_stats
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tree = _plan(vocab_stats(docs)).split("\n\n")[0]
    assert "Join" not in tree and "Window" not in tree, tree


def test_cocitation_degree_plan_shapes(spark):
    """Both link-graph rollups stay join-free: co-citation uses the
    bucketed i<j emission (never a dst-dst self-join), degree_stats is
    aggregate-only (no window, no sort of edges)."""
    from webextract.corpus import cocitation_pairs, degree_stats
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    e = docs.select((F.col("doc_id") % 50).alias("src"),
                    (F.col("doc_id") % 97).alias("dst"))
    for op in (cocitation_pairs, degree_stats):
        tree = _plan(op(e)).split("\n\n")[0]
        assert "Join" not in tree and "Window" not in tree, tree


def test_pmi_pairs_plan_shape(spark):
    """Pairs are built in-array per document (never an explode-join of
    the corpus against itself); the min_count-cut head joins unigram
    counts via exactly two shuffle-hash joins; totals cross-ride."""
    from webextract.corpus import pmi_pairs
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pmi_pairs(docs))
    tree = plan.split("\n\n")[0]
    assert tree.count("ShuffledHashJoin") == 2, tree
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan   # the two 1-row totals


def test_mirror_hosts_plan_shape(spark):
    """Bucketed pair emission, never a self-join: no Join node, and
    raw text never enters an exchange (only sha/host columns do)."""
    from webextract.corpus import mirror_hosts
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(mirror_hosts(docs))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree, tree
    ex_blocks = [b for b in plan.split("\n\n")
                 if b.startswith("(") and "Exchange" in b.splitlines()[0]]
    assert ex_blocks
    for ex in ex_blocks:
        assert "text#" not in ex, ex


def test_tfidf_topk_plan_shape(spark):
    """idf (V rows) joins the term frame shuffle-hash; the top-k
    window partitions on doc_id (bounded state); no sort-merge."""
    from webextract.corpus import tfidf_topk
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(tfidf_topk(docs))
    assert "ShuffledHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_inverted_postings_plan_shape(spark):
    """Rank-then-collect: no join anywhere, and the collect_list runs
    AFTER the rn<=cap filter so arrays stay bounded."""
    from webextract.corpus import inverted_postings
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tree = _plan(inverted_postings(docs)).split("\n\n")[0]
    assert "Join" not in tree, tree


def test_len_quantiles_plan_shape(spark):
    """The corpus is scanned once and reduced to bucket counts before
    any window/sort — no global sort of rows, no sort-merge join."""
    from webextract.corpus import len_quantiles
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(len_quantiles(docs))
    assert "SortMergeJoin" not in plan
    # the scan reduces to bucket counts before any window runs: the
    # aggregate must appear in the tree (windows sort ~60 bucket rows,
    # never raw documents)
    assert "HashAggregate" in plan.split("\n\n")[0]


def test_lm_perplexity_plan_shape(spark):
    """LM scoring: vocab joins the (doc_id, tok, tf) term frame via
    shuffle-hash (web-scale vocab is beyond any broadcast); totals ride
    as a broadcast 1-row frame; no sort-merge anywhere."""
    from webextract.corpus import lm_perplexity
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(lm_perplexity(docs))
    assert "ShuffledHashJoin" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan   # totals cross-ride
    assert "SortMergeJoin" not in plan


def test_ccnet_buckets_plan_shape(spark):
    """CCNet split: documents are never globally sorted — the tertile
    windows run over the bounded 0.01-nat histogram, thresholds ride
    back as a broadcast nested-loop of a 1-row frame, and no
    sort-merge join appears anywhere."""
    from webextract.corpus import ccnet_buckets
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(ccnet_buckets(docs))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # thresholds cross-ride
    # the only single-partition exchange feeds the histogram window,
    # whose input is a HashAggregate (bounded cells), never raw docs
    tree = plan.split("\n\n")[0]
    assert "Window" in tree


def test_pack_and_url_plans_single_exchange(spark):
    """pack_sequences: ONE exchange on shard (the parallel packing
    streams) + its window sort — never a global single-partition
    window.  url_dedup: ONE exchange on canon_url."""
    from webextract.corpus import pack_sequences, url_dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pack_sequences(docs))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert "SinglePartition" not in tree, tree
    pages = docs.selectExpr("doc_id", "concat('http://h/', doc_id) AS url")
    plan = _plan(url_dedup(pages))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert "SinglePartition" not in tree, tree


def test_pagerank_plan_shape(spark):
    """3 unrolled integer rounds: equi-joins only (no cartesian, no
    nested-loop), bounded exchange count (edges+degrees staged once —
    per-round cost is the rank join + one groupBy(dst))."""
    from webextract.queries import q_pagerank
    plan = _plan(q_pagerank(spark, SF))
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange") <= 20, plan.count("Exchange")


def test_heavy_hitters_plan_shape(spark):
    """Exact-recount phase: candidate membership is a BroadcastHashJoin
    (the MG candidate set is bounded by construction); the ONLY
    nested-loop is the 1-row token-total crossJoin; the token stream
    itself is never shuffled raw — the single real exchange is the
    partial-aggregated recount."""
    from webextract.queries import q_heavy_hitters
    plan = _plan(q_heavy_hitters(spark, SF))
    assert "BroadcastHashJoin" in plan
    # one BNLJ node (formatted explain names it twice: tree + detail)
    assert plan.count("BroadcastNestedLoopJoin Cross BuildRight") == 1
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    # shuffle exchanges (not broadcast): recount agg only
    shuffles = [l for l in plan.splitlines()
                if "Exchange hashpartitioning" in l]
    assert len(shuffles) <= 2, shuffles


def test_semantic_dedup_plan_shape(spark):
    """Within-cluster pairs only (r6 shape): the pairwise cosine runs
    in the numpy bucket kernel — one shuffle of the staged side into
    FlatMapGroupsInPandas — and no cartesian/nested-loop/self-join of
    embedding rows appears anywhere."""
    from webextract.queries import q_dedup_semantic
    plan = _plan(q_dedup_semantic(spark, SF))
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_bpe_pair_counts_plan_shape(spark):
    """Corpus shuffles once into the distinct-word frame; the pair
    explode and second agg run over vocab-sized data; the only global
    sort is the final window over the pair-count frame."""
    from webextract.queries import q_bpe_pair_counts
    plan = _plan(q_bpe_pair_counts(spark, SF))
    assert "Cartesian" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    # Catalyst rewrites the rank<=20 window into a distributed top-k
    # (TakeOrderedAndProject): per-partition heads + one tiny merge,
    # no SinglePartition exchange of the pair frame at all
    assert ("TakeOrderedAndProject" in plan
            or plan.count("Exchange SinglePartition") == 1)


def test_links_plan_is_narrow(spark, tmp_path):
    """links_df over a pages scan is a pure narrow map like extraction:
    raw HTML never exchanges, and only (url, html) are read."""
    from webextract.docpages import docs_to_pages
    from webextract.pipeline import links_df
    pages_dir = str(tmp_path / "pages_links")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    docs_to_pages(docs, article_links=2).write.mode("overwrite") \
        .parquet(pages_dir)
    out = links_df(spark.read.parquet(pages_dir))
    plan = _plan(out)
    assert "Exchange" not in plan
    scan = plan[plan.index("Scan parquet"):]
    schema_line = next(l for l in scan.splitlines()
                       if l.startswith("ReadSchema"))
    assert "html" in schema_line and "url" in schema_line
    assert "text" not in schema_line, schema_line


def test_dsir_plan_shape(spark):
    """Hashed-feature DSIR (r6 shape): training runs at build time
    (counting kernel -> engine log/round -> collected integer lr
    table, the _ivf_centroids pattern), so the returned plan is the
    SCORING side only — one narrow kernel + the doc_id merge
    aggregate.  No join of any kind touches the corpus."""
    from webextract.queries import q_dsir_weights
    plan = _plan(q_dsir_weights(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "Cartesian" not in plan
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan, \
        plan[:2000]
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree, tree


def test_bm25_plan_query_vocab_filtered_before_agg(spark):
    """bm25_topk: the query vocabulary is a plan-literal isin filter on
    the exploded token stream, so the (doc, tok) groupBy shuffles
    query-term postings only — and nothing sort-merges."""
    from webextract.corpus import bm25_topk
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bm25_topk(docs))
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert " IN (" in plan, plan[:2000]         # literal vocab filter
    assert "BroadcastHashJoin" in plan          # qt/idf/stats sides


def test_pii_card_scrub_luhn(spark):
    """Checksum-conditional masking: Luhn-valid candidates (plain,
    spaced, dashed) mask EVERYWHERE by value; a digit run failing the
    checksum survives; n_cards counts distinct confirmed values."""
    from webextract import corpus

    docs = spark.createDataFrame(
        [(1, "pay with 4111111111111111 now"),
         (2, "order 4111111111111112 shipped"),
         (3, "amex 3400-0000-0000-009 and visa 4111 1111 1111 1111"),
         (4, "plain text no digits"),
         (5, "repeat 5500000000000004 twice 5500000000000004")],
        "doc_id long, text string")
    got = sorted(tuple(r) for r in corpus.pii_card_scrub(docs).collect())
    assert got == [
        (1, "pay with <CARD> now", 1, 0),
        (2, "order 4111111111111112 shipped", 0, 1),
        (3, "amex <CARD> and visa <CARD>", 2, 0),
        (4, "plain text no digits", 0, 0),
        (5, "repeat <CARD> twice <CARD>", 1, 0),
    ]


def test_corpus_drift_hand_reference(spark):
    """Hand JS table over 8-token sides: a vanished key carries the
    pure half-relative-entropy term (0.25*ln2/2 = 86643 micro-nats),
    a shifted key the mixed term, a new key the appearing term; ppm
    columns are exact integer shares."""
    from webextract import corpus

    old = spark.createDataFrame(
        [(1, "en", "a b c d"), (2, "en", "e f"), (3, "de", "g h")],
        "doc_id long, lang string, text string")
    new = spark.createDataFrame(
        [(4, "en", "a b"), (5, "fr", "x y z w v u")],
        "doc_id long, lang string, text string")
    got = sorted(tuple(r) for r in
                 corpus.corpus_drift(old, new).collect())
    assert got == [
        ("de", 1, 0, 2, 0, 250000, 0, -250000, 86643),
        ("en", 2, 1, 6, 2, 750000, 250000, -500000, 65406),
        ("fr", 0, 1, 0, 6, 0, 750000, 750000, 259930),
    ]


def test_script_profile_hand_reference(spark):
    """Per-script codepoint counts and the fixed-priority dominant
    pick: pure scripts, a mixed doc going to its majority script,
    digits/punctuation-only and NULL text landing on 'none'."""
    from webextract import corpus

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "привет мир ok"), (3, "你好世界"),
         (4, "مرحبا بالعالم"), (5, "123 !!!"), (6, None),
         (7, "ab привет")],
        "doc_id long, text string")
    got = sorted(tuple(r) for r in
                 corpus.script_profile(docs).collect())
    assert got == [
        (1, 10, 0, 0, 0, "latin"),
        (2, 2, 9, 0, 0, "cyrillic"),
        (3, 0, 0, 4, 0, "cjk"),
        (4, 0, 0, 0, 12, "arabic"),
        (5, 0, 0, 0, 0, "none"),
        (6, 0, 0, 0, 0, "none"),
        (7, 2, 6, 0, 0, "cyrillic"),
    ]


def test_quality_pr_sweep_hand_reference(spark):
    """Hand confusion table over 5 scored docs in 3 buckets: tp/fp
    cumulate from the top bucket down, fn/tn complement against the
    broadcast totals, precision/recall in exact basis points."""
    from webextract import corpus

    scored = spark.createDataFrame(
        [(1, 25000, True), (2, 21000, True), (3, 15000, False),
         (4, 12000, True), (5, 5000, False)],
        "doc_id long, score_micro long, label boolean")
    got = sorted(tuple(r) for r in
                 corpus.quality_pr_sweep(scored).collect())
    assert got == [
        (0, 0, 0, 1, 3, 2, 0, 0, 6000, 10000),
        (1, 10000, 1, 1, 3, 1, 0, 1, 7500, 10000),
        (2, 20000, 2, 0, 2, 0, 1, 2, 10000, 6666),
    ]


def test_wordpiece_round_plan_shape(spark):
    """One WordPiece training round over the segmented vocab frame:
    the unit-count side reaches the pair counts as BROADCAST joins
    (never a shuffle keyed on symbol), the only hash exchanges are the
    two aggregations (units, pairs), no cartesian; the argmax
    orderBy(...).limit(1) compiles to the distributed top-1
    (TakeOrderedAndProject), never a global sort."""
    from pyspark.sql import functions as F
    from webextract import corpus
    segged = spark.createDataFrame(
        [(3, ["l", "o", "w"]), (2, ["q", "u"])],
        "freq long, syms array<string>")
    cand = corpus._wordpiece_candidates(segged)
    plan = _plan(cand)
    assert "Cartesian" not in plan
    tree = plan.split("\n\n")[0]          # node list, before per-node detail
    assert tree.count("BroadcastHashJoin") == 2
    # the pair agg is the only hash exchange in the cand plan: the
    # unit counts are materialized once (localCheckpoint) and enter
    # both joins as broadcast of an ExistingRDD scan
    assert tree.count("Exchange") == 1 + 2   # 1 hash + 2 broadcast
    top = _plan(cand.orderBy(F.col("q").desc(), F.col("n").desc(),
                             "den", "lhs", "rhs").limit(1))
    assert ("TakeOrderedAndProject" in top
            or top.count("Exchange SinglePartition") == 1)
