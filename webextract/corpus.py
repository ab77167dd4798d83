"""Training-data corpus operators: dedup, similarity, text analysis.

These are the large-scale pipeline operators a 100 TB training-data run
needs on top of extraction (exact/MinHash-LSH/SimHash/n-gram-Jaccard
dedup, embedding ANN, language-ID, quality scoring, token counting,
winnowing fingerprints).  The reference has no corpus-level operators
(documents are independent, SURVEY.md §2.6) — these are the
Spark-native extensions.

DESIGN RULE: everything here is pure DataFrame + built-in/higher-order
functions — zero Python UDFs, so every operator stays JVM-side, is
whole-stage-codegen'd where possible, and has an exactly-equivalent
DuckDB oracle (webextract/queries.py pairs each with its SQL).  Hash
primitives are md5-hex (identical in Spark and DuckDB) so signatures
are engine-portable and deterministic.

Scale notes per operator are in the docstrings: what shuffles, what
broadcasts, and how the shape survives 1000 executors.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

# Tokens: documents.text is single-space-normalized; the token rule is
# "split on one space" — identical to DuckDB string_split(text, ' ').
# (Built lazily: Column construction needs an active SparkContext.)
def TOKENS():
    return F.split(F.col("text"), " ")

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def _spread(df: DataFrame, key: str = "doc_id",
            min_bytes: int = 0) -> DataFrame:
    """Conditional parallelism barrier for CPU-heavy array-domain ops.

    Repartitions narrow inputs whose scan layout under-parallelizes the
    cluster (single-file test tables collapse to a handful of splits —
    the openCostInBytes floor caps splits at file_size/128KB, so a
    0.6 MB table gets 5 tasks on 32 cores).  SKIPPED when the source is
    already parallel — the 100 TB case, where inputs arrive as
    thousands of files/splits — so no payload shuffle happens at scale.
    The exchange, when it fires, carries column-pruned (doc_id, text)
    rows only.  Side benefit: a Repartition node is a hard
    CollapseProject barrier, so expensive projections below it can
    never be inlined into consumers above it.  The probe is plan-stats
    based (session.est_scan_partitions) — no RDD conversion of the
    analyzed plan at operator-build time (round-2 review item 10)."""
    from .session import est_plan_bytes, est_scan_partitions
    p = df.sparkSession.sparkContext.defaultParallelism
    if est_scan_partitions(df) < p:
        if min_bytes and est_plan_bytes(df) < min_bytes:
            # r6: below the work floor the serial scan is cheaper than
            # the exchange — sub-second inputs skip the barrier (the
            # sf0.1 board paid ~0.3 s per needless tiny-frame shuffle)
            return df
        if key in df.columns:
            return df.repartition(p * 2, F.col(key))
        # no high-cardinality key available (e.g. (source, text)
        # sketch inputs): deterministic round-robin — Spark's
        # sort-before-repartition keeps row placement replay-stable
        return df.repartition(p * 2)
    return df


# ---------------------------------------------------------------------------
# shingling (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------

def shingles_of(col: str = "toks", n: int = 3, distinct: bool = True):
    """array<string> of word n-grams (distinct by default; pass
    distinct=False for occurrence-preserving grams, e.g. the
    repetition-rule mode fold) over a MATERIALIZED token array column.
    The column must be a real projection (not the split() expression
    inline): higher-order-function lambdas are interpreted, so an
    inlined split() would re-tokenize the document once per element_at
    — O(tokens × shingles) per row, measured 50× slower at sf0.1.
    Guarded: Spark sequence(1, 0) counts DOWN, so short docs get an
    explicit empty array."""
    toks = F.col(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(n)]))
    guarded = (F.when(F.size(toks) >= n, grams)
               .otherwise(F.array().cast("array<string>")))
    return F.array_distinct(guarded) if distinct else guarded


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh: array<string>) with tokens materialized first."""
    return (_spread(docs.select("doc_id", "text"))
            .select("doc_id", TOKENS().alias("toks"))
            .select("doc_id", shingles_of("toks", n).alias("sh")))


_BARRIER_SEQ = __import__("itertools").count()


def exploded_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle, n_shingles) — one row per distinct doc-shingle.
    Narrow (generate + explode); the downstream groupBy/join shuffles on
    `shingle`, which is high-cardinality and well-spread → no skew.

    The ``observe`` node is a zero-cost PLAN BARRIER, not telemetry:
    Catalyst's InferFiltersFromGenerate adds `size(sh)>0 AND
    isnotnull(sh)` above the explode, and predicate pushdown then
    INLINES the whole interpreted shingle expression into a scan-level
    Filter — O(tokens×shingles) per row, measured 18× (7.4s → 0.4s at
    sf0.1).  Filters cannot cross CollectMetrics, so the inferred
    filter evaluates against the materialized `sh` column instead.
    Plan-level fix on purpose: it holds in ANY session (the external
    correctness harness runs these queries in its own SparkSession
    where a session-conf rule exclusion would not apply).  Unique name
    per construction — duplicate observe names in one query are
    rejected (self-joins build two frames, so each gets its own)."""
    ds = (doc_shingles(docs, n)
          .observe(f"shingle_barrier_{next(_BARRIER_SEQ)}",
                   F.count(F.lit(1))))
    return ds.select("doc_id", F.size("sh").alias("n_shingles"),
                     F.explode("sh").alias("shingle"))


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: group by content hash, keep min doc_id as canonical.
    Scale: one hash-shuffle on a 64-hex key; partial aggregation
    (map-side combine) collapses duplicates before the exchange."""
    return (docs
            .groupBy(F.sha2(F.col("text"), 256).alias("text_sha256"))
            .agg(F.min("doc_id").alias("canonical_id"),
                 F.count("*").cast("long").alias("n_copies"))
            .select("text_sha256", "canonical_id", "n_copies"))


NGRAM_DF_CAP = 32   # shingles seen in more docs than this are dropped


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.4,
                        df_cap: int = NGRAM_DF_CAP) -> DataFrame:
    """Near-dup pairs by exact word-n-gram Jaccard.

    Shape: explode distinct shingles → document-frequency cap →
    self-equi-join on shingle → count = |A∩B| → filter on
    |A∩B|/(|A|+|B|-|A∩B|).  The join shuffles on `shingle`; a hot
    shingle (viral boilerplate phrase) otherwise makes one reducer
    quadratic at 100 TB, so shingles appearing in more than ``df_cap``
    documents are EXCLUDED from intersection counting (denominators
    stay the full per-doc shingle counts).  The cap bounds every
    reducer to df_cap² join rows per shingle and is part of the
    operator contract, mirrored in the DuckDB oracle; pairs whose
    overlap is exclusively ultra-common shingles are by construction
    boilerplate matches, not near-dups.  This is the exact kernel;
    MinHash-LSH below is the sub-quadratic scale path."""
    e = exploded_shingles(docs, n)
    dfw = Window.partitionBy("shingle")
    e = (e.withColumn("df", F.count("*").over(dfw))
         .filter(F.col("df") <= df_cap).drop("df"))
    a, b = e.alias("a"), e.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"),
                      F.col("a.n_shingles").alias("na"),
                      F.col("b.n_shingles").alias("nb"))
             .agg(F.count("*").alias("i")))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (inter.filter(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")))


MINHASH_P = 536870909   # prime < 2^29: A*h + B stays far below 2^63


DEDUP_COMPONENT_CAP = 100_000   # clusters above this quarantine as -1


def dedup_clusters(docs: DataFrame, pairs: DataFrame | None = None,
                   n: int = 3, threshold: float = 0.4,
                   max_iters: int = 20,
                   component_cap: int = DEDUP_COMPONENT_CAP) -> DataFrame:
    """(doc_id, cluster_id): connected components over near-dup pairs —
    the dedup ENDGAME: pair lists don't dedup a corpus, keeping one doc
    per transitive cluster does (cluster_id = min doc_id reachable,
    i.e. the canonical survivor).

    Min-label propagation WITH pointer jumping (the round-2 review's
    large-component guard, part 1): each round every node takes the min
    of its own and its neighbors' labels, then shortcuts through its
    label's label (label(u) ← label(label(u)), the halving step of
    HashToMin-style CC, Rastogi et al., ICDE'13).  Rounds needed drop
    from O(diameter) to O(log diameter) — a 10^6-hop drifting-
    boilerplate chain that defeats the LSH caps converges in ~20 rounds
    instead of paying max_iters full-corpus joins and dying.  Each
    round is two joins on the (tiny relative to the corpus) edge/label
    sets; `localCheckpoint` cuts the growing lineage; convergence is
    the monotone label sum (labels only decrease).

    Part 2 of the guard: after convergence, components LARGER than
    ``component_cap`` are routed to quarantine — their rows come back
    with the sentinel ``cluster_id = -1`` instead of a min-label, so a
    dedup consumer can never pick one survivor for a million-doc
    boilerplate blob as if it were a legitimate near-dup cluster (the
    pathological component is a corpus-quality signal, not a cluster).

    Docs that appear in no pair are their own singleton cluster."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(docs, n, threshold)
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst")))
             .localCheckpoint())
    # r6: propagation runs over only the nodes that appear in a pair.
    # A doc in no pair is a singleton whose label provably never moves
    # (no neigh row; the pointer jump is the identity on
    # label==doc_id), so those rows join the output directly and every
    # round's joins shrink from |corpus| to |edge endpoints| — at web
    # scale the edge set is a small fraction of the corpus, at bench
    # scale the rounds stop re-shuffling dead weight.  The semi join
    # keeps the old semantics exactly: an edge endpoint that is not a
    # doc_id never entered `labels` before and still does not.
    all_ids = docs.select("doc_id").distinct()
    enodes = (edges.select(F.col("src").alias("doc_id")).distinct()
              .localCheckpoint())
    labels = (all_ids.join(enodes, "doc_id", "semi")
              .withColumn("label", F.col("doc_id")))
    prev_sum = None
    converged = False
    for it in range(max_iters):
        neigh = (edges.join(labels,
                            edges["dst"] == labels["doc_id"])
                 .groupBy("src").agg(F.min("label").alias("nlabel")))
        l1 = (labels.join(neigh, labels["doc_id"] == neigh["src"],
                          "left")
              .select(labels["doc_id"],
                      F.least(F.col("label"),
                              F.coalesce("nlabel", F.col("label")))
                      .alias("label")))
        if it < 2:
            # dense near-dup clusters (diameter 2-4, the common case)
            # converge on plain propagation before the shortcut could
            # pay for its extra join; jumping starts at round 3, where
            # only long-chain components are still moving
            labels = l1.localCheckpoint()
        else:
            # pointer jump: label(u) ← label(label(u)).  Halves the
            # remaining propagation distance every round, which is what
            # bounds rounds logarithmically for long-chain components.
            l1 = l1.localCheckpoint()  # staged: feeds both join sides
            ptr = l1.select(F.col("doc_id").alias("p_id"),
                            F.col("label").alias("p_label"))
            labels = (l1.join(ptr, l1["label"] == ptr["p_id"], "left")
                      .select(l1["doc_id"],
                              F.least(l1["label"],
                                      F.coalesce("p_label", l1["label"]))
                              .alias("label"))
                      .localCheckpoint())
        # decimal(38,0): exact and overflow-free — sum(bigint) would
        # overflow at 10^12 hash-style doc_ids (ANSI mode throws,
        # legacy mode silently wraps and could fake convergence)
        s = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged:
        # silent partial clusters would dedup wrongly; a >2^max_iters
        # diameter must be loud, not approximate
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            f"(component diameter exceeds ~2^{max_iters}; raise it)")
    # docs in no pair re-enter as their own singleton cluster (their
    # labels provably never moved — see the restriction note above)
    singles = (all_ids.join(enodes, "doc_id", "anti")
               .select("doc_id", F.col("doc_id").alias("cluster_id")))
    out = (labels.select("doc_id", F.col("label").alias("cluster_id"))
           .unionByName(singles))
    if component_cap:
        # probe first (one small aggregation over the checkpointed
        # labels), join only on breach: the common no-oversize path
        # keeps the plain projection plan — no extra exchange in the
        # returned plan.  Singletons need no counting: a size-1
        # component can never breach the cap.
        sizes = (labels.groupBy("label").agg(F.count("*").alias("sz"))
                 .localCheckpoint())
        mx = sizes.agg(F.max("sz")).first()[0]
        if mx is not None and mx > component_cap:
            label_t = dict(labels.dtypes)["label"]
            big = (sizes.filter(F.col("sz") > component_cap)
                   .select(F.col("label").alias("big_label")))
            out = (out.join(big, out["cluster_id"] == big["big_label"],
                            "left")
                   .select("doc_id",
                           F.when(F.col("big_label").isNull(),
                                  F.col("cluster_id"))
                           .otherwise(F.lit(-1).cast(label_t))
                           .alias("cluster_id")))
    return out


def _hash_mod(salt: str, mod: int, col: str = "doc_id"):
    """Bucket in [0, mod): first 8 hex digits of md5(salt:col) as an
    integer, mod ``mod`` — the ONE content-independent hash-mod rule
    shared by hash_split / source_mix / weighted_sample /
    pack_sequences.  Engine-portable (md5 + base-conv exist in any SQL
    dialect), reproducible across runs/cluster sizes, and stable under
    corpus growth; changing ``salt`` redraws independently."""
    return (F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col(col))), 1, 8),
        16, 10).cast("long") % mod)


def hash_split(docs: DataFrame, weights: tuple = (0.98, 0.01, 0.01),
               salt: str = "v1") -> DataFrame:
    """(doc_id, bucket, split): deterministic train/val/test assignment
    by content-independent hash — bucket = md5(salt:doc_id)[:8] as int
    mod 10000 against cumulative weight cutoffs.

    Hash-mod, NOT rng sampling: reproducible across engines, runs, and
    cluster sizes, and STABLE under corpus growth (a doc never changes
    split when new docs arrive) — the properties a training pipeline
    needs that `sampleBy`'s per-partition RNG cannot give.  Pure narrow
    projection."""
    if (any(not 0.0 <= w <= 1.0 for w in weights)
            or sum(weights) > 1.0 + 1e-9):
        raise ValueError(f"hash_split weights must each be in [0, 1] "
                         f"and sum to <= 1, got {weights}")
    h = _hash_mod(salt, 10000)
    # round, don't truncate: 0.29*10000 is 2899.999… in IEEE754 and
    # int() would shift the cutoff by a bucket
    c_train = int(round(weights[0] * 10000))
    c_val = c_train + int(round(weights[1] * 10000))
    return docs.select(
        "doc_id", h.cast("int").alias("bucket"),
        F.when(h < c_train, "train").when(h < c_val, "val")
        .otherwise("test").alias("split"))


def source_mix(docs: DataFrame, weights: dict[str, float],
               salt: str = "mix1") -> DataFrame:
    """Deterministic data-mixing: keep each document with its source's
    target probability via content-independent hash-mod (same
    engine-portable rule as hash_split) — the per-source DOWNSAMPLING
    primitive of a training mix, with hash_split's guarantees:
    reproducible across engines/runs and stable under corpus growth.
    Sources absent from ``weights`` keep weight 1.0.  Weights above
    1.0 (upsampling = row duplication) are a different operator and
    are rejected loudly rather than silently clamped (round-3 review).
    Pure narrow filter (broadcast-free: the weight map ships as plan
    literals)."""
    bad = {s: w for s, w in weights.items() if not 0.0 <= w <= 1.0}
    if bad:
        raise ValueError(f"source_mix downsamples only; weights must "
                         f"be in [0, 1], got {bad}")
    h = _hash_mod(salt, 10000)
    cut = F.lit(10000)
    for src, wt in sorted(weights.items()):
        cut = F.when(F.col("source") == src,
                     F.lit(int(round(wt * 10000)))).otherwise(cut)
    return (docs.select("doc_id", "source", h.alias("h"))
            .filter(F.col("h") < cut)
            .select("doc_id", "source"))


def stratified_sample(docs: DataFrame, per_group: int = 10,
                      by: str = "source",
                      salt: str = "samp1") -> DataFrame:
    """(doc_id, <by>, rank): deterministic uniform sample of exactly
    ``per_group`` docs per stratum — the eval-set / inspection-sample
    primitive (a reproducible "reservoir" without RNG state: the k
    kept docs are the k smallest salted content-independent hashes, so
    the sample is stable across engines, runs, AND corpus re-shuffles,
    and changing ``salt`` redraws it).

    Skew shape: a single window over partitionBy(<by>) would shuffle
    EVERY row of a hot stratum into one reducer.  Instead stage 1 ranks
    within (stratum, spark_partition_id()) — the exchange key carries
    the physical partition id, so a 10^11-row stratum spreads over all
    reducers — and keeps each partition's local top-k.  Stage 2 ranks
    the survivors (≤ k rows per stratum per partition) globally per
    stratum; its exchange moves k×P rows per stratum, not the corpus.
    The final k-smallest-hash set is invariant to the stage-1 pid
    layout: global winners are local winners everywhere.  Ties broken
    by doc_id; the oracle mirrors only the stage-2 rule."""
    h = F.md5(F.concat_ws(":", F.lit(salt), F.col("doc_id")))
    local = Window.partitionBy(by, F.spark_partition_id()).orderBy(
        "h", "doc_id")
    final = Window.partitionBy(by).orderBy("h", "doc_id")
    return (docs.select("doc_id", by, h.alias("h"))
            .withColumn("lr", F.row_number().over(local))
            .filter(F.col("lr") <= per_group)
            .withColumn("rank", F.row_number().over(final))
            .filter(F.col("rank") <= per_group)
            .select("doc_id", by, F.col("rank").cast("int").alias("rank")))


def corpus_card(docs: DataFrame,
                weights: tuple = (0.98, 0.01, 0.01)) -> DataFrame:
    """The training data card: docs / tokens / chars per (split,
    source) cell — hash_split composed with token accounting, the
    rollup every run report starts from.  One narrow projection into
    one small-keyed aggregation."""
    h = hash_split(docs, weights).select("doc_id", "split")
    t = docs.select("doc_id", "source",
                    F.size(TOKENS()).alias("n_tokens"),
                    F.length("text").alias("n_chars"))
    return (t.join(h, "doc_id")
            .groupBy("split", "source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.sum("n_chars").cast("long").alias("n_chars")))


def contamination(docs: DataFrame, probe_mod: int = 50,
                  n: int = 3) -> DataFrame:
    """Benchmark-contamination check: for each PROBE document (the
    eval/benchmark set), the fraction of its distinct word n-grams that
    also occur in the TRAINING corpus (every non-probe doc) — the
    standard n-gram-overlap decontamination measure for training-data
    pipelines.

    Here the probe set is doc_id % probe_mod == 0 (a stand-in for a
    real benchmark table — the operator only assumes probes ≪ corpus,
    which is the real-world shape).

    Scale plan: probe shingles are the SMALL side and are broadcast
    twice — first to semi-join-filter the corpus's exploded shingle
    stream down to only probe-relevant shingles (the corpus is scanned
    once, narrow, and never shuffled on its own cardinality), then the
    surviving matched-shingle set (≤ |probe shingles|, tiny) broadcasts
    back to score each probe.  Both joins are broadcast; the only
    aggregation keys are probe doc_ids."""
    is_probe = F.col("doc_id") % probe_mod == 0
    # stage the (tiny) probe shingle rows once: three consumers below
    # (probe_set, hits, totals) would otherwise each re-run the
    # shingle projection lineage
    probe_sh = exploded_shingles(docs.filter(is_probe), n).localCheckpoint()
    probe_set = probe_sh.select("shingle").distinct()
    corpus_sh = (exploded_shingles(docs.filter(~is_probe), n)
                 .select("shingle"))
    matched = (corpus_sh.join(F.broadcast(probe_set), "shingle",
                              "left_semi").distinct())
    hits = (probe_sh.join(F.broadcast(matched), "shingle", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_contaminated")))
    totals = (probe_sh.groupBy("doc_id")
              .agg(F.first("n_shingles").cast("long").alias("n_shingles")))
    return (totals.join(hits, "doc_id", "left")
            .select(F.col("doc_id").alias("probe_id"), "n_shingles",
                    F.coalesce("n_contaminated", F.lit(0)).cast("long")
                    .alias("n_contaminated"))
            .withColumn("rate", F.round(F.col("n_contaminated")
                                        / F.col("n_shingles"), 4)))


def decontaminate(docs: DataFrame, probe_mod: int = 50,
                  n: int = 3) -> DataFrame:
    """(doc_id, n_tok, n_removed, clean_text): benchmark
    decontamination by SPAN REMOVAL (the GPT-3 appendix-C recipe,
    token-granular): every training-doc token covered by an n-gram
    that also occurs in the probe (benchmark) set is dropped, and the
    survivors reassemble in order — the removal side of
    `contamination` (which only measures overlap).  Probe set =
    doc_id % probe_mod == 0, the same stand-in convention.

    Scale shape: probe shingles are the SMALL side and broadcast once
    to semi-join-filter the training gram stream (the corpus is
    scanned once, narrow, never shuffled on its own cardinality);
    matched starts fan out to covered POSITIONS (ints, no text) and
    aggregate per doc in one map-side-combined shuffle; the covered
    arrays then join the token frame on doc_id (shuffle-hash — at
    100 TB the matched-doc frame is corpus-sized, beyond broadcast)
    and the rebuild is a narrow indexed-HOF filter.  Text moves
    through exactly one exchange (the rebuild join), same budget as
    line_dedup's reassembly."""
    is_probe = F.col("doc_id") % probe_mod == 0
    probe_set = (exploded_shingles(docs.filter(is_probe), n)
                 .select("shingle").distinct())
    train = (_spread(docs.filter(~is_probe))
             .select("doc_id", TOKENS().alias("toks")))
    grams = train.select(
        "doc_id",
        F.posexplode(shingles_of("toks", n, distinct=False))
        .alias("pos", "shingle"))
    cov = (grams.join(F.broadcast(probe_set), "shingle", "left_semi")
           .select("doc_id",
                   F.explode(F.sequence("pos", F.col("pos") + (n - 1)))
                   .alias("p"))
           .groupBy("doc_id")
           .agg(F.array_sort(F.collect_set("p")).alias("cov")))
    cov2 = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    keep = F.filter("toks", lambda x, i: ~F.array_contains(cov2, i))
    return (train.join(cov.hint("shuffle_hash"), "doc_id", "left")
            .select("doc_id",
                    F.size("toks").cast("int").alias("n_tok"),
                    F.coalesce(F.size("cov"), F.lit(0)).cast("int")
                    .alias("n_removed"),
                    F.array_join(keep, " ").alias("clean_text")))


def shingle_hashes(docs: DataFrame, n: int = 3,
                   carry_cols: tuple = ()) -> DataFrame:
    """(doc_id [, *carry_cols], hs: array<bigint>) — one 28-bit base
    hash per distinct shingle (first 7 hex chars of md5,
    engine-portable).  Materialized as its own projection so the k
    permutations below reuse it instead of re-hashing (HOF lambdas
    inline their inputs — an md5 inside the permutation loop would run
    k× per shingle)."""
    cc = list(carry_cols)
    # admission predicate on the CHEAP column: size(sh) > 0 ⟺
    # size(toks) >= n, and the latter doesn't re-evaluate the shingle
    # expression when Catalyst pushes the filter below the projection
    return (_spread(docs.select("doc_id", *cc, "text"))
            .select("doc_id", *cc, TOKENS().alias("toks"))
            .filter(F.size("toks") >= n)
            .select("doc_id", *cc, shingles_of("toks", n).alias("sh"))
            .select("doc_id", *cc, F.transform(
                "sh",
                lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10)
                .cast("bigint")).alias("hs")))


def minhash_sig_expr(k: int = 16):
    """array<bigint> of k min-hashes over the `hs` base-hash column.

    Classic affine-permutation MinHash: mh_j = min over shingles of
    (A_j·h + B_j) mod P — one md5 per shingle total, then k cheap
    integer ops (the md5-per-(seed,shingle) variant measured ~4× the
    cost).  Pure projection, NO shuffle.  Identical formula in the
    DuckDB oracle.

    r6: the k x |shingles| interpreted HOF elements per row move into
    an Arrow kernel — ALL-INTEGER arithmetic (h < 2^28, A < 2^17, so
    A*h + B < 2^45 in int64, then one % and a min), so the kernel is
    bit-exact against the expression form by construction; rows with
    null/empty shingle sets keep the array_min-over-empty NULL
    outcome ([NULL]*k)."""
    import numpy as np

    A = np.array([j * 7919 + 1 for j in range(k)], dtype=np.int64)
    B = np.array([j * 104729 + 1 for j in range(k)], dtype=np.int64)
    P = MINHASH_P

    @F.pandas_udf("array<bigint>")
    def kern(hs: pd.Series) -> pd.Series:
        if len(hs) == 0:
            return pd.Series([], dtype=object)
        vals = hs.to_numpy()
        clean = [i for i, v in enumerate(vals)
                 if v is not None and len(v) > 0
                 and getattr(v, "dtype", None) is not None
                 and v.dtype.kind == "i"]
        out: list = [None] * len(vals)
        if clean:
            arrs = [np.asarray(vals[i], dtype=np.int64) for i in clean]
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                               count=len(arrs))
            flat = np.concatenate(arrs)
            starts = np.zeros(len(arrs), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sig = np.empty((len(arrs), k), dtype=np.int64)
            for j in range(k):
                pj = (flat * A[j] + B[j]) % P
                sig[:, j] = np.minimum.reduceat(pj, starts)
            for row, i in enumerate(clean):
                out[i] = sig[row]
        for i, v in enumerate(vals):
            if out[i] is None:
                if v is None or len(v) == 0:
                    out[i] = [None] * k          # array_min over empty
                else:
                    # null elements: min over non-null, exact per row
                    hv = [int(x) for x in v if x is not None
                          and x == x]
                    out[i] = ([min((int(x) * int(a) + int(b)) % P
                                   for x in hv)
                               for a, b in zip(A, B)]
                              if hv else [None] * k)
        return pd.Series(out)

    return kern(F.col("hs"))


def lsh_band_keys(docs: DataFrame, n: int = 3, k: int = 16,
                  rows_per_band: int = 4,
                  carry_cols: tuple = ()) -> DataFrame:
    """(doc_id, band, band_key [, *carry_cols]): LSH banding of the
    MinHash signature.  band_key = md5 of the band's minhashes joined
    in seed order.  ``carry_cols`` rides extra doc columns through the
    projections (e.g. the streaming TTL variant carries warc_ts for
    event-time state expiry) — still zero shuffle.

    Shape (round-3 fix for the r2 bench regression): ZERO shuffle — the
    signature stays an array and each band key is md5(array_join(
    slice(sig))), posexploded to (band, band_key) rows.  The r2 shape
    posexploded the k seed rows and re-collected them with a
    groupBy(doc_id, band) — a whole extra exchange stage that cost
    ~0.5 s of fixed scheduling at bench scale and an 80k-row shuffle
    per 20k docs at any scale, for keys that are a pure per-row
    function of the signature.  The observe() CollectMetrics barrier
    stops CollapseProject from inlining the expensive signature HOF
    into the band transform (interpreted lambdas re-evaluate inlined
    inputs PER ELEMENT — the n_bands× recompute trap; plan test pins
    the two-projection shape)."""
    r = rows_per_band
    n_bands = -(-k // r)
    cc = list(carry_cols)
    sig = (shingle_hashes(docs, n, carry_cols)
           .select("doc_id", *cc, minhash_sig_expr(k).alias("sig"))
           .observe(f"mh_barrier_{next(_BARRIER_SEQ)}",
                    F.count(F.lit(1))))
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.md5(F.array_join(
            F.transform(F.slice(F.col("sig"), b * r + 1, r),
                        lambda m: m.cast("string")), ",")))
    return sig.select(
        "doc_id", *cc,
        F.posexplode(band_keys).alias("band", "band_key"))


LSH_BUCKET_CAP = 64   # buckets larger than this are skipped (skew guard)


def lsh_candidate_pairs(docs: DataFrame, n: int = 3, k: int = 16,
                        rows_per_band: int = 4,
                        bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any band bucket.

    Scale: ONE shuffle on (band, band_key) — 32 bytes per doc per band
    regardless of document size — into a groupBy that collects each
    bucket's doc_ids and emits the in-bucket pairs with a nested
    transform (i<j over the sorted id array).  No self-join: the old
    join-based shape either recomputed the whole shingle+minhash
    lineage for both sides or needed a persist() it never released
    (the round-1 review's leak).  The groupBy reads the lineage exactly
    once and map-side combines.

    ``bucket_cap`` is the skew guard the round-1 review required: an
    m-copy near-dup cluster would otherwise cost m² pairs in one
    reducer; buckets larger than the cap are dropped (their members are
    near-certain exact duplicates — dedup_exact's job, far cheaper).
    The cap is part of the operator contract and mirrored in the
    DuckDB oracle.  Sub-quadratic replacement for ngram_jaccard_pairs
    at 10^12 docs."""
    bk = lsh_band_keys(docs, n, k, rows_per_band)
    return (_bucket_pairs(bk, ["band", "band_key"], "doc_id", bucket_cap)
            .distinct())


def _bucket_pairs(rows: DataFrame, keys: list, id_col: str,
                  cap: int) -> DataFrame:
    """(doc_a, doc_b): bucket groupBy collecting ids + in-array i<j
    pair emission — the shared no-self-join candidate-pair shape of
    lsh_candidate_pairs and substring_dup_candidates (one exchange on
    the bucket key; ``cap`` is the skew guard on bucket fan-out)."""
    buckets = (rows.groupBy(*keys)
               .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
               .filter((F.size("ids") >= 2) & (F.size("ids") <= cap)))
    pairs = F.flatten(F.transform(
        F.sequence(F.lit(2), F.size("ids")),
        lambda i: F.transform(
            F.sequence(F.lit(1), i - 1),
            lambda j: F.struct(
                F.element_at(F.col("ids"), j).alias("doc_a"),
                F.element_at(F.col("ids"), i).alias("doc_b")))))
    return (buckets.select(F.explode(pairs).alias("p"))
            .select(F.col("p.doc_a").alias("doc_a"),
                    F.col("p.doc_b").alias("doc_b")))


LSH_BROADCAST_CAP = 1_000_000   # candidate pairs above this: no broadcast


def lsh_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.4,
                      k: int = 16, rows_per_band: int = 4,
                      broadcast_cap: int = LSH_BROADCAST_CAP) -> DataFrame:
    """The production near-dup pipeline: MinHash-LSH candidate pairs,
    verified with EXACT n-gram Jaccard via array_intersect.

    This is the sub-quadratic scale path: candidates come from the
    O(docs×bands) bucket join; the exact verify touches only candidate
    pairs and is per-pair O(|A|+|B|) array math (no shingle-explode
    self-join, which is what makes the exact kernel quadratic-ish).

    Semantics note: the verify scores FULL per-pair Jaccard, while
    ngram_jaccard_pairs excludes shingles hotter than its df_cap from
    intersection counts — so on a corpus with capped (viral) shingles
    the two kernels can legitimately disagree about pairs whose overlap
    is mostly boilerplate.  On df-uniform corpora (no shingle above the
    cap) output ⊆ ngram_jaccard_pairs, LSH recall being the tunable."""
    # Stage the candidate pairs ONCE (localCheckpoint = the staging
    # table between the two passes; a plain persist() would sit in the
    # CacheManager until an explicit unpersist — the round-1 review's
    # leak — while a checkpointed RDD is reclaimed by the ContextCleaner
    # when the frame goes out of scope).  Both consumers below — the id
    # broadcast and the pair broadcast — would otherwise re-execute the
    # whole shingle+minhash+banding lineage (measured ~2× wall).
    cands = (lsh_candidate_pairs(docs, n, k, rows_per_band)
             .localCheckpoint())
    # Size-gate the broadcast hints (round-2 review): at 10^12 docs even
    # a 0.1% near-dup rate makes `cands` ~10^9 rows — an impossible
    # driver-side broadcast.  The count is nearly free (the checkpoint
    # above just materialized the frame); below the cap we keep the
    # broadcast plan, above it the joins fall back to shuffle-hash
    # (hinted — sort-merge would sort the shingle-array rows for
    # nothing).  Pair keys are two longs, so the default cap ≈ tens of
    # MB broadcast, autoBroadcastJoinThreshold scale.
    small = cands.count() <= broadcast_cap
    hint = F.broadcast if small else (lambda df: df.hint("shuffle_hash"))
    # Semi-join-prune BEFORE shingling (the round-1 review's fix): only
    # candidate docs ever get their shingle arrays built or moved.  The
    # candidate-id set is tiny relative to the corpus → broadcast; the
    # prune sits BELOW the shingle projection in the constructed plan,
    # so the expensive gram math runs on candidate rows only.  At 100TB
    # the same shape holds — full shingle arrays of NON-candidates never
    # enter any exchange.
    ids = (cands.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
           .distinct())
    pruned = (docs.select("doc_id", "text")
              .join(hint(ids), "doc_id", "left_semi")
              .select("doc_id", TOKENS().alias("toks"))
              .select("doc_id", shingles_of("toks", n).alias("sh")))
    a = pruned.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = pruned.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    if small:
        verified = F.broadcast(cands).join(a, "doc_a").join(b, "doc_b")
    else:
        # hint BOTH verify joins: the pruned shingle frames grow with
        # the candidate set, so the planner's stats could still pick a
        # broadcast for the second join's small-looking side
        verified = (cands.hint("shuffle_hash").join(a, "doc_a")
                    .hint("shuffle_hash").join(b, "doc_b"))
    return (verified.filter(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")))


INC_CAND_CAP = 256   # committed-side candidates verified per new doc


def incremental_candidates(old: DataFrame | None, new: DataFrame,
                           n: int = 3,
                           k: int = 16, rows_per_band: int = 4,
                           cand_cap: int = INC_CAND_CAP,
                           broadcast_cap: int = LSH_BROADCAST_CAP,
                           bucket_cap: int = LSH_BUCKET_CAP,
                           old_band_keys: DataFrame | None = None
                           ) -> DataFrame:
    """(new_id, old_id): the LSH band-key candidate stage of the
    admission pass, factored out of incremental_dedup so plan tests
    can pin the pre-checkpoint join shape.

    ``old_band_keys`` is the committed-side catalog ARTIFACT (round-4
    verdict item 6): (doc_id, band, band_key) computed when each
    snapshot COMMITTED (commit_band_keys / ensure_band_keys over an
    IceTable) and merely read here — when given, ``old`` may be None
    and the committed corpus is never re-shingled by the admission run
    (structurally: no committed-docs scan exists in the plan).  Without
    it (ad-hoc frames, tests) the keys are computed in-run and staged
    ONCE (localCheckpoint) to feed both consumers — the hot-bucket
    counts and the candidate probe.  Committed buckets with more than
    ``bucket_cap`` members are dropped BEFORE the join (the r4
    review's skew guard — the same contract as lsh_candidate_pairs: a
    viral bucket's members are near-certain exact duplicates,
    dedup_exact's job — otherwise one boilerplate band key × 10^6
    committed members floods the per-new-doc collect_set).  The count
    agg moves only map-side combined 32-byte (band, band_key)
    partials, never documents.  With the bucket cap in place the
    per-new-doc candidate set is bounded by n_bands × bucket_cap
    (= 256 at the defaults), so the ``cand_cap`` slice is a
    belt-and-suspenders bound, not a recall-losing prune.  Both small
    sides (hot buckets, new band keys) broadcast behind size gates
    with shuffle-hash fallbacks."""
    # r6: the NEW-side staging and the OLD-side staging (band keys +
    # hot-bucket census) are independent job chains, so they run
    # concurrently from a two-thread pool (guide §2.6 — the serial
    # version paid each checkpoint as its own driver-blocking job);
    # the two size-gate counts then run as ONE job (a union of two
    # count aggs over the staged frames).
    if old_band_keys is None and old is None:
        raise ValueError("need old docs or an old_band_keys artifact")

    def stage_new():
        return (lsh_band_keys(new, n, k, rows_per_band)
                .select(F.col("doc_id").alias("new_id"), "band",
                        "band_key")
                .localCheckpoint())

    def stage_old():
        if old_band_keys is not None:
            # parquet-backed artifact: already materialized, no
            # checkpoint of the key frame itself
            ob = old_band_keys.select(
                F.col("doc_id").alias("old_id"), "band", "band_key")
        else:
            ob = (lsh_band_keys(old, n, k, rows_per_band)
                  .select(F.col("doc_id").alias("old_id"), "band",
                          "band_key")
                  .localCheckpoint())
        h = (ob.groupBy("band", "band_key")
             .agg(F.count("*").alias("c"))
             .filter(F.col("c") > bucket_cap)
             .select("band", "band_key").localCheckpoint())
        return ob, h

    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_new = pool.submit(stage_new)
        f_old = pool.submit(stage_old)
        new_bk = f_new.result()
        old_bk, hot = f_old.result()
    n_hot, n_new = [r[0] for r in
                    hot.agg(F.count(F.lit(1)))
                    .unionAll(new_bk.agg(F.count(F.lit(1)))).collect()]
    hot_hint = F.broadcast if n_hot <= broadcast_cap \
        else (lambda df: df.hint("shuffle_hash"))
    ok = old_bk.join(hot_hint(hot), ["band", "band_key"], "left_anti")
    new_side = (F.broadcast(new_bk)
                if n_new <= broadcast_cap
                else new_bk.hint("shuffle_hash"))
    return (ok.join(new_side, ["band", "band_key"])
            .groupBy("new_id")
            .agg(F.slice(F.sort_array(F.collect_set("old_id")), 1,
                         cand_cap).alias("olds"))
            .select("new_id", F.explode("olds").alias("old_id")))


def incremental_dedup(old: DataFrame, new: DataFrame, n: int = 3,
                      threshold: float = 0.4, k: int = 16,
                      rows_per_band: int = 4,
                      cand_cap: int = INC_CAND_CAP,
                      broadcast_cap: int = LSH_BROADCAST_CAP,
                      bucket_cap: int = LSH_BUCKET_CAP,
                      old_band_keys: DataFrame | None = None) -> DataFrame:
    """(doc_id, dup_of, jaccard): near-dup admission of a NEW snapshot
    against the COMMITTED corpus — the per-crawl production pass (each
    incoming Common-Crawl snapshot is deduped against every previous
    one before admission; reference precedent: per-request idempotent
    result store, docling_serve/orchestrator_factory.py:190-218).
    In-batch duplicates are lsh_jaccard_pairs' job; this operator only
    answers "is this new page already in the corpus, and where".

    Asymmetric shape (the point at 10^12 committed rows): the NEW
    side's band keys — 32 bytes × n_bands per incoming doc — are
    broadcast; the committed corpus' band-key frame (a per-snapshot
    catalog artifact, see incremental_candidates) is probed by a
    broadcast-hash join, so committed documents are NEVER shuffled on
    their own cardinality (same asymmetry as dedup_contamination).
    Viral committed buckets are dropped by the bucket_cap guard before
    the join; surviving candidates collapse per new doc with ONE
    exchange of (new_id, old_id) longs, bounded at n_bands × bucket_cap
    per new doc.  Exact-Jaccard verify reuses the lsh_jaccard_pairs
    staging: candidate ids semi-join-prune BOTH shingle builds,
    broadcasts size-gated with shuffle-hash fallback.  dup_of = the
    smallest committed id whose verified Jaccard clears the
    threshold.

    ``old_band_keys``: the committed band-key catalog artifact (see
    incremental_candidates) — when given, the candidate stage never
    touches ``old``; the committed docs are read ONLY inside the
    exact-verify stage, semi-join-pruned to the bounded candidate ids
    (n_new × cand_cap rows, the ANN-refine contract)."""
    cands = incremental_candidates(old, new, n, k, rows_per_band,
                                   cand_cap, broadcast_cap,
                                   bucket_cap,
                                   old_band_keys=old_band_keys
                                   ).localCheckpoint()
    small = cands.count() <= broadcast_cap
    hint = F.broadcast if small else (lambda df: df.hint("shuffle_hash"))

    def _pruned(docs: DataFrame, side: str, out: str) -> DataFrame:
        ids = cands.select(F.col(side).alias("doc_id")).distinct()
        return (docs.select("doc_id", "text")
                .join(hint(ids), "doc_id", "left_semi")
                .select("doc_id", TOKENS().alias("toks"))
                .select(F.col("doc_id").alias(side),
                        shingles_of("toks", n).alias(out)))

    a = _pruned(new, "new_id", "sa")
    b = _pruned(old, "old_id", "sb")
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    if small:
        verified = F.broadcast(cands).join(a, "new_id").join(b, "old_id")
    else:
        verified = (cands.hint("shuffle_hash").join(a, "new_id")
                    .hint("shuffle_hash").join(b, "old_id"))
    scored = (verified.filter(jac >= threshold)
              .select("new_id", "old_id", F.round(jac, 4).alias("jaccard")))
    w = Window.partitionBy("new_id").orderBy("old_id")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("new_id").alias("doc_id"),
                    F.col("old_id").alias("dup_of"), "jaccard"))


BAND_KEYS_ARTIFACT = "band_keys"


def commit_band_keys(tbl, docs: DataFrame, snapshot_id: str,
                     n: int = 3, k: int = 16,
                     rows_per_band: int = 4) -> str:
    """Compute the LSH band keys of one snapshot's DELTA docs at
    commit time and store them as the snapshot's catalog artifact
    (round-4 verdict item 6 — band keys are a pure function of
    committed docs, so they are computed when the snapshot lands and
    only READ on admission, never recomputed from the corpus).  Call
    right after IceTable.commit with the frame just committed."""
    return tbl.write_artifact_df(
        lsh_band_keys(docs, n, k, rows_per_band),
        BAND_KEYS_ARTIFACT, snapshot_id)


def ensure_band_keys(tbl, spark, n: int = 3, k: int = 16,
                     rows_per_band: int = 4,
                     as_of: str | None = None) -> DataFrame:
    """The committed corpus' band-key frame, assembled from the
    per-snapshot artifacts: the union of the artifacts of the snapshots
    that list live files (IceTable.manifest), newest first, down to the
    newest rewrite snapshot, whose files are the whole live set it
    replaced.  Self-healing: a snapshot missing its artifact
    (pre-feature history, a compaction that landed without the hook)
    gets it computed from that snapshot's OWN files and stored, so the
    recompute happens at most once per snapshot, not once per
    admission run.  Returns the union frame to pass as
    ``old_band_keys``."""
    by_snapshot: dict[str, list] = {}
    for e in tbl.manifest(as_of).files:
        by_snapshot.setdefault(e.snapshot_id, []).append(
            (e.path, e.schema_id))
    parts = []
    for sid, fws in by_snapshot.items():
        df = tbl.read_artifact_df(spark, BAND_KEYS_ARTIFACT, sid)
        if df is None:
            tbl.write_artifact_df(
                lsh_band_keys(tbl._read_mapped(spark, fws), n, k,
                              rows_per_band),
                BAND_KEYS_ARTIFACT, sid)
            df = tbl.read_artifact_df(spark, BAND_KEYS_ARTIFACT, sid)
        parts.append(df)
    if not parts:
        raise FileNotFoundError(f"no committed snapshot in {tbl.root}")
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash): SimHash over token frequencies.

    Hyperplane j's sign for a token is the high bit of hex digit j of
    md5(token) (engine-portable).  bit_j = sign of Σ_tokens ±count.

    Shape: a single narrow projection in the ARRAY domain — zero
    shuffle.  The identity Σ_distinct(cnt·sign) == Σ_occurrences(sign)
    means no token counting (and hence no groupBy(doc_id, token)
    exchange) is needed: one md5 per token occurrence via transform,
    then one aggregate folding every occurrence's per-bit ±1 vector
    into a `bits`-wide accumulator.  The old token-explode + two-level
    groupBy shape shuffled every token row (the avoidable exchange the
    round-1 review flagged); this plan has the same shuffle-free shape
    as `fingerprints`.  The md5 array is built inside the single
    aggregate expression (referenced once → CollapseProject cannot
    duplicate it).  Output values are identical: the oracle still
    computes the groupBy formulation."""
    docs = _spread(docs.select("doc_id", "text"))
    ones = F.sequence(F.lit(1), F.lit(bits))
    sums = F.aggregate(
        F.transform(TOKENS(), lambda t: F.md5(t)),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(ones, lambda j: F.when(
                F.substring(h, j, 1) >= F.lit("8"),
                F.lit(1).cast("long")).otherwise(F.lit(-1).cast("long"))),
            lambda a, b: a + b))
    return docs.select(
        "doc_id",
        F.array_join(F.transform(
            sums, lambda s: F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))),
            "").alias("simhash"))


# ---------------------------------------------------------------------------
# embedding similarity (ANN)
# ---------------------------------------------------------------------------

def _dot(a, b):
    """Double-precision dot product via zip_with + left-fold aggregate —
    deterministic sequential accumulation, JVM-side codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def _bucket_pair_dot_candidates(side: DataFrame,
                                min_raw: float) -> DataFrame:
    """(vec_a, vec_b, dot, na, nb): within-bucket candidate pairs with
    the exact pairwise dot product, computed bucket-at-a-time in a
    numpy kernel instead of a per-pair interpreted zip_with/aggregate
    over the self-join (guide §4.2 — the _pq_raw_dists_kernel
    precedent).  ``side`` carries (bucket, vec_id, embedding, norm)
    with norm already engine-computed; bucket sizes are pre-capped by
    the caller's quarantine filter, so one group is bounded.

    Bit-identity contract with the join form it replaces: float32
    components widen exactly to float64 and the dot accumulates in the
    SAME left-fold order as _dot ((0.0 + p0) + p1 + …) via sequential
    vectorized adds, so the emitted double equals the zip_with/
    aggregate result bitwise; ``na``/``nb`` pass through unchanged.
    The round-6 + threshold decision does NOT happen here — the kernel
    pre-filters with the conservative RAW bound ``min_raw`` (strictly
    wider than any round-6 outcome) and the caller re-applies the
    exact engine-side round(dot/(na*nb), 6) >= threshold, so rounding
    semantics stay in the engine.  NaN/null components poison the dot
    to NaN exactly as null-propagation dropped those pairs before, and
    pairs of different embedding lengths are excluded — the zip_with
    null-padding outcome.  Shape: ONE shuffle of the staged side (the
    join shuffled it twice); output is the candidate frame only."""
    import numpy as np

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {"vec_a": [], "vec_b": [], "dot": [], "na": [], "nb": []}
        col = pdf["embedding"]
        lens = np.fromiter((0 if e is None else len(e) for e in col),
                           dtype=np.int64, count=len(col))
        for L in np.unique(lens):
            if L < 1:
                continue
            sel = np.flatnonzero(lens == L)
            if len(sel) < 2:
                continue
            ids = pdf["vec_id"].to_numpy()[sel]
            norms = pdf["norm"].to_numpy(dtype=np.float64,
                                         na_value=np.nan)[sel]
            X = np.vstack([np.asarray(col.iat[int(r)], dtype=np.float64)
                           for r in sel])
            m = len(sel)
            step = max(1, (1 << 22) // m)      # bound chunk memory
            for lo in range(0, m, step):
                hi = min(m, lo + step)
                acc = np.zeros((hi - lo, m))
                for d in range(L):             # _dot's left fold
                    acc = acc + np.multiply.outer(X[lo:hi, d], X[:, d])
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = acc / np.multiply.outer(norms[lo:hi], norms)
                # isfinite: a zero/NaN norm can never produce a pair
                # (the old join form raised ANSI DIVIDE_BY_ZERO on a
                # zero vector; dropping the degenerate pair here keeps
                # the engine-side division always well-defined)
                mask = ((ids[lo:hi, None] < ids[None, :])
                        & np.isfinite(raw) & (raw >= min_raw))
                ai, bi = np.nonzero(mask)
                if len(ai):
                    out["vec_a"].extend(ids[lo:hi][ai].tolist())
                    out["vec_b"].extend(ids[bi].tolist())
                    out["dot"].extend(acc[ai, bi].tolist())
                    out["na"].extend(norms[lo:hi][ai].tolist())
                    out["nb"].extend(norms[bi].tolist())
        return pd.DataFrame(out, columns=["vec_a", "vec_b", "dot",
                                          "na", "nb"])

    return (side.select("bucket", "vec_id", "embedding", "norm")
            .groupBy("bucket")
            .applyInPandas(kern, "vec_a long, vec_b long, dot double, "
                                 "na double, nb double"))


def _bucket_cross_dot_candidates(side: DataFrame, src_lang: str,
                                 tgt_lang: str) -> DataFrame:
    """(src_id, tgt_id, dot, na, nb): CROSS-language within-bucket
    candidate pairs with the exact pairwise dot — the two-sided
    sibling of _bucket_pair_dot_candidates for bitext mining, where
    the pair universe is src-side x tgt-side of each SRP bucket
    instead of the same-side triangle.

    Same bit-identity contract: float32 widens exactly, the dot
    accumulates in _dot's left-fold order via sequential vectorized
    adds, na/nb pass through engine-computed, and the round-6 /
    micro-fix / threshold stay ENGINE-side on these columns.  The
    kernel pre-filters with the conservative RAW bound dot/(na*nb) > 0
    (strictly wider than the caller's cos_micro > 0, which needs the
    round-6 quotient >= 1e-6).  Zero/NaN norms and cross-length pairs
    drop exactly as in the same-side kernel; ONE shuffle of the staged
    side replaces the two-sided shuffle-hash join."""
    import numpy as np

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {"src_id": [], "tgt_id": [], "dot": [], "na": [], "nb": []}
        col = pdf["embedding"]
        langs = pdf["lang"].to_numpy()
        lens = np.fromiter((0 if e is None else len(e) for e in col),
                           dtype=np.int64, count=len(col))
        for L in np.unique(lens):
            if L < 1:
                continue
            sa = np.flatnonzero((lens == L) & (langs == src_lang))
            sb = np.flatnonzero((lens == L) & (langs == tgt_lang))
            if not len(sa) or not len(sb):
                continue
            ids_a = pdf["vec_id"].to_numpy()[sa]
            ids_b = pdf["vec_id"].to_numpy()[sb]
            norms = pdf["norm"].to_numpy(dtype=np.float64,
                                         na_value=np.nan)
            na, nb = norms[sa], norms[sb]
            A = np.vstack([np.asarray(col.iat[int(r)], dtype=np.float64)
                           for r in sa])
            B = np.vstack([np.asarray(col.iat[int(r)], dtype=np.float64)
                           for r in sb])
            m, n = len(sa), len(sb)
            step = max(1, (1 << 22) // max(1, n))
            for lo in range(0, m, step):
                hi = min(m, lo + step)
                acc = np.zeros((hi - lo, n))
                for d in range(L):             # _dot's left fold
                    acc = acc + np.multiply.outer(A[lo:hi, d], B[:, d])
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = acc / np.multiply.outer(na[lo:hi], nb)
                mask = np.isfinite(raw) & (raw > 0.0)
                ai, bi = np.nonzero(mask)
                if len(ai):
                    out["src_id"].extend(ids_a[lo:hi][ai].tolist())
                    out["tgt_id"].extend(ids_b[bi].tolist())
                    out["dot"].extend(acc[ai, bi].tolist())
                    out["na"].extend(na[lo:hi][ai].tolist())
                    out["nb"].extend(nb[bi].tolist())
        return pd.DataFrame(out, columns=["src_id", "tgt_id", "dot",
                                          "na", "nb"])

    return (side.select("bucket", "lang", "vec_id", "embedding", "norm")
            .groupBy("bucket")
            .applyInPandas(kern, "src_id long, tgt_id long, dot double, "
                                 "na double, nb double"))


def cosine_topk(emb: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Brute-force cosine top-k: first `n_queries` vectors vs the corpus.

    The query side is tiny → BROADCAST nest-loop join (no shuffle of the
    corpus); per-pair math is codegen'd array arithmetic.  At 10^12 rows
    this exact kernel is the per-bucket scorer inside lsh_ann_buckets —
    brute force only ever runs within a bucket/partition.
    Ranking key is round(cos, 6) with nid tiebreak → deterministic and
    engine-portable."""
    norms = _spread(emb, "vec_id", min_bytes=2 << 20).select(
        F.col("vec_id"), F.col("embedding"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"))
    q = (norms.filter(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qe"), F.col("norm").alias("qn")))
    pairs = (norms.alias("c")
             .join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
             .select("qid", F.col("vec_id").alias("nid"),
                     F.round(_dot(F.col("qe"), F.col("embedding"))
                             / (F.col("qn") * F.col("norm")), 6).alias("cos")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", "cos", F.col("rank").cast("int").alias("rank")))


IVF_SAMPLE = 256      # deterministic training sample (smallest vec_ids)
IVF_ITERS = 2         # Lloyd iterations over the sample

# trained-centroid cache: the catalog-artifact contract made literal —
# centroids are a pure function of (corpus, k, sample, iters), so two
# operator builds over the semantically-identical frame reuse one
# training run (keyed by DataFrame.semanticHash + input file set; no
# Spark job to probe)
_IVF_CACHE: dict = {}


def _ivf_centroids(emb: DataFrame, n_centroids: int,
                   sample_n: int = IVF_SAMPLE,
                   iters: int = IVF_ITERS) -> list[list[float]]:
    """Trained normalized coarse centroids, computed ONCE driver-side
    (round-2 review item 8: real k-means, not positional seeding).

    Deterministic protocol, mirrored component-for-component by the
    DuckDB oracle: seeds = the n_centroids smallest vec_ids normalized;
    then `iters` Lloyd rounds over the `sample_n` smallest vec_ids —
    assign each sample vector to argmax round6(dot(v, chat_j)) (ties →
    smallest j), new centroid = element-wise mean of its members
    (empty cluster keeps its previous centroid), re-normalized.  Every
    centroid COMPONENT is rounded to 6 decimals after each round, so
    both engines feed bit-identical centroids into the next stage and
    float summation order cannot flip an argmax.

    At 10^12 rows this stays a catalog artifact: the collect moves
    sample_n rows, never the corpus, and the trained array ships to
    executors as plan literals exactly like the seed version did."""
    import math
    try:
        key = (emb.semanticHash(), tuple(sorted(emb.inputFiles())),
               n_centroids, sample_n, iters)
    except Exception:
        key = None
    if key is not None and key in _IVF_CACHE:
        return _IVF_CACHE[key]
    rows = (emb.orderBy("vec_id").limit(max(n_centroids, sample_n))
            .select("embedding").collect())
    if len(rows) < n_centroids:
        raise ValueError(
            f"IVF needs >= {n_centroids} vectors to seed centroids; "
            f"corpus has {len(rows)}")

    def norm_round(v: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [round(x / n, 6) for x in v]

    sample = [[float(x) for x in e] for (e,) in rows]
    chat = [norm_round(sample[j]) for j in range(n_centroids)]
    for _ in range(iters):
        sums: list[list[float] | None] = [None] * n_centroids
        counts = [0] * n_centroids
        for v in sample:
            scores = [round(sum(a * b for a, b in zip(v, c)), 6)
                      for c in chat]
            best = max(range(n_centroids),
                       key=lambda j: (scores[j], -j))
            if sums[best] is None:
                sums[best] = [0.0] * len(v)
            acc = sums[best]
            for d, x in enumerate(v):
                acc[d] += x
            counts[best] += 1
        chat = [norm_round([s / counts[j] for s in sums[j]])
                if counts[j] else chat[j]
                for j in range(n_centroids)]
    if key is not None:
        _IVF_CACHE[key] = chat
    return chat


def _ivf_score_array(chat: list[list[float]]):
    """array<double> of round(dot(c_hat_j, v), 6) per centroid.

    r6: the dots run in an Arrow kernel (the _pq_raw_dists_kernel
    precedent — the zip_with/aggregate form interpreted k x d HOF
    elements per row); the fold order per (row, centroid) element is
    unchanged (0.0 + p0 + p1 + … over dimensions), so the raw doubles
    are bitwise identical, and the round-6 stays ENGINE-side as a
    single transform over the kernel's array — one UDF reference, no
    double evaluation."""
    import numpy as np

    cm = np.asarray(chat, dtype=np.float64)
    k, d = cm.shape

    @F.pandas_udf("array<double>")
    def kern(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype=object)
        # rows of the wrong length or with null components folded to
        # all-NULL scores in the zip_with form (null propagation);
        # replicate that exactly and run the kernel on the rest
        vals = e.to_numpy()
        bad = [i for i, v in enumerate(vals)
               if v is None or len(v) != d
               or (getattr(v, "dtype", None) is None and None in v)]
        if not bad:
            x = np.vstack(vals).astype(np.float64)
        else:
            x = np.zeros((len(vals), d))
            for i, v in enumerate(vals):
                if i not in bad:
                    x[i] = np.asarray(v, dtype=np.float64)
        dot = np.zeros((x.shape[0], k))
        for j in range(d):
            dot = dot + x[:, j:j + 1] * cm[:, j][None, :]
        out = list(dot)
        for i in bad:
            out[i] = [None] * k
        return pd.Series(out)

    return F.transform(kern(F.col("embedding")),
                       lambda x: F.round(x, 6))


def ivf_assign(emb: DataFrame, n_centroids: int = 16) -> DataFrame:
    """(vec_id, bucket): IVF coarse quantization — the k-means-family
    ANN scale path next to the SRP-LSH one (SURVEY: 'IVF or LSH').

    bucket = argmax_j cos(centroid_j, v); ties break to the smallest j
    (array_position finds the first maximum).  Narrow projection, no
    join, no shuffle: the scale plan is partition-by-bucket then
    cosine_topk within buckets."""
    scores = _ivf_score_array(_ivf_centroids(emb, n_centroids))
    # bind the (expensive, 2×-referenced) score array to a column:
    # CollapseProject's non-cheap/multi-reference guard keeps it
    # evaluated once per row (same reliance as fingerprints)
    return (_spread(emb, "vec_id", min_bytes=2 << 20)
            .select("vec_id", scores.alias("s"))
            .select("vec_id",
                    (F.array_position(F.col("s"), F.array_max("s")) - 1)
                    .cast("int").alias("bucket")))


def ivf_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
             n_centroids: int = 16, nprobe: int = 4) -> DataFrame:
    """IVF search: each query probes its `nprobe` best centroids and
    ranks cosine ONLY within vectors assigned to those buckets
    (deterministic probing contract — the oracle reproduces the same
    candidate set, so results compare exactly; recall vs exact KNN is
    the nprobe/n_centroids tradeoff).

    Shape: corpus side gets (bucket, norm) in one narrow projection;
    the tiny query side (probe arrays) broadcasts into a filtered
    nested-loop join — the corpus is never shuffled."""
    chat = _ivf_centroids(emb, n_centroids)
    scores = _ivf_score_array(chat)
    side = (_spread(emb, "vec_id", min_bytes=2 << 20)
            .select("vec_id", "embedding", scores.alias("s"))
            .select("vec_id", "embedding",
                    (F.array_position(F.col("s"), F.array_max("s")) - 1)
                    .cast("int").alias("bucket"),
                    F.sqrt(_dot(F.col("embedding"),
                                F.col("embedding"))).alias("norm")))
    # per-query probe set: indices of the nprobe best centroid scores
    # (score array bound to a column first — element_at references it
    # n_centroids times)
    ranked = F.transform(
        F.array_sort(F.transform(
            F.sequence(F.lit(0), F.lit(n_centroids - 1)),
            lambda j: F.struct((-F.element_at(F.col("s"), j + 1)).alias("neg"),
                               j.cast("int").alias("j")))),
        lambda s: s["j"])
    q = (emb.filter(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qe"), scores.alias("s"),
                 F.sqrt(_dot(F.col("embedding"),
                             F.col("embedding"))).alias("qn"))
         .select("qid", "qe", "qn", F.slice(ranked, 1, nprobe).alias("probes")))
    pairs = (side.join(
        F.broadcast(q),
        F.array_contains(F.col("probes"), F.col("bucket"))
        & (F.col("vec_id") != F.col("qid")))
        .select("qid", F.col("vec_id").alias("nid"),
                F.round(_dot(F.col("qe"), F.col("embedding"))
                        / (F.col("qn") * F.col("norm")), 6).alias("cos")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", "cos", F.col("rank").cast("int").alias("rank")))


# ---------------------------------------------------------------------------
# product quantization (IVF-PQ family): the canonical 100-TB ANN memory
# squeeze — 64 float32 dims (256 B) compress to PQ_M 4-bit codes (8 B
# packed), so the WHOLE corpus index fits in executor RAM and ADC
# search never touches raw vectors; the refine stage then re-ranks an
# ADC shortlist exactly, reading raw vectors for shortlist ids only
# (the standard two-stage IVF-PQ+refine recall story).  Codebooks
# follow the exact deterministic training contract of _ivf_centroids
# (round-6 protocol, oracle-mirrored), so the DuckDB gate compares
# bit-for-bit.  m=16/k=16 measured on the synthetic (near-random,
# worst-case-compressible) embeddings: ADC recall@5 0.36, shortlist-50
# recall 0.88 — real-world embedding manifolds compress far better.
# ---------------------------------------------------------------------------

PQ_M = 16             # subspaces (64 dims -> 4 per subspace)
PQ_K = 16             # centroids per subspace (4-bit codes)

_PQ_CACHE: dict = {}


def _pq_codebooks(emb: DataFrame, m: int = PQ_M, k: int = PQ_K,
                  sample_n: int = IVF_SAMPLE,
                  iters: int = IVF_ITERS) -> list[list[list[float]]]:
    """[m][k][d/m] trained product-quantizer codebooks, computed ONCE
    driver-side on the same deterministic sample as IVF.

    Protocol (mirrored by the DuckDB oracle): per subspace s, seeds =
    the k smallest vec_ids' s-th subvectors, components rounded to 6
    decimals; then `iters` Lloyd rounds over the sample under squared
    L2 expanded as round(dot(v,v) - 2*dot(v,c) + dot(c,c), 6) (the
    SAME expression both engines evaluate), ties -> smallest cid;
    update = component mean rounded to 6 decimals, empty clusters keep
    their previous centroid.  At 10^12 rows this is a catalog
    artifact: the collect moves sample_n rows, never the corpus."""
    try:
        key = (emb.semanticHash(), tuple(sorted(emb.inputFiles())),
               m, k, sample_n, iters)
    except Exception:
        key = None
    if key is not None and key in _PQ_CACHE:
        return _PQ_CACHE[key]
    rows = (emb.orderBy("vec_id").limit(max(k, sample_n))
            .select("embedding").collect())
    if len(rows) < k:
        raise ValueError(
            f"PQ needs >= {k} vectors to seed codebooks; "
            f"corpus has {len(rows)}")
    sample = [[float(x) for x in e] for (e,) in rows]
    d = len(sample[0])
    if d % m:
        raise ValueError(f"embedding dim {d} not divisible by m={m}")
    dsub = d // m
    books: list[list[list[float]]] = []
    for s in range(m):
        subs = [v[s * dsub:(s + 1) * dsub] for v in sample]
        cb = [[round(x, 6) for x in subs[j]] for j in range(k)]
        for _ in range(iters):
            sums: list[list[float] | None] = [None] * k
            counts = [0] * k
            for v in subs:
                dvv = sum(a * a for a in v)
                dists = [round(dvv - 2.0 * sum(a * b for a, b in zip(v, c))
                               + sum(b * b for b in c), 6) for c in cb]
                best = min(range(k), key=lambda j: (dists[j], j))
                if sums[best] is None:
                    sums[best] = [0.0] * dsub
                acc = sums[best]
                for i, x in enumerate(v):
                    acc[i] += x
                counts[best] += 1
            cb = [[round(x / counts[j], 6) for x in sums[j]]
                  if counts[j] else cb[j] for j in range(k)]
        books.append(cb)
    if key is not None:
        _PQ_CACHE[key] = books
    return books


def _pq_raw_dists_kernel(books: list[list[list[float]]]):
    """Arrow-vectorized pandas UDF: embedding -> flat array<double> of
    m*k RAW (unrounded) squared-L2 subvector distances, laid out
    [s*k + cid].  The ROUND stays Spark-side (round-6 semantics must
    come from the engine, same as the oracle's round()).

    Why a kernel and not expressions: the expression form is either
    zip_with/aggregate HOFs (interpreted per evaluation — 18 s /
    5000 rows for 16×16 of them) or a fully unrolled scalar tree,
    whose single whole-stage method exceeds janino's 64 KB limit
    (ColumnarToRow input pins expressions to local variables, so
    codegen cannot split methods) and falls back to an interpreted
    ~5000-node tree — 6× WORSE.  The kernel does the identical
    arithmetic in vectorized float64 numpy at C speed.

    Bit-identity contract with the previous expression form (and so
    with the DuckDB oracle): float32 elements widen exactly to
    float64; dvv and each dot accumulate in the SAME left-fold order
    as _dot (0.0 + e1*b1 + e2*b2 + …) via sequential vectorized adds;
    dist evaluates as ((dvv - (2.0*dot)) + dcc) with dcc pre-folded in
    Python floats exactly as the old F.lit(dcc).  Every step is a
    single IEEE-754 op in both forms, so the doubles match bitwise."""
    import numpy as np

    m, k, dsub = len(books), len(books[0]), len(books[0][0])
    dcc = [[sum(b * b for b in c) for c in books[s]] for s in range(m)]

    # r6: the inner loop vectorizes over the k centroids too (the old
    # form looped m*k=256 small numpy ops per batch); the fold order
    # per (row, centroid) element is unchanged — dot still accumulates
    # 0.0 + p0 + p1 + … sequentially over the dsub dimensions — so the
    # doubles stay bitwise identical
    cmat = [np.asarray(books[s], dtype=np.float64) for s in range(m)]
    dccv = [np.asarray(dcc[s], dtype=np.float64) for s in range(m)]

    @F.pandas_udf("array<double>")
    def kern(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(e.to_numpy()).astype(np.float64)
        n = x.shape[0]
        out = np.empty((n, m * k), dtype=np.float64)
        for s in range(m):
            sub = x[:, s * dsub:(s + 1) * dsub]
            dvv = np.zeros(n)
            dot = np.zeros((n, k))
            cs = cmat[s]
            for j in range(dsub):
                dvv = dvv + sub[:, j] * sub[:, j]
                dot = dot + sub[:, j:j + 1] * cs[:, j][None, :]
            out[:, s * k:(s + 1) * k] = (dvv[:, None] - 2.0 * dot
                                         + dccv[s][None, :])
        return pd.Series(list(out))

    return kern


def _pq_rounded_arrays(dd_name: str, m: int, k: int, prefix: str):
    """m array<double> columns of round-6 distances from the kernel's
    flat raw-distance column ``dd_name`` — get() (0-based, no ANSI
    error branch), compact enough to stay inside one codegen method.

    r6: ONE F.expr parse per subspace instead of the unrolled
    F.round(F.get(...)) Column construction, which cost ~0.5 s of
    py4j round-trips PER CALL at m=k=16 (and this builder runs twice
    per query build).  The parsed tree is identical — same 0-based
    null-safe get(), same round-6 — so the evaluated doubles are
    unchanged."""
    return [F.expr("array(" + ", ".join(
        f"round(get({dd_name}, {s * k + c}), 6)" for c in range(k))
        + ")").alias(f"{prefix}{s}") for s in range(m)]


def pq_encode(emb: DataFrame, m: int = PQ_M, k: int = PQ_K) -> DataFrame:
    """(vec_id, codes array<int> length m): product quantization —
    code_s = argmin centroid distance (ties -> smallest cid).

    Narrow over the corpus (kernel stage + projection — no exchange,
    no join); codebook constants live in the kernel closure and the
    round-6/argmin stay engine-side.  The raw-distance column is
    materialized once by the ArrowEvalPython node, and the per-subspace
    rounded arrays are bound to columns so the argmin's double
    reference (array_position + array_min) evaluates each array once
    (CollapseProject's non-cheap guard, same reliance as ivf_assign)."""
    books = _pq_codebooks(emb, m, k)
    kern = _pq_raw_dists_kernel(books)
    raw = _spread(emb, "vec_id", min_bytes=2 << 20).select(
        "vec_id", kern("embedding").alias("dd"))
    with_d = raw.select(
        "vec_id", *_pq_rounded_arrays("dd", m, k, "d"))
    return with_d.select(
        "vec_id",
        F.expr("array(" + ", ".join(
            f"cast(array_position(d{s}, array_min(d{s})) - 1 as int)"
            for s in range(m)) + ")").alias("codes"))


def pq_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
            m: int = PQ_M, kc: int = PQ_K) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: exact query subvectors score
    against corpus CODES only — the corpus's raw vectors are never
    read at search time, which is the whole point at 10^12 rows.

    Shape: the query side precomputes per-subspace distance TABLES
    (16 doubles each) and broadcasts; the corpus side carries 8-byte
    codes through a nested-loop join; adist = the left-assoc chain of
    table lookups (identical evaluation order to the oracle, so the
    doubles match bitwise).  Corpus is never shuffled."""
    import numpy as np
    import pyarrow as pa_

    books = _pq_codebooks(emb, m, kc)
    kern = _pq_raw_dists_kernel(books)
    enc = pq_encode(emb, m, kc)
    qraw = (emb.filter(F.col("vec_id") < n_queries)
            .select(F.col("vec_id").alias("qid"),
                    kern("embedding").alias("dd")))
    q = qraw.select("qid", *_pq_rounded_arrays("dd", m, kc, "qd"))
    # The per-query distance TABLES are a catalog artifact (n_queries
    # rows of m*kc doubles, engine-computed incl. the round-6) — the
    # same collected-weight-table pattern as the IVF centroids.  The
    # old form evaluated the m-term element_at chain per PAIR inside
    # the BroadcastNestedLoopJoin's interpreted projection: measured
    # 7.4 s for 200k pairs vs 0.3 s for the join itself.  The kernel
    # does the identical table lookups vectorized; the adist SUM
    # accumulates left-assoc (t0 + t1 + …, one IEEE add per term, the
    # exact order of the old chain) and the round-6 stays ENGINE-side.
    qrows = q.collect()
    qids = [int(r["qid"]) for r in qrows]
    qtab = [np.asarray([list(r[f"qd{s}"]) for s in range(m)],
                       dtype=np.float64) for r in qrows]   # [m][kc]

    def adc(batches):
        empty_i = np.empty(0, dtype=np.int64)
        empty_d = np.empty(0, dtype=np.float64)
        for b in batches:
            nids = b.column("vec_id").to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            codes = b.column("codes").to_pylist()
            ok = np.asarray([c is not None for c in codes], dtype=bool)
            cm = (np.asarray([c for c in codes if c is not None],
                             dtype=np.int64)
                  if ok.any() else np.empty((0, m), dtype=np.int64))
            out_q, out_n, out_d, out_null = [], [], [], []
            for qi, qid in enumerate(qids):
                qt = qtab[qi]
                if cm.shape[0]:
                    d = qt[0][cm[:, 0]]
                    for s in range(1, m):
                        d = d + qt[s][cm[:, s]]
                else:
                    d = empty_d
                dist = np.zeros(len(nids), dtype=np.float64)
                dist[ok] = d
                keep = nids != qid      # the old join's vec_id != qid
                out_q.append(np.full(int(keep.sum()), qid,
                                     dtype=np.int64))
                out_n.append(nids[keep])
                out_d.append(dist[keep])
                out_null.append(~ok[keep])   # NULL codes -> NULL adist
            yield pa_.RecordBatch.from_arrays(
                [pa_.array(np.concatenate(out_q) if out_q else empty_i),
                 pa_.array(np.concatenate(out_n) if out_n else empty_i),
                 pa_.array(np.concatenate(out_d) if out_d else empty_d,
                           mask=np.concatenate(out_null)
                           if out_null else np.empty(0, dtype=bool))],
                ["qid", "nid", "araw"])

    raw_pairs = enc.mapInArrow(
        adc, "qid long, nid long, araw double")
    pairs = raw_pairs.select(
        "qid", "nid", F.round(F.col("araw"), 6).alias("adist"))
    w = Window.partitionBy("qid").orderBy(F.col("adist"), F.col("nid"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", "adist",
                    F.col("rank").cast("int").alias("rank")))


def pq_refine_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                   shortlist: int = 50, m: int = PQ_M,
                   kc: int = PQ_K) -> DataFrame:
    """Two-stage IVF-PQ search: ADC shortlist -> EXACT squared-L2
    re-rank.  The exact pass touches raw vectors for shortlist ids
    only, pruned into the corpus scan by broadcasting the (tiny)
    shortlist pair set — the same staged semi-join shape as the
    LSH->exact verify path.  At 10^12 rows the exact stage reads
    n_queries*shortlist rows, never the corpus."""
    cand = pq_topk(emb, n_queries, shortlist, m, kc).select("qid", "nid")
    qv = (emb.filter(F.col("vec_id") < n_queries)
          .select(F.col("vec_id").alias("qid"),
                  F.col("embedding").alias("qe")))
    corp = emb.select(F.col("vec_id").alias("nid"),
                      F.col("embedding").alias("ne"))
    joined = (corp.join(F.broadcast(cand), "nid")
              .join(F.broadcast(qv), "qid"))
    dist = F.round(_dot(F.col("qe"), F.col("qe"))
                   - F.lit(2.0) * _dot(F.col("qe"), F.col("ne"))
                   + _dot(F.col("ne"), F.col("ne")), 6)
    pairs = joined.select("qid", "nid", dist.alias("dist"))
    w = Window.partitionBy("qid").orderBy(F.col("dist"), F.col("nid"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", "dist",
                    F.col("rank").cast("int").alias("rank")))


def sq8_encode(emb: DataFrame, dims: int = 64) -> DataFrame:
    """(vec_id, codes array<int> length dims): scalar quantization to
    8-bit codes — the 4×-lighter sibling of PQ (1 byte/dim vs 4-byte
    float32, no codebook training): per-dimension global [min, max] is
    computed in ONE map-side-combined aggregation, then
    code_d = least(255, floor(round((x_d - mn_d) / (mx_d - mn_d), 6)
    * 256)) (constant dims collapse to 0).

    Exactness contract: mn/mx are exact float32 order-independent
    extrema; the quantile arithmetic is widen-to-double + round-6 +
    *256 + floor — single IEEE-754 ops both engines evaluate
    identically (the pq_encode convention).  Once encoded, everything
    downstream is INTEGER.

    Scale shape (10^12 vectors): the stats pass is one aggregation to
    a single 2×dims-value row (partial combine per partition, no key
    skew possible — there are no keys); that row broadcasts into a
    narrow projection.  No join, no shuffle of the corpus.

    Expression form: ONE indexed transform() over the embedding with
    element_at lookups into the broadcast min/max arrays — the
    64-way unrolled projection compiles past janino's 64 KB
    whole-stage method limit and falls back to an interpreted
    ~4000-node tree (the pq_encode lesson, re-learned here: measured
    14 s → 1.3 s at sf0.01); the compact lambda stays interpreted
    per element but its body is four arithmetic ops."""
    x = F.col("embedding")
    # one expr parse per stats array (r6: 128 unrolled agg Columns
    # cost ~0.4 s of py4j per build; the parsed tree is identical)
    stats = emb.agg(
        F.expr("array(" + ", ".join(
            f"min(cast(get(embedding, {d}) as double))"
            for d in range(dims)) + ")").alias("mns"),
        F.expr("array(" + ", ".join(
            f"max(cast(get(embedding, {d}) as double))"
            for d in range(dims)) + ")").alias("mxs"))

    def code(v, i):
        mn = F.element_at(F.col("mns"), i + 1)
        span = F.element_at(F.col("mxs"), i + 1) - mn
        return (F.when(span > 0,
                       F.least(F.lit(255), F.floor(
                           F.round((v.cast("double") - mn) / span, 6)
                           * 256)))
                .otherwise(F.lit(0)).cast("int"))

    return (_spread(emb, "vec_id", min_bytes=2 << 20)
            .crossJoin(F.broadcast(stats))
            .select("vec_id", F.transform(x, code).alias("codes")))


def sq8_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
             dims: int = 64) -> DataFrame:
    """(qid, nid, sqdist, rank): symmetric top-k nearest-neighbor
    search over SQ8 codes — both sides quantized, distance =
    Σ (qcode_d - ccode_d)² in PURE INTEGER arithmetic (bit-exact in
    any engine, no float tie hazards; ties break on nid).

    Scale shape: pq_topk's — the n_queries code rows broadcast into a
    nested-loop join against the corpus CODES (1 byte/dim; raw vectors
    never read at search time); per-query top-k via partitioned
    row_number.  Corpus never shuffled.  At 10^12 rows the scan reads
    the codes column only (column pruning) and the window's partition
    count equals n_queries — the candidate generation is the
    brute-force baseline tier; bucketed tiers (SRP/IVF) bound it."""
    import numpy as np
    import pyarrow as pa_

    enc = sq8_encode(emb, dims)
    # r6: the n_queries code rows are a catalog artifact — collect
    # them (one bounded job; the corpus-wide stats agg it triggers ran
    # for the old localCheckpoint staging too) and score inside ONE
    # codes-only Arrow kernel over the corpus, the pq_topk shape.
    # Distances are pure int64 (exact in any evaluation order), so the
    # only contract is the pair set: all (qid, nid != qid) pairs.
    qrows = (enc.filter(F.col("vec_id") < n_queries)
             .select(F.col("vec_id").alias("qid"), "codes").collect())
    qids = [int(r["qid"]) for r in qrows]
    qcs = [np.asarray(r["codes"], dtype=np.int64) for r in qrows]

    def sqd(batches):
        empty_i = np.empty(0, dtype=np.int64)
        for b in batches:
            nids = b.column("vec_id").to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            codes = b.column("codes").to_pylist()
            ok = np.asarray([c is not None for c in codes], dtype=bool)
            cm = (np.asarray([c for c in codes if c is not None],
                             dtype=np.int64)
                  if ok.any() else np.empty((0, dims), dtype=np.int64))
            out_q, out_n, out_d, out_null = [], [], [], []
            for qi, qid in enumerate(qids):
                diff = cm - qcs[qi][None, :]
                d = (diff * diff).sum(axis=1)
                dist = np.zeros(len(nids), dtype=np.int64)
                dist[ok] = d
                keep = nids != qid
                out_q.append(np.full(int(keep.sum()), qid,
                                     dtype=np.int64))
                out_n.append(nids[keep])
                out_d.append(dist[keep])
                out_null.append(~ok[keep])
            yield pa_.RecordBatch.from_arrays(
                [pa_.array(np.concatenate(out_q) if out_q else empty_i),
                 pa_.array(np.concatenate(out_n) if out_n else empty_i),
                 pa_.array(np.concatenate(out_d) if out_d else empty_i,
                           mask=np.concatenate(out_null)
                           if out_null else np.empty(0, dtype=bool))],
                ["qid", "nid", "sqdist"])

    pairs = enc.mapInArrow(sqd, "qid long, nid long, sqdist long")
    w = Window.partitionBy("qid").orderBy(F.col("sqdist"), F.col("nid"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", "sqdist",
                    F.col("rank").cast("int").alias("rank")))


def _srp_sign_matrix(bits: int, dims: int,
                     table: int = 0) -> list[list[float]]:
    """The constant bits×dims hyperplane sign matrix, computed ONCE on
    the driver (sign of plane j at dim d = high bit of the first hex
    digit of md5(f"{j}:{d}") — identical rule to the DuckDB oracle).
    ``table`` rotates the hash family for multi-table recall layering:
    table t > 0 seeds the digest with f"t{t}:" so each table is an
    independent set of hyperplanes."""
    import hashlib
    pre = f"t{table}:" if table else ""
    return [[1.0 if int(hashlib.md5(f"{pre}{j}:{d}".encode())
                        .hexdigest()[0], 16) >= 8 else -1.0
             for d in range(dims)] for j in range(bits)]


def _srp_bucket_col(signs: list[list[float]]):
    """SRP bucket key as a pure projection Column over `embedding`
    (one codegen'd zip_with dot product per plane).  An Arrow-kernel
    variant was tried in r6 and REVERTED: the SRP frames at these call
    sites are small (post-filter language slices, per-table stagings),
    and the Python round-trip cost more than the interpreted dots —
    measured +1.3 s on dedup_embed_cosine / +1.8 s on multiprobe at
    sf0.1 with no sf1.0 win."""
    def plane_bit(plane_signs):
        plane = F.array(*[F.lit(s) for s in plane_signs])
        s = F.aggregate(
            F.zip_with(F.col("embedding"), plane,
                       lambda x, sg: x.cast("double") * sg),
            F.lit(0.0), lambda acc, v: acc + v)
        return F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))

    return F.concat(*[plane_bit(p) for p in signs])


def lsh_ann_buckets(emb: DataFrame, bits: int = 16,
                    dims: int | None = None) -> DataFrame:
    """(vec_id, bucket): random-hyperplane (SRP) cosine-LSH bucket.

    Hyperplane j's sign at dimension d is md5(j||':'||d) — deterministic
    and engine-portable — but the matrix is CONSTANT, so it is
    precomputed driver-side as literal arrays (the round-1 review's
    fix: the old shape ran bits×dims interpreted md5 calls per ROW).
    Per row the work is now `bits` codegen'd zip_with dot products.
    Narrow (pure projection, no shuffle): the scale path groups by
    bucket and runs cosine_topk within buckets only.

    ``dims`` defaults to the corpus' embedding width (one-row lookup —
    at cluster scale this is a catalog/schema constant)."""
    if dims is None:
        dims = emb.select(F.size("embedding")).first()[0]
    signs = _srp_sign_matrix(bits, dims)
    return emb.select("vec_id", _srp_bucket_col(signs).alias("bucket"))


ANN_BUCKET_CAP = 1024   # SRP buckets larger than this are skipped


def embed_near_dup_pairs(emb: DataFrame, threshold: float = 0.9,
                         bits: int = 8,
                         bucket_cap: int = ANN_BUCKET_CAP,
                         tables: int = 1) -> DataFrame:
    """(vec_a, vec_b, cos): embedding-cosine NEAR-DUP pairs — the
    vector twin of lsh_jaccard_pairs, completing the dedup family
    (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding).

    Sub-quadratic shape: vectors are SRP-LSH bucketed (each vector in
    exactly ONE bucket per table = its full `bits` signature) and exact
    cosine runs only INSIDE a bucket via an equi-join on the bucket
    key.  Single-table recall is the bits/threshold tradeoff
    (P[same bucket] = (1 - θ/π)^bits — the deterministic contract,
    mirrored by the oracle); ``tables`` R > 1 layers R independent
    rotated hash families (round-3 verdict item 6): a true pair is
    found if ANY table co-buckets it, P = 1 - (1 - p)^R, so recall
    improves monotonically in R by construction (union of candidate
    sets) — pinned by test_embed_multitable_recall.

    Scale shape per table: one shuffle on that table's bucket key over
    the STAGED (vec_id, embedding, norm) side — the SRP projections
    never re-read the source.  The cross-table union dedups on the
    pair frame (threshold-filtered, ≪ corpus), never on raw vectors.

    ``bucket_cap`` is the per-table skew guard: the bucket universe is
    bounded (≤ 2^bits keys) so the cap frame always broadcasts."""
    dims = emb.select(F.size("embedding")).first()[0]
    norms = emb.select(
        "vec_id", "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"))
    # stage (embedding, norm) ONCE: every table's cap aggregate and
    # both self-join sides read this frame — without it each consumer
    # re-runs the norm lineage per table (round-3 review; same
    # rationale as lsh_jaccard_pairs' candidate staging)
    staged = norms.localCheckpoint()
    # r6: pick the pair engine by corpus size, the _spread pattern.
    # Sub-2MB frames (plan stats; SRP buckets hold a handful of
    # vectors) keep the shuffle-hash join — the interpreted per-pair
    # dot beats the kernel's Python round-trips (measured +0.85 s at
    # sf0.1).  Larger frames flip to the numpy bucket kernel: at the
    # 10x probe (~80 vectors/bucket) the join form's per-pair HOF dots
    # measured 7.2 s vs 4.3 s for the kernel.  Both forms are
    # bitwise-identical (tests/test_pair_kernel.py) and the 100 TB
    # shape is unchanged — ONE bucket-keyed shuffle either way.
    from .session import est_plan_bytes
    use_kernel = est_plan_bytes(emb) >= (2 << 20)

    def table_pairs(t: int) -> DataFrame:
        signs = _srp_sign_matrix(bits, dims, table=t)
        side = staged.withColumn("bucket", _srp_bucket_col(signs))
        ok = (side.groupBy("bucket").count()
              .filter(F.col("count") <= bucket_cap).select("bucket"))
        side_ok = side.join(F.broadcast(ok), "bucket", "left_semi")
        if use_kernel:
            cand = _bucket_pair_dot_candidates(side_ok, threshold - 1e-5)
            cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
            return (cand.withColumn("cos", cos)
                    .filter(F.col("cos") >= threshold)
                    .select("vec_a", "vec_b", "cos"))
        a = side_ok.select(F.col("bucket"),
                           F.col("vec_id").alias("vec_a"),
                           F.col("embedding").alias("ea"),
                           F.col("norm").alias("na"))
        c = side_ok.select(F.col("bucket"),
                           F.col("vec_id").alias("vec_b"),
                           F.col("embedding").alias("eb"),
                           F.col("norm").alias("nb"))
        cos = F.round(_dot(F.col("ea"), F.col("eb"))
                      / (F.col("na") * F.col("nb")), 6)
        # shuffle-hash, not sort-merge: the join key has ≤ 2^bits
        # distinct values, so sorting embedding-array rows buys nothing
        # and the per-partition build side is bounded by bucket_cap ×
        # buckets.
        return (a.join(c.hint("shuffle_hash"), "bucket")
                .filter(F.col("vec_a") < F.col("vec_b"))
                .withColumn("cos", cos)
                .filter(F.col("cos") >= threshold)
                .select("vec_a", "vec_b", "cos"))

    out = table_pairs(0)
    for t in range(1, tables):
        out = out.unionByName(table_pairs(t))
    # cos is a pure function of the pair (same rounding every table),
    # so distinct() on all three columns dedups cross-table hits
    return out.distinct() if tables > 1 else out


def ann_bucket_stats(emb: DataFrame, bits: int = 8) -> DataFrame:
    """Bucket occupancy histogram — the skew diagnostic for the ANN path."""
    return (lsh_ann_buckets(emb, bits)
            .groupBy("bucket").agg(F.count("*").cast("long").alias("n_vecs"),
                                   F.min("vec_id").alias("min_vec_id")))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def text_quality(docs: DataFrame) -> DataFrame:
    """Per-doc quality features + score (all codegen'd scalar math)."""
    toks = TOKENS()
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    avg_tok = (n_chars - (n_tokens - 1)) / n_tokens
    stop_ratio = n_stop / n_tokens
    score = F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * (
        F.lit(0.5) + F.lit(0.5) * F.least(F.lit(1.0), stop_ratio * 10.0))
    return docs.select(
        "doc_id", n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(avg_tok, 4).alias("avg_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality_score"))


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{4}\b"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction (training-data hygiene): emails → <EMAIL>, simple
    phone patterns → <PHONE>, with per-doc match counts.  Pure
    JVM-side regexp projection, zero shuffle; the patterns are kept to
    the RE2/Java-common subset so the DuckDB oracle runs the SAME
    regexes (engine-portable contract, like the md5 rules)."""
    t = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        scrubbed.alias("text_scrubbed"))


REPETITION_TOP_FRAC = 0.2    # Gopher: top-2gram fraction bound


def repetition_stats(docs: DataFrame, n: int = 2) -> DataFrame:
    """Gopher repetition rule: fraction of the document occupied by its
    most frequent word n-gram (boilerplate/spam repeats phrases; clean
    prose doesn't).  pass_repetition = top fraction <= 0.2.

    Zero shuffle: NON-distinct n-grams built per row, array_sort, then
    ONE aggregate fold counting the longest run of equal neighbors —
    the mode of an array without any explode/groupBy.  (The sort is
    per-document in-memory; at 100 TB this stays a narrow projection.)
    """
    docs = _spread(docs.select("doc_id", "text"))
    t = docs.select("doc_id", TOKENS().alias("toks"))
    g = t.select("doc_id", F.array_sort(
        shingles_of("toks", n, distinct=False)).alias("g"))
    zero = F.lit(0).cast("long")
    acc0 = F.struct(F.lit("").alias("prev"), zero.alias("run"),
                    zero.alias("best"))
    run = lambda a, x: F.when(x == a["prev"], a["run"] + 1).otherwise(
        F.lit(1).cast("long"))
    folded = F.aggregate(
        "g", acc0,
        lambda a, x: F.struct(x.alias("prev"), run(a, x).alias("run"),
                              F.greatest(a["best"], run(a, x))
                              .alias("best")))
    out = g.select("doc_id", F.size("g").cast("long").alias("n_grams"),
                   folded["best"].alias("top_gram_count"))
    frac = F.when(F.col("n_grams") > 0,
                  F.round(F.col("top_gram_count") / F.col("n_grams"), 4)
                  ).otherwise(F.lit(0.0))
    return (out.withColumn("top_gram_frac", frac)
            .withColumn("pass_repetition",
                        F.col("top_gram_frac") <= REPETITION_TOP_FRAC))


# Full MassiveText repetition table (Rae et al. 2021, Table A1): the
# published character-fraction caps per n-gram size.  {2,3,4} bound the
# MOST FREQUENT n-gram's mass; {5,10} bound the TOTAL mass of all
# duplicated n-grams (ends of the published 5..10 ladder).
REP_TOP_CAPS = {2: 0.20, 3: 0.18, 4: 0.16}
REP_DUP_CAPS = {5: 0.15, 10: 0.10}


def repetition_suite(docs: DataFrame) -> DataFrame:
    """(doc_id, top2_frac, top3_frac, top4_frac, dup5_frac, dup10_frac,
    pass_rep_suite): the full Gopher/MassiveText repetition-rule table
    beyond repetition_stats' single top-2gram rule.  For n in {2,3,4}:
    character fraction of the document occupied by its most frequent
    word n-gram (count x gram-chars / text-chars, most-frequent chosen
    count-major then length-major — deterministic).  For n in {5,10}:
    character fraction occupied by ALL n-grams that occur more than
    once (occurrence-counted, overlap-ignoring — the standard open
    adaptation of the Gopher wording).  An n-gram occurrence's char
    mass is length(gram) over the single-space text, so the
    denominator is length(text).  Docs with fewer than 2 words emit no
    row (no n-grams exist — the doc_segments convention).

    Scale shape: ONE posexplode of a stacked (n, gram) struct array
    (all five n sizes in one pass over the token array), ONE shuffle
    to (doc_id, n, gram) counts — partial aggregation compresses a
    phrase repeated 10^4 times inside a skew-bomb doc map-side before
    any reducer — then one per-doc conditional rollup.  n_chars rides
    in the grouping key (functionally dependent on doc_id), so no
    join re-attaches the denominator.  No window, no join."""
    d = _spread(docs.select("doc_id", "text"))
    t = d.select("doc_id", F.length("text").cast("long").alias("n_chars"),
                 TOKENS().alias("toks"))
    ns = sorted(REP_TOP_CAPS) + sorted(REP_DUP_CAPS)

    # closure factory, NOT a default-arg lambda: a two-parameter lambda
    # would make F.transform bind the second parameter to the element
    # INDEX, silently shadowing the n-gram size
    def _tag(size):
        return lambda g: F.struct(F.lit(size).alias("n"),
                                  g.alias("gram"))

    stacked = F.flatten(F.array(*[
        F.transform(shingles_of("toks", n, distinct=False), _tag(n))
        for n in ns]))
    g = t.select("doc_id", "n_chars", F.explode(stacked).alias("g"))
    cnt = (g.groupBy("doc_id", "n_chars", F.col("g.n").alias("n"),
                     F.col("g.gram").alias("gram"))
           .agg(F.count("*").alias("cnt")))
    glen = F.length("gram").cast("long")
    aggs = [F.max(F.when(F.col("n") == n,
                         F.struct(F.col("cnt").alias("cnt"),
                                  glen.alias("len")))).alias(f"t{n}")
            for n in sorted(REP_TOP_CAPS)]
    aggs += [F.sum(F.when((F.col("n") == n) & (F.col("cnt") > 1),
                          F.col("cnt") * glen).otherwise(F.lit(0)))
             .alias(f"d{n}")
             for n in sorted(REP_DUP_CAPS)]
    rolled = cnt.groupBy("doc_id", "n_chars").agg(*aggs)
    cols, conds = [F.col("doc_id")], []
    for n, cap in sorted(REP_TOP_CAPS.items()):
        frac = F.round(F.coalesce(F.col(f"t{n}.cnt") * F.col(f"t{n}.len"),
                                  F.lit(0)) / F.col("n_chars"), 4)
        cols.append(frac.alias(f"top{n}_frac"))
        conds.append(F.col(f"top{n}_frac") <= cap)
    for n, cap in sorted(REP_DUP_CAPS.items()):
        cols.append(F.round(F.col(f"d{n}") / F.col("n_chars"), 4)
                    .alias(f"dup{n}_frac"))
        conds.append(F.col(f"dup{n}_frac") <= cap)
    out = rolled.select(*cols)
    ok = conds[0]
    for c in conds[1:]:
        ok = ok & c
    return out.withColumn("pass_rep_suite", ok)


def source_stats(docs: DataFrame) -> DataFrame:
    """Per-source (host-level) corpus accounting — the aggregation a
    web pipeline runs for host quotas and per-host dedup pressure:
    doc/char totals, within-source exact-duplicate count, language
    spread, dominant language (deterministic smallest-lang tiebreak).

    Shape: one shuffle on (source, sha) with map-side partials, then
    source-level re-aggregation of the ALREADY-REDUCED frame (rows =
    distinct shas, not docs) — the classic two-level rollup; the lang
    mode is a per-source window over the (source, lang) counts."""
    d = docs.select(
        "source", "lang", "n_chars",
        F.sha2(F.col("text").cast("binary"), 256).alias("sha"))
    per_sha = (d.groupBy("source", "sha")
               .agg(F.count("*").alias("k"),
                    F.sum("n_chars").alias("ch")))
    base = (per_sha.groupBy("source")
            .agg(F.sum("k").cast("long").alias("n_docs"),
                 F.sum("ch").cast("long").alias("n_chars"),
                 F.sum(F.when(F.col("k") > 1, F.col("k"))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("n_dup_docs")))
    lc = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(),
                                             F.col("lang"))
    langs = (lc.withColumn("rn", F.row_number().over(w))
             .groupBy("source")
             .agg(F.count("*").cast("long").alias("n_langs"),
                  F.max(F.when(F.col("rn") == 1, F.col("lang")))
                  .alias("top_lang")))
    return base.join(langs, "source")


GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher-style quality-rule filter (Rae et al. 2021, the standard
    web-corpus admission ruleset): per-doc rule features plus the
    combined pass flag — word-count bounds, mean-word-length bounds,
    #-symbol and ellipsis word ratios, minimum stopword evidence.

    Pure narrow projection (HOF filters over the token array, zero
    shuffle) — the 100 TB shape for an admission filter is a WHERE
    clause, and this is one."""
    docs = _spread(docs.select("doc_id", "text"))
    t = docs.select("doc_id", TOKENS().alias("toks"))
    n = F.size("toks")
    total_chars = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter("toks",
                             lambda x: F.array_contains(stop_arr, x)))
    n_hash = F.size(F.filter("toks", lambda x: x.contains("#")))
    n_ell = F.size(F.filter("toks", lambda x: x.endswith("...")))
    mwl = total_chars / n
    out = t.select(
        "doc_id", n.cast("long").alias("n_words"),
        F.round(mwl, 4).alias("mean_word_len"),
        n_stop.cast("long").alias("stop_hits"),
        F.round(n_hash / n, 4).alias("hash_ratio"),
        F.round(n_ell / n, 4).alias("ellipsis_ratio"))
    ok = (F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
          & F.col("mean_word_len").between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
          & (F.col("stop_hits") >= 2)
          & (F.col("hash_ratio") < 0.1)
          & (F.col("ellipsis_ratio") < 0.3))
    return out.withColumn("pass_quality", ok)


LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "les", "et", "est", "dans", "pour"),
    "es": ("el", "los", "las", "es", "para", "con"),
}


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language ID (n-gram-heuristic stand-in).  Pure
    projection; the CASE tie-break order (de > fr > es > en) is part of
    the operator contract and mirrored in the oracle."""
    toks = TOKENS()

    def score(lang: str):
        arr = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    d, fr, es = score("de"), score("fr"), score("es")
    pred = (F.when((d > fr) & (d > es) & (d > 0), "de")
            .when((fr > es) & (fr > 0), "fr")
            .when(es > 0, "es").otherwise("en"))
    return docs.select(
        "doc_id", F.col("lang").alias("lang_label"), pred.alias("lang_pred"),
        (pred == F.col("lang")).cast("int").alias("is_match"))


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-language token accounting: whitespace tokens + a BPE-ish
    subword estimate (ceil(len/4) pieces per word).  One small shuffle."""
    toks = TOKENS()
    subwords = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("long"))
    return (docs
            .select("lang", F.size(toks).cast("long").alias("nt"),
                    subwords.alias("nsw"))
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("nt").alias("n_tokens"),
                 F.sum("nsw").alias("n_subwords"))
            .select("lang", "n_docs", "n_tokens", "n_subwords"))


def substring_dup_candidates(docs: DataFrame, gram: int = 5,
                             window: int = 4, min_shared: int = 2,
                             df_cap: int = 32) -> DataFrame:
    """(doc_a, doc_b, n_shared): pairs of documents sharing >=
    ``min_shared`` winnowing fingerprints — SUBSTRING-level duplication
    evidence (the distributed approximation of suffix-array exact
    substring dedup, Lee et al. 2022: winnowing guarantees any shared
    run of ≥ gram+window-1 tokens yields a shared fingerprint).

    Shape mirrors lsh_candidate_pairs: narrow per-doc fingerprint
    arrays (the winnowing math never shuffles), ONE exchange on the
    fingerprint key into a bucket groupBy emitting in-array i<j pairs,
    then a pair-count aggregate.  ``df_cap`` bounds both fingerprint
    document-frequency and bucket fan-out in one filter (boilerplate
    fingerprints shared by everything are dup-signal-free and would
    cost df² pairs)."""
    fps = (_winnow_frame(docs, gram, window)
           .select("doc_id", F.array_distinct("wm").alias("fps"))
           # observe barrier: InferFiltersFromGenerate would otherwise
           # inline the winnowing HOF into a scan filter (the 18× trap)
           .observe(f"ssd_barrier_{next(_BARRIER_SEQ)}",
                    F.count(F.lit(1))))
    fp = fps.select("doc_id", F.explode("fps").alias("fp"))
    return (_bucket_pairs(fp, ["fp"], "doc_id", df_cap)
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def _winnow_frame(docs: DataFrame, gram: int, window: int,
                  with_md5: bool = False) -> DataFrame:
    """(doc_id[, fp_md5], wm: array<string>) — md5 token-gram hashes
    window-min'd entirely in the array domain; THE winnowing
    construction (Schleimer et al., SIGMOD'03), shared by
    ``fingerprints`` and ``substring_dup_candidates`` (round-3 review:
    they had drifted into near-identical copies).

    Plan notes: the admission filter runs on the CHEAP token count
    (size(toks) >= gram+window-1 ⟺ n_grams >= window) BEFORE the gram
    projection — filtering on size(g) instead evaluates the md5 gram
    expression in the pushed-down predicate AND the projection
    (measured 7 s vs 0.6 s at sf0.1).  The spread barrier is
    CONDITIONAL and sits on the raw (doc_id, text) rows (round-3
    review: the old unconditional repartition exchanged materialized
    token arrays even on already-parallel production layouts).
    CollapseProject cannot inline toks into grams or grams into wmins:
    both consumers reference their input many times and the
    expressions are non-cheap, which trips the collapse guard — the
    plan test pins the resulting single-evaluation shape."""
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (gram - 1)),
        lambda i: F.md5(F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(gram)])))
    extra = [F.md5("text").alias("fp_md5")] if with_md5 else []
    cols = ["doc_id"] + (["fp_md5"] if with_md5 else [])
    g = (_spread(docs.select("doc_id", "text"))
         .select("doc_id", *extra, TOKENS().alias("toks"))
         .filter(F.size("toks") >= gram + window - 1)
         .select(*cols, grams.alias("g")))
    wmins = F.transform(
        F.sequence(F.lit(1), F.size("g") - (window - 1)),
        lambda i: F.least(*[F.element_at(F.col("g"), i + k)
                            for k in range(window)]))
    return g.select(*cols, wmins.alias("wm"))


def fingerprints(docs: DataFrame, gram: int = 5, window: int = 4) -> DataFrame:
    """Document fingerprints: whole-text md5 + winnowing count.

    Pure array-domain projection (zero payload shuffle beyond the
    conditional spread) — the posexplode + bounded-frame window-min
    alternative shuffles every gram row and measured ~10 s at sf0.1 vs
    <1 s for this shape.  Docs with no full window are excluded
    (operator contract, mirrored in the oracle)."""
    return _winnow_frame(docs, gram, window, with_md5=True).select(
        "doc_id", "fp_md5",
        F.size(F.array_distinct("wm")).cast("long").alias("n_winnow"))


# ---------------------------------------------------------------------------
# line-level boilerplate removal (the CCNet/RefinedWeb pass: drop text
# units that recur across many documents — nav bars, cookie banners,
# footers).  This corpus is single-space-normalized with no newlines,
# so the "line" unit is a fixed-width word block; at extraction scale
# the same operator runs over serializer line breaks.
# ---------------------------------------------------------------------------

LINE_BLOCK = 10            # words per segment (the "line" unit here)
LINE_DF_CAP = 8            # segments in more docs than this = boilerplate
LINE_BROADCAST_CAP = 1_000_000   # hot-set rows above this: no broadcast


def doc_segments(docs: DataFrame, block: int = LINE_BLOCK) -> DataFrame:
    """(doc_id, pos, seg): text cut into consecutive ``block``-word
    segments — one narrow projection + posexplode, no shuffle."""
    toks = TOKENS()
    nseg = F.ceil(F.size(toks) / F.lit(block)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(F.slice(toks, i * block + 1, block), " "))
    return docs.select("doc_id", F.posexplode(segs).alias("pos", "seg"))


def line_dedup(docs: DataFrame, block: int = LINE_BLOCK,
               df_cap: int = LINE_DF_CAP,
               broadcast_cap: int = LINE_BROADCAST_CAP) -> DataFrame:
    """(doc_id, clean_text, kept_segs, dropped_segs): remove segments
    whose document frequency exceeds ``df_cap`` and reassemble the
    survivors in document order.

    Scale shape: the segment stream shuffles ONCE on segment hash for
    the df agg (two-phase: per-doc distinct first, so a segment
    repeated inside one doc counts once); the hot set is the df>cap
    TAIL of that agg — heavy hitters, by construction a tiny fraction
    of distinct segments — staged via localCheckpoint and size-gated:
    broadcast below the cap, shuffle-hash fallback above (same
    protocol as lsh_jaccard_pairs).  Reassembly is one groupBy doc_id
    with an in-array sort — no window, no second pass over text."""
    segs = doc_segments(_spread(docs), block)
    with_h = segs.select("doc_id", "pos", "seg", F.md5("seg").alias("h"))
    hot = (with_h.select("doc_id", "h").distinct()
           .groupBy("h").agg(F.count("*").alias("df"))
           .filter(F.col("df") > df_cap)
           .select("h").localCheckpoint())
    small = hot.count() <= broadcast_cap
    hint = F.broadcast if small else (lambda df: df.hint("shuffle_hash"))
    marked = with_h.join(hint(hot.withColumn("hot", F.lit(1))), "h", "left")
    kept = F.when(F.col("hot").isNull(), F.struct("pos", "seg"))
    return (marked.groupBy("doc_id")
            .agg(F.array_join(
                     F.transform(F.array_sort(F.collect_list(kept)),
                                 lambda s: s["seg"]), " ")
                 .alias("clean_text"),
                 F.sum(F.when(F.col("hot").isNull(), 1).otherwise(0))
                 .cast("int").alias("kept_segs"),
                 F.sum(F.when(F.col("hot").isNotNull(), 1).otherwise(0))
                 .cast("int").alias("dropped_segs")))


def within_doc_dedup(docs: DataFrame,
                     block: int = LINE_BLOCK) -> DataFrame:
    """(doc_id, clean_text, kept_segs, dropped_segs): keep the FIRST
    occurrence of each distinct segment WITHIN a document and
    reassemble in order — Dolma's dedupe-paragraphs-within-document
    pass, the complement of line_dedup (which drops segments hot
    ACROSS the corpus): a page that repeats its own boilerplate ten
    times keeps one copy here even though no other page shares it.
    Same fixed-width word-segment convention as line_dedup
    (documents.text is single-space normalized — no newlines to cut
    on).

    Scale shape: two-level aggregation, zero windows — groupBy
    (doc_id, seg) keeps min(pos) + occurrence count (map-side combine;
    a segment repeated 10^4 times inside one skew-bomb doc compresses
    to one row before any reducer), then ONE groupBy(doc_id) with the
    in-array sort reassembly line_dedup established.  Per-doc cost is
    linearithmic in segments, never quadratic — the HOF
    first-occurrence scan was rejected for exactly that reason."""
    segs = doc_segments(_spread(docs), block)
    first = (segs.groupBy("doc_id", "seg")
             .agg(F.min("pos").alias("pos"),
                  F.count("*").alias("cnt")))
    return (first.groupBy("doc_id")
            .agg(F.array_join(
                     F.transform(F.array_sort(F.collect_list(
                         F.struct("pos", "seg"))),
                         lambda s: s["seg"]), " ")
                 .alias("clean_text"),
                 F.count("*").cast("int").alias("kept_segs"),
                 F.sum(F.col("cnt") - 1).cast("int")
                 .alias("dropped_segs")))


# C4 admission rules (Raffel et al. 2020, §2.2), adapted to the
# single-space-normalized text convention: "lines" become sentences
# split on '. ' (no newlines survive extraction normalization)
C4_MIN_SENTS = 3
C4_MIN_SENT_WORDS = 5


def c4_quality(docs: DataFrame) -> DataFrame:
    """(doc_id, n_sents, n_good_sents, has_lorem, has_brace,
    pass_c4): the C4 cleaning ruleset — at least ``C4_MIN_SENTS``
    sentences, at least that many with ``C4_MIN_SENT_WORDS``+ words
    (the per-line length rule, sentence-adapted), and the two classic
    page-level rejections: 'lorem ipsum' placeholder text and '{'
    (code leakage).  Complements gopher_quality (token-shape rules)
    and lm_perplexity (CCNet model score) — the three standard
    web-corpus admission families.

    Pure narrow projection (one regex split + HOF filter, zero
    shuffle): an admission filter's 100 TB shape is a WHERE clause."""
    sents = F.split("text", r"\. ")
    n_sents = F.size(sents)
    n_good = F.size(F.filter(
        sents,
        lambda s: F.size(F.split(s, " ")) >= C4_MIN_SENT_WORDS))
    has_lorem = F.lower(F.col("text")).contains("lorem ipsum")
    has_brace = F.col("text").contains("{")
    out = docs.select(
        "doc_id",
        n_sents.cast("int").alias("n_sents"),
        n_good.cast("int").alias("n_good_sents"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"))
    ok = ((F.col("n_sents") >= C4_MIN_SENTS)
          & (F.col("n_good_sents") >= C4_MIN_SENTS)
          & ~F.col("has_lorem") & ~F.col("has_brace"))
    return out.withColumn("pass_c4", ok)


# ---------------------------------------------------------------------------
# n-gram LM perplexity scoring (the CCNet quality filter: score every
# document under a language model estimated from the corpus itself,
# then keep the low-perplexity head).  Unigram with add-k smoothing —
# deterministic, engine-portable, and the exact shape a KenLM-backed
# production pass has: a (token -> logprob) table joined against the
# document term stream.
# ---------------------------------------------------------------------------

LM_K = 0.5                 # add-k smoothing mass


def lm_perplexity(docs: DataFrame, k: float = LM_K) -> DataFrame:
    """(doc_id, n_tok, mean_nll, ppl): mean negative log-likelihood and
    perplexity of each document under the corpus unigram LM,
    p(t) = (c_t + k) / (N + k*V).

    Cross-engine determinism: per-token NLL is fixed to integer
    micro-nats (round(-ln(p)*1e6) as bigint) BEFORE summation, so the
    per-doc sum is order-independent — a double sum would expose
    Spark's partial-agg addition order vs the oracle's.  mean_nll
    divides the exact bigint; ppl = exp of the already-rounded mean.

    Scale shape: the term stream aggregates to (doc_id, tok, tf) in
    one shuffle (partial map-side combine), the vocab table joins on
    tok (shuffle-hash hinted — at web scale V ~ 10^8 rows is beyond
    any broadcast), and the final per-doc sum moves 3-column rows.
    Raw text never enters an exchange; N and V ride along as a
    broadcast 1-row frame, never a driver collect."""
    tf = (_spread(docs)
          .select("doc_id", F.explode(TOKENS()).alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("tf")))
    counts = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    totals = counts.agg(F.sum("c").alias("n_total"),
                        F.count("*").alias("vocab"))
    lp = (counts.crossJoin(F.broadcast(totals))
          .select("tok",
                  F.round(-F.log((F.col("c") + F.lit(k))
                                 / (F.col("n_total") + F.lit(k)
                                    * F.col("vocab"))) * 1e6, 0)
                  .cast("long").alias("nll_micro")))
    scored = (tf.join(lp.hint("shuffle_hash"), "tok")
              .groupBy("doc_id")
              .agg(F.sum("tf").alias("n_tok"),
                   F.sum(F.col("tf") * F.col("nll_micro")).alias("s")))
    # Mean in EXACT integer micro-nats: floor((2s+n)/(2n)) is s/n
    # rounded half-up without ever forming the double s/1e6/n — whose
    # round(.,6) is engine-divergent exactly at half-micro boundaries
    # (hit at sf0.1: Spark's BigDecimal sees the double just under .5,
    # the oracle's scaled round lands on it).  All terms stay < 2^53,
    # and a non-integer quotient sits >= 1/(2n) from any integer, so
    # the double division inside floor() is exact-safe.
    m_micro = F.floor((2 * F.col("s") + F.col("n_tok"))
                      / (2 * F.col("n_tok")))
    mean_nll = m_micro.cast("double") / F.lit(1e6)
    return scored.select("doc_id", F.col("n_tok").cast("int").alias("n_tok"),
                         mean_nll.alias("mean_nll"),
                         F.round(F.exp(mean_nll), 4).alias("ppl"))


DHASH_BUCKET_CAP = 64      # band buckets hotter than this are skipped
DHASH_MAX_HAMMING = 6      # near-dup verify threshold (of 64 bits)


def dhash_neardup(hashes: DataFrame,
                  max_hamming: int = DHASH_MAX_HAMMING,
                  bucket_cap: int = DHASH_BUCKET_CAP) -> DataFrame:
    """(doc_a, doc_b, hamming): IMAGE near-duplicate pairs over a
    perceptual-hash frame (doc_id, dh_hi, dh_lo from
    media.dhash_frame) — the visual-modality sibling of the MinHash
    text path.  Candidates = docs sharing any of the four exact
    16-bit dHash bands (Hamming-LSH: a pair within ``max_hamming``
    almost always leaves one band untouched), then the exact 64-bit
    Hamming distance verifies via bit_count(xor) on the two halves.

    Scale shape: band explode is narrow (4 rows/doc of 3 ints); ONE
    exchange on (band, key) with the shared _bucket_pairs in-array
    pair emission under ``bucket_cap`` (the boilerplate-logo skew
    guard — think 10^7 identical tracking pixels); the verify joins
    touch only candidate pairs against the 3-column hash frame
    (shuffle-hash, never the media payloads).  Nothing is all-pairs;
    raster bytes never enter an exchange."""
    # r6: stage the 3-column hash frame ONCE — the band explode and
    # BOTH verify sides consume it, and when it arrives as the raw
    # render+decode+dhash lineage (the image gates) each consumer
    # would re-decode every raster (measured 3.7 -> 2.4 s at sf0.1).
    # Same staging rationale as lsh_jaccard_pairs' candidate frame.
    hashes = hashes.localCheckpoint()
    lo16 = F.lit(65536)
    bands = hashes.select(
        "doc_id",
        F.posexplode(F.array(
            F.floor(F.col("dh_hi") / lo16).cast("long"),
            (F.col("dh_hi") % lo16).cast("long"),
            F.floor(F.col("dh_lo") / lo16).cast("long"),
            (F.col("dh_lo") % lo16).cast("long")))
        .alias("band", "key"))
    pairs = (_bucket_pairs(bands, ["band", "key"], "doc_id", bucket_cap)
             .distinct())
    a = hashes.select(F.col("doc_id").alias("doc_a"),
                      F.col("dh_hi").alias("hi_a"),
                      F.col("dh_lo").alias("lo_a"))
    b = hashes.select(F.col("doc_id").alias("doc_b"),
                      F.col("dh_hi").alias("hi_b"),
                      F.col("dh_lo").alias("lo_b"))
    ham = (F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
           + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))))
    return (pairs.join(a.hint("shuffle_hash"), "doc_a")
            .join(b.hint("shuffle_hash"), "doc_b")
            .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


CCNET_RES = 10_000         # nll-histogram resolution: 0.01 nat


def ccnet_buckets(docs: DataFrame, k: float = LM_K,
                  resolution: int = CCNET_RES) -> DataFrame:
    """(doc_id, mean_nll, bucket): CCNet's corpus split — score every
    document under the LM (lm_perplexity) and partition the corpus
    into the 'head' (lowest-perplexity third), 'middle', and 'tail'
    thirds (Wenzek et al. 2020 §4.3: the head trains the model, the
    tail is dropped).  Tertile thresholds are bucket-granular: the
    per-doc micro-nat mean compresses into a fixed-resolution
    histogram (``resolution`` micro-nats = 0.01 nat per cell), and a
    threshold is the FIRST cell whose cumulative count reaches 1/3
    (resp. 2/3) of the corpus — ties share a label, exactly how a
    production histogram percentile behaves.  All-integer comparisons
    (3*cum >= n on bigint counts), so both engines cut identically.

    Scale shape: scoring is lm_perplexity's shuffles unchanged; the
    doc-level means then collapse to a bounded histogram (mean NLL <
    ~30 nats -> <= 3000 cells) in one map-side-combined shuffle; the
    cumulative window runs over that tiny frame (the len_quantiles
    convention — never a corpus sort); the two thresholds ride back
    as a broadcast 1-row frame.  A true tertile would globally sort
    100 TB of scores; this never re-sorts documents at all."""
    scored = lm_perplexity(docs, k)
    m = scored.select(
        "doc_id", "mean_nll",
        F.round(F.col("mean_nll") * 1e6, 0).cast("long").alias("mm"))
    cell = F.floor(F.col("mm") / F.lit(resolution)).cast("long")
    hist = (m.select(cell.alias("cell"))
            .groupBy("cell").agg(F.count("*").alias("cnt")))
    win = Window.orderBy("cell").rowsBetween(
        Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    cum = hist.select("cell", F.sum("cnt").over(win).alias("cum"),
                      F.sum("cnt").over(tot).alias("n"))
    thr = (cum.agg(
        F.min(F.when(3 * F.col("cum") >= F.col("n"), F.col("cell")))
        .alias("t1"),
        F.min(F.when(3 * F.col("cum") >= 2 * F.col("n"), F.col("cell")))
        .alias("t2")))
    return (m.crossJoin(F.broadcast(thr))
            .select("doc_id", "mean_nll",
                    F.when(cell <= F.col("t1"), F.lit("head"))
                    .when(cell <= F.col("t2"), F.lit("middle"))
                    .otherwise(F.lit("tail")).alias("bucket")))


def vocab_stats(docs: DataFrame) -> DataFrame:
    """(n_tokens, vocab, hapax, ttr, hapax_frac): corpus vocabulary
    accounting for the data card — total token mass, distinct types,
    hapax legomena (frequency-1 types: the misspelling/noise tail that
    dominates raw web vocabularies), type-token ratio, and the hapax
    share of the vocabulary.  Ratios are rounded to 6dp after exact
    bigint division inputs, so both engines print identical doubles.

    Scale shape: one shuffle to (tok, count) with map-side combine,
    then a single global rollup with partial aggregation — one row
    out, no window, no sort; the 10^8-type vocabulary never leaves
    the executors."""
    tf = (_spread(docs.select("doc_id", "text"))
          .select(F.explode(TOKENS()).alias("tok"))
          .groupBy("tok").agg(F.count("*").alias("c")))
    agg = tf.agg(F.sum("c").cast("long").alias("n_tokens"),
                 F.count("*").cast("long").alias("vocab"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .cast("long").alias("hapax"))
    return agg.select(
        "n_tokens", "vocab", "hapax",
        F.round(F.col("vocab") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(F.col("hapax") / F.col("vocab"), 6).alias("hapax_frac"))


COCITE_DEG_CAP = 32      # pages with more distinct targets = link farms
COCITE_MIN = 3


def cocitation_pairs(edges: DataFrame, deg_cap: int = COCITE_DEG_CAP,
                     min_cocite: int = COCITE_MIN) -> DataFrame:
    """(host_a, host_b, n_cocite): co-citation similarity over the
    link graph — target-host pairs linked from the same source page
    (Small 1973; the 'related sites' signal search engines derive from
    the web graph).  Pairs must co-occur on at least ``min_cocite``
    distinct source pages.

    Scale shape: (src, dst) de-dups once; sources with more than
    ``deg_cap`` distinct targets drop as link farms (the df-cap
    convention); per-source pair fan-out is bounded cap^2 through the
    shared _bucket_pairs bucket shape (one exchange on src, in-array
    i<j emission, no self-join); the final count is one shuffle on the
    (host_a, host_b) pair key."""
    e = edges.select("src", "dst").distinct()
    pairs = _bucket_pairs(e, ["src"], "dst", deg_cap)
    return (pairs.groupBy(F.col("doc_a").alias("host_a"),
                          F.col("doc_b").alias("host_b"))
            .agg(F.count("*").cast("long").alias("n_cocite"))
            .filter(F.col("n_cocite") >= min_cocite))


HILL_DMIN = 2


def degree_stats(edges: DataFrame, d_min: int = HILL_DMIN) -> DataFrame:
    """(n_hosts, max_indeg, n_tail, alpha): in-degree distribution
    accounting over the link graph plus the Hill estimator of the
    power-law tail exponent, alpha = 1 + n_tail / sum(ln(d_i/d_min))
    over hosts with in-degree >= d_min — the heavy-tail diagnostic a
    crawl planner reads before choosing skew guards.

    Cross-engine determinism: the per-host ln term is rounded to
    integer micro-nats BEFORE summation (the lm_perplexity contract);
    alpha divides the exact bigint once.  Scale shape: distinct +
    degree count is one shuffle; the rollup is a single global
    aggregate with map-side partials (one row out); no window, no
    sort.  alpha is null when every tail degree equals d_min (the
    estimator is undefined there)."""
    deg = (edges.select("src", "dst").distinct()
           .groupBy("dst").agg(F.count("*").alias("d")))
    term = F.when(F.col("d") >= d_min,
                  F.round(F.log(F.col("d") / F.lit(float(d_min)))
                          * 1e6, 0).cast("long"))
    agg = deg.agg(F.count("*").cast("long").alias("n_hosts"),
                  F.max("d").cast("long").alias("max_indeg"),
                  F.sum(F.when(F.col("d") >= d_min, 1).otherwise(0))
                  .cast("long").alias("n_tail"),
                  F.sum(term).alias("s_micro"))
    alpha = F.when(F.col("s_micro") > 0,
                   F.round(F.lit(1.0) + F.col("n_tail") * 1e6
                           / F.col("s_micro"), 4))
    return agg.select("n_hosts", "max_indeg", "n_tail",
                      alpha.alias("alpha"))


PMI_WINDOW = 2          # forward skip-gram distance
PMI_MIN_COUNT = 5       # pairs below this are noise, not signal


def pmi_pairs(docs: DataFrame, window: int = PMI_WINDOW,
              min_count: int = PMI_MIN_COUNT) -> DataFrame:
    """(w_a, w_b, n_pair, pmi_micro): corpus co-occurrence statistics
    with pointwise mutual information — the skip-gram pair counting
    behind word2vec/GloVe-style embedding training and collocation
    mining.  A pair is an unordered (least, greatest) word pair within
    ``window`` forward positions; PMI = ln(p(a,b) / (p(a) p(b))) =
    ln(n_pair x N_w^2 / (N_p x n_a x n_b)), fixed to integer
    micro-nats (the lm_perplexity determinism contract); pairs below
    ``min_count`` are cut before any join.

    Scale shape: pairs are BUILT in-array per document (one transform
    over positions, no explode-join of the corpus against itself),
    then ONE shuffle to (w_a, w_b) counts with map-side combine — a
    boilerplate phrase repeated 10^6 times compresses before any
    reducer; the min_count cut runs before the two unigram joins, so
    only the surviving head joins; unigram counts join shuffle-hash
    (vocab-scale, beyond any broadcast) and the two scalar totals ride
    as a broadcast 1-row frame."""
    t = (_spread(docs.select("doc_id", "text"))
         .select(TOKENS().alias("toks")))
    k = F.size("toks")

    def _pair_at(d):
        # pairs (i, i+d) for i in [1, k-d], canonically ordered.
        # Guarded like shingles_of: Spark sequence(1, 0) counts DOWN,
        # so a doc with k <= d tokens would hit element_at(toks, 0)
        # and abort the job — short docs get an explicit empty array.
        grams = F.transform(
            F.sequence(F.lit(1), k - d),
            lambda i: F.struct(
                F.least(F.element_at(F.col("toks"), i),
                        F.element_at(F.col("toks"), i + d)).alias("w_a"),
                F.greatest(F.element_at(F.col("toks"), i),
                           F.element_at(F.col("toks"), i + d))
                .alias("w_b")))
        return F.when(k > d, grams).otherwise(
            F.array().cast("array<struct<w_a:string,w_b:string>>"))

    stacked = F.concat(*[_pair_at(d) for d in range(1, window + 1)])
    pairs = (t.select(F.explode(stacked).alias("p"))
             .groupBy(F.col("p.w_a").alias("w_a"),
                      F.col("p.w_b").alias("w_b"))
             .agg(F.count("*").alias("n_pair"))
             .filter(F.col("n_pair") >= min_count))
    uni = (t.select(F.explode("toks").alias("w"))
           .groupBy("w").agg(F.count("*").alias("n_w")))
    totals = uni.agg(F.sum("n_w").alias("n_tokens"))
    per_doc_pairs = None
    for d in range(1, window + 1):
        e = F.greatest(k - d, F.lit(0)).cast("long")
        per_doc_pairs = e if per_doc_pairs is None else per_doc_pairs + e
    n_pairs_total = t.agg(F.sum(per_doc_pairs).alias("n_pairs"))
    scored = (pairs
              .join(uni.hint("shuffle_hash")
                    .select(F.col("w").alias("w_a"),
                            F.col("n_w").alias("n_a")), "w_a")
              .join(uni.hint("shuffle_hash")
                    .select(F.col("w").alias("w_b"),
                            F.col("n_w").alias("n_b")), "w_b")
              .crossJoin(F.broadcast(totals))
              .crossJoin(F.broadcast(n_pairs_total)))
    # the ratio is formed in DOUBLE, never as a bigint product:
    # n_tokens^2 at corpus scale (~10^26) would silently wrap a long;
    # the left-associated division order is part of the oracle contract
    ratio = (F.col("n_pair").cast("double") * F.col("n_tokens")
             * F.col("n_tokens") / F.col("n_pairs") / F.col("n_a")
             / F.col("n_b"))
    pmi = F.round(F.log(ratio) * 1e6, 0).cast("long")
    return scored.select("w_a", "w_b",
                         F.col("n_pair").cast("long").alias("n_pair"),
                         pmi.alias("pmi_micro"))


MIRROR_SHA_HOST_CAP = 64
MIRROR_MIN_SHARED = 3


def mirror_hosts(docs: DataFrame, host_cap: int = MIRROR_SHA_HOST_CAP,
                 min_shared: int = MIRROR_MIN_SHARED) -> DataFrame:
    """(host_a, host_b, shared_docs): mirror-site candidates — host
    pairs serving at least ``min_shared`` byte-identical documents,
    the duplicate-site detection pass a crawl planner runs so a mirror
    farm doesn't consume 50x its crawl budget.

    Scale shape: (host, sha) de-dups once (a host serving one doc on
    10^3 urls counts once); shas served by more than ``host_cap``
    hosts drop as boilerplate, not mirrors (the df-cap convention of
    ngram_jaccard); per-sha pair fan-out is bounded cap^2 through the
    shared _bucket_pairs bucket shape (one exchange on sha, in-array
    i<j emission, no self-join); the final count is one shuffle on the
    (host_a, host_b) pair key.  Raw text never enters an exchange —
    only 32-byte hashes and host names."""
    hs = (docs.select(F.col("source").alias("host"),
                      F.sha2(F.col("text").cast("binary"), 256)
                      .alias("sha"))
          .distinct())
    pairs = _bucket_pairs(hs, ["sha"], "host", host_cap)
    return (pairs.groupBy(F.col("doc_a").alias("host_a"),
                          F.col("doc_b").alias("host_b"))
            .agg(F.count("*").cast("long").alias("shared_docs"))
            .filter(F.col("shared_docs") >= min_shared))


TFIDF_TOPK = 3


def tfidf_topk(docs: DataFrame, k: int = TFIDF_TOPK) -> DataFrame:
    """(doc_id, rank, tok, tf, score_micro): each document's top-k
    salient terms by tf-idf — the keyword/labeling stage a curation
    pipeline runs for topic routing and data cards.  idf = ln((N+1)/
    (df+1)) fixed to integer micro-nats (the lm_perplexity contract),
    score = tf x idf_micro (exact bigint, order-independent);
    rank ties break on token order — fully deterministic.

    Scale shape: ONE shuffle to the (doc_id, tok, tf) term frame; df
    reduces from that already-reduced frame; the V-row idf table joins
    back via shuffle-hash (vocab beats any broadcast); N rides as a
    broadcast 1-row frame; the final top-k window partitions on
    doc_id — per-partition state is one document's vocabulary, never
    corpus-sized."""
    tf = (_spread(docs.select("doc_id", "text"))
          .select("doc_id", F.explode(TOKENS()).alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("tf")))
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    idf = (df_t.crossJoin(F.broadcast(n_docs))
           .select("tok",
                   F.round(F.log((F.col("n_docs") + 1)
                                 / (F.col("df") + 1)) * 1e6, 0)
                   .cast("long").alias("idf_micro")))
    scored = (tf.join(idf.hint("shuffle_hash"), "tok")
              .select("doc_id", "tok", "tf",
                      (F.col("tf") * F.col("idf_micro"))
                      .alias("score_micro")))
    w = Window.partitionBy("doc_id").orderBy(F.col("score_micro").desc(),
                                             F.col("tok"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("doc_id", F.col("rank").cast("int").alias("rank"),
                    "tok", F.col("tf").cast("int").alias("tf"),
                    "score_micro"))


POSTINGS_CAP = 16


def inverted_postings(docs: DataFrame,
                      cap: int = POSTINGS_CAP) -> DataFrame:
    """(tok, df, postings): inverted-index posting lists — the
    index-shard build stage behind bm25_topk's scoring: per token, the
    document frequency plus the first ``cap`` doc_ids in ascending
    order, comma-joined (head-capped the way real shard builders bound
    a posting block before spilling to the next block).

    Scale shape: ONE shuffle on tok; rank-THEN-collect — a row_number
    window bounds every in-memory array to ``cap`` BEFORE collect_list,
    so a stopword appearing in 10^11 documents never materializes an
    unbounded array (the naive collect-then-slice was rejected for
    exactly that skew hazard); df rides the same window partition as a
    count over the full frame."""
    dt = (_spread(docs.select("doc_id", "text"))
          .select("doc_id", F.explode(TOKENS()).alias("tok"))
          .distinct()
          .select("tok", "doc_id"))
    w = Window.partitionBy("tok").orderBy("doc_id")
    ranked = dt.select(
        "tok", "doc_id", F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("tok")).alias("df"))
    return (ranked.filter(F.col("rn") <= cap)
            .groupBy("tok")
            .agg(F.max("df").cast("long").alias("df"),
                 F.array_join(
                     F.transform(F.array_sort(F.collect_list("doc_id")),
                                 lambda x: x.cast("string")),
                     ",").alias("postings")))


LEN_QUANTILES = (0.5, 0.9, 0.99)


def len_quantiles(docs: DataFrame) -> DataFrame:
    """(q, bucket, lo_bound, cum_frac): corpus length quantiles from a
    mergeable log2 histogram — the fourth mergeable summary next to
    HLL / Bloom / Misra-Gries: bucket = floor(log2(n_chars)), counts
    are plain sums (trivially mergeable across shards, snapshots, or
    stream epochs), and quantile q reports the FIRST bucket whose
    cumulative count reaches q x total, with its 2^bucket lower bound
    and the exact cumulative fraction there.  floor(log2) at exact
    powers of two is double-exact, so both engines bucket identically.

    Scale shape: one narrow projection + ONE shuffle to at most ~60
    bucket rows; the cumulative window runs over that tiny frame, and
    the quantile probe is a literal-array explode — the corpus is
    scanned once and never re-sorted (a true percentile would be a
    global sort)."""
    h = (docs.filter(F.col("n_chars") > 0)
         .select(F.floor(F.log2(F.col("n_chars").cast("double")))
                 .cast("long").alias("bucket"))
         .groupBy("bucket").agg(F.count("*").alias("cnt")))
    return quantiles_from_histogram(h)


def quantiles_from_histogram(h: DataFrame) -> DataFrame:
    """(q, bucket, lo_bound, cum_frac) from a (bucket, cnt) log2
    histogram frame — the probe half of len_quantiles, shared with the
    streaming sink recovery (streaming.len_histogram_stream), so one
    quantile contract covers both surfaces.  All windows run over the
    ~60-row histogram, never over corpus rows."""
    win = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    cum = h.select("bucket", F.sum("cnt").over(win).alias("cum"),
                   F.sum("cnt").over(tot).alias("total"))
    qs = F.explode(F.array(*[F.lit(q) for q in LEN_QUANTILES])).alias("q")
    hit = (cum.select("bucket", "cum", "total", qs)
           .filter(F.col("cum") >= F.col("q") * F.col("total")))
    first = (hit.groupBy("q")
             .agg(F.min("bucket").alias("bucket")))
    return (first.join(cum, "bucket")
            .select("q", "bucket",
                    F.pow(F.lit(2.0), F.col("bucket").cast("double"))
                    .cast("long").alias("lo_bound"),
                    F.round(F.col("cum") / F.col("total"), 4)
                    .alias("cum_frac")))


NB_K = 0.5


def _gopher_pass_expr():
    """Boolean Column: gopher_quality's admission flag over a
    materialized token-array column named ``toks`` — the same rules
    and constants as gopher_quality (kept in lockstep; rule features
    are rounded before comparison exactly as there), exposed as a bare
    expression so nb_quality can attach weak labels WITHOUT a join."""
    n = F.size("toks")
    total_chars = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter("toks",
                             lambda x: F.array_contains(stop_arr, x)))
    n_hash = F.size(F.filter("toks", lambda x: x.contains("#")))
    n_ell = F.size(F.filter("toks", lambda x: x.endswith("...")))
    return (n.cast("long").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
            & F.round(total_chars / n, 4).between(GOPHER_MIN_MWL,
                                                  GOPHER_MAX_MWL)
            & (n_stop.cast("long") >= 2)
            & (F.round(n_hash / n, 4) < 0.1)
            & (F.round(n_ell / n, 4) < 0.3))


def nb_quality(docs: DataFrame, k: float = NB_K) -> DataFrame:
    """(doc_id, n_tok, margin_micro, nb_pred, label): multinomial
    Naive-Bayes quality score distilled from the Gopher rule filter —
    the classifier stage a web pipeline trains so a cheap model can
    replace the rule cascade on the next crawl (the FineWeb-Edu /
    CCNet pattern, here with deterministic weak supervision): labels
    = gopher_quality's pass flag, features = unigram counts, add-k
    smoothing, and the score is the log-odds margin ln P(pos|d) -
    ln P(neg|d) (class prior + sum of tf x per-token weight); margin
    > 0 = predicted-pass.

    Cross-engine determinism: per-token class log-likelihoods and the
    prior are rounded to integer micro-nats BEFORE any summation (the
    lm_perplexity contract), so per-doc sums are addition-order
    independent and the margin is an exact bigint.

    Scale shape: the weak label is a pure projection (gopher rules
    are zero-shuffle) attached BEFORE tokenization, so no label join
    ever happens; the term stream reduces once to (doc_id, tok, tf)
    with the label riding in the grouping key (functionally dependent
    on doc_id); class-token counts reduce from that already-reduced
    frame; the V-row weight table joins back via shuffle-hash
    (web-scale vocab is beyond any broadcast — the lm_perplexity
    protocol); class totals and the prior ride as broadcast 1-row
    frames, never a driver collect."""
    lab = (_spread(docs.select("doc_id", "text"))
           .select("doc_id", TOKENS().alias("toks"))
           .select("doc_id", "toks", _gopher_pass_expr().alias("label")))
    tf = (lab.select("doc_id", "label", F.explode("toks").alias("tok"))
          .groupBy("doc_id", "label", "tok").agg(F.count("*").alias("tf")))
    ct = (tf.groupBy("tok")
          .agg(F.sum(F.when(F.col("label"), F.col("tf")).otherwise(0))
               .alias("c_pos"),
               F.sum(F.when(~F.col("label"), F.col("tf")).otherwise(0))
               .alias("c_neg")))
    tot = ct.agg(F.sum("c_pos").alias("n_pos"), F.sum("c_neg").alias("n_neg"),
                 F.count("*").alias("vocab"))

    def _ll(c, n):
        return F.round(F.log((c + F.lit(k)) / (n + F.lit(k)
                                               * F.col("vocab"))) * 1e6, 0)

    w = (ct.crossJoin(F.broadcast(tot))
         .select("tok", (_ll(F.col("c_pos"), F.col("n_pos"))
                         - _ll(F.col("c_neg"), F.col("n_neg")))
                 .cast("long").alias("w_micro")))
    pri = (lab.agg(F.sum(F.when(F.col("label"), 1).otherwise(0))
                   .alias("d_pos"),
                   F.sum(F.when(~F.col("label"), 1).otherwise(0))
                   .alias("d_neg"))
           .select(F.round(F.log((F.col("d_pos") + F.lit(k))
                                 / (F.col("d_neg") + F.lit(k))) * 1e6, 0)
                   .cast("long").alias("prior_micro")))
    scored = (tf.join(w.hint("shuffle_hash"), "tok")
              .groupBy("doc_id", "label")
              .agg(F.sum("tf").alias("n_tok"),
                   F.sum(F.col("tf") * F.col("w_micro")).alias("s")))
    margin = F.col("s") + F.col("prior_micro")
    return (scored.crossJoin(F.broadcast(pri))
            .select("doc_id", F.col("n_tok").cast("int").alias("n_tok"),
                    margin.alias("margin_micro"),
                    (margin > 0).alias("nb_pred"), "label"))


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERIES = {1: ("table", "scan"),
                2: ("spark", "merge", "hash"),
                3: ("window", "sort")}


def bm25_topk(docs: DataFrame, queries: dict | None = None, k: int = 5,
              k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """(query_id, doc_id, score, rank): BM25 top-k retrieval — the
    search/curation scorer (Robertson-Spärck Jones idf, Okapi tf
    saturation with length normalization).

    Cross-engine determinism (the lm_perplexity contract): idf is fixed
    to integer micro-nats immediately after the ln, each (doc, term)
    contribution is rounded to an integer micro before summation, and
    ranking orders by the EXACT integer sum — double addition order can
    never flip a rank between engines.

    Scale shape: the query vocabulary is a PLAN LITERAL, so the isin
    filter sits directly on the exploded token stream — the only
    corpus-wide work is a narrow explode+filter, and the (doc, tok,
    tf, dl) groupBy shuffles query-term occurrences only, never the
    corpus's token stream.  df/idf aggregate that tiny postings frame,
    and the final per-(query, doc) sum + top-k window move integer
    rows only.  Corpus stats (N, avgdl) ride as a broadcast 1-row
    frame — no driver collect."""
    queries = BM25_QUERIES if queries is None else queries
    spark = docs.sparkSession
    qt = spark.createDataFrame(
        [(int(q), t) for q, ts in queries.items() for t in ts],
        "query_id int, tok string")
    terms = sorted({t for ts in queries.values() for t in ts})
    matched = (_spread(docs)
               .select("doc_id", F.size(TOKENS()).alias("dl"),
                       F.explode(TOKENS()).alias("tok"))
               .filter(F.col("tok").isin(terms))
               .groupBy("doc_id", "tok")
               .agg(F.count("*").alias("tf"), F.first("dl").alias("dl")))
    stats = (docs.select(F.size(TOKENS()).alias("dl"))
             .agg(F.count("*").alias("n_docs"),
                  F.sum("dl").alias("sum_dl")))
    idf = (matched.groupBy("tok").agg(F.count("*").alias("df"))
           .crossJoin(F.broadcast(stats))
           .select("tok", F.round(F.log(
               F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
               / (F.col("df") + 0.5)) * 1e6, 0)
               .cast("long").alias("idf_micro"),
               (F.col("sum_dl").cast("double")
                / F.col("n_docs")).alias("avgdl")))
    w = (F.col("tf") * (k1 + 1.0)
         / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                / F.col("avgdl"))))
    term_micro = F.round(F.col("idf_micro") * w, 0).cast("long")
    scored = (matched.join(F.broadcast(idf), "tok")
              .select("doc_id", "tok", term_micro.alias("m"))
              .join(F.broadcast(qt), "tok")
              .groupBy("query_id", "doc_id")
              .agg(F.sum("m").alias("s")))
    win = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), "doc_id")
    return (scored.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select("query_id", "doc_id",
                    F.round(F.col("s") / 1e6, 4).alias("score"),
                    F.col("rank").cast("int").alias("rank")))


# ---------------------------------------------------------------------------
# sequence packing: the last hop before the trainer — concatenate the
# token stream into fixed-budget training sequences (GPT-style packing
# where documents straddle sequence boundaries).
# ---------------------------------------------------------------------------

PACK_BUDGET = 2048         # tokens per training sequence
PACK_SHARDS = 8            # parallel packing streams


def pack_sequences(docs: DataFrame, budget: int = PACK_BUDGET,
                   shards: int = PACK_SHARDS,
                   salt: str = "pack1") -> DataFrame:
    """(doc_id, shard, n_tok, seq_first, seq_last, seq_offset): each
    document's place in its shard's packed token stream — the sequence
    it starts in, the sequence it ends in, and its token offset within
    the first.

    Packing is per-SHARD (hash_split's content-independent md5-mod
    rule), not global: a global cumulative sum is a single-partition
    window — the classic scale-killer — while per-shard windows run
    ``shards``-wide in parallel and each stream stays orders of
    magnitude below 2^53 tokens (exact double floor) at any real
    scale; production runs raise ``shards`` with the cluster.
    Deterministic: same corpus -> same packing, independent of
    partitioning, because the within-shard order is doc_id."""
    h = _hash_mod(salt, shards)
    base = docs.select("doc_id", h.cast("int").alias("shard"),
                       F.size(TOKENS()).cast("long").alias("n_tok"))
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    before = F.sum("n_tok").over(w) - F.col("n_tok")
    return base.select(
        "doc_id", "shard", F.col("n_tok").cast("int").alias("n_tok"),
        F.floor(before / budget).cast("int").alias("seq_first"),
        F.floor((before + F.col("n_tok") - 1) / budget).cast("int")
        .alias("seq_last"),
        (before % budget).cast("int").alias("seq_offset"))


def training_export(docs: DataFrame, merges: DataFrame,
                    budget: int = PACK_BUDGET,
                    shards: int = PACK_SHARDS,
                    salt: str = "pack1") -> DataFrame:
    """(shard, n_docs, n_tokens, n_seqs, tail_tokens, pack_sum): the
    per-shard export manifest of the END-TO-END training-data path —
    the pipeline's terminal composition.  A trained BPE merge table
    (bpe_train's output) counts every document's subword tokens
    (bpe_segment's encoder — the same replay the chunker and packer
    budget against), documents pack into ``budget``-token sequences
    per md5-mod shard (pack_sequences' per-shard stream rule, within-
    shard order doc_id), and the manifest reports per shard: docs,
    total trained tokens, how many training sequences the stream
    yields (last one partial, ``tail_tokens`` long), and ``pack_sum``
    = sum((pos+1) * n_tok) — an exact-integer checksum that pins every
    document's trained token count AT ITS STREAM POSITION, so a
    single swapped doc or a one-token count drift anywhere in any
    shard changes the manifest.

    Scale shape: the merge table is an n_merges-row catalog artifact
    inside one narrow Arrow kernel (bpe_segment — zero shuffle, cost
    tracks distinct words per batch); the manifest is ONE shuffle of
    3-column rows (hash-partition by shard, in-partition window) with
    map-side partial aggregation collapsing each task to ≤``shards``
    rows.  Document text never moves; per-shard token streams stay
    far below 2^63 at any real scale, and production raises
    ``shards`` with the cluster exactly as pack_sequences does.
    ``pack_sum`` grows ~n_docs_per_shard^2 * avg_tok / 2, so a
    10^12-doc run folds it modulo a Mersenne prime (the shard_shuffle
    order_sum convention) — unfolded here because gate scale never
    approaches int64."""
    seg = bpe_segment(docs, merges)
    base = seg.select(
        "doc_id",
        _hash_mod(salt, shards).cast("int").alias("shard"),
        F.col("n_tokens").alias("n_tok"))
    w = Window.partitionBy("shard").orderBy("doc_id")
    per = base.withColumn("pos", F.row_number().over(w) - F.lit(1))
    agg = (per.groupBy("shard")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum("n_tok").cast("long").alias("n_tokens"),
                F.sum((F.col("pos") + 1) * F.col("n_tok"))
                .cast("long").alias("pack_sum")))
    n_seqs = (F.when(F.col("n_tokens") == 0, F.lit(0))
              .otherwise(F.expr(f"(n_tokens - 1) div {budget}") + 1)
              .cast("long"))
    return agg.select(
        "shard", "n_docs", "n_tokens",
        n_seqs.alias("n_seqs"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(F.col("n_tokens")
                   - F.expr(f"(n_tokens - 1) div {budget}") * budget)
        .cast("long").alias("tail_tokens"),
        "pack_sum")


# ---------------------------------------------------------------------------
# URL canonicalization + dedup: the Common-Crawl frontier pass — the
# same page arrives under scheme/host case variants, default ports,
# fragments, trailing slashes, and shuffled query params; canonicalize
# before any content work so exact-dup detection keys on identity, not
# spelling.  Engine-portable regex subset (Java regex == RE2 here).
# ---------------------------------------------------------------------------

def canonical_url(col) -> "F.Column":
    """Canonical form of a URL column: fragment stripped, scheme+host
    lowercased, default port dropped (http:80 / https:443), empty path
    -> '/', trailing slashes trimmed (except root), query params
    sorted.  Pure narrow projection — safe inside any scan."""
    u = F.regexp_replace(col, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.regexp_extract(rest, "^([^/?]*)", 1)
    pathq = F.regexp_replace(rest, "^[^/?]*", "")
    host = F.lower(F.regexp_extract(hostport, "^([^:]*)", 1))
    port = F.regexp_extract(hostport, ":([0-9]+)$", 1)
    keep_port = ((port != "")
                 & ~((scheme == "http") & (port == "80"))
                 & ~((scheme == "https") & (port == "443")))
    hostc = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(host)
    path = F.regexp_extract(pathq, "^([^?]*)", 1)
    query = F.regexp_extract(pathq, "\\?(.*)$", 1)
    trimmed = F.regexp_replace(path, "/+$", "")
    pathc = F.when(trimmed == "", F.lit("/")).otherwise(trimmed)
    qc = F.when(query == "", F.lit("")).otherwise(
        F.concat(F.lit("?"),
                 F.array_join(F.array_sort(F.split(query, "&")), "&")))
    return F.concat(scheme, F.lit("://"), hostc, pathc, qc)


def url_dedup(pages: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(canon_url, doc_id, n_variants): one survivor per canonical URL
    (smallest id — deterministic) plus how many raw spellings mapped
    onto it.

    Scale shape: canonicalization is narrow (runs inside the scan);
    the dedup is ONE shuffle on canon_url with a row_number window —
    the same per-key top-1 idiom as survivor selection.  No raw html
    column should be selected into this op; it moves (url, id) pairs
    only."""
    canon = pages.select(canonical_url(F.col("url")).alias("canon_url"),
                         F.col(id_col).alias("doc_id"))
    return _keep_min_per_key(canon, "canon_url")


def _keep_min_per_key(df: DataFrame, key: str,
                      extra: tuple = ()) -> DataFrame:
    """(key, doc_id, n_variants, *extra): min-doc_id survivor per key
    plus group size — the shared top-1 idiom of url_dedup and
    canonical_dedup.  Both window functions ride ONE exchange on the
    key."""
    w = Window.partitionBy(key).orderBy("doc_id")
    return (df
            .withColumn("rn", F.row_number().over(w))
            .withColumn("n_variants",
                        F.count("*").over(Window.partitionBy(key))
                        .cast("int"))
            .filter(F.col("rn") == 1)
            .select(key, "doc_id", "n_variants", *extra))


_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"


def canonical_dedup(meta: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(canon_key, doc_id, n_variants, declared): url_dedup's
    page-DECLARED sibling — dedup on the rel=canonical link the page
    itself serves (the head pass's `canonical_url` column), falling
    back to string canonicalization of the fetch url when no usable
    canonical is declared.  This is the precedence search pipelines
    apply: an explicit canonical beats any URL-normalization heuristic
    (mobile mirrors, tracking-parameter variants, and CDN aliases all
    declare the same canonical while their urls normalize
    differently).

    The declared href is RESOLVED against the fetch url before keying
    (a verbatim key would merge unrelated hosts that each declare
    href="/page" — round-4 review): absolute hrefs pass through,
    protocol-relative (//host/p) take the fetch scheme, root-relative
    (/p) take the fetch origin; other relative forms (dot-segment
    paths) are treated as undeclared rather than resolved wrongly.
    Resolved keys then go through the SAME canonical_url()
    normalization as the fallback, so 'HTTP://A.example/x' declared on
    one page and a fetch url normalizing to 'http://a.example/x' land
    in one group.

    Input: metadata_df output or any (url, canonical_url, <id>) frame.
    `declared` marks groups keyed by a usable declaration.  Same scale
    shape as url_dedup — narrow key derivation, ONE shuffle, per-key
    top-1 window."""
    href = F.col("canonical_url")
    fetch = F.col("url")
    scheme = F.regexp_extract(fetch, _SCHEME_RE, 1)
    origin = F.concat(scheme, F.lit("://"),
                      F.regexp_extract(fetch, _SCHEME_RE + r"([^/?#]*)",
                                       2))
    resolved = (F.when(href.rlike(_SCHEME_RE), href)
                .when(href.startswith("//"),
                      F.concat(scheme, F.lit(":"), href))
                .when(href.startswith("/"), F.concat(origin, href)))
    keyed = meta.select(
        F.coalesce(canonical_url(resolved),
                   canonical_url(fetch)).alias("canon_key"),
        resolved.isNotNull().alias("declared"),
        F.col(id_col).alias("doc_id"))
    return _keep_min_per_key(keyed, "canon_key", extra=("declared",))


_JSONLD_RE = r'(?s)<script type="application/ld\+json">(.*?)</script>'


def jsonld_extract(pages: DataFrame) -> DataFrame:
    """(doc_id, block_idx, item_type, name, date_published): schema.org
    JSON-LD structured data lifted from ``<script
    type="application/ld+json">`` blocks — the machine-readable page
    metadata a Common-Crawl derivation mines for article/product
    catalogs (reference precedent: head-metadata extraction,
    pipeline.metadata_df; this is its structured-data sibling).

    One row per script block in document order; malformed JSON yields
    a row with NULL fields (the block is still counted — silent drops
    would skew per-site coverage stats); documents with no blocks keep
    one all-NULL row (posexplode_outer) so the operator is row-count
    stable over the corpus.

    Scale shape: pure built-in expressions end-to-end — a lazy-dotall
    regexp_extract_all in the scan projection, a generator
    (posexplode_outer), and get_json_object field lifts.  Zero
    Python, zero shuffle, whole-stage codegen throughout; at 100 TB
    this runs at scan speed."""
    blocks = F.regexp_extract_all(F.col("html"), F.lit(_JSONLD_RE), 1)
    b = pages.select(
        "doc_id",
        F.posexplode_outer(blocks).alias("block_idx", "j"))
    return b.select(
        "doc_id", "block_idx",
        F.get_json_object("j", "$['@type']").alias("item_type"),
        F.get_json_object("j", "$.name").alias("name"),
        F.get_json_object("j", "$.datePublished").alias("date_published"))


# ---------------------------------------------------------------------------
# link-graph PageRank (crawl-quality weighting)
# ---------------------------------------------------------------------------

PR_ITERS = 3
PR_SCALE = 1_000_000


def weighted_sample(docs: DataFrame, weight_col: str = "weight",
                    salt: str = "ws1") -> DataFrame:
    """(doc_id, kept): per-row weighted Bernoulli admission — the
    consumption step of importance weighting (dsir_weights scores ->
    keep each doc with probability proportional to its weight, capped
    at 1): keep iff hash(doc_id) mod 10^6 < weight * 10^6.  The same
    content-independent hash-mod family as hash_split/source_mix, so
    the decision is reproducible across engines, runs, and corpus
    growth (a doc's fate never changes when its neighbors change), and
    the weight column may come from any upstream scorer.  Weights
    outside [0, 1] are clamped (a >=1 weight means always keep —
    upsampling is row duplication, a different operator, same contract
    as source_mix).  NULL or NaN weights mean "no admissible score"
    and REJECT (kept=false) — Spark's least/greatest skip NULLs and
    order NaN above everything, so without the explicit coalesce an
    unscored doc would silently clamp to weight 1 and always be kept
    (round-4 review).  Pure narrow projection: zero shuffle."""
    h = _hash_mod(salt, 1000000)
    w = F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))
    w = F.when(F.isnan(w), F.lit(0.0)).otherwise(w)
    cut = F.round(F.greatest(F.lit(0.0), F.least(F.lit(1.0), w))
                  * 1000000)
    return docs.select("doc_id", (h < cut).alias("kept"))


def anchor_rollup(links: DataFrame) -> DataFrame:
    """(href, n_inlinks, n_semantic, n_anchors, top_anchor): per-target
    aggregation of the WAT-pass link table (pipeline.links_df) — the
    classic anchor-text signal: what OTHER pages call a url is a
    description of the url search/quality pipelines have leaned on
    since early web IR, and the in-content (semantic) vs boilerplate
    inlink split separates genuine citations from nav/footer farms.

    n_inlinks counts every anchor pointing at href, n_semantic the
    in-content subset, n_anchors the distinct anchor STRINGS, and
    top_anchor is the lexicographically-least semantic anchor text —
    a deterministic representative label (NULL when no in-content
    link ever used the target).

    Scale shape: two-level aggregation — groupBy(href, anchor) first,
    so a mega-target ("/" with 10^9 identical nav inlinks) is
    pre-compressed map-side to its distinct anchor texts before the
    per-href rollup; both levels are algebraic (sum/count/min) with
    partial combine, no expand-based distinct rewrite, no window.
    Output is target-keyspace-sized, orders of magnitude under the
    link table."""
    per_a = (links
             .select("href", "anchor",
                     F.col("semantic").cast("int").alias("sem"))
             .groupBy("href", "anchor")
             .agg(F.count("*").alias("n"),
                  F.sum("sem").alias("n_sem")))
    return per_a.groupBy("href").agg(
        F.sum("n").cast("long").alias("n_inlinks"),
        F.sum("n_sem").cast("long").alias("n_semantic"),
        F.count("*").cast("long").alias("n_anchors"),
        F.min(F.when(F.col("n_sem") > 0, F.col("anchor")))
        .alias("top_anchor"))


def pagerank(edges: DataFrame, iters: int = PR_ITERS,
             damping_num: int = 85, damping_den: int = 100) -> DataFrame:
    """(node, rank_micro): damped PageRank after ``iters`` synchronous
    rounds over a directed multigraph, in EXACT integer micro-units —
    the host-graph quality weight CommonCrawl-style pipelines attach to
    pages before sampling (harmonic/pagerank centrality per host).

    Exactness contract (what makes this oracle-able): ranks live in
    integer micro-units (start 10^6 per node); each edge contributes
    ``(rank[src] * damping_num) div (outdeg[src] * damping_den)`` —
    integer division per EDGE, then integer sums, so the result is
    bit-identical in any engine and any aggregation order (no float
    mass, no order-dependent rounding).  Per-round base is
    ``(PR_SCALE * (den-num)) div den``.  Dangling nodes (no out-edges)
    simply drop their mass — the standard simplification, deterministic.
    Self-loops are removed; parallel edges each carry a contribution
    (multigraph semantics).

    Scale shape (10^9-node host graph, 10^11 edges): the edge table is
    joined with out-degrees ONCE and staged (localCheckpoint) — one
    shuffle to build ``deg`` plus the join; after that every round is
    (a) edges ⋈ ranks on src — ranks is the nodes-sized side, orders of
    magnitude under the edge table, so AQE picks shuffle-hash with the
    staged edges never re-shuffled — and (b) ONE groupBy(dst) with
    map-side partial sums.  Iteration count is a fixed constant (the
    classic 3–5 sweep captures the centrality signal used for
    sampling weights), so total cost is O(iters) shuffles of
    nodes-sized frames, never of raw pages.  Hub skew (every page
    linking to a few mega-hosts) lands in the groupBy's partial
    aggregation, not in a reducer hot key: contributions pre-combine
    per map partition."""
    e = (edges.select(F.col("src").cast("long").alias("src"),
                      F.col("dst").cast("long").alias("dst"))
         .filter(F.col("src") != F.col("dst")))
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ed = e.join(deg, "src").localCheckpoint()
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint())
    base = (PR_SCALE * (damping_den - damping_num)) // damping_den
    ranks = nodes.withColumn("rank_micro",
                             F.lit(PR_SCALE).cast("long"))
    for _ in range(iters):
        contrib = F.expr(
            f"(rank_micro * {int(damping_num)}) div "
            f"(outdeg * {int(damping_den)})")
        inflow = (ed.join(ranks, ed["src"] == ranks["node"])
                  .select(ed["dst"].alias("dst"), contrib.alias("c"))
                  .groupBy("dst").agg(F.sum("c").alias("infl")))
        ranks = (nodes.join(inflow, nodes["node"] == inflow["dst"],
                            "left")
                 .select("node",
                         (F.lit(base)
                          + F.coalesce("infl", F.lit(0)))
                         .cast("long").alias("rank_micro")))
    return ranks


def trustrank(edges: DataFrame, seeds: DataFrame,
              iters: int = PR_ITERS, damping_num: int = 85,
              damping_den: int = 100) -> DataFrame:
    """(node, trust_micro): seed-personalized PageRank (TrustRank,
    Gyöngyi/Garcia-Molina/Pedersen VLDB'04) after ``iters`` synchronous
    rounds in EXACT integer micro-units — the spam-demotion weight a
    crawl pipeline attaches when it has a curated whitelist: teleport
    mass lands ONLY on seed nodes, so trust decays with link distance
    from the whitelist and link farms reachable only from themselves
    score 0.

    Exactness contract (pagerank's, with a seed-gated base): seeds
    start at 10^6, non-seeds at 0; each edge contributes
    ``(trust[src] * num) div (outdeg[src] * den)`` — integer division
    per edge, then integer sums; the per-round teleport term is
    ``(PR_SCALE * (den-num)) div den`` for seeds and 0 otherwise.
    Bit-identical in any engine and aggregation order.  Self-loops
    removed, parallel edges each contribute, dangling mass drops
    (pagerank's simplification).

    Scale shape: identical to pagerank — edges staged ONCE with
    out-degrees (localCheckpoint), each round is one join against the
    nodes-sized trust frame plus ONE map-side-combined groupBy(dst);
    the seed set is a whitelist (thousands of hosts against 10^9
    nodes), so the seed-flag join broadcasts.  O(iters) shuffles of
    nodes-sized frames, never of raw pages."""
    e = (edges.select(F.col("src").cast("long").alias("src"),
                      F.col("dst").cast("long").alias("dst"))
         .filter(F.col("src") != F.col("dst")))
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ed = e.join(deg, "src").localCheckpoint()
    sd = seeds.select(F.col("node").cast("long").alias("node"),
                      F.lit(True).alias("is_seed")).distinct()
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct()
             .join(F.broadcast(sd), "node", "left")
             .select("node", F.coalesce("is_seed", F.lit(False))
                     .alias("is_seed"))
             .localCheckpoint())
    base_val = (PR_SCALE * (damping_den - damping_num)) // damping_den
    base = F.when(F.col("is_seed"), F.lit(base_val)).otherwise(F.lit(0))
    ranks = nodes.select(
        "node",
        F.when(F.col("is_seed"), F.lit(PR_SCALE)).otherwise(F.lit(0))
        .cast("long").alias("trust_micro"))
    for _ in range(iters):
        contrib = F.expr(
            f"(trust_micro * {int(damping_num)}) div "
            f"(outdeg * {int(damping_den)})")
        inflow = (ed.join(ranks, ed["src"] == ranks["node"])
                  .select(ed["dst"].alias("dst"), contrib.alias("c"))
                  .groupBy("dst").agg(F.sum("c").alias("infl")))
        ranks = (nodes.join(inflow, nodes["node"] == inflow["dst"],
                            "left")
                 .select("node",
                         (base + F.coalesce("infl", F.lit(0)))
                         .cast("long").alias("trust_micro")))
    return ranks


def hits(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """(node, hub_micro, auth_micro): Kleinberg HITS after ``iters``
    synchronous rounds, in EXACT integer micro-units — the
    hub/authority split PageRank can't express (a link-farm nav page
    is a strong hub but a worthless authority; extract_links'
    boiler/semantic flags feed exactly this separation when the edge
    set is restricted to in-content links).

    Exactness contract (same spirit as pagerank's): scores live in
    integer micro-units; each half-round is an integer SUM over edges
    followed by max-normalization ``(raw * 10**6) div max(raw)`` —
    the only division is by a single global scalar, so the result is
    bit-identical in any engine and aggregation order, and the
    classic HITS float blow-up (scores growing as degree^rounds,
    overflowing long by round 3 on a hub-skewed graph) can't happen:
    after every half-round all scores are back in [0, 10^6].

    Per round: auth_raw[n] = Σ hub[src] over in-edges, normalize;
    hub_raw[n] = Σ auth[dst] over out-edges, normalize.  Self-loops
    removed, parallel edges each contribute (multigraph), nodes with
    no in-edges (out-edges) settle at authority (hub) 0.

    Scale shape: edges staged ONCE (localCheckpoint) and never
    re-shuffled; each half-round is one join against the nodes-sized
    score frame (AQE picks shuffle-hash or broadcast by size) + ONE
    groupBy with map-side partial sums, and the normalizer is a
    1-row broadcast cross-join — no collect, no window over a global
    ordering.  O(iters) shuffles of nodes-sized frames, exactly
    pagerank's budget plus the scalar agg."""
    e = (edges.select(F.col("src").cast("long").alias("src"),
                      F.col("dst").cast("long").alias("dst"))
         .filter(F.col("src") != F.col("dst"))
         .localCheckpoint())
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint())
    scores = nodes.select(
        "node",
        F.lit(PR_SCALE).cast("long").alias("hub_micro"),
        F.lit(PR_SCALE).cast("long").alias("auth_micro"))

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        # stage the raw half-round ONCE (nodes-sized, the same
        # per-round lineage cut dedup_clusters uses): it is read twice
        # here (max + join) and re-read by the next half-round and the
        # final select — without the cut the plan tree quadruples per
        # round (4^iters subtrees; measured 10x wall-clock at sf0.1)
        raw = raw.localCheckpoint()
        mx = raw.agg(F.max(col).alias("mx"))
        return (raw.crossJoin(F.broadcast(mx))
                .select("node",
                        F.expr(f"({col} * {PR_SCALE}) div mx")
                        .cast("long").alias(col)))

    for _ in range(iters):
        a_raw = (e.join(scores.select("node", "hub_micro"),
                        e["src"] == F.col("node"))
                 .groupBy(e["dst"].alias("node"))
                 .agg(F.sum("hub_micro").alias("auth_micro")))
        auth = _norm(
            nodes.join(a_raw, "node", "left")
            .select("node", F.coalesce("auth_micro", F.lit(0))
                    .alias("auth_micro")), "auth_micro")
        h_raw = (e.join(auth.withColumnRenamed("node", "dn"),
                        e["dst"] == F.col("dn"))
                 .groupBy(e["src"].alias("node"))
                 .agg(F.sum("auth_micro").alias("hub_micro")))
        hub = _norm(
            nodes.join(h_raw, "node", "left")
            .select("node", F.coalesce("hub_micro", F.lit(0))
                    .alias("hub_micro")), "hub_micro")
        # hub and auth both already carry every node (left join +
        # coalesce above), so the per-round score frame is one join
        scores = hub.join(auth, "node").select(
            "node", "hub_micro", "auth_micro")
    return scores


# ---------------------------------------------------------------------------
# heavy hitters (Misra-Gries candidates + exact recount)
# ---------------------------------------------------------------------------

HH_CAPACITY = 512


def mg_candidates(docs: DataFrame, capacity: int) -> DataFrame:
    """(token): per-partition Misra-Gries summaries of the token
    stream — AT MOST ``capacity`` rows leave each partition no matter
    how many distinct tokens it holds.  Per-batch counting is
    vectorized (pandas split/explode/value_counts at C speed); batch
    summaries merge under MG compression (add counts; if over
    capacity, subtract the (capacity+1)-st largest from all and keep
    strictly-positive remainders — Agarwal et al., "Mergeable
    Summaries", PODS'12, so the per-partition undercount bound
    n_p/(capacity+1) survives any merge order)."""

    def mg(batches):
        counts: dict = {}
        for pdf in batches:
            vc = pdf["text"].str.split(" ").explode().value_counts()
            for t, c in vc.items():
                counts[t] = counts.get(t, 0) + int(c)
            if len(counts) > capacity:
                kth = sorted(counts.values(), reverse=True)[capacity]
                counts = {t: c - kth for t, c in counts.items()
                          if c > kth}
        yield pd.DataFrame({"token": list(counts.keys())})

    spread = _spread(docs.select("doc_id", "text"))
    return spread.select("text").mapInPandas(mg, "token string")


def heavy_hitters(docs: DataFrame, capacity: int = HH_CAPACITY,
                  min_share_den: int = 100) -> DataFrame:
    """(token, freq): every token whose corpus frequency f satisfies
    ``f * min_share_den >= total_tokens`` (share >= 1/min_share_den),
    with its EXACT global count — the frequency-sketch pattern for
    vocabulary/stopword/contamination-marker mining over a token
    stream whose distinct tail is too large to shuffle.

    Two phases, candidates-then-exact-verify (the same shape as
    LSH -> exact Jaccard):

    1. Per-partition Misra-Gries summaries (Arrow kernel, vectorized
       per-batch ``value_counts`` merged under MG compression —
       Agarwal et al., "Mergeable Summaries", PODS'12): at most
       ``capacity`` candidate tokens leave each partition, REGARDLESS
       of how many distinct tokens it holds.  A plain
       groupBy(token).count() would shuffle one partial-count row per
       distinct token per partition — at 10^12 docs with 10^9 distinct
       tokens that exchange is the job; MG caps it at
       capacity x n_partitions rows total.
    2. Exact recount of candidates only: the token stream is
       semi-joined against the (tiny, bounded-by-construction)
       candidate set via broadcast, one groupBy over surviving tokens,
       then the share filter against the corpus token total
       (a 1-row crossJoin — no driver collect).

    Why the output is EXACT and partitioning-independent: the merged
    MG(k) summary of partition p undercounts any token by at most
    n_p/(k+1), so a token ABSENT from p's summary has f_p <=
    n_p/(k+1).  Summing over partitions, a token absent from every
    summary has f <= n/(capacity+1) < n/min_share_den <= any
    qualifying frequency (enforced: capacity >= min_share_den), so
    every qualifying token IS a candidate; the recount then restores
    exact counts and drops false positives.  The final frame therefore
    equals the brute-force groupBy HAVING answer row-for-row."""
    if capacity < min_share_den:
        raise ValueError(
            f"heavy_hitters needs capacity >= min_share_den for the "
            f"no-false-negative guarantee, got capacity={capacity} "
            f"< min_share_den={min_share_den}")
    cands = mg_candidates(docs, capacity).distinct().localCheckpoint()
    toks = docs.select(F.explode(TOKENS()).alias("token"))
    total = docs.agg(F.sum(F.size(TOKENS())).alias("total"))
    counted = (toks.join(F.broadcast(cands), "token")
               .groupBy("token").agg(F.count("*").alias("freq")))
    return (counted.crossJoin(F.broadcast(total))
            .filter(F.col("freq") * min_share_den >= F.col("total"))
            .select("token", "freq"))


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup: k-means clusters + within-cluster cosine)
# ---------------------------------------------------------------------------

SEM_BUCKET_CAP = 4096


def semantic_dedup(emb: DataFrame, n_centroids: int = 16,
                   threshold: float = 0.9,
                   bucket_cap: int = SEM_BUCKET_CAP) -> DataFrame:
    """(vec_id, bucket, keep): SemDeDup (Abbas et al.,
    arXiv:2303.09540) — cluster the embedding space with the IVF
    coarse quantizer (deterministic 2-round Lloyd centroids as plan
    literals), run exact pairwise cosine ONLY inside clusters, and
    mark every vector that has a >= threshold neighbor with a SMALLER
    vec_id as a semantic duplicate (keep = false).  The survivor rule
    is deterministic and non-iterative: the min-id member of each
    within-cluster duplicate neighborhood survives (a chain a<b<c with
    cos(a,b) and cos(b,c) over threshold but cos(a,c) under drops both
    b and c — the standard greedy approximation of SemDeDup's
    one-per-epsilon-ball selection, made id-ordered so both engines
    agree bit-exactly).

    Scale shape: the cluster assignment is the SAME narrow
    centroid-literal projection as ivf_assign (no join, no shuffle —
    the corpus is annotated in place and staged once); pairwise cosine
    is confined to equi-joins on the cluster key with a shuffle-hash
    hint (cluster count is small, sorting embedding rows buys
    nothing); clusters over ``bucket_cap`` are quarantined out of pair
    generation (their members all keep=true) so one degenerate
    mega-cluster can never create an m² pair explosion — the identical
    guard-and-shape as embed_near_dup_pairs, with the k-means
    partition replacing the SRP bucket."""
    chat = _ivf_centroids(emb, n_centroids)
    scores = _ivf_score_array(chat)
    side = (_spread(emb, "vec_id")
            .select("vec_id", "embedding", scores.alias("s"))
            .select("vec_id", "embedding",
                    (F.array_position(F.col("s"), F.array_max("s")) - 1)
                    .cast("int").alias("bucket"),
                    F.sqrt(_dot(F.col("embedding"),
                                F.col("embedding"))).alias("norm"))
            .localCheckpoint())
    ok = (side.groupBy("bucket").count()
          .filter(F.col("count") <= bucket_cap).select("bucket"))
    inb = side.join(F.broadcast(ok), "bucket", "left_semi")
    # r6: pairwise dot in the numpy bucket kernel (ONE shuffle of the
    # staged side instead of a two-sided self-join grinding zip_with
    # per pair); round-6 + threshold stay engine-side on the exact dot
    cand = _bucket_pair_dot_candidates(inb, threshold - 1e-5)
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    dups = (cand.withColumn("cos", cos)
            .filter(F.col("cos") >= threshold)
            .select(F.col("vec_b").alias("dup_id")).distinct())
    return (side.join(dups, side["vec_id"] == dups["dup_id"], "left")
            .select("vec_id", "bucket",
                    F.col("dup_id").isNull().alias("keep")))


# ---------------------------------------------------------------------------
# BPE pair counting (the distributed step of tokenizer training)
# ---------------------------------------------------------------------------

BPE_TOP = 20


def bpe_pair_counts(docs: DataFrame, top: int = BPE_TOP) -> DataFrame:
    """(pair, weight, rank): the counting step of one BPE merge round
    (Sennrich et al., ACL'16) — adjacent character-pair frequencies
    over the corpus, weighted by word frequency, top-``top`` ranked by
    (weight desc, pair asc).  This is the part of tokenizer training
    that must be distributed: everything after it (the merge itself)
    operates on the returned vocab-sized table.

    Scale shape: the token stream collapses to the DISTINCT-WORD
    frequency frame first (ONE shuffle with map-side combine — the
    same reason single-node BPE trainers count over word-frequency
    dicts, not raw text); the pair explode then runs over distinct
    words only (vocab-sized, orders of magnitude under the corpus);
    one more vocab-sized shuffle sums pair weights.  The final
    row_number window is a SinglePartition sort over the PAIR-COUNT
    frame — bounded by the distinct observed character bigrams of the
    vocabulary (the table a BPE trainer holds in RAM), never
    corpus-sized."""
    words = (docs.select(F.explode(TOKENS()).alias("word"))
             .groupBy("word").agg(F.count("*").alias("freq")))
    n = F.length("word")
    # sequence(1, 0) counts DOWN (the shingles_of gotcha): guard short
    # words to an empty pair array explicitly
    pair_arr = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.col("word").substr(i, F.lit(2)))
    ).otherwise(F.array().cast("array<string>"))
    pairs = (words.select("freq", F.explode(pair_arr).alias("pair"))
             .groupBy("pair").agg(F.sum("freq").alias("weight")))
    w = Window.orderBy(F.col("weight").desc(), F.col("pair"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top)
            .select("pair", "weight", "rank"))


# BPE segmentation delimiters: every symbol is wrapped \x01sym\x02 so
# a merge needle \x01l\x02\x01r\x02 can only align on whole symbols
# (never a substring of one) and adjacent matches share no characters
# (left-to-right non-overlapping replace == greedy BPE application).
_BPE_O, _BPE_C = "\x01", "\x02"
# admissible training words: printable ASCII (excludes the delimiters
# and pins byte-lexicographic tie-breaks to be engine-identical)
_BPE_WORD_RE = "^[!-~]+$"


def bpe_train(docs: DataFrame, n_merges: int = 8,
              min_freq: int = 1) -> DataFrame:
    """(rank, lhs, rhs, n): the full BPE training loop (Sennrich et
    al., ACL'16) — ``n_merges`` rounds of count-adjacent-pairs /
    merge-the-argmax, producing the ordered merge table a tokenizer
    replays at encode time.  bpe_pair_counts is ONE round's counting
    step; this iterates it with the re-segmentation in between —
    tokenizer training as a first-class corpus operator.

    Determinism contract: the argmax is totalized by (count desc, lhs
    asc, rhs asc) over printable-ASCII words (byte order identical in
    every engine), counts are integer sums, and re-segmentation is
    left-to-right non-overlapping string replace — so the merge
    sequence is bit-identical in any engine and any partitioning
    ('a a a a' merges to 'aa aa', 'a a a' to 'aa a', exactly like the
    reference greedy loop).

    Scale shape: the corpus collapses to the DISTINCT-WORD frequency
    frame once (the only corpus-sized shuffle — the same reason
    single-node trainers count over word dicts, not raw text); every
    round then runs over that vocab-sized frame: one pair-explode +
    groupBy, an orderBy(...).limit(1) that Catalyst executes as
    TakeOrderedAndProject (top-1 per partition map-side, never a
    global sort), and ONE collected row — the winning pair is a plan
    literal for the next round's replace, the same catalog-artifact
    contract as the IVF centroids.  The frame is localCheckpointed
    per round (dedup_clusters' lineage-cut budget: O(n_merges)
    vocab-sized materializations).  Words under ``min_freq`` are
    pruned up front (the standard trainer knob that bounds the vocab
    frame on a 10^12-doc corpus)."""
    spark = docs.sparkSession
    vocab = (docs.select(F.explode(TOKENS()).alias("w"))
             .filter(F.col("w").rlike(_BPE_WORD_RE))
             .groupBy("w").agg(F.count("*").alias("freq"))
             .filter(F.col("freq") >= min_freq))
    seg0 = F.regexp_replace("w", "(.)", _BPE_O + "$1" + _BPE_C)
    frame = (vocab.select(seg0.alias("seg"), "freq")
             .localCheckpoint())
    sym_pat = F.lit(_BPE_O + "([^" + _BPE_C + "]+)" + _BPE_C)
    merges: list = []
    for rank in range(n_merges):
        syms = F.regexp_extract_all("seg", sym_pat, F.lit(1))
        pairs = (frame
                 .select("freq", syms.alias("syms"))
                 .filter(F.size("syms") >= 2)
                 .select("freq", F.explode(F.expr(
                     "transform(sequence(0, size(syms) - 2), "
                     "i -> struct(get(syms, i) AS lhs, "
                     "get(syms, i + 1) AS rhs))")).alias("p"))
                 .groupBy("p.lhs", "p.rhs")
                 .agg(F.sum("freq").alias("n")))
        best = (pairs.orderBy(F.col("n").desc(), "lhs", "rhs")
                .limit(1).collect())
        if not best:
            break
        lhs, rhs, n = best[0]["lhs"], best[0]["rhs"], best[0]["n"]
        merges.append((rank, lhs, rhs, int(n)))
        needle = _BPE_O + lhs + _BPE_C + _BPE_O + rhs + _BPE_C
        repl = _BPE_O + lhs + rhs + _BPE_C
        frame = frame.select(
            F.replace("seg", F.lit(needle), F.lit(repl)).alias("seg"),
            "freq")
        # r6: a per-round materialization cost one extra vocab-sized
        # job per merge (~0.7 s over 8 rounds at the 10x probe); a
        # replace CHAIN over the checkpointed base is narrow and
        # vocab-sized, so the lineage cut now lands every 8th round —
        # same O(n_merges) bound, an 8x smaller constant
        if (rank + 1) % 8 == 0:
            frame = frame.localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, n long")


def _wordpiece_candidates(segged: DataFrame) -> DataFrame:
    """One WordPiece round's scored pair frame over a (freq, syms)
    segmentation: symbol-unit counts (vocab-sized agg, result is
    alphabet+merges-sized so it ALWAYS broadcasts onto the pair
    counts) and the quantized likelihood q = (n * 10^9) div
    (n_lhs * n_rhs) in pure BIGINT.  Split out of wordpiece_train so
    the round's plan shape is testable in isolation.

    The units result feeds BOTH broadcast sides; without a
    materialization Spark recomputes the vocab-sized agg once per
    side, so the tiny (alphabet+merges rows) result is
    localCheckpointed — one agg per round."""
    units = (segged.select("freq", F.explode("syms").alias("s"))
             .groupBy("s").agg(F.sum("freq").alias("ns"))
             .localCheckpoint())
    pairs = (segged
             .filter(F.size("syms") >= 2)
             .select("freq", F.explode(F.expr(
                 "transform(sequence(0, size(syms) - 2), "
                 "i -> struct(get(syms, i) AS lhs, "
                 "get(syms, i + 1) AS rhs))")).alias("p"))
             .groupBy("p.lhs", "p.rhs")
             .agg(F.sum("freq").alias("n")))
    ul = F.broadcast(units.select(F.col("s").alias("lhs"),
                                  F.col("ns").alias("nl")))
    ur = F.broadcast(units.select(F.col("s").alias("rhs"),
                                  F.col("ns").alias("nr")))
    return (pairs.join(ul, "lhs").join(ur, "rhs")
            .withColumn("den", F.col("nl") * F.col("nr"))
            .withColumn("q", F.expr("(n * 1000000000L) div den")))


def wordpiece_train(docs: DataFrame, n_merges: int = 8,
                    min_freq: int = 1) -> DataFrame:
    """(rank, lhs, rhs, n, q): WordPiece tokenizer training (Schuster
    & Nakajima, ICASSP'12; the BERT vocabulary algorithm) — like BPE
    it iterates count-pairs / merge-argmax / re-segment, but the
    argmax maximizes the LIKELIHOOD score n(lhs,rhs) / (n(lhs) *
    n(rhs)) instead of the raw pair count, preferring pairs whose
    parts rarely occur apart.  Together with bpe_train this covers
    both dominant subword-vocab trainers; the merge table replays
    through the same encode kernel (bpe_segment / the trained
    chunker) since only the TRAINING-time selection rule differs.

    Determinism contract (the repo's integer micro-unit convention):
    the score is quantized to q = (n * 10^9) div (n_lhs * n_rhs) in
    pure BIGINT arithmetic — bit-identical in any engine — and the
    argmax is totalized by (q desc, n desc, n_lhs*n_rhs asc, lhs asc,
    rhs asc), so sub-quantum likelihood ties resolve identically
    everywhere.  At gate scale every product fits BIGINT; a 10^12-doc
    run widens the same expressions to decimal(38,0), like the other
    micro-unit operators.

    Scale shape: identical to bpe_train — ONE corpus-sized shuffle to
    the distinct-word frequency frame, then vocab-sized rounds.  The
    extra WordPiece work per round is a symbol-unit count (one
    vocab-sized agg whose result is alphabet+merges-sized, always
    broadcast) joined onto the pair counts before the
    TakeOrderedAndProject argmax."""
    spark = docs.sparkSession
    vocab = (docs.select(F.explode(TOKENS()).alias("w"))
             .filter(F.col("w").rlike(_BPE_WORD_RE))
             .groupBy("w").agg(F.count("*").alias("freq"))
             .filter(F.col("freq") >= min_freq))
    seg0 = F.regexp_replace("w", "(.)", _BPE_O + "$1" + _BPE_C)
    frame = (vocab.select(seg0.alias("seg"), "freq")
             .localCheckpoint())
    sym_pat = F.lit(_BPE_O + "([^" + _BPE_C + "]+)" + _BPE_C)
    merges: list = []
    for rank in range(n_merges):
        syms = F.regexp_extract_all("seg", sym_pat, F.lit(1))
        # r6: segged is a narrow regex over the (checkpointed-base)
        # frame — cheap to recompute for its two consumers, so the
        # per-round materialization job it cost is gone; the units
        # count inside _wordpiece_candidates stays materialized (it
        # feeds BOTH broadcast sides)
        segged = frame.select("freq", syms.alias("syms"))
        best = (_wordpiece_candidates(segged)
                .orderBy(F.col("q").desc(), F.col("n").desc(),
                         "den", "lhs", "rhs")
                .limit(1).collect())
        if not best:
            break
        lhs, rhs = best[0]["lhs"], best[0]["rhs"]
        merges.append((rank, lhs, rhs, int(best[0]["n"]),
                       int(best[0]["q"])))
        needle = _BPE_O + lhs + _BPE_C + _BPE_O + rhs + _BPE_C
        repl = _BPE_O + lhs + rhs + _BPE_C
        frame = frame.select(
            F.replace("seg", F.lit(needle), F.lit(repl)).alias("seg"),
            "freq")
        # r6: lineage cut every 8th round, as in bpe_train
        if (rank + 1) % 8 == 0:
            frame = frame.localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, n long, q long")


def bpe_segment(docs: DataFrame, merges: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_tokens): apply a trained BPE merge table
    (bpe_train's output) to the corpus — the encode side of tokenizer
    training, and the REAL subword counter behind token-budget
    decisions (pack_sequences' seq_len, chunker max_tokens, per-source
    token accounting) once a vocabulary exists.  Inadmissible words
    (outside the trainer's printable-ASCII universe) count as one
    unknown token each.

    Replay semantics are the trainer's exactly: merges applied in rank
    order, each pass merging adjacent (lhs, rhs) left-to-right
    non-overlapping — so encode(train_corpus) reproduces the trainer's
    final segmentation word-for-word (pinned by test).

    Scale shape: merges is an n_merges-row catalog artifact, collected
    once and shipped inside one narrow Arrow kernel (mapInArrow, zero
    shuffle — the extraction kernel pattern); per batch the replay
    runs once per DISTINCT word (pandas unique) and fans back out, so
    the per-batch cost tracks vocabulary, not length.

    The per-word replay is chunk.make_trained_counter — ONE
    implementation shared with the tokenizer-parameterized
    HybridChunker (tokenizer="trained"), so encode counts and the
    chunker's token measure can never drift apart."""
    import pyarrow as pa_

    from .chunk import make_trained_counter
    enc = make_trained_counter(tuple(
        (r["lhs"], r["rhs"]) for r in merges.orderBy("rank").collect()))

    def kern(batches):
        for b in batches:
            ids = b.column("doc_id")
            texts = b.column("text").to_pylist()
            nw, nt = [], []
            cache: dict = {}
            for t in texts:
                # SQL split convention: '' -> [''] (one empty word,
                # counted as one unknown token); only NULL -> no words
                words = [] if t is None else t.split(" ")
                total = 0
                for w in words:
                    c = cache.get(w)
                    if c is None:
                        c = cache[w] = enc(w)
                    total += c
                nw.append(len(words))
                nt.append(total)
            yield pa_.RecordBatch.from_arrays(
                [ids, pa_.array(nw, pa_.int64()),
                 pa_.array(nt, pa_.int64())],
                ["doc_id", "n_words", "n_tokens"])

    return (docs.select("doc_id", "text")
            .mapInArrow(kern, "doc_id long, n_words long, n_tokens long"))


# ---------------------------------------------------------------------------
# DSIR importance weights (data selection via importance resampling)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096
DSIR_K = 0.5


def dsir_weights(docs: DataFrame, is_target,
                 buckets: int = DSIR_BUCKETS,
                 k: float = DSIR_K) -> DataFrame:
    """(doc_id, n_feat, mean_lw, target_like): DSIR importance scores
    (Xie et al., NeurIPS'23 — "Data Selection for Language Models via
    Importance Resampling"): per-document mean log importance
    log p_target(f) - log p_raw(f) under hashed-n-gram bag models
    (word unigrams + bigrams hashed into ``buckets`` features, add-k
    smoothing on both distributions).  ``is_target`` is a boolean
    Column marking the target-domain rows; selection downstream is a
    deterministic threshold on mean_lw (scale-safe), not a global
    rank.

    Cross-engine determinism (the lm_perplexity contract): each
    bucket's two NLLs are independently fixed to integer micro-nats
    (round(-ln(p) * 1e6) — the exact expression shape already proven
    portable), their difference is an exact integer, per-doc sums are
    order-independent integer sums, and the mean uses the
    floor((2s+n)/(2n)) half-up idiom (sign-safe: floor rounds half
    toward +inf in both engines).

    Scale shape: the term stream collapses to (doc_id, bucket, tf) in
    ONE map-side-combined shuffle and is staged (three consumers: raw
    counts, target counts, scoring).  Because features are HASHED into
    a fixed universe, the distribution table is bounded at ``buckets``
    rows — it always broadcasts (unlike lm_perplexity's open
    vocabulary, which must shuffle-hash).  The per-doc score is one
    more 3-column shuffle; raw text never enters an exchange."""
    # r6: the unigram+bigram explode (one md5-hashed row per
    # occurrence) and the tf-frame checkpoint + scoring join became
    # two Arrow kernels around the ENGINE-side log/round training
    # math — the nb_langid pattern.  Tokenization/bucketing replicate
    # the expression form exactly (split keeps empty tokens, bigrams
    # are space-joined, md5 over "dsir:"+f, null text yields no
    # rows), all kernel arithmetic is integer, and the trained
    # lr_micro table (``buckets`` integer rows, engine-computed) is
    # collected catalog-style into the scorer.
    base = _spread(docs.select("doc_id", "text",
                               is_target.alias("is_t")))

    def feat_counts(text, bucket_of):
        if text is None or text != text:
            return None                      # split(NULL) -> no rows
        toks = text.split(" ")
        tf: dict = {}
        for f in toks:
            b = bucket_of(f)
            tf[b] = tf.get(b, 0) + 1
        for i in range(len(toks) - 1):
            b = bucket_of(toks[i] + " " + toks[i + 1])
            tf[b] = tf.get(b, 0) + 1
        return tf

    def bucket_fn():
        import hashlib
        memo: dict = {}

        def bucket_of(f):
            b = memo.get(f)
            if b is None:
                if len(memo) > (1 << 20):    # bound worker memory
                    memo.clear()
                b = memo[f] = int(hashlib.md5(
                    ("dsir:" + f).encode("utf-8")).hexdigest()[:8],
                    16) % buckets
            return b
        return bucket_of

    def count_kern(batches):
        bucket_of = bucket_fn()
        acc: dict = {}
        for pdf in batches:
            for is_t, text in zip(pdf["is_t"], pdf["text"]):
                if is_t is not None and is_t != is_t:
                    is_t = None
                tf = feat_counts(text, bucket_of)
                if tf is None:
                    continue
                d = acc.setdefault(None if is_t is None else bool(is_t),
                                   {})
                for b, c in tf.items():
                    d[b] = d.get(b, 0) + c
        rows = {"is_t": [], "b": [], "c": []}
        for is_t, d in acc.items():
            for b, c in d.items():
                rows["is_t"].append(is_t)
                rows["b"].append(b)
                rows["c"].append(c)
        yield pd.DataFrame(rows, columns=["is_t", "b", "c"])

    cnt = (base.select("is_t", "text")
           .mapInPandas(count_kern, "is_t boolean, b long, c long"))
    raw = cnt.groupBy("b").agg(F.sum("c").alias("cr"))
    tgt = cnt.filter("is_t").groupBy("b").agg(F.sum("c").alias("ct"))
    dist = (raw.join(tgt, "b", "left")
            .select("b", "cr", F.coalesce("ct", F.lit(0)).alias("ct")))
    totals = dist.agg(F.sum("cr").alias("rt"), F.sum("ct").alias("tt"))
    kb = k * buckets
    nll = lambda c, t: F.round(  # noqa: E731 — the lm micro-nat shape
        -F.log((c + F.lit(k)) / (t + F.lit(kb))) * 1e6, 0).cast("long")
    lr = (dist.crossJoin(F.broadcast(totals))
          .select("b", (nll(F.col("cr"), F.col("rt"))
                        - nll(F.col("ct"), F.col("tt")))
                  .alias("lr_micro")))
    import numpy as np
    lrv = np.zeros(buckets, dtype=np.int64)
    for r in lr.collect():                   # engine-exact integers
        lrv[r["b"]] = r["lr_micro"]

    def score_kern(batches):
        bucket_of = bucket_fn()
        for pdf in batches:
            ids, ns, ss = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                tf = feat_counts(text, bucket_of)
                if tf is None:
                    continue
                bi = np.fromiter(tf.keys(), dtype=np.int64,
                                 count=len(tf))
                tv = np.fromiter(tf.values(), dtype=np.int64,
                                 count=len(tf))
                ids.append(did)
                ns.append(int(tv.sum()))
                ss.append(int(lrv[bi] @ tv))
            yield pd.DataFrame({"doc_id": ids, "n_feat": ns, "s": ss},
                               columns=["doc_id", "n_feat", "s"])

    # groupBy restores the old merge of duplicate doc_id rows (the tf
    # frame keyed on doc_id before scoring); sums combine linearly
    scored = (base.select("doc_id", "text")
              .mapInPandas(score_kern, "doc_id long, n_feat long, s long")
              .groupBy("doc_id")
              .agg(F.sum("n_feat").alias("n_feat"),
                   F.sum("s").alias("s")))
    m = F.floor((2 * F.col("s") + F.col("n_feat"))
                / (2 * F.col("n_feat")))
    return scored.select(
        "doc_id", F.col("n_feat").cast("int").alias("n_feat"),
        (m.cast("double") / F.lit(1e6)).alias("mean_lw"),
        (F.col("s") > 0).alias("target_like"))


# ---------------------------------------------------------------------------
# crawl-frontier URL filtering (robots/blocklist politeness pass)
# ---------------------------------------------------------------------------

def _host_suffixes(host):
    """array<string> of the dot-suffixes of a host ('a.b.com' ->
    ['a.b.com', 'b.com', 'com']) — the equi-join key trick that turns
    'host matches rule-domain or any subdomain of it' into a JOIN ON
    suffix = rule_host instead of an unjoinable endswith theta-join.
    Bounded: a hostname has <= ~10 labels, so the explode is O(1) per
    url."""
    parts = F.split(host, "\\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n), "."))


def frontier_filter(pages: DataFrame, rules: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, url, blocked): crawl-frontier politeness filtering —
    a url is blocked iff some rule (rule_host, path_prefix) matches:
    its host equals the rule host OR is a subdomain of it, AND its
    path starts with the rule's prefix ('' blocks the whole domain).
    This is the robots/blocklist pass every crawl pipeline runs before
    fetch AND before training-data admission (licensed/opted-out
    domains).

    Scale shape: the rule table is small by nature (registry-of-domains
    sized) and BROADCASTS; the url side explodes into its bounded
    host-suffix set (<= label-count rows per url, a narrow generate —
    never a payload) so domain-suffix matching becomes a broadcast
    EQUI-join on the suffix, with the path-prefix test as the join
    residual.  One aggregation back to url granularity.  No shuffle of
    the corpus beyond the group-back; no theta-join, no regex over
    rules."""
    host = F.lower(F.regexp_extract(
        F.regexp_replace(F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://",
                         ""), "^([^/:?]*)", 1))
    path = F.regexp_extract(
        F.regexp_replace(F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://",
                         ""), "^[^/?]*(/[^?]*)?", 1)
    pathc = F.when(path == "", F.lit("/")).otherwise(path)
    base = pages.select(F.col(id_col).alias("doc_id"), "url",
                        host.alias("host"), pathc.alias("path"))
    sufs = base.select("doc_id", "url", "path",
                       F.explode(_host_suffixes(F.col("host")))
                       .alias("suf"))
    r = rules.select(F.col("rule_host").alias("suf"),
                     F.col("path_prefix"))
    hits = (sufs.join(F.broadcast(r), "suf")
            .filter(F.col("path").startswith(F.col("path_prefix")))
            .select("doc_id").distinct()
            .withColumn("hit", F.lit(True)))
    return (base.join(hits, "doc_id", "left")
            .select("doc_id", "url",
                    F.coalesce("hit", F.lit(False)).alias("blocked")))


def frontier_schedule(cands: DataFrame, host_rank: DataFrame,
                      url_change: DataFrame,
                      max_per_host: int = 0) -> DataFrame:
    """(url, host, priority_micro, slot): the fetch-queue assembly that
    closes the crawl-planning loop — candidates that survived the
    admission passes (robots_filter/frontier_filter), weighted by host
    quality (pagerank/hits) and observed change rate (cdx_revisit),
    ordered into per-host politeness queues.  ``slot`` is the url's
    position in its host's queue (a crawler fetching one url per host
    per politeness interval walks slot 1, 2, ...); ``max_per_host``
    > 0 caps each queue (per-crawl host budget), 0 keeps everything.

    priority_micro = rank_micro * (1 + change_bp) exactly (integer:
    a 10^6-micro rank times <= 10^4+1 bp stays far under long) —
    high-value fast-changing pages fetch first; unranked hosts and
    never-seen urls coalesce to rank 0 / change 0 so NEW discoveries
    still schedule (at base priority) rather than vanish.  Ties break
    by url for a total, engine-portable order.

    Scale shape: host_rank is hosts-sized and BROADCASTS; url_change
    equi-joins on url (both sides url-keyed, shuffle-hash — the
    revisit table is capture-keyspace-sized, never corpus-payload
    sized); then ONE window partitioned by host — the politeness queue
    IS the parallelism unit, so no global sort ever happens, and a
    mega-host's queue is one partition of urls-on-that-host, bounded
    by per-host crawl budgets in practice (and by ``max_per_host``
    here)."""
    ranked = (cands.select("url", "host")
              .join(F.broadcast(host_rank.select(
                  F.col("host"), F.col("rank_micro"))), "host", "left")
              .join(url_change.select("url", "change_bp"), "url",
                    "left"))
    prio = (F.coalesce(F.col("rank_micro"), F.lit(0))
            * (F.lit(1) + F.coalesce(F.col("change_bp"), F.lit(0))))
    w = (Window.partitionBy("host")
         .orderBy(F.col("priority_micro").desc(), F.col("url")))
    out = (ranked
           .select("url", "host",
                   prio.cast("long").alias("priority_micro"))
           .withColumn("slot", F.row_number().over(w)))
    if max_per_host > 0:
        out = out.filter(F.col("slot") <= max_per_host)
    return out


# ---------------------------------------------------------------------------
# mergeable cardinality + membership sketches (HLL, Bloom)
# ---------------------------------------------------------------------------

HLL_P_BITS = 8          # 256 registers: stderr ~1.04/16 = 6.5%


def hll_registers(docs: DataFrame, p_bits: int = HLL_P_BITS,
                  salt: str = "hll1") -> DataFrame:
    """(source, idx, m_j): the HLL register table — the sketch
    ARTIFACT.  Bounded at sources x 2^p_bits rows however large the
    corpus, and mergeable under max(m_j) by (source, idx): registers
    built per snapshot / per stream epoch union-and-max into the
    registers of the combined corpus (pinned by test), so cardinality
    tracking composes incrementally like the Bloom bitmap and the MG
    summaries.  rho = 57 - bit_length(56-bit hash suffix) via
    length(bin(w)) — pure string/integer ops, identical in Spark and
    DuckDB."""
    tok = _spread(docs, min_bytes=2 << 20).select(
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        F.explode(F.split(F.col("text"), " ")).alias("token"))
    idx, rho = hll_idx_rho(F.col("token"), p_bits, salt)
    return (tok.select("source", idx.alias("idx"), rho.alias("rho"))
            .groupBy("source", "idx").agg(F.max("rho").alias("m_j")))


def hll_idx_rho(token_col, p_bits: int = HLL_P_BITS,
                salt: str = "hll1"):
    """The ONE definition of the HLL hash recipe — register index
    (first md5 byte) and rho (57 - bit_length of the 56-bit suffix) —
    shared by the batch register build and the streaming state
    operator, so the advertised bit-for-bit stream==batch contract
    cannot drift (round-4 review)."""
    if 256 % (1 << p_bits) or p_bits > 8:
        raise ValueError("p_bits must keep the register index inside "
                         "the first hash byte (<= 8, power of 2)")
    m = 1 << p_bits
    hx = F.md5(F.concat_ws(":", F.lit(salt), token_col))
    idx = (F.conv(F.substring(hx, 1, 2), 16, 10).cast("int") % m)
    w = F.conv(F.substring(hx, 3, 14), 16, 10).cast("long")
    rho = F.when(w == F.lit(0), F.lit(57)).otherwise(
        F.lit(57) - F.length(F.bin(w))).cast("int")
    return idx, rho


def hll_distinct(docs: DataFrame, p_bits: int = HLL_P_BITS,
                 salt: str = "hll1") -> DataFrame:
    """(source, registers_set, est_distinct, small_range,
    exact_distinct, rel_err_bp): HyperLogLog per-source distinct-token
    cardinality (Flajolet et al. 2007) — the third mergeable-summary
    primitive next to Misra-Gries (heavy_hitters) and the Bloom filter
    (bloom_build): COUNT(DISTINCT token) over a 10^12-doc corpus
    shuffles one row per distinct (source, token) pair per partition,
    while the HLL register table is bounded at sources x 2^p_bits rows
    leaving ANY partition after map-side partial max — the exchange no
    longer scales with the vocabulary.  Registers merge under max, so
    the same frame composes across snapshots/streams (mergeable
    summaries, Agarwal et al. PODS'12).

    Engine-exactness contract (the repo-wide integer discipline):
    register index = first hex byte of md5, rho = 57 - bit_length of
    the next 56 hash bits via length(bin(w)) — pure string/integer ops
    identical in Spark and DuckDB; the harmonic denominator is an
    EXACT integer sum(2^(60-M_j)) in decimal(38,0) (never a float
    sum, whose rounding is order-dependent), and only the final
    alpha*m^2*2^60 / denom division runs in IEEE doubles — both
    engines parse the same 17-digit literal and divide the same two
    doubles, so floor() agrees bitwise.

    ``small_range`` flags estimates in HLL's documented bias regime
    (raw <= 2.5m with empty registers); the linear-counting correction
    needs ln() whose last-ulp behavior is libm-specific, so the raw
    estimate is returned unconditionally and the flag tells the
    consumer to apply m*ln(m/V) themselves.  ``exact_distinct`` /
    ``rel_err_bp`` (basis points, integer floor-div) evidence the
    sketch against ground truth at gate scale; production drops them
    (the exact side IS the shuffle the sketch avoids).
    """
    tok = _spread(docs, min_bytes=2 << 20).select(
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        F.explode(F.split(F.col("text"), " ")).alias("token"))
    regs = hll_registers(docs, p_bits, salt)
    exact = (tok.groupBy("source")
             .agg(F.countDistinct("token").alias("exact_distinct")))
    est = hll_estimate(regs, group_col="source", p_bits=p_bits)
    return (est.join(exact, "source")
            .select(
                "source", "registers_set", "est_distinct", "small_range",
                "exact_distinct",
                F.expr("abs(est_distinct - exact_distinct) * 10000 "
                       "div exact_distinct").alias("rel_err_bp")))


def hll_estimate(regs: DataFrame, group_col: str = "source",
                 p_bits: int = HLL_P_BITS) -> DataFrame:
    """(group, registers_set, est_distinct, small_range) from a
    register table (group, idx, m_j) — shared by the batch operator
    and the streaming register sink, so stream == batch is exact by
    construction.  See hll_distinct for the integer-exactness
    contract (decimal(38,0) harmonic sum, one final IEEE division)."""
    m = 1 << p_bits
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = alpha * m * m * float(1 << 60)    # exact-double numerator
    per = regs.groupBy(group_col).agg(
        F.count("*").cast("int").alias("registers_set"),
        F.sum(F.expr("cast(shiftleft(1L, 60 - m_j) as decimal(38,0))"))
        .alias("d_set"))
    two60 = F.lit(1 << 60).cast("decimal(38,0)")
    denom = (F.col("d_set")
             + (F.lit(m) - F.col("registers_set")).cast("decimal(38,0)")
             * two60).cast("double")
    est = F.floor(F.lit(num) / denom).cast("long")
    return per.select(
        group_col, "registers_set", est.alias("est_distinct"),
        ((est <= F.lit(float(2.5 * m)))
         & (F.col("registers_set") < m)).alias("small_range"))


BLOOM_M_BITS = 1 << 14
BLOOM_K = 3


def bloom_position(url_col, i: int, m_bits: int = BLOOM_M_BITS,
                   salt: str = "bl1"):
    """The ONE definition of Bloom bit position i for a url — shared
    by the batch build, the zero-shuffle probe, and the streaming
    state operator, so the bitmaps stay bit-identical across surfaces
    (the same single-recipe rule as hll_idx_rho)."""
    return (F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.lit(i), url_col)),
        1, 12), 16, 10).cast("long") % m_bits)



def bloom_build(urls: DataFrame, m_bits: int = BLOOM_M_BITS,
                k: int = BLOOM_K, salt: str = "bl1") -> DataFrame:
    """(word_idx, bits): Bloom filter over ``urls.url`` packed into
    64-bit words — the crawl frontier's seen-set: membership for 10^12
    committed urls in m_bits of state instead of a url-keyed join
    against the committed table.  Each url sets k md5-derived bits;
    words aggregate under bit_or (map-side partials bound the exchange
    at m_bits/64 rows per partition, like the HLL register table) and
    two filters union by the same bit_or — a mergeable summary, so
    per-snapshot filters compose incrementally.  Deterministic hashing
    (no RNG, no JVM hashCode) keeps the bitmap — and therefore every
    false positive — bit-identical across engines and runs."""
    pos = [bloom_position(F.col("url"), i, m_bits, salt)
           for i in range(k)]
    # 63 bits per word, not 64: bit 63 is the sign bit, and a checked
    # engine (DuckDB) rejects 1<<63 while Java wraps it negative —
    # staying in [0, 62] keeps every mask positive and portable
    bits = urls.select(F.explode(F.array(*pos)).alias("pos"))
    # staged ONCE (the per-snapshot catalog artifact, same contract as
    # the incremental-dedup band keys): bloom_probe broadcasts the
    # bitmap k times, and without the stage each broadcast would
    # re-scan + re-aggregate the committed corpus
    return (bits
            .select((F.col("pos") / 63).cast("int").alias("word_idx"),
                    F.expr("shiftleft(1L, cast(pos % 63 as int))")
                    .alias("mask"))
            .groupBy("word_idx")
            .agg(F.expr("bit_or(mask)").alias("bits"))
            .localCheckpoint())


def bloom_probe(cands: DataFrame, bloom: DataFrame,
                m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K,
                salt: str = "bl1", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, url, maybe_seen): probe the Bloom filter with ZERO
    shuffles on the candidate batch — the bitmap is at most m_bits/64
    rows, so each of the k bit tests is a broadcast hash join and the
    AND-fold is a narrow projection (no explode + re-group on url).  A
    word absent from the bitmap has no set bits: coalesce(bits, 0).
    maybe_seen=false is EXACT (no false negatives); true is
    probabilistic with the standard (1-e^(-kn/m))^k rate."""
    out = cands.select(id_col, "url")
    hits = []
    for i in range(k):
        pos = bloom_position(F.col("url"), i, m_bits, salt)
        b = bloom.select(F.col("word_idx").alias(f"_w{i}"),
                         F.col("bits").alias(f"_b{i}"))
        out = (out.withColumn(f"_p{i}", pos)
               .withColumn(f"_w{i}", (F.col(f"_p{i}") / 63).cast("int"))
               .join(F.broadcast(b), f"_w{i}", "left"))
        hits.append(
            F.coalesce(F.col(f"_b{i}"), F.lit(0)).bitwiseAND(
                F.expr(f"shiftleft(1L, cast(_p{i} % 63 as int))")) != 0)
    seen = hits[0]
    for h in hits[1:]:
        seen = seen & h
    return out.select(id_col, "url", seen.alias("maybe_seen"))


# ---------------------------------------------------------------------------
# robots.txt (RFC 9309) parsing + admission
# ---------------------------------------------------------------------------

ROBOTS_AGENT = "webextract"


def _sitemap_blocks(sitemaps: DataFrame, tag: str) -> DataFrame:
    """(host, b): one row per <tag>...</tag> entry block — the shared
    block-first extraction of both sitemap document kinds (urlset's
    <url> entries, sitemapindex's <sitemap> entries), which never
    pairs fields across entries."""
    blocks = F.expr(
        rf"regexp_extract_all(sitemap_xml, '(?s)<{tag}>(.*?)</{tag}>',"
        " 1)")
    return sitemaps.select("host", F.explode(blocks).alias("b"))


def _sitemap_loc_lastmod():
    """(loc, lastmod) column pair over a block column `b`: <loc> with
    the 5 XML builtin entities decoded amp-LAST (so &amp;lt; decodes
    to the literal '&lt;', not '<'), <lastmod> as served."""
    loc = F.regexp_extract(
        F.col("b"), r"(?s)<loc>\s*(.*?)\s*</loc>", 1)
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):
        loc = F.replace(loc, F.lit(ent), F.lit(ch))
    lastmod = F.regexp_extract(
        F.col("b"), r"(?s)<lastmod>\s*(.*?)\s*</lastmod>", 1)
    return loc, lastmod


def parse_sitemap_index(sitemaps: DataFrame) -> DataFrame:
    """(host, sitemap_url, lastmod): <sitemapindex> parsing — the
    recursion step of the sitemaps protocol (sitemaps.org: a site
    over 50k urls/50 MB MUST shard into child sitemaps listed by an
    index document).  Closes the discovery chain end-to-end:
    robots_sitemaps finds the index urls, this expands each index
    into its child sitemap urls, parse_sitemaps reads the leaves.

    Same contract as parse_sitemaps: block-first extraction over
    <sitemap> entries, entity-decoded <loc>, lastmod as served (NULL
    when absent), pure narrow + one explode, zero shuffle, no XML
    library on the hot path."""
    b = _sitemap_blocks(sitemaps, "sitemap")
    loc, lastmod = _sitemap_loc_lastmod()
    return (b.select(
        "host", loc.alias("sitemap_url"),
        F.when(lastmod == "", None).otherwise(lastmod).alias("lastmod"))
        .filter(F.col("sitemap_url") != ""))


def parse_sitemaps(sitemaps: DataFrame) -> DataFrame:
    """(host, url, lastmod, priority_micro): sitemap.xml parsing — the
    crawl-discovery half of the planning surface (robots_rules says
    what MAY be fetched; sitemaps say what EXISTS).  Input: (host,
    sitemap_xml) bodies as fetched; output: one row per <url> entry
    with its <loc>, optional <lastmod> (string, as served) and
    <priority> scaled to integer micros (0.8 -> 800000; -1 when
    absent) so downstream ordering is engine-exact without float
    compares.

    All built-ins: regexp_extract_all over <url>...</url> blocks (the
    sitemap schema nests loc/lastmod/priority inside url elements, so
    block-first extraction never pairs fields across entries), then
    per-block field extraction — a pure narrow projection + one
    explode, zero shuffle, no XML library on the hot path (the formats
    kernel's full XML parsers are for document CONTENT; a sitemap is a
    flat well-known schema where anchored regex is the portable
    choice).  Entity-decoding is limited to the 5 XML builtins, the
    only escapes the sitemap spec allows in <loc>."""
    b = _sitemap_blocks(sitemaps, "url")
    loc, lastmod = _sitemap_loc_lastmod()
    prio = F.regexp_extract(
        F.col("b"), r"(?s)<priority>\s*(.*?)\s*</priority>", 1)
    # try_cast, not cast: sitemaps are UNTRUSTED third-party XML and
    # under default ANSI mode one malformed <priority> value would
    # abort the whole scan — unparseable maps to -1 like absent.
    # Gated on a plain-decimal admission regex (same portability
    # argument as _ascii_int: bare try_cast admits "1e3"/"NaN"/
    # control-char-padded values engines disagree on; the sitemap
    # spec's priority is a plain 0.0-1.0 decimal)
    prio_num = F.when(
        prio.rlike(r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$"),
        prio.try_cast("double"))
    prio_micro = F.round(prio_num * 1000000)
    return (b.select(
        "host", loc.alias("url"),
        F.when(lastmod == "", None).otherwise(lastmod).alias("lastmod"),
        F.coalesce(F.when(prio == "", F.lit(-1)).otherwise(prio_micro),
                   F.lit(-1))
        .cast("long").alias("priority_micro"))
        .filter(F.col("url") != ""))


def _xml_unescape(col: Column) -> Column:
    """The 5 XML builtin entities decoded amp-LAST (so &amp;lt;
    decodes to the literal '&lt;', not '<') — the _sitemap_loc_lastmod
    rule, shared with feed parsing."""
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def parse_feeds(feeds: DataFrame) -> DataFrame:
    """(host, kind, url, title, published): RSS 2.0 + Atom feed
    parsing — the PUSH half of crawl discovery (sitemaps enumerate a
    site's full url inventory; feeds announce what changed NOW, so a
    recrawl planner polls them between sitemap sweeps).  Input:
    (host, feed_xml) bodies as fetched; output one row per
    <item>/<entry> with its resolved link, title, and the served
    timestamp string (<pubDate> / <updated>; NULL when absent —
    timestamps stay strings because feed date formats are a
    compatibility swamp the scheduler's try-parse owns).

    Dialect rules: documents containing '<rss' parse as RSS 2.0
    (entry link = <link> element text), anything else as Atom (entry
    link = the href of the first <link> tag NOT marked rel="self" —
    feeds list their own address first, and a planner must not
    enqueue the feed as if it were an article).  Entries with no
    usable link drop; url and title decode the 5 XML builtin
    entities amp-last (the sitemap <loc> rule).

    All built-ins end-to-end: block-first regexp_extract_all (fields
    never pair across entries), an array filter + null-safe get for
    the Atom link rule, narrow projections, one generator, zero
    shuffle — the parse_sitemaps scale shape exactly."""
    kind = (F.when(F.col("feed_xml").contains("<rss"), F.lit("rss"))
            .otherwise(F.lit("atom")))
    items = F.expr(
        "regexp_extract_all(feed_xml, '(?s)<item>(.*?)</item>', 1)")
    entries = F.expr(
        "regexp_extract_all(feed_xml, '(?s)<entry>(.*?)</entry>', 1)")
    b = feeds.select(
        "host", kind.alias("kind"),
        F.explode(F.when(kind == "rss", items)
                  .otherwise(entries)).alias("b"))
    title = _xml_unescape(F.regexp_extract(
        F.col("b"), r"(?s)<title>\s*(.*?)\s*</title>", 1))
    rss_link = _xml_unescape(F.regexp_extract(
        F.col("b"), r"(?s)<link>\s*(.*?)\s*</link>", 1))
    links = F.expr("regexp_extract_all(b, '<link[^>]*>', 0)")
    alt = F.get(F.filter(
        links, lambda x: ~x.contains('rel="self"')), 0)
    atom_link = _xml_unescape(
        F.regexp_extract(alt, r'href="([^"]*)"', 1))
    url = F.when(F.col("kind") == "rss", rss_link).otherwise(atom_link)
    pub = F.when(F.col("kind") == "rss", F.regexp_extract(
        F.col("b"), r"(?s)<pubDate>\s*(.*?)\s*</pubDate>", 1)) \
        .otherwise(F.regexp_extract(
            F.col("b"), r"(?s)<updated>\s*(.*?)\s*</updated>", 1))
    return (b.select(
        "host", "kind", url.alias("url"),
        F.when(title == "", None).otherwise(title).alias("title"),
        F.when(pub == "", None).otherwise(pub).alias("published"))
        .filter(F.col("url").isNotNull() & (F.col("url") != "")))


# admission rule for untrusted numeric text: an optionally-signed
# ASCII digit run surrounded only by ASCII whitespace.  Bare try_cast
# is NOT engine-portable on garbage — Spark trims ISO control chars
# (so "0\b" casts to 0) while Python/DuckDB reject them, and Python's
# strip() eats unicode spaces (NBSP) Java never trims; the explicit
# guard pins one semantic every engine can reproduce (hypothesis
# parity fuzz, round 4)
_ASCII_INT_RE = r"^[ \t\n\x0B\f\r]*[+-]?[0-9]+[ \t\n\x0B\f\r]*$"


def _ascii_int(col: Column, typ: str) -> Column:
    """try_cast gated on the portable admission rule; out-of-range
    values still surface as NULL via try_cast."""
    return F.when(col.rlike(_ASCII_INT_RE), col.try_cast(typ))


def parse_cdx(cdx: DataFrame) -> DataFrame:
    """(shard, surt, ts, url, status, mime, digest, length, offset,
    filename): CDXJ capture-index parsing — the fourth leg of the
    crawl-planning surface (robots: what MAY be fetched; sitemaps:
    what EXISTS; the frontier: what WILL be fetched; the CDX index:
    what WAS fetched and where the bytes live in the WARC store).
    Common Crawl publishes one such index per crawl (~300 shard files
    of `SURT timestamp {json}` lines); a refetch/dedup planner reads
    it to skip already-captured urls and to locate payloads by
    (filename, offset, length) without scanning the WARCs.

    Input: (shard, cdx_text) raw index shard bodies; output one row
    per well-formed capture line.  Lines that don't match the
    three-field CDXJ shape (blank lines, comments, truncated tails)
    are dropped — the reader contract is "every row is addressable".
    Absent optional JSON fields surface as NULL, and
    status/length/offset TRY_CAST to exact integer types — NULL, not
    a job abort, on a malformed value: under Spark's default ANSI
    mode a plain cast THROWS, and one bad status string in a
    10^11-line index must never kill the scan (found by the
    hypothesis parity fuzz).

    Scale shape: split + explode per shard then pure narrow
    projections — the shard is the parallelism unit exactly as
    upstream publishes it, and NOTHING here shuffles: a 10^11-capture
    index parses map-side and feeds cdx_latest's single exchange.
    Per-line cost is ONE anchored-regex admission test (rlike), one
    3-bounded split, and ONE JSON parse (json_tuple extracts all
    seven fields in a single pass — Catalyst does not share work
    across separate get_json_object trees, so per-field accessors
    would re-parse the blob seven times; round-4 review)."""
    lines = cdx.select(
        "shard",
        F.explode(F.split(
            F.regexp_replace("cdx_text", "\r", ""), "\n")).alias("ln"))
    # the three fields are single-space separated and the JSON blob is
    # last, so a limit-3 split recovers exactly the regex's groups on
    # any line the anchored shape test admits
    parts = F.split("ln", " ", 3)
    matched = (lines
               .filter(F.col("ln").rlike(r"^(\S+) (\d{14}) (\{.*\})\s*$"))
               .select("shard",
                       F.element_at(parts, 1).alias("surt"),
                       F.element_at(parts, 2).alias("ts"),
                       F.element_at(parts, 3).alias("j")))
    fields = ("url", "status", "mime", "digest",
              "length", "offset", "filename")
    tup = matched.select("shard", "surt", "ts",
                         F.json_tuple("j", *fields))
    c = tup.columns[3:]   # json_tuple's c0..c6, in `fields` order
    return tup.select(
        "shard", "surt", "ts",
        F.col(c[0]).alias("url"),
        _ascii_int(F.col(c[1]), "int").alias("status"),
        F.col(c[2]).alias("mime"),
        F.col(c[3]).alias("digest"),
        _ascii_int(F.col(c[4]), "long").alias("length"),
        _ascii_int(F.col(c[5]), "long").alias("offset"),
        F.col(c[6]).alias("filename"))


def cdx_latest(captures: DataFrame) -> DataFrame:
    """(surt, ts, url, digest, n_captures): the newest capture per
    SURT key plus how many captures it supersedes — the "latest
    snapshot" view every CDX consumer starts from (refetch planning:
    fetch only if the live page changed since `ts`; dedup planning:
    one representative payload per url across recrawls).

    ONE shuffle on surt with the per-key top-1 window idiom shared
    with survivor selection and url_dedup: row_number over (ts DESC,
    digest NULLS LAST, url NULLS LAST) — the digest tie-break makes
    same-second recaptures deterministic, NULLS LAST pins the
    cross-engine ordering (Spark ascending defaults NULLS FIRST,
    SQL engines NULLS LAST — and digest is an OPTIONAL field
    parse_cdx surfaces as NULL), and url totalizes the order when
    digests tie or are both absent — and a count over the same
    partition, so both window functions ride a single exchange.  Hot
    keys are bounded by the recrawl rate (a url is captured once per
    crawl), never by corpus size."""
    w = Window.partitionBy("surt").orderBy(
        F.col("ts").desc(),
        F.col("digest").asc_nulls_last(),
        F.col("url").asc_nulls_last())
    return (captures
            .select("surt", "ts", "url", "digest")
            .withColumn("rn", F.row_number().over(w))
            .withColumn("n_captures",
                        F.count("*").over(Window.partitionBy("surt"))
                        .cast("int"))
            .filter(F.col("rn") == 1)
            .select("surt", "ts", "url", "digest", "n_captures"))


def cdx_revisit(captures: DataFrame) -> DataFrame:
    """(surt, n_captures, n_versions, first_ts, last_ts, change_bp):
    per-url recrawl statistics over the capture index — the
    change-rate signal a recrawl scheduler feeds on (pages whose
    digest changes every capture deserve frequent refetch; static
    pages can be demoted), the planning step between cdx_latest's
    "what do we have" and the frontier's "what do we fetch next".

    Semantics: n_versions counts DISTINCT non-NULL digests (digest is
    an optional CDXJ field); change_bp is the observed change rate in
    basis points, exact integer ``((n_versions - 1) * 10000) div
    (n_captures - 1)`` — 10000 when every recapture changed, 0 for
    never-changed, for singletons, and for keys whose captures carry
    no digest at all (no change evidence either way).  first_ts/
    last_ts are lexicographic min/max, which IS chronological order
    for 14-digit CDX timestamps.

    Scale shape: two-level aggregation — groupBy(surt, digest) first,
    so a mega-key (a url captured in every monthly crawl for a decade)
    is pre-compressed to its distinct-version rows map-side before the
    per-surt rollup, and every aggregate is algebraic (sum/min/max/
    count) with partial combine at both levels.  No windows, no joins;
    output is keyspace-sized."""
    per_v = (captures
             .select("surt", "ts", "digest")
             .groupBy("surt", "digest")
             .agg(F.count("*").alias("n"),
                  F.min("ts").alias("t0"),
                  F.max("ts").alias("t1")))
    n_cap = F.sum("n").cast("int")
    n_ver = (F.sum(F.when(F.col("digest").isNotNull(), 1)
                   .otherwise(0)).cast("int"))
    agg = per_v.groupBy("surt").agg(
        n_cap.alias("n_captures"),
        n_ver.alias("n_versions"),
        F.min("t0").alias("first_ts"),
        F.max("t1").alias("last_ts"))
    # greatest(.., 1): all-NULL-digest keys carry no version evidence
    # — 0 change, never a negative rate
    change = F.expr(
        "CASE WHEN n_captures > 1 THEN "
        "((greatest(n_versions, 1) - 1) * 10000) div (n_captures - 1) "
        "ELSE 0 END")
    return agg.select("surt", "n_captures", "n_versions",
                      "first_ts", "last_ts",
                      change.cast("long").alias("change_bp"))


def robots_rules(robots: DataFrame, agent: str = ROBOTS_AGENT) -> DataFrame:
    """(host, allow, prefix, prefix_len): the effective rule set per
    host for ``agent``, parsed from raw robots.txt bodies per RFC 9309
    — the REAL-protocol feed for the frontier admission pass
    (frontier_filter takes a curated blocklist; this parses what sites
    actually serve).

    Grammar subset (RFC 9309 §2.2): lines are `field: value` with
    `#`-comments; field names case-insensitive; consecutive
    `User-agent` lines open ONE group and a rule line closes the
    accumulation (the next UA line starts a new group); `Allow` /
    `Disallow` rules attach to the current group; an EMPTY Disallow
    value means "no restriction" and is dropped.  Group selection:
    groups naming ``agent`` exactly, else the `*` groups, else no
    rules (everything allowed).

    Everything is built-ins — posexplode of split lines, two window
    passes partitioned BY HOST (robots bodies are KB-sized, hosts are
    many: the parallelism unit is the host, never a global order), one
    aggregation for group selection.  The output is rule-table-sized
    (hosts x ~dozens), the natural shuffle-hash join feed for
    robots_filter."""
    # CRLF bodies are the HTTP norm: strip \r up front so values never
    # carry a trailing carriage return (round-4 review — Java and RE2
    # disagree on whether '.' crosses \r, so parity demands removal)
    lines = robots.select(
        "host", F.posexplode(F.split(
            F.regexp_replace(F.col("robots_txt"), "\r", ""), "\n"))
        .alias("line_no", "raw"))
    clean = F.trim(F.regexp_replace(F.col("raw"), "#.*", ""))
    field = F.lower(F.regexp_extract(clean, r"^([A-Za-z-]+)\s*:", 1))
    value = F.trim(F.regexp_extract(clean, r"^[A-Za-z-]+\s*:\s*(.*)$", 1))
    # only UA and rule lines participate in group assembly: blank,
    # comment-only, unparseable, and unknown-field (sitemap,
    # crawl-delay) lines are TRANSPARENT per the RFC 9309 ABNF —
    # a blank line between two UA lines must NOT split the group
    # (round-4 review).  An empty-valued Disallow IS a rule line (it
    # closes UA accumulation) even though it yields no rule below.
    p = (lines.select(
        "host", "line_no", field.alias("field"), value.alias("value"))
        .filter(F.col("field").isin("user-agent", "allow", "disallow")))
    w = Window.partitionBy("host").orderBy("line_no")
    grouped = p.withColumn(
        "group_id",
        F.sum(((F.col("field") == "user-agent")
               & ~F.coalesce(F.lag(F.col("field") == "user-agent")
                             .over(w), F.lit(False))).cast("int"))
        .over(w))
    uas = (grouped.filter(F.col("field") == "user-agent")
           .groupBy("host", "group_id")
           .agg(F.max((F.lower(F.col("value")) == agent.lower())
                      .cast("int")).alias("named"),
                F.max((F.col("value") == "*").cast("int"))
                .alias("star")))
    # per host: named groups win over star groups (RFC 9309 §2.2.1)
    pick = uas.groupBy("host").agg(
        F.max("named").alias("has_named"))
    chosen = (uas.join(pick, "host")
              .filter((F.col("has_named") == 1) & (F.col("named") == 1)
                      | (F.col("has_named") == 0) & (F.col("star") == 1))
              .select("host", "group_id"))
    rules = (grouped
             .filter(F.col("field").isin("allow", "disallow")
                     & (F.col("value") != ""))
             .select("host", "group_id",
                     (F.col("field") == "allow").alias("allow"),
                     F.col("value").alias("prefix"),
                     F.length("value").alias("prefix_len")))
    return (rules.join(chosen, ["host", "group_id"])
            .select("host", "allow", "prefix", "prefix_len"))


def robots_filter(pages: DataFrame, robots: DataFrame,
                  agent: str = ROBOTS_AGENT,
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, url, blocked): RFC 9309 admission — for each url, of
    all rules of its host's selected group whose prefix matches the
    path, the LONGEST prefix wins; on a length tie Allow beats
    Disallow (§2.2.2); no matching rule (or no robots.txt) means
    allowed.

    The precedence rule is ONE order-independent integer aggregate:
    score = prefix_len * 2 + allow, blocked = max(score) is even —
    prefix_len dominates (longest match) and the low bit breaks ties
    toward Allow, with no window, no sort, no struct-comparison
    semantics to align across engines, and map-side partials.  The
    rule table (hosts x dozens) joins the corpus on the host equi-key;
    at frontier scale both sides co-partition on host, the corpus is
    never re-keyed twice (the group-back agg reuses doc granularity)."""
    host = F.lower(F.regexp_extract(
        F.regexp_replace(F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://",
                         ""), "^([^/:?]*)", 1))
    path = F.regexp_extract(
        F.regexp_replace(F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://",
                         ""), "^[^/?]*(/[^?]*)?", 1)
    pathc = F.when(path == "", F.lit("/")).otherwise(path)
    base = pages.select(F.col(id_col).alias("doc_id"), "url",
                        host.alias("host"), pathc.alias("path"))
    rules = robots_rules(robots, agent)
    # RFC 9309 §2.2.3 special characters (MUST level): '*' matches any
    # octet sequence, a TRAILING '$' anchors end-of-path.  Literal
    # rules (the overwhelming majority) keep the cheap startswith fast
    # path; wildcard rules compile to an anchored regex built
    # engine-side — escape every regex metachar, then un-escape '*'
    # into '.*' and a trailing '$' into the anchor.  Precedence length
    # stays the raw PATTERN length (most-octets rule, wildcards
    # included), matching the RFC.
    esc = F.regexp_replace(F.col("prefix"),
                           r"([.\[\]{}()*+?^$|\\])", "\\\\$1")
    rx = F.regexp_replace(esc, r"\\\*", ".*")
    rx = F.regexp_replace(rx, r"\\\$$", "\\$")
    rules = rules.select(
        "host", "allow", "prefix", "prefix_len",
        (F.col("prefix").contains("*")
         | F.col("prefix").endswith("$")).alias("wild"),
        F.concat(F.lit("^"), rx).alias("rx"))
    hit = (F.when(F.col("wild"), F.expr("path rlike rx"))
           .otherwise(F.col("path").startswith(F.col("prefix"))))
    best = (base.join(rules, "host")
            .filter(hit)
            .groupBy("doc_id")
            .agg(F.max(F.col("prefix_len") * 2
                       + F.col("allow").cast("int")).alias("best")))
    return (base.join(best, "doc_id", "left")
            .select("doc_id", "url",
                    F.coalesce(F.col("best") % 2 == 0, F.lit(False))
                    .alias("blocked")))


def robots_sitemaps(robots: DataFrame) -> DataFrame:
    """(host, sitemap_url): the ``Sitemap:`` discovery lines of
    robots.txt — the bridge between two planning legs: robots_rules
    says what MAY be fetched, and the urls this emits feed
    parse_sitemaps to learn what EXISTS.  The field is sitemaps.org
    cross-protocol metadata that RFC 9309 classifies as an "other
    record": group-INDEPENDENT, so it is collected from anywhere in
    the body regardless of the surrounding User-agent groups (the
    rule parser correctly treats the same lines as transparent).

    Same line grammar as robots_rules (CRLF strip, #-comments,
    case-insensitive field names); values are served as absolute URLs
    per the protocol and emitted as-is — resolution/validation is the
    fetcher's concern.  Pure narrow split + explode + filter: zero
    shuffle, robots-table-sized output."""
    lines = robots.select(
        "host", F.explode(F.split(
            F.regexp_replace(F.col("robots_txt"), "\r", ""), "\n"))
        .alias("raw"))
    clean = F.trim(F.regexp_replace(F.col("raw"), "#.*", ""))
    field = F.lower(F.regexp_extract(clean, r"^([A-Za-z-]+)\s*:", 1))
    value = F.trim(F.regexp_extract(clean, r"^[A-Za-z-]+\s*:\s*(.*)$", 1))
    return (lines
            .select("host", field.alias("f"),
                    value.alias("sitemap_url"))
            .filter((F.col("f") == "sitemap")
                    & (F.col("sitemap_url") != ""))
            .select("host", "sitemap_url"))


# ---------------------------------------------------------------------------
# Unicode normalization (the pre-dedup canonicalization pass)
# ---------------------------------------------------------------------------

_CTRL_RE = r"[\x00-\x08\x0B-\x1F\x7F]"


def normalize_text(docs: DataFrame, form: str = "NFC") -> DataFrame:
    """(doc_id, text_norm, changed): Unicode normalization + C0
    control stripping — the canonicalization pass that runs BEFORE
    every hash-based dedup/fingerprint operator: the same visible
    string in composed vs decomposed form (café as e+U+0301 vs U+00E9)
    hashes to different shingles/minhashes/simhashes, so un-normalized
    corpora leak near-duplicates past every dedup family.  CCNet /
    Dolma-style pipelines normalize first; this is that step.

    Shape: a narrow Arrow kernel (mapInArrow, zero shuffle — the same
    kernel pattern as extraction) applying unicodedata NFC (or NFKC —
    DuckDB has no nfkc oracle, so the gate pins NFC) per batch;
    control characters (C0 minus \\t \\n, plus DEL) are stripped by
    the SAME regex in both engines.  ``changed`` flags rows the pass
    rewrote — at 10^12 docs the flag lets the writer keep unchanged
    payloads by reference instead of rewriting them."""
    import pyarrow as pa_

    import re as re_
    import unicodedata as ud_
    ctrl = re_.compile(_CTRL_RE)

    def kern(batches):
        for b in batches:
            ids = b.column("doc_id")
            texts = b.column("text").to_pylist()
            norm = [ctrl.sub("", ud_.normalize(form, t))
                    if t is not None else None for t in texts]
            # NULL text -> NULL changed, matching SQL three-valued
            # `<>` so the oracle agrees on null rows (round-4 review)
            yield pa_.RecordBatch.from_arrays(
                [ids, pa_.array(norm, pa_.large_string()),
                 pa_.array([None if t is None else n != t
                            for n, t in zip(norm, texts)],
                           pa_.bool_())],
                ["doc_id", "text_norm", "changed"])

    return (docs.select("doc_id", "text")
            .mapInArrow(kern,
                        "doc_id long, text_norm string, changed boolean"))


# ---------------------------------------------------------------------------
# bigram LM with stupid backoff (r5) — the KenLM-filter shape: train a
# reference-domain LM, score the crawl against it (CCNet scores
# Common Crawl under a Wikipedia LM; reference precedent for quality
# scoring: docling_serve picture-description thresholds are the same
# train-elsewhere/score-here pattern).
# ---------------------------------------------------------------------------

# round(-ln(0.4) * 1e6): the stupid-backoff penalty (Brants et al.
# 2007 alpha = 0.4), pinned as an integer constant so neither engine's
# libm decides the value
BACKOFF_NLL_MICRO = 916291


def _bigram_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2, tf): adjacent-token bigram counts per doc.
    Pairs are built IN-ARRAY (slice + index-bound transform — a
    corpus-sized self-join on position would be absurd), then one
    shuffle with map-side combine."""
    toks = _spread(docs).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks"))
    # slice length is guarded: size()-1 on a 1-token doc is 0, and
    # Spark's slice(x, 1, 0) is [] (unlike sequence(1, 0), which
    # counts DOWN — the two-param-transform index idiom is safe here
    # because i comes from transform itself, not sequence)
    pairs = F.expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), "
        "(t, i) -> struct(t AS w1, toks[i + 1] AS w2))")
    return (toks.select("doc_id", F.explode(pairs).alias("p"))
            .select("doc_id", F.col("p.w1").alias("w1"),
                    F.col("p.w2").alias("w2"))
            .groupBy("doc_id", "w1", "w2")
            .agg(F.count("*").alias("tf")))


def bigram_lm_scores(train_docs: DataFrame, score_docs: DataFrame,
                     k: float = LM_K) -> DataFrame:
    """(doc_id, n_big, mean_nll, ppl): score every document's bigrams
    under a bigram LM trained on a REFERENCE corpus with stupid
    backoff — seen bigram: -ln(c12/c1); unseen: 916291 micro-nats
    (= -ln 0.4) + the add-k unigram NLL; unigram OOV falls to the
    smoothed-unseen mass k/(N+kV).  Like lm_perplexity, every
    per-token NLL is fixed to integer micro-nats BEFORE summation, so
    per-doc sums are order-independent and engine-exact; the backoff
    composition is defined ON the rounded integers (part of the model
    contract, documented so the oracle mirrors it exactly).

    Scale shape: the bigram table is the big object (~10^10 rows at
    100 TB) and only ever moves through shuffle-hash equi-joins keyed
    (w1, w2) / (w1) — never broadcast, never a window.  Scoring joins
    are LEFT so backoff is a coalesce, not a second pass over the
    corpus.  N/V ride as a broadcast 1-row frame."""
    tr = _bigram_tf(train_docs)
    bc = tr.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    c1 = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    bi_nll = (bc.join(c1.hint("shuffle_hash"), "w1")
              .select("w1", "w2",
                      F.round(-F.log(F.col("c12") / F.col("c1")) * 1e6, 0)
                      .cast("long").alias("nll12")))
    uni = (_spread(train_docs)
           .select(F.explode(TOKENS()).alias("w2"))
           .groupBy("w2").agg(F.count("*").alias("c")))
    tot = uni.agg(F.sum("c").alias("n_total"),
                  F.count("*").alias("vocab"))
    denom = F.col("n_total") + F.lit(k) * F.col("vocab")
    uni_nll = (uni.crossJoin(F.broadcast(tot))
               .select("w2",
                       F.round(-F.log((F.col("c") + F.lit(k)) / denom)
                               * 1e6, 0).cast("long").alias("nll_uni")))
    oov = tot.select(F.round(-F.log(F.lit(k) / denom) * 1e6, 0)
                     .cast("long").alias("nll_oov"))
    sc = (_bigram_tf(score_docs)
          .join(bi_nll.hint("shuffle_hash"), ["w1", "w2"], "left")
          .join(uni_nll.hint("shuffle_hash"), "w2", "left")
          .crossJoin(F.broadcast(oov))
          .select("doc_id", "tf",
                  F.coalesce(
                      F.col("nll12"),
                      F.lit(BACKOFF_NLL_MICRO)
                      + F.coalesce(F.col("nll_uni"), F.col("nll_oov")))
                  .alias("nll"))
          .groupBy("doc_id")
          .agg(F.sum("tf").alias("n_big"),
               F.sum(F.col("tf") * F.col("nll")).alias("s")))
    # exact half-up integer mean (see lm_perplexity for the boundary
    # analysis — the same half-micro divergence class applies)
    m_micro = F.floor((2 * F.col("s") + F.col("n_big"))
                      / (2 * F.col("n_big")))
    mean_nll = m_micro.cast("double") / F.lit(1e6)
    return sc.select("doc_id", F.col("n_big").cast("int").alias("n_big"),
                     mean_nll.alias("mean_nll"),
                     F.round(F.exp(mean_nll), 4).alias("ppl"))


# ---------------------------------------------------------------------------
# temperature-flattened source mixing (r5) — the multilingual
# alpha-sampling recipe (Conneau & Lample 2019; mT5's alpha=0.3):
# resample sources toward q_s ∝ n_s^alpha so head sources stop
# drowning the tail.  alpha is pinned to 0.5 because sqrt is the one
# power IEEE requires correctly rounded — an engine-exact contract;
# other alphas would put libm pow() in the reproducibility path.
# ---------------------------------------------------------------------------

def temperature_mix(docs: DataFrame, target_frac: float = 0.25,
                    salt: str = "tmix1") -> DataFrame:
    """(doc_id, source, rate_bp): the admitted sample after
    temperature-flattening source shares at alpha = 0.5.  Target
    share q_s = sqrt(n_s)/Z scaled to a budget of T = floor(N *
    target_frac) docs gives per-source admission rate_bp =
    min(10000, round(T * s_micro * 10000 / (Z_micro * n_s))) basis
    points, admitted by the shared content-independent hash-mod rule
    (reproducible across engines/runs, growth-stable).  sqrt(n_s) is
    rounded to integer micros BEFORE the Z sum so Z is an exact
    bigint, never an order-dependent double accumulation.

    Scale shape: one count-by-source agg (map-side combined), the
    source-count table is budget-bounded and broadcast back; admission
    is a pure narrow projection.  Sources needing >1.0 rate (tail
    upsampling beyond one epoch) clamp at 10000 bp — epoch math is the
    trainer's job, the mixer never duplicates rows."""
    n = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    z = n.select(
        F.sum(F.round(F.sqrt(F.col("n_s").cast("double")) * 1e6, 0)
              .cast("long")).alias("z_micro"),
        F.sum("n_s").alias("n_total"))
    rates = (n.crossJoin(F.broadcast(z))
             .select("source",
                     F.least(
                         F.lit(10000),
                         F.round(F.floor(F.col("n_total")
                                         * F.lit(target_frac))
                                 * F.round(F.sqrt(F.col("n_s")
                                                  .cast("double"))
                                           * 1e6, 0)
                                 * F.lit(10000.0)
                                 / (F.col("z_micro") * F.col("n_s")), 0))
                     .cast("long").alias("rate_bp")))
    return (docs.join(F.broadcast(rates), "source")
            .where(_hash_mod(salt, 10000) < F.col("rate_bp"))
            .select("doc_id", "source", "rate_bp"))


# ---------------------------------------------------------------------------
# feature-hashed tf-idf document embeddings (r5) — the classic
# hashing-trick document vector (Weinberger et al. 2009): a fixed-dim
# bridge from raw text into the ANN/semantic-dedup family that needs
# no trained encoder and no vocabulary table at inference.
# ---------------------------------------------------------------------------

def hashed_tfidf(docs: DataFrame, buckets: int = 256,
                 salt: str = "htf1") -> DataFrame:
    """(doc_id, bucket, w_micro): L2-normalized feature-hashed tf-idf
    vectors as sparse (non-zero) entries.  bucket = md5(salt:tok)[:8]
    mod ``buckets`` (the shared portable hash rule); raw weight =
    tf * idf_micro with idf_micro = round(ln((D+1)/(df+1))*1e6) —
    exact bigints end to end.  The squared-norm sum runs in
    decimal(38,0) (raw^2 reaches ~4e20, past int64), and the final
    component is round(raw / sqrt(ss) * 1e6): raw < 2^53 converts to
    double exactly, division and sqrt are IEEE-correctly-rounded, so
    both engines emit identical integers.

    Scale shape: one (doc, tok) shuffle, a shuffle-hash idf join (the
    df table is vocabulary-sized — never broadcast), one (doc,
    bucket) re-agg, and a doc-keyed shuffle-hash norm join.  Output is
    bounded at ``buckets`` rows per doc regardless of vocabulary."""
    tf = (_spread(docs)
          .select("doc_id", F.explode(TOKENS()).alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    idf = (dfreq.crossJoin(F.broadcast(nd))
           .select("tok",
                   F.round(F.log((F.col("n_docs") + F.lit(1.0))
                                 / (F.col("df") + F.lit(1.0))) * 1e6, 0)
                   .cast("long").alias("idf_micro")))
    bucket = (F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col("tok"))), 1, 8),
        16, 10).cast("long") % buckets)
    feat = (tf.join(idf.hint("shuffle_hash"), "tok")
            .select("doc_id", bucket.alias("bucket"),
                    (F.col("tf") * F.col("idf_micro")).alias("raw"))
            .groupBy("doc_id", "bucket").agg(F.sum("raw").alias("raw")))
    ss = feat.groupBy("doc_id").agg(
        F.sum((F.col("raw").cast("decimal(38,0)") * F.col("raw")))
        .alias("ss"))
    return (feat.join(ss.hint("shuffle_hash"), "doc_id")
            .where(F.col("ss") > 0)
            .select("doc_id", F.col("bucket").cast("int").alias("bucket"),
                    F.round(F.col("raw")
                            / F.sqrt(F.col("ss").cast("double")) * 1e6, 0)
                    .cast("long").alias("w_micro")))


# ---------------------------------------------------------------------------
# hashed char-n-gram Naive Bayes language ID (r5) — the fastText-lite
# upgrade over the marker-word heuristic: supervised on the corpus's
# own lang labels, features are hashed character trigrams, so the
# model is a BOUNDED (langs x buckets) weight table that always
# broadcasts — the same always-broadcastable-distribution property
# dsir_weights gets from feature hashing.
# ---------------------------------------------------------------------------

def nb_langid(docs: DataFrame, buckets: int = 512, k: float = 0.5,
              salt: str = "nbl1") -> DataFrame:
    """(doc_id, lang_label, nb_pred, is_match): multinomial NB over
    hashed char trigrams, trained on the labeled corpus and applied
    back to it.  Per-(lang, bucket) NLL and per-lang prior NLL are
    integer micro-nats (round BEFORE summation); the weight table is
    DENSE over langs x buckets (missing cells get the smoothed-zero
    mass) so scoring is a plain equi-join, no missing-cell coalesce
    per row.  argmin is a doc-partitioned window ordered (nll, lang)
    — deterministic tie-break, no global sort.

    Scale shape: the trigram explode compresses map-side into ONE
    (lang, bucket) shuffle bounded at langs x buckets rows; scoring
    moves (doc, bucket, tf) rows once, joins the broadcast weight
    table, and aggregates (doc, lang) with partial sums."""
    # r6: the trigram hashing + counting runs in Arrow kernels with a
    # per-worker memoized trigram->bucket md5 map (the trigram universe
    # is tiny, so each md5 runs once per worker) instead of exploding
    # one row per occurrence; the (lang, bucket) training counts leave
    # every task pre-aggregated.  All arithmetic in the kernels is
    # INTEGER (occurrence counts, micro-nat weights), so the results
    # are bit-exact against the explode form; the log/round training
    # math below stays ENGINE-side and its trained integer table is
    # collected (a catalog-sized artifact, the _ivf_centroids pattern)
    # into the scoring kernel.
    def gram_buckets(text, bucket_of):
        # transform(sequence(1, greatest(length-2, 1)), substring):
        # null text yields ONE null gram (concat_ws drops the null),
        # short/empty text yields its (possibly short) prefix gram
        if text is None or text != text:
            return (bucket_of(None),)
        m = len(text) - 2
        if m < 1:
            m = 1
        return tuple(bucket_of(text[p:p + 3]) for p in range(m))

    def bucket_fn():
        import hashlib
        memo: dict = {}

        def bucket_of(g):
            b = memo.get(g)
            if b is None:
                s = salt if g is None else f"{salt}:{g}"
                b = memo[g] = int(hashlib.md5(
                    s.encode("utf-8")).hexdigest()[:8], 16) % buckets
            return b
        return bucket_of

    def count_kern(batches):
        bucket_of = bucket_fn()
        acc: dict = {}
        for pdf in batches:
            for lang, text in zip(pdf["lang"], pdf["text"]):
                if lang is not None and lang != lang:
                    lang = None
                d = acc.setdefault(lang, {})
                for b in gram_buckets(text, bucket_of):
                    d[b] = d.get(b, 0) + 1
        rows = {"lang": [], "bucket": [], "c": []}
        for lang, d in acc.items():
            for b, c in d.items():
                rows["lang"].append(lang)
                rows["bucket"].append(b)
                rows["c"].append(c)
        yield pd.DataFrame(rows, columns=["lang", "bucket", "c"])

    counts = (_spread(docs).select("lang", "text")
              .mapInPandas(count_kern, "lang string, bucket long, c long")
              .groupBy("lang", "bucket").agg(F.sum("c").alias("c")))
    lang_tot = counts.groupBy("lang").agg(F.sum("c").alias("n_l"))
    spark = docs.sparkSession
    dense = (lang_tot
             .crossJoin(spark.range(buckets)
                        .select(F.col("id").cast("long").alias("bucket")))
             .join(counts, ["lang", "bucket"], "left")
             .select("lang", "bucket",
                     F.round(-F.log((F.coalesce(F.col("c"), F.lit(0))
                                     + F.lit(k))
                                    / (F.col("n_l")
                                       + F.lit(k) * F.lit(buckets)))
                             * 1e6, 0).cast("long").alias("w_micro")))
    priors = (docs.groupBy("lang").agg(F.count("*").alias("d_l"))
              .crossJoin(F.broadcast(nd_tot := docs.agg(
                  F.count("*").alias("n_docs"))))
              .select("lang",
                      F.round(-F.log(F.col("d_l") / F.col("n_docs"))
                              * 1e6, 0).cast("long").alias("prior_micro")))
    # collect the TRAINED integer tables (langs x buckets + langs
    # priors — catalog-sized, engine-computed, so every weight is the
    # exact integer the old broadcast join shipped) and score each doc
    # in one narrow kernel: nll = tf-vector . W[lang] + prior in int64
    # (tf < 2^20, |w| < 2^26, <= buckets terms -> far below 2^63),
    # argmin with the (nll, NULL-first, lang) tie-break of the old
    # row_number window.  This replaces the doc_tf x dense broadcast
    # join whose output was |doc-bucket pairs| x langs rows.
    import numpy as np
    wrows = dense.collect()
    prows = priors.collect()
    langs = sorted({r["lang"] for r in wrows},
                   key=lambda v: (v is not None, v))
    lidx = {v: i for i, v in enumerate(langs)}
    wmat = np.zeros((len(langs), buckets), dtype=np.int64)
    for r in wrows:
        wmat[lidx[r["lang"]], r["bucket"]] = r["w_micro"]
    pvec = np.zeros(len(langs), dtype=np.int64)
    for r in prows:
        pvec[lidx[r["lang"]]] = r["prior_micro"]

    def score_kern(batches):
        bucket_of = bucket_fn()
        for pdf in batches:
            ids, preds_out = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                tf: dict = {}
                for b in gram_buckets(text, bucket_of):
                    tf[b] = tf.get(b, 0) + 1
                bi = np.fromiter(tf.keys(), dtype=np.int64,
                                 count=len(tf))
                tv = np.fromiter(tf.values(), dtype=np.int64,
                                 count=len(tf))
                nll = wmat[:, bi] @ tv + pvec
                ids.append(did)
                # rows sorted by (NULL-first, lang): argmin's
                # first-minimum rule IS the window tie-break
                preds_out.append(langs[int(np.argmin(nll))])
            yield pd.DataFrame({"doc_id": ids, "nb_pred": preds_out},
                               columns=["doc_id", "nb_pred"])

    pred = (_spread(docs).select("doc_id", "text")
            .mapInPandas(score_kern, "doc_id long, nb_pred string"))
    # pred is corpus-sized: pin the label join to shuffle-hash so a
    # stats misestimate never tries to broadcast 10^12 predictions
    return (docs.select("doc_id", F.col("lang").alias("lang_label"))
            .join(pred.hint("shuffle_hash"), "doc_id")
            .select("doc_id", "lang_label", "nb_pred",
                    (F.col("nb_pred") == F.col("lang_label"))
                    .cast("int").alias("is_match")))


# ---------------------------------------------------------------------------
# Admission funnel + shard shuffle: the two composition-level passes a
# training-data pipeline publishes around the per-operator stages — the
# funnel report (how many docs/tokens survive each admission stage, the
# number every dataset card prints) and the deterministic global
# shuffle that randomizes write order into training shards.
# Reference parity: docling-serve exposes per-task progress counters
# (docling_serve/app.py task status) but no corpus-level accounting;
# these are the corpus-scale siblings the 100-TB deployment needs.
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("ingest", "lang", "quality", "exact_dedup",
                 "decontaminated")
FUNNEL_CONT_BROADCAST_CAP = 2_000_000


def corpus_funnel(docs: DataFrame, lang: str = "en",
                  probe_mod: int = 50, n: int = 3,
                  broadcast_cap: int = FUNNEL_CONT_BROADCAST_CAP
                  ) -> DataFrame:
    """(stage_idx, stage, n_docs, n_tokens): the composed admission
    funnel — per-stage survivor accounting through the standard
    web-corpus pipeline, each stage filtering the previous stage's
    survivors:

      0 ingest          every document
      1 lang            ``lang`` column equals the target language
      2 quality         the Gopher rule cascade (gopher_quality's
                        exact rules via _gopher_pass_expr)
      3 exact_dedup     min-doc_id survivor per sha256(text) WITHIN
                        the stage-2 pool (dedup_exact's rule; the
                        pool matters — a duplicate whose twin failed
                        quality is not a duplicate here)
      4 decontaminated  not a probe (doc_id % probe_mod != 0) and no
                        distinct word n-gram shared with ANY probe
                        document (contamination()'s convention)

    Scale shape: stages 1-2 are narrow flags computed in the scan.
    The dedup survivor flag is ONE window over sha256(text), with
    non-pool rows parked in per-doc singleton partitions (conditional
    key) so the corpus shuffles exactly once and no second scan of the
    source is needed.  The contaminated-id set comes from the same
    broadcast-probe-shingle semi-join as contamination() — the corpus
    is never shuffled on its own cardinality to find it — and joins
    back size-gated (broadcast below ``broadcast_cap`` matched ids,
    shuffle-hash fallback above: the line_dedup protocol).  The funnel
    itself aggregates the per-doc frame to <= len(FUNNEL_STAGES) rows
    per task FIRST (map-side combine), then the tiny grouped frame
    explodes into cumulative stage rows — exploding per-doc would 5x
    the exchange for nothing.
    """
    # r6: sha256 + the Gopher cascade + two shingle explodes all ride
    # the scan — spread the one-file test layout first (§2.4 trap; the
    # identical repartition subtree appears under every consumer, so
    # the final plan reuses ONE exchange).  Self-disables at scale.
    docs = _spread(docs, min_bytes=2 << 20)
    base = docs.select("doc_id", "lang", "text", TOKENS().alias("toks"))
    # sha256 computed IN THE SCAN PROJECTION so the window exchange
    # below carries a 64-hex key, never the text payload
    flagged = base.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("text_sha"),
        F.size("toks").cast("long").alias("n_tok"),
        (F.col("lang") == lang).alias("lang_ok"),
        _gopher_pass_expr().alias("qual_ok"))

    # contaminated ids: probe shingles broadcast; corpus side narrow
    probe_sh = (exploded_shingles(
        docs.filter(F.col("doc_id") % probe_mod == 0), n)
        .select("shingle").distinct())
    cont = (exploded_shingles(docs, n)
            .join(F.broadcast(probe_sh), "shingle", "left_semi")
            .select("doc_id").distinct().localCheckpoint())
    small = cont.count() <= broadcast_cap
    hint = F.broadcast if small else (lambda df: df.hint("shuffle_hash"))
    marked = flagged.join(
        hint(cont.withColumn("cont", F.lit(True))), "doc_id", "left")

    in_pool = F.col("lang_ok") & F.col("qual_ok")
    dedup_key = F.when(in_pool, F.col("text_sha")) \
        .otherwise(F.concat(F.lit("solo:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy(dedup_key)
    survivor = F.col("doc_id") == F.min("doc_id").over(w)
    staged = marked.select(
        "n_tok",
        F.when(~F.col("lang_ok"), F.lit(0))
        .when(~F.col("qual_ok"), F.lit(1))
        .when(~survivor, F.lit(2))
        .when((F.col("doc_id") % probe_mod == 0)
              | F.col("cont").isNotNull(), F.lit(3))
        .otherwise(F.lit(4)).alias("max_stage"))

    grouped = (staged.groupBy("max_stage")
               .agg(F.count("*").cast("long").alias("docs"),
                    F.sum("n_tok").cast("long").alias("toks")))
    names = F.array(*[F.lit(s) for s in FUNNEL_STAGES])
    return (grouped
            .select(F.explode(F.sequence(F.lit(0), F.col("max_stage")))
                    .alias("stage_idx"), "docs", "toks")
            .groupBy("stage_idx")
            .agg(F.sum("docs").cast("long").alias("n_docs"),
                 F.sum("toks").cast("long").alias("n_tokens"))
            .select("stage_idx",
                    F.element_at(names, F.col("stage_idx") + 1)
                    .alias("stage"),
                    "n_docs", "n_tokens"))


SHUFFLE_SHARDS = 64
ORDER_SUM_MOD = 1000003


def shard_shuffle(docs: DataFrame, shards: int = SHUFFLE_SHARDS,
                  salt: str = "shuf1") -> DataFrame:
    """(shard, n_docs, n_tokens, first_doc, last_doc, order_sum): the
    deterministic global shuffle into training shards — the
    write-order randomization pass that runs after admission and
    before sequence packing, emitted as the per-shard manifest the
    shard writer publishes.

    Rule: shard = the content-independent md5-mod (_hash_mod, salted
    ``salt:S``); within-shard order = the md5 hex of ``salt:O:doc_id``
    (a uniform pseudo-random permutation key), doc_id tiebreak.  Both
    are independent of input partitioning and cluster size, so the
    same corpus shuffles identically on 4 or 4000 executors.
    ``order_sum`` = sum(position * (doc_id % ORDER_SUM_MOD)) is an
    exact-integer checksum of the whole permutation (swapping any two
    docs changes it), pinning ORDER — not just membership — through
    the oracle; a production run at 10^12 docs would fold it modulo a
    Mersenne prime to stay in int64, noted here because the gate
    scale never approaches overflow.

    Scale shape: ONE shuffle (hash-partition by shard, in-partition
    sort under the per-shard window) — no global rank, no
    single-reducer sort; shard count rises with the cluster."""
    hx = F.md5(F.concat_ws(":", F.lit(salt + ":O"), F.col("doc_id")))
    base = docs.select(
        "doc_id",
        _hash_mod(salt + ":S", shards).cast("int").alias("shard"),
        hx.alias("hx"),
        F.size(TOKENS()).cast("long").alias("n_tok"))
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    per = base.withColumn("pos", F.row_number().over(w) - 1)
    return (per.groupBy("shard")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("n_tokens"),
                 F.min_by("doc_id", "pos").alias("first_doc"),
                 F.max_by("doc_id", "pos").alias("last_doc"),
                 F.sum(F.col("pos") * (F.col("doc_id") % ORDER_SUM_MOD))
                 .cast("long").alias("order_sum")))


def lang_pivot(docs: DataFrame,
               langs: tuple = ("de", "en", "es", "fr", "zh")) -> DataFrame:
    """(source, <one long column per lang>): the language × source
    composition matrix — corpus_report's rollup turned sideways into
    the wide table a dataset card prints.  Exercises Spark's pivot
    surface (PivotFirst / conditional aggregation).

    ``langs`` is passed EXPLICITLY: pivot without a values list runs
    a whole extra job just to discover the distinct pivot values — a
    full corpus scan at 100 TB — while an explicit catalog-sized list
    compiles straight to one map-side conditional aggregation and ONE
    exchange on source.  Absent cells surface as 0, not NULL (the
    count contract).  Langs outside the list are dropped by pivot;
    callers wanting an 'other' column pre-bucket the lang column."""
    p = (docs.select("source", "lang")
         .groupBy("source").pivot("lang", list(langs)).count())
    return p.select(
        "source",
        *[F.coalesce(F.col(f"`{lg}`"), F.lit(0)).cast("long").alias(lg)
          for lg in langs])


def corpus_report(docs: DataFrame) -> DataFrame:
    """(lvl, lang, source, n_docs, n_tokens, n_chars): the dataset-card
    composition table at every rollup level in ONE pass — per
    (lang, source) cell, per-lang subtotal, grand total.  ``lvl`` is
    the grouping_id bit vector (0 = leaf cell, 1 = lang subtotal,
    3 = grand total), which disambiguates subtotal rows from a real
    NULL group value — the standard GROUPING() contract, identical
    bit order in Spark and ANSI SQL.

    Scale shape: ROLLUP's Expand multiplies rows 3x BEFORE
    aggregation, but each expanded row is 4 narrow columns (the text
    payload never enters Expand — tokens/chars reduce to two longs in
    the scan projection), and map-side partial aggregation collapses
    to |langs x sources| + |langs| + 1 rows per task before the ONE
    exchange.  With ~100 langs x ~1000 sources that is a bounded
    catalog-sized frame regardless of corpus size."""
    base = docs.select(
        "lang", "source",
        F.size(TOKENS()).cast("long").alias("n_tok"),
        F.length("text").cast("long").alias("n_chr"))
    return (base.rollup("lang", "source")
            .agg(F.grouping_id().cast("int").alias("lvl"),
                 F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("n_tokens"),
                 F.sum("n_chr").cast("long").alias("n_chars"))
            .select("lvl", "lang", "source",
                    "n_docs", "n_tokens", "n_chars"))


# ---------------------------------------------------------------------------
# registrable domains (public-suffix list)
# ---------------------------------------------------------------------------

# Pinned public-suffix snapshot (publicsuffix.org format, catalog-sized
# excerpt): multi-label entries ('co.uk', 'github.io') are what make
# naive "last two labels" grouping wrong — site7.github.io and
# site9.github.io are DIFFERENT registrants, while www.site7.co.uk and
# cdn.site7.co.uk are the same one.  The real list is ~10k rows — still
# broadcast-sized; the snapshot is the deterministic test fixture.
PSL_SNAPSHOT = (
    "com", "org", "net", "edu", "io", "dev",
    "uk", "co.uk", "org.uk", "ac.uk",
    "au", "com.au", "net.au",
    "jp", "co.jp", "ne.jp",
    "github.io", "blogspot.com",
)


def registrable_domains(pages: DataFrame, psl: tuple = PSL_SNAPSHOT,
                        id_col: str = "doc_id") -> DataFrame:
    """(domain, suffix, n_docs, n_hosts): group pages by REGISTRABLE
    domain — one label left of the LONGEST matching public suffix (the
    publicsuffix.org algorithm) — the unit every per-registrant policy
    (crawl budgets, dedup scopes, licensing blocklists, per-site
    quality priors) actually wants.  Hosts that ARE a bare public
    suffix have no registrant and drop (PSL rule).

    Scale shape: same trick as frontier_filter — the host explodes
    into its bounded dot-suffix set (narrow, <= ~10 rows per url,
    never a payload) and longest-match becomes a broadcast EQUI-join
    on suffix + one max_by(labels) agg back to url granularity; the
    only corpus-wide exchange is the final catalog-sized groupBy
    domain.  No regex over the PSL, no endswith theta-join.
    """
    host = F.lower(F.regexp_extract(
        F.regexp_replace(F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://",
                         ""), "^([^/:?]*)", 1))
    base = pages.select(F.col(id_col).alias("doc_id"),
                        host.alias("host"))
    sufs = base.select(
        "doc_id", "host",
        F.explode(_host_suffixes(F.col("host"))).alias("suf"))
    pslf = pages.sparkSession.createDataFrame(
        [(s, s.count(".") + 1) for s in psl], "suf string, nsuf int")
    best = (sufs.join(F.broadcast(pslf), "suf")
            .groupBy("doc_id", "host")
            .agg(F.max_by(F.struct("nsuf", "suf"), "nsuf").alias("m")))
    labels = F.split(F.col("host"), "\\.")
    n = F.size(labels)
    dom = (best
           .select("host",
                   F.col("m.suf").alias("suffix"),
                   F.col("m.nsuf").alias("nsuf"))
           # bare-suffix hosts have no label left of the match -> drop
           .filter(n > F.col("nsuf"))
           .select("host", "suffix",
                   F.array_join(
                       F.slice(labels, n - F.col("nsuf"),
                               F.col("nsuf") + 1), ".").alias("domain")))
    return (dom.groupBy("domain", "suffix")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.countDistinct("host").cast("long").alias("n_hosts")))


# ---------------------------------------------------------------------------
# KMV / theta sketch: mergeable distinct + SET INTERSECTION estimates
# ---------------------------------------------------------------------------

KMV_K = 64
_KMV_MAX = 1 << 56          # the hash domain: 56 bits of md5, like HLL


def _kmv_hash(token_col, salt: str = "kmv1"):
    """56-bit md5 hash, the same engine/oracle-identical recipe as
    hll_idx_rho (first 14 hex chars -> bigint)."""
    hx = F.md5(F.concat_ws(":", F.lit(salt), token_col))
    return F.conv(F.substring(hx, 1, 14), 16, 10).cast("long")


def kmv_sketches(docs: DataFrame, group_col: str = "lang",
                 salt: str = "kmv1", k: int = KMV_K) -> DataFrame:
    """(grp, hs: array<long>): the k smallest DISTINCT token hashes per
    group — a KMV/theta sketch (Bar-Yossef et al. 2002; Dasgupta et
    al., the DataSketches theta line).  k-min sets merge under
    union-then-keep-k-smallest, so the frame composes across
    snapshots/streams exactly like the HLL/Bloom/Misra-Gries family —
    and unlike HLL it supports INTERSECTION estimates (kmv_overlap).

    Scale shape: the token stream never shuffles at vocabulary
    cardinality — an Arrow kernel folds each partition to its local
    distinct k-min (<= groups x k longs leaving ANY partition), and the
    ONE exchange carries n_partitions x groups bounded arrays that
    merge via flatten -> array_distinct -> sort -> slice.  Same
    partial-aggregate discipline as hll_registers."""
    tok = _spread(docs, min_bytes=2 << 20).select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col("text"), " ")).alias("token"))
    h = tok.select("grp", _kmv_hash(F.col("token"), salt).alias("h"))

    def kmin(batches):
        sets: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby("grp")["h"]:
                s = sets.setdefault(g, set())
                s.update(int(v) for v in sub.unique())
                if len(s) > 8 * k:          # bounded partition state
                    sets[g] = set(sorted(s)[:k])
        yield pd.DataFrame(
            [{"grp": g, "hs": sorted(s)[:k]} for g, s in sets.items()],
            columns=["grp", "hs"])

    part = h.mapInPandas(kmin, "grp string, hs array<long>")
    return part.groupBy("grp").agg(
        F.slice(F.array_sort(F.array_distinct(
            F.flatten(F.collect_list("hs")))), 1, k).alias("hs"))


def kmv_overlap(docs: DataFrame, group_col: str = "lang",
                salt: str = "kmv1", k: int = KMV_K) -> DataFrame:
    """(grp_a, grp_b, est_a, est_b, est_inter, exact_inter): pairwise
    distinct-token cardinality AND intersection estimates between
    groups from their KMV sketches — the cross-corpus overlap audit
    (contamination screens, source-redundancy checks) that mergeable
    counters alone cannot answer.

    Estimator, all-integer so both engines agree bitwise: with a full
    sketch, D ~= (k-1) * 2^56 div h_k; a sketch with fewer than k
    distinct values IS its set (estimate = size, theta = 2^56).  For a
    pair, theta = least of the two h_k bounds and est_inter = |{h in
    both sketches, h < theta}| * 2^56 div theta (theta-sketch
    intersection).  exact_inter is gate-scale evidence — the exact
    side IS the vocabulary-cardinality shuffle the sketch avoids;
    production drops it.  The pair frame is groups^2 rows of k-long
    arrays — catalog-sized, driver-safe."""
    sk = kmv_sketches(docs, group_col, salt, k).select(
        "grp", "hs", F.size("hs").alias("n"),
        F.when(F.size("hs") < k, F.lit(_KMV_MAX))
         .otherwise(F.element_at("hs", k)).alias("kth"))
    est = F.when(F.col("n") < k, F.col("n").cast("long")).otherwise(
        F.expr(f"CAST({(k - 1) * _KMV_MAX} AS BIGINT) div kth"))
    sk = sk.select("grp", "hs", "kth", est.alias("est"))
    a, b = sk.alias("a"), sk.alias("b")
    pairs = (a.join(b, F.col("a.grp") < F.col("b.grp"))
             .select(F.col("a.grp").alias("grp_a"),
                     F.col("b.grp").alias("grp_b"),
                     F.col("a.est").alias("est_a"),
                     F.col("b.est").alias("est_b"),
                     F.least("a.kth", "b.kth").alias("theta"),
                     F.col("a.hs").alias("hs_a"),
                     F.col("b.hs").alias("hs_b")))
    matched = F.size(F.array_intersect(
        F.filter("hs_a", lambda x: x < F.col("theta")),
        F.filter("hs_b", lambda x: x < F.col("theta")))).cast("long")
    estim = pairs.select(
        "grp_a", "grp_b", "est_a", "est_b",
        F.expr(f"CAST({_KMV_MAX} AS BIGINT)").alias("mx"),
        matched.alias("matched"), "theta")
    tok = _spread(docs, min_bytes=2 << 20).select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col("text"), " "))
        .alias("token")).distinct()
    xa, xb = tok.alias("xa"), tok.alias("xb")
    exact = (xa.join(xb, (F.col("xa.token") == F.col("xb.token"))
                     & (F.col("xa.grp") < F.col("xb.grp")))
             .groupBy(F.col("xa.grp").alias("grp_a"),
                      F.col("xb.grp").alias("grp_b"))
             .agg(F.count("*").cast("long").alias("exact_inter")))
    return (estim
            .join(exact, ["grp_a", "grp_b"], "left")
            .select("grp_a", "grp_b", "est_a", "est_b",
                    F.expr("matched * mx div theta").alias("est_inter"),
                    F.coalesce("exact_inter", F.lit(0).cast("long"))
                    .alias("exact_inter")))


# ---------------------------------------------------------------------------
# embedding covariance: the distributed half of PCA / whitening
# ---------------------------------------------------------------------------

def embed_covariance(emb: DataFrame, group_col: str = "label",
                     vec_col: str = "embedding",
                     scale: int = 10 ** 6) -> DataFrame:
    """(label, i, j, n, sum_i, sum_j, sum_ij, cov_num): the exact
    integer second-moment table over micro-unit-quantized embedding
    components, upper triangle (1-based, i <= j) — the distributed
    input to PCA / whitening / Mahalanobis dedup radii.  The d x d
    eigendecomposition is a driver-side numpy call on this
    catalog-sized frame (d=64 -> 2080 rows); the CORPUS-side pass here
    is the only part that touches 10^12 rows.

    Engine-exactness contract: components quantize via floor(x * 10^6)
    on the float32->double widened value (floor is rounding-mode-free,
    unlike round's half-up/half-even split across engines); products
    and sums are integers; cov_num = n*sum_ij - sum_i*sum_j is
    computed in decimal(38,0)/hugeint so a 10^12-row sum cannot wrap.
    cov_num / (n*(n-1)) / 10^12 recovers the sample covariance in
    float, but that division happens in the CONSUMER (numpy), never in
    the gate.

    Scale shape: an Arrow kernel folds each task's rows to exact
    integer partial sums (n, S, X'X) per (label, row-length) — at most
    |labels| x d(d+1)/2 rows leave ANY partition — and the ONE exchange
    carries those bounded partials into a decimal(38,0) final sum.
    No self-join, no d^2 shuffle of the corpus.  (r6: this replaced an
    in-row pair explode — d(d+1)/2 structs per row ground through the
    hash aggregate; the partial sums are the same integers, just
    computed batch-at-a-time in numpy.  The f64 matmul is exact
    because every quantized component, product and running sum is an
    integer below 2^53 within a bounded row-chunk; chunks whose
    magnitudes could exceed that bound fall back to int64 matmul, and
    cross-batch accumulation is arbitrary-precision Python int.)"""
    base = emb.select(F.col(group_col).alias("label"),
                      F.col(vec_col).alias("v"))
    label_dt = base.schema["label"].dataType.simpleString()
    part_schema = (f"label {label_dt}, i int, j int, n long, "
                   "si decimal(38,0), sj decimal(38,0), sp decimal(38,0)")
    sc = float(scale)

    def kern(batches):
        import decimal

        import numpy as np
        import pyarrow as pa

        # (label, length) -> [n, S, P, cntS, cntP] — S/P object arrays
        # (exact bigints), cntS/cntP count NON-NULL contributions per
        # cell so an all-null cell stays NULL (sum-over-empty), exactly
        # the explode semantics; None partials compose through F.sum
        acc: dict = {}
        label_type = None

        def bump(key, m, S, P):
            st = acc.get(key)
            if st is None:
                L = len(S)
                acc[key] = [int(m), S.astype(object), P.astype(object),
                            np.full(L, int(m), dtype=object),
                            np.full((L, L), int(m), dtype=object)]
            else:
                st[0] += int(m)
                st[1] = st[1] + S.astype(object)
                st[2] = st[2] + P.astype(object)
                st[3] = st[3] + int(m)
                st[4] = st[4] + int(m)

        def slow_row(lb, comps):
            # exact per-row fallback for null components (sum skips
            # nulls, n still counts the row — the explode semantics)
            L = len(comps)
            key = (lb, L)
            st = acc.get(key)
            if st is None:
                st = acc[key] = [0, np.zeros(L, dtype=object),
                                 np.zeros((L, L), dtype=object),
                                 np.zeros(L, dtype=object),
                                 np.zeros((L, L), dtype=object)]
            st[0] += 1
            q = [None if x is None else int(np.floor(np.float64(x) * sc))
                 for x in comps]
            for i, qi in enumerate(q):
                if qi is None:
                    continue
                st[1][i] += qi
                st[3][i] += 1
                for j in range(i, L):
                    if q[j] is not None:
                        st[2][i][j] += qi * q[j]
                        st[4][i][j] += 1

        for batch in batches:
            lab_arr = batch.column(0)
            if label_type is None:
                label_type = lab_arr.type
            lab = lab_arr.to_pylist()
            va = batch.column(1)
            off = va.offsets.to_numpy()
            starts = off[:-1]
            lens = (off[1:] - off[:-1]).astype(np.int64)
            clean = va.null_count == 0 and va.values.null_count == 0
            if not clean:
                rows = va.to_pylist()
                for r, comps in enumerate(rows):
                    if comps is None:
                        comps = []
                    if any(x is None for x in comps):
                        slow_row(lab[r], comps)
                    else:
                        comps = np.asarray(comps, dtype=np.float64)
                        q = np.floor(comps * sc)
                        L = len(comps)
                        qi = q.astype(np.int64)
                        bump((lab[r], L), 1, qi,
                             np.triu(np.outer(qi, qi)))
                continue
            flat = va.values.to_numpy(zero_copy_only=False)
            q = np.floor(flat.astype(np.float64) * sc)
            groups: dict = {}
            for r in range(len(lab)):
                groups.setdefault((lab[r], int(lens[r])), []).append(r)
            for (lb, L), idx in groups.items():
                if L == 0:
                    bump((lb, 0), len(idx), np.zeros(0),
                         np.zeros((0, 0)))
                    continue
                ia = np.asarray(idx, dtype=np.int64)
                gather = (starts[ia][:, None]
                          + np.arange(L, dtype=np.int64)[None, :]).ravel()
                X = q[gather].reshape(len(ia), L)
                Xi = X.astype(np.int64)
                S = Xi.sum(axis=0)
                qmax = float(np.abs(X).max()) if X.size else 0.0
                m = len(ia)
                if qmax * qmax * m < float(2 ** 52):
                    P = np.triu((X.T @ X)).astype(np.int64)
                else:
                    # exact int64 path for out-of-f64-range magnitudes
                    P = np.triu(Xi.T @ Xi)
                bump((lb, L), m, S, P)

        if not acc:
            return
        by_label: dict = {}
        for (lb, L), st in acc.items():
            by_label.setdefault(lb, {})[L] = st
        cols: dict = {k: [] for k in
                      ("label", "i", "j", "n", "si", "sj", "sp")}
        for lb, by_len in by_label.items():
            lengths = sorted(by_len, reverse=True)
            lmax = lengths[0]
            cn = 0
            cS = np.zeros(lmax, dtype=object)
            cP = np.zeros((lmax, lmax), dtype=object)
            ccS = np.zeros(lmax, dtype=object)
            ccP = np.zeros((lmax, lmax), dtype=object)
            for kx, L in enumerate(lengths):
                st = by_len[L]
                cn += st[0]
                if L:
                    cS[:L] = cS[:L] + st[1]
                    cP[:L, :L] = cP[:L, :L] + st[2]
                    ccS[:L] = ccS[:L] + st[3]
                    ccP[:L, :L] = ccP[:L, :L] + st[4]
                lo = lengths[kx + 1] if kx + 1 < len(lengths) else 0
                # pair (i, j) aggregates rows with len >= j: exactly
                # the cumulative state once lengths >= L are folded in
                for j in range(lo + 1, L + 1):
                    for i in range(1, j + 1):
                        cols["label"].append(lb)
                        cols["i"].append(i)
                        cols["j"].append(j)
                        cols["n"].append(cn)
                        cols["si"].append(
                            decimal.Decimal(int(cS[i - 1]))
                            if ccS[i - 1] else None)
                        cols["sj"].append(
                            decimal.Decimal(int(cS[j - 1]))
                            if ccS[j - 1] else None)
                        cols["sp"].append(
                            decimal.Decimal(int(cP[i - 1, j - 1]))
                            if ccP[i - 1, j - 1] else None)
        dec = pa.decimal128(38, 0)
        yield pa.RecordBatch.from_arrays(
            [pa.array(cols["label"], type=label_type),
             pa.array(cols["i"], type=pa.int32()),
             pa.array(cols["j"], type=pa.int32()),
             pa.array(cols["n"], type=pa.int64()),
             pa.array(cols["si"], type=dec),
             pa.array(cols["sj"], type=dec),
             pa.array(cols["sp"], type=dec)],
            names=["label", "i", "j", "n", "si", "sj", "sp"])

    part = base.mapInArrow(kern, part_schema)
    agg = (part.groupBy("label", "i", "j")
           .agg(F.sum("n").alias("n"), F.sum("si").alias("si"),
                F.sum("sj").alias("sj"), F.sum("sp").alias("sp")))
    return agg.select(
        "label", "i", "j", F.col("n").cast("long").alias("n"),
        F.col("si").cast("bigint").alias("sum_i"),
        F.col("sj").cast("bigint").alias("sum_j"),
        F.col("sp").cast("bigint").alias("sum_ij"),
        (F.col("n").cast("decimal(38,0)") * F.col("sp")
         - F.col("si") * F.col("sj")).cast("decimal(38,0)")
        .alias("cov_num"))


def kmv_merge_check(docs: DataFrame, group_col: str = "lang",
                    salt: str = "kmv1", k: int = KMV_K) -> DataFrame:
    """(grp, est): distinct-token estimates obtained by sketching TWO
    disjoint corpus halves independently and merging the sketches —
    the exact path a snapshot-incremental catalog takes (sketch each
    commit wave, merge at read time).  k-min merge is LOSSLESS: the k
    smallest of (k-smallest-of-A ∪ k-smallest-of-B) are the k smallest
    of A ∪ B, so the merged estimate must equal the whole-corpus
    estimate bit-for-bit — the oracle computes the whole-corpus side
    directly, making the gate a cross-engine proof of the merge
    identity rather than a replay of the same computation.

    Scale shape: two bounded sketch frames (groups x k longs each)
    union and re-fold with the same flatten -> distinct -> sort ->
    slice combiner; nothing here ever exceeds catalog size."""
    halves = [
        kmv_sketches(docs.filter(F.col("doc_id") % 2 == i),
                     group_col, salt, k)
        for i in (0, 1)
    ]
    merged = (halves[0].unionByName(halves[1])
              .groupBy("grp")
              .agg(F.slice(F.array_sort(F.array_distinct(
                  F.flatten(F.collect_list("hs")))), 1, k).alias("hs")))
    sk = merged.select(
        "grp", F.size("hs").alias("n"),
        F.when(F.size("hs") < k, F.lit(_KMV_MAX))
         .otherwise(F.element_at("hs", k)).alias("kth"))
    est = F.when(F.col("n") < k, F.col("n").cast("long")).otherwise(
        F.expr(f"CAST({(k - 1) * _KMV_MAX} AS BIGINT) div kth"))
    return sk.select("grp", est.alias("est"))


# ---------------------------------------------------------------------------
# PCA basis + projection: the consumer of embed_covariance
# ---------------------------------------------------------------------------

def pca_basis(emb: DataFrame, r: int = 8, vec_col: str = "embedding",
              scale: int = 10 ** 6):
    """(mean, W, evals): eigendecomposition of the sample covariance
    reconstructed from embed_covariance's exact integer frame — the
    driver-side numpy half that frame exists to feed.  Returns the
    component mean (original units), the top-r eigenvector matrix W
    (r x d, rows = components, descending eigenvalue) and the r
    eigenvalues.

    Sign convention (so the basis is a deterministic artifact, not an
    eigh quirk): each eigenvector's largest-|component| entry is made
    positive (first index on ties).  The collect here is the
    catalog-sized d(d+1)/2 covariance frame (d=64 -> 2080 rows) —
    bounded by dimensionality, never by corpus size.
    """
    import numpy as np

    one = emb.select(F.lit(0).alias("g"), F.col(vec_col).alias("v"))
    rows = embed_covariance(one, group_col="g", vec_col="v",
                            scale=scale).collect()
    d = max(row["j"] for row in rows)
    n = rows[0]["n"]
    mean = np.zeros(d)
    cov = np.zeros((d, d))
    denom = float(n) * (n - 1) * scale * scale
    for row in rows:
        i, j = row["i"] - 1, row["j"] - 1
        if i == j:
            mean[i] = float(row["sum_i"]) / n / scale
        c = float(row["cov_num"]) / denom
        cov[i, j] = c
        cov[j, i] = c
    evals, evecs = np.linalg.eigh(cov)      # ascending
    order = np.argsort(evals)[::-1][:r]
    W = evecs[:, order].T                   # r x d
    for ri in range(W.shape[0]):
        peak = int(np.argmax(np.abs(W[ri])))
        if W[ri, peak] < 0:
            W[ri] = -W[ri]
    return mean, W, evals[order]


def pca_project(emb: DataFrame, r: int = 8, vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """(vec_id, proj array<double> length r): center-and-project every
    embedding onto the pca_basis components — whitening/compaction
    before downstream ANN or Mahalanobis-radius dedup.

    Scale shape: the basis is a driver artifact (r x d doubles) shipped
    in the kernel closure; projection is ONE narrow Arrow kernel over
    the corpus — no exchange, no join, the exact stage profile of
    pq_encode.  Non-SQL-expressible consumer (eigendecomposition), so
    its gates are pytest properties: W orthonormal, projected
    covariance diagonal == eigenvalues, variance non-increasing."""
    import numpy as np

    mean, W, _ = pca_basis(emb, r, vec_col)
    mean_l, wt = mean, W.T.copy()           # d x r for the matmul

    @F.pandas_udf("array<double>")
    def kern(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(e.to_numpy()).astype(np.float64)
        out = (x - mean_l) @ wt
        return pd.Series(list(out))

    return emb.select(F.col(id_col).alias("vec_id"),
                      kern(F.col(vec_col)).alias("proj"))


def url_registrable(pages: DataFrame, psl: tuple = PSL_SNAPSHOT,
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, url, host, domain): every url mapped to its
    REGISTRABLE domain (one label left of the longest matching public
    suffix) — the per-url form registrable_domains aggregates away.
    Bare-suffix hosts drop (no registrant), like the rollup.

    Same scale shape as registrable_domains: bounded dot-suffix
    explode -> broadcast equi-join on suffix -> max_by back to url
    granularity; narrow, no corpus-wide exchange."""
    host = F.lower(F.regexp_extract(
        F.regexp_replace(F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://",
                         ""), "^([^/:?]*)", 1))
    base = pages.select(F.col(id_col).alias("doc_id"), "url",
                        host.alias("host"))
    sufs = base.select(
        "doc_id", "url", "host",
        F.explode(_host_suffixes(F.col("host"))).alias("suf"))
    pslf = pages.sparkSession.createDataFrame(
        [(s, s.count(".") + 1) for s in psl], "suf string, nsuf int")
    best = (sufs.join(F.broadcast(pslf), "suf")
            .groupBy("doc_id", "url", "host")
            .agg(F.max_by(F.struct("nsuf", "suf"), "nsuf").alias("m")))
    labels = F.split(F.col("host"), "\\.")
    n = F.size(labels)
    return (best
            .select("doc_id", "url", "host",
                    F.col("m.nsuf").alias("nsuf"))
            .filter(n > F.col("nsuf"))
            .select("doc_id", "url", "host",
                    F.array_join(
                        F.slice(labels, n - F.col("nsuf"),
                                F.col("nsuf") + 1), ".").alias("domain")))


def domain_budget(pages: DataFrame, budget: int = 3,
                  psl: tuple = PSL_SNAPSHOT,
                  id_col: str = "doc_id") -> DataFrame:
    """(url, domain, depth, slot): per-REGISTRANT crawl-budget
    admission — the frontier_schedule politeness idea re-keyed from
    host to registrable domain, which is the level a budget must bind
    at: a spam registrant sharding itself across a.site.com,
    b.site.com, ... multiplies its HOST budget by the shard count but
    cannot move its DOMAIN budget at all (PSL longest-match keeps
    github.io pages per-REGISTRANT, not per-suffix).  Within a domain,
    shallower paths rank first (homepage proximity: depth = path
    segments), ties break by url for a total engine-portable order;
    slot = position in the domain's queue, rows past ``budget`` drop.

    Scale shape: url_registrable's narrow broadcast-join domain map,
    then ONE window partitioned by domain — the budget queue is the
    parallelism unit (frontier_schedule's argument), and the window's
    partition size is bounded by the very budget it enforces in any
    steady-state recrawl."""
    path = F.regexp_replace(
        F.regexp_replace(F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://",
                         ""), "^[^/]*", "")
    depth = (F.size(F.split(path, "/")) - 1).cast("int")
    mapped = url_registrable(pages, psl, id_col).select(
        "url", "domain", F.greatest(depth, F.lit(0)).alias("depth"))
    w = Window.partitionBy("domain").orderBy("depth", "url")
    return (mapped
            .withColumn("slot", F.row_number().over(w).cast("int"))
            .filter(F.col("slot") <= budget))


def robots_crawl_delay(robots: DataFrame,
                       agent: str = ROBOTS_AGENT) -> DataFrame:
    """(host, delay_ms): the politeness interval each host asks for —
    the first VALID Crawl-delay in the agent's selected robots group
    (exact-agent groups win over '*', robots_rules' §2.2.1 pick),
    seconds -> milliseconds through decimal(10,3) so '2.5' is exactly
    2500 on every engine.  Hosts with no valid directive are absent
    (the consumer coalesces its default).

    Crawl-delay is not in RFC 9309's ABNF, so robots_rules treats it
    as transparent; HERE it is a first-class group member (it closes
    User-agent accumulation like a rule line — the common-crawler
    reading), and the invalid-value guard is the same ASCII-digit
    try-gate the CDX numerics use: a malformed value drops the LINE,
    never the host's other directives, never the job.

    Scale shape: robots bodies are KB-sized and host-keyed; the parse
    is posexplode + two host-partitioned windows + one host-sized
    aggregation — robots_rules' exact cost profile."""
    lines = robots.select(
        "host", F.posexplode(F.split(
            F.regexp_replace(F.col("robots_txt"), "\r", ""), "\n"))
        .alias("line_no", "raw"))
    clean = F.trim(F.regexp_replace(F.col("raw"), "#.*", ""))
    field = F.lower(F.regexp_extract(clean, r"^([A-Za-z-]+)\s*:", 1))
    value = F.trim(F.regexp_extract(clean, r"^[A-Za-z-]+\s*:\s*(.*)$", 1))
    p = (lines.select(
        "host", "line_no", field.alias("field"), value.alias("value"))
        .filter(F.col("field").isin("user-agent", "allow",
                                    "disallow", "crawl-delay")))
    w = Window.partitionBy("host").orderBy("line_no")
    grouped = p.withColumn(
        "group_id",
        F.sum(((F.col("field") == "user-agent")
               & ~F.coalesce(F.lag(F.col("field") == "user-agent")
                             .over(w), F.lit(False))).cast("int"))
        .over(w))
    uas = (grouped.filter(F.col("field") == "user-agent")
           .groupBy("host", "group_id")
           .agg(F.max((F.lower(F.col("value")) == agent.lower())
                      .cast("int")).alias("named"),
                F.max((F.col("value") == "*").cast("int"))
                .alias("star")))
    pick = uas.groupBy("host").agg(F.max("named").alias("has_named"))
    chosen = (uas.join(pick, "host")
              .filter((F.col("has_named") == 1) & (F.col("named") == 1)
                      | (F.col("has_named") == 0)
                      & (F.col("star") == 1))
              .select("host", "group_id"))
    cd = (grouped
          .filter((F.col("field") == "crawl-delay")
                  & F.col("value").rlike(r"^[0-9]{1,6}(\.[0-9]{1,3})?$")))
    ms = (F.col("value").cast("decimal(10,3)") * 1000).cast("long")
    return (cd.join(chosen, ["host", "group_id"])
            .groupBy("host")
            .agg(F.min_by(ms, F.col("line_no")).alias("delay_ms")))


def fetch_plan(pages: DataFrame, robots: DataFrame, budget: int = 3,
               agent: str = ROBOTS_AGENT, default_delay_ms: int = 1000,
               psl: tuple = PSL_SNAPSHOT,
               id_col: str = "doc_id") -> DataFrame:
    """(url, domain, host, depth, slot, delay_ms, offset_ms): the
    WHEN of the crawl loop — domain_budget's registrant queues turned
    into dispatch times by each host's robots Crawl-delay.  The loop
    is now closed end-to-end: robots says what MAY be fetched,
    sitemaps/feeds what EXISTS, CDX what WAS fetched, domain_budget
    how MUCH per registrant, and this plan WHEN: offset_ms =
    (slot - 1) * delay_ms, hosts without a directive at the crawler's
    default interval.

    Scale shape: url_registrable's narrow broadcast-PSL domain map,
    ONE window per domain queue, then a host-keyed shuffle-hash join
    to the host-sized delay table (never broadcast — hosts are
    billions at crawl scale)."""
    path = F.regexp_replace(
        F.regexp_replace(F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://",
                         ""), "^[^/]*", "")
    m = url_registrable(pages, psl, id_col).withColumn(
        "depth", F.greatest(
            (F.size(F.split(path, "/")) - 1).cast("int"), F.lit(0)))
    w = Window.partitionBy("domain").orderBy("depth", "url")
    q = (m.select("url", "host", "domain", "depth")
         .withColumn("slot", F.row_number().over(w).cast("int"))
         .filter(F.col("slot") <= budget))
    delays = robots_crawl_delay(robots, agent)
    delay = F.coalesce(F.col("delay_ms"),
                       F.lit(default_delay_ms)).cast("long")
    return (q.join(delays.hint("shuffle_hash"), "host", "left")
            .select("url", "domain", "host", "depth", "slot",
                    delay.alias("delay_ms"),
                    ((F.col("slot") - 1) * delay).alias("offset_ms")))


def bitext_mine(emb: DataFrame, src_lang: str, tgt_lang: str,
                k: int = 4, bits: int = 8, margin_bp: int = 10000,
                bucket_cap: int = ANN_BUCKET_CAP,
                lang_col: str = "lang") -> DataFrame:
    """(src_id, tgt_id, cos_micro, margin_bp): margin-based parallel-
    pair mining across two languages (Artetxe & Schwenk 2019's ratio
    margin, the CCMatrix/LASER bitext recipe) — for each source
    vector, its best target candidate scored by how much it stands
    OUT of both vectors' neighborhoods, not by raw cosine:
    margin = cos(x,y) / ((mean cos of x's top-k) + (mean cos of y's
    top-k)) / 2).  Raw-cosine mining keeps "hub" vectors that are
    near EVERYTHING; the denominator demotes them.

    Exactness contract: cosine fixes to integer micros once
    (round(round(raw,6)*1e6)), then the margin is pure bigint —
    2*cos*kx*ky*10^4 div (sx*ky + sy*kx) — so ranks and the emitted
    basis points are engine-bitwise.  Only positive-cosine candidates
    enter (keeps the denominator positive; anti-parallel vectors are
    not translation candidates).

    Scale shape: neighborhoods are the SRP-LSH candidate sets — both
    languages hash through ONE shared hyperplane table, exact cosine
    runs only inside co-bucketed cross-lang pairs (bucket_cap skew
    guard, sub-quadratic like embed_near_dup_pairs), and the top-k /
    margin statistics are windows + aggregates over the PAIR frame
    (threshold-bounded, ≪ corpus), with the per-src and per-tgt stats
    shuffle-hash joined back.  Vectors never enter an exchange after
    the one bucket shuffle."""
    dims = emb.select(F.size("embedding")).first()[0]
    signs = _srp_sign_matrix(bits, dims)
    staged = (emb.select("vec_id", F.col(lang_col).alias("lang"),
                         "embedding")
              .filter(F.col("lang").isin(src_lang, tgt_lang))
              .withColumn("norm", F.sqrt(_dot(F.col("embedding"),
                                              F.col("embedding"))))
              .withColumn("bucket", _srp_bucket_col(signs))
              .localCheckpoint())
    ok = (staged.groupBy("bucket").count()
          .filter(F.col("count") <= bucket_cap).select("bucket"))
    side = staged.join(F.broadcast(ok), "bucket", "left_semi")
    # r6: cross-lang pair dots run bucket-at-a-time in the numpy
    # kernel (the semantic_dedup pattern) — the shuffle-hash join form
    # ground one interpreted zip_with/aggregate per pair (measured
    # ~6M pairs at the 10x probe = the whole query's cost); round-6,
    # micro-fix and the >0 cut stay ENGINE-side on the kernel's
    # bitwise-identical dot/na/nb columns
    cosm = F.round(F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
                   * 1000000, 0).cast("long")
    # candidates read three times (fw stats, bw stats, margin join)
    cand = (_bucket_cross_dot_candidates(side, src_lang, tgt_lang)
            .withColumn("cos_micro", cosm)
            .filter(F.col("cos_micro") > 0)
            .select("src_id", "tgt_id", "cos_micro")
            .localCheckpoint())
    wf = Window.partitionBy("src_id").orderBy(F.col("cos_micro").desc(),
                                              "tgt_id")
    fstat = (cand.withColumn("rf", F.row_number().over(wf))
             .filter(F.col("rf") <= k)
             .groupBy("src_id").agg(F.sum("cos_micro").alias("sx"),
                                    F.count("*").alias("kx")))
    wb = Window.partitionBy("tgt_id").orderBy(F.col("cos_micro").desc(),
                                              "src_id")
    bstat = (cand.withColumn("rb", F.row_number().over(wb))
             .filter(F.col("rb") <= k)
             .groupBy("tgt_id").agg(F.sum("cos_micro").alias("sy"),
                                    F.count("*").alias("ky")))
    m = (cand.join(fstat.hint("shuffle_hash"), "src_id")
         .join(bstat.hint("shuffle_hash"), "tgt_id")
         .withColumn("margin_bp",
                     F.expr("(2 * cos_micro * kx * ky * 10000) "
                            "div (sx * ky + sy * kx)")))
    wbest = Window.partitionBy("src_id").orderBy(
        F.col("margin_bp").desc(), F.col("cos_micro").desc(), "tgt_id")
    return (m.withColumn("r", F.row_number().over(wbest))
            .filter((F.col("r") == 1) & (F.col("margin_bp") >= margin_bp))
            .select("src_id", "tgt_id", "cos_micro", "margin_bp"))


def surt_col(url):
    """Column-level SURT canonicalization — the engine twin of the
    CDX writer's sources.surt_key (kept rule-identical; its docstring
    is the contract): 'com,example)/path?query' with reversed
    lowercase host labels, default ports dropped, non-default ports
    kept after the labels, bare hosts gaining '/'.  Non-http(s)
    schemes pass through unchanged.  Pure built-in regex/array
    expressions — narrow, codegen'd, the key derivation side of any
    sitemap/frontier-to-CDX join."""
    u = F.coalesce(url, F.lit(""))
    scheme = F.lower(F.regexp_extract(u, r"(?i)^(https?)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"(?i)^https?://([^/?#]*)", 1))
    host = F.regexp_extract(hostport, r"^([^:]*)", 1)
    port = F.regexp_extract(hostport, r"^[^:]*:(.*)$", 1)
    rest = F.regexp_extract(u, r"(?i)^https?://[^/?#]*([^#]*)", 1)
    key = F.array_join(F.reverse(F.split(host, "\\.")), ",")
    default = (((scheme == "http") & (port == "80"))
               | ((scheme == "https") & (port == "443")))
    keyp = F.when((port != "") & ~default,
                  F.concat(key, F.lit(":"), port)).otherwise(key)
    out = F.concat(keyp, F.lit(")"),
                   F.when(rest == "", F.lit("/")).otherwise(rest))
    return F.when(scheme == "", u).otherwise(out)


def sitemap_recrawl(entries: DataFrame, latest: DataFrame) -> DataFrame:
    """(host, url, surt, lastmod14, last_capture_ts, priority_micro,
    reason): the sitemap->CDX refetch plan — what a polite crawler
    actually fetches on a recrawl pass.  Joins parse_sitemaps' entry
    list (what the site SAYS exists/changed) against cdx_latest's
    per-SURT newest capture (what the archive HAS) and emits only the
    urls worth fetching: reason='new' (never captured) or 'modified'
    (a parseable <lastmod>, normalized to the CDX 14-digit form,
    strictly newer than the last capture).  Unchanged urls, urls
    whose lastmod equals the capture instant, and entries with no/
    unparseable lastmod but an existing capture are NOT emitted —
    <lastmod> is a hint, and the conservative side of an unparseable
    hint is "don't refetch" (cdx_revisit's change_bp drives refresh
    of those).

    lastmod normalization accepts the two W3C forms sitemaps actually
    serve — date-only and full UTC 'Z' timestamps (fractional seconds
    dropped) — as pure string surgery: strip non-digits, right-pad
    with zeros to 14.  Offset forms (+hh:mm) would need timezone
    arithmetic to compare against CDX UTC stamps, so they are treated
    as absent rather than compared wrongly.

    Scale shape: surt derivation and lastmod normalization are narrow
    projections; ONE shuffle each side for the surt equi-join (both
    sides are corpus-scale — nothing broadcasts); the emitted plan is
    bounded by the change rate, not the sitemap size."""
    lm = F.col("lastmod")
    valid = lm.rlike(
        r"^\d{4}-\d{2}-\d{2}(T\d{2}:\d{2}:\d{2}(\.\d+)?Z)?$")
    digits = F.regexp_replace(lm, "[^0-9]", "")
    lm14 = F.when(valid,
                  F.substring(F.concat(digits, F.lit("000000")), 1, 14))
    e = entries.select("host", "url", "priority_micro",
                       surt_col(F.col("url")).alias("surt"),
                       lm14.alias("lastmod14"))
    j = e.join(latest.select("surt",
                             F.col("ts").alias("last_capture_ts")),
               "surt", "left")
    reason = (F.when(F.col("last_capture_ts").isNull(), F.lit("new"))
              .when(F.col("lastmod14") > F.col("last_capture_ts"),
                    F.lit("modified")))
    return (j.withColumn("reason", reason)
            .filter(F.col("reason").isNotNull())
            .select("host", "url", "surt", "lastmod14",
                    "last_capture_ts", "priority_micro", "reason"))


def c4_span_dedup(docs: DataFrame,
                  broadcast_cap: int = LINE_BROADCAST_CAP) -> DataFrame:
    """(doc_id, clean_text, kept_sents, dropped_sents): C4's corpus-
    level three-sentence-span dedup (Raffel et al. 2020 section 2.2 —
    "discarded all but one of any three-sentence span occurring more
    than once"): every window of three consecutive sentences hashes;
    the first occurrence (min (doc_id, position)) survives, every
    other occurrence drops its three sentences, and documents
    reassemble from the surviving sentences in order.  Complements
    line_dedup (df-capped single segments) — a span must recur only
    TWICE to be cut, but needs three sentences of exact agreement, so
    the two rules catch different boilerplate.

    Scale shape: the span stream that shuffles on hash carries
    (doc_id, i, md5) ONLY — sentence text never enters that exchange;
    the survivor pick is one agg + a co-partitioned shuffle-hash join
    back.  Removed positions (bounded by the DUPLICATED span count,
    not the corpus) stage via localCheckpoint and size-gate: broadcast
    under the cap, shuffle-hash fallback above (line_dedup's
    protocol).  Text crosses exactly one exchange — the per-doc
    reassembly groupBy (the line_dedup budget)."""
    base = _spread(docs).select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\. ").alias("s"))
    idx = F.when(F.size("s") >= 3,
                 F.sequence(F.lit(0), F.size("s") - 3)
                 ).otherwise(F.array().cast("array<int>"))
    sep = "\x01"   # unambiguous joint: sentences never contain \x01
    span_h = F.transform(
        idx, lambda i: F.md5(F.concat_ws(
            sep, F.get(F.col("s"), i), F.get(F.col("s"), i + 1),
            F.get(F.col("s"), i + 2))))
    occ = base.select("doc_id", F.posexplode(span_h).alias("i", "h"))
    surv = occ.groupBy("h").agg(F.min(F.struct("doc_id", "i")).alias("m"),
                                F.count("*").alias("n"))
    rem = (occ.join(surv.hint("shuffle_hash"), "h")
           .filter((F.col("n") > 1)
                   & ((F.col("doc_id") != F.col("m.doc_id"))
                      | (F.col("i") != F.col("m.i"))))
           .select("doc_id",
                   F.explode(F.array(F.col("i"), F.col("i") + 1,
                                     F.col("i") + 2)).alias("pos"))
           .distinct()
           .localCheckpoint())
    small = rem.count() <= broadcast_cap
    hint = F.broadcast if small else (lambda df: df.hint("shuffle_hash"))
    sents = base.select("doc_id", F.posexplode("s").alias("pos", "sent"))
    marked = sents.join(hint(rem.withColumn("rm", F.lit(1))),
                        ["doc_id", "pos"], "left")
    kept = F.when(F.col("rm").isNull(), F.struct("pos", "sent"))
    return (marked.groupBy("doc_id")
            .agg(F.array_join(
                     F.transform(F.array_sort(F.collect_list(kept)),
                                 lambda s: s["sent"]), ". ")
                 .alias("clean_text"),
                 F.sum(F.when(F.col("rm").isNull(), 1).otherwise(0))
                 .cast("int").alias("kept_sents"),
                 F.sum(F.when(F.col("rm").isNotNull(), 1).otherwise(0))
                 .cast("int").alias("dropped_sents")))


CARD_RE = r"\b\d(?:[ -]?\d){12,18}\b"   # 13-19 digits, space/dash joints


def pii_card_scrub(docs: DataFrame) -> DataFrame:
    """(doc_id, text_scrubbed, n_cards, n_rejected): payment-card
    redaction — the CHECKSUM-conditional tier above pii_scrub's
    pattern tier.  Candidate digit runs (13-19 digits with optional
    single space/dash joints, the physical card formats) are admitted
    only when their digits pass the Luhn mod-10 check, so order
    numbers and timestamps that merely LOOK card-shaped survive;
    every occurrence of a confirmed value is replaced with <CARD> —
    by VALUE, not by position, because once a string is known to be a
    card number it is PII wherever it appears.

    All built-ins, zero shuffle: one regexp_extract_all, a Luhn fold
    per candidate (reversed digits, double-every-second with the
    mod-9 carry), and an aggregate() fold of literal replaces over
    the per-doc confirmed set — the pii_scrub scale shape with a
    checksum in the middle.  The regex stays in the RE2/Java-common
    subset so the oracle runs the identical rule."""
    t = F.coalesce(F.col("text"), F.lit(""))
    cands = F.array_distinct(F.regexp_extract_all(t, F.lit(CARD_RE), 0))

    def luhn_ok(c):
        rev = F.reverse(F.regexp_replace(c, "[ -]", ""))
        term = lambda i: F.when(
            i % 2 == 1, F.ascii(F.substring(rev, i, 1)) - 48
        ).otherwise(
            ((F.ascii(F.substring(rev, i, 1)) - 48) * 2) % 9
            + F.when((F.ascii(F.substring(rev, i, 1)) - 48) == 9,
                     F.lit(9)).otherwise(F.lit(0)))
        s = F.aggregate(F.sequence(F.lit(1), F.length(rev)),
                        F.lit(0), lambda acc, i: acc + term(i))
        return s % 10 == 0

    good = F.filter(cands, luhn_ok)
    scrubbed = F.aggregate(good, t,
                           lambda acc, c: F.replace(acc, c,
                                                    F.lit("<CARD>")))
    return docs.select(
        "doc_id", scrubbed.alias("text_scrubbed"),
        F.size(good).cast("int").alias("n_cards"),
        (F.size(cands) - F.size(good)).cast("int").alias("n_rejected"))


def corpus_drift(old: DataFrame, new: DataFrame,
                 key_col: str = "lang") -> DataFrame:
    """(key, old_docs, new_docs, old_tokens, new_tokens, old_ppm,
    new_ppm, delta_ppm, js_micro): distribution drift between two
    corpus snapshots keyed by ``key_col`` — the dataset-card diff a
    recrawl publishes next to its CDC increment (did this crawl tilt
    the language mix?  which sources surged?).  Shares are EXACT
    integer parts-per-million (tokens*10^6 div side total), so the
    headline delta column is engine-bitwise; js_micro is each key's
    Jensen-Shannon contribution, computed from those exact ppm
    integers and rounded to micro-nats under the lm_perplexity ln
    contract (one rounded ln per key, never summed before rounding).
    Keys absent from one side carry zero counts and a pure
    half-relative-entropy term.

    Scale shape: one map-side-combined groupBy per side at key
    cardinality, a broadcast 1-row totals frame each, and a key-level
    outer join — catalog-sized everywhere after the two aggregations;
    text reduces to a token count in the scan projection."""
    def side(df, tag):
        toks = F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        g = (df.groupBy(F.coalesce(F.col(key_col), F.lit(""))
                        .alias("key"))
             .agg(F.count("*").alias(f"{tag}_docs"),
                  F.sum(toks).alias(f"{tag}_tokens")))
        tot = g.agg(F.sum(f"{tag}_tokens").alias(f"{tag}_total"))
        return (g.crossJoin(F.broadcast(tot))
                .withColumn(f"{tag}_ppm",
                            F.expr(f"{tag}_tokens * 1000000 "
                                   f"div {tag}_total"))
                .drop(f"{tag}_total"))
    j = (side(old, "old").join(side(new, "new"), "key", "full_outer")
         .select("key",
                 *[F.coalesce(F.col(c), F.lit(0)).alias(c)
                   for c in ("old_docs", "new_docs", "old_tokens",
                             "new_tokens", "old_ppm", "new_ppm")]))
    p = F.col("old_ppm").cast("double") / 1000000.0
    q = F.col("new_ppm").cast("double") / 1000000.0
    m = (p + q) / 2.0
    xlx = (lambda v: F.when(v > 0, v * F.log(v / m)).otherwise(F.lit(0.0)))
    js = F.round((xlx(p) + xlx(q)) * 500000.0, 0).cast("long")
    return j.select("key", "old_docs", "new_docs", "old_tokens",
                    "new_tokens", "old_ppm", "new_ppm",
                    (F.col("new_ppm") - F.col("old_ppm"))
                    .alias("delta_ppm"),
                    js.alias("js_micro"))


def script_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, n_latin, n_cyrillic, n_cjk, n_arabic, dominant):
    Unicode-script histogram + dominant script per document — the
    script-detection stage ahead of lang_id (a Cyrillic page should
    never reach a Latin-alphabet language model, and mixed-script
    spam shows up as a flat histogram).  Counts are per-codepoint
    over four high-coverage ranges (basic+extended Latin, Cyrillic,
    CJK unified, Arabic); the dominant pick is a fixed CASE chain
    (latin >= cyrillic >= cjk >= arabic on ties, 'none' when all
    zero) so the label is engine-exact without argmax machinery.

    Pure regexp_count projections — zero shuffle, scan-speed at
    100 TB (lang_id's shape).  Ranges are written as LITERAL
    endpoint characters (U+00C0-U+024F, U+0400-U+04FF,
    U+4E00-U+9FFF, U+0600-U+06FF), the one spelling Java regex and
    RE2 read identically — \\uXXXX vs \\x{XXXX} escape syntax
    diverges between the engines."""
    t = F.coalesce(F.col("text"), F.lit(""))
    lat = F.regexp_count(t, F.lit("[A-Za-zÀ-ɏ]"))
    cyr = F.regexp_count(t, F.lit("[Ѐ-ӿ]"))
    cjk = F.regexp_count(t, F.lit("[一-鿿]"))
    ara = F.regexp_count(t, F.lit("[؀-ۿ]"))
    out = docs.select("doc_id",
                      lat.cast("long").alias("n_latin"),
                      cyr.cast("long").alias("n_cyrillic"),
                      cjk.cast("long").alias("n_cjk"),
                      ara.cast("long").alias("n_arabic"))
    l, c, k, a = (F.col("n_latin"), F.col("n_cyrillic"),
                  F.col("n_cjk"), F.col("n_arabic"))
    dom = (F.when((l >= c) & (l >= k) & (l >= a) & (l > 0), "latin")
           .when((c >= k) & (c >= a) & (c > 0), "cyrillic")
           .when((k >= a) & (k > 0), "cjk")
           .when(a > 0, "arabic")
           .otherwise("none"))
    return out.withColumn("dominant", dom)


def quality_pr_sweep(scored: DataFrame,
                     resolution: int = 10000) -> DataFrame:
    """(bucket, thr_micro, n_pos, n_neg, tp, fp, fn, tn,
    precision_bp, recall_bp): the operating-curve sweep every quality
    classifier needs before its threshold ships — for each score
    bucket, the confusion matrix of the rule "admit iff score >=
    bucket floor" against a reference label, with precision/recall in
    exact basis points.  Input: (doc_id, score_micro, label) from any
    scorer (nb_quality margins, lm_perplexity means, dsir weights)
    judged against any reference rule (gopher pass, c4 pass, human
    sample).

    Scale shape: the corpus collapses to a BOUNDED score histogram
    first (micro-score div ``resolution`` — the ccnet_buckets move:
    one map-side-combined shuffle at histogram cardinality), and the
    cumulative confusion sweep is a window over HISTOGRAM CELLS, not
    documents — the len_quantiles convention: a single-partition
    window is fine when the frame is catalog-sized by construction.
    Totals ride a broadcast 1-row frame."""
    b = F.floor(F.col("score_micro") / resolution).cast("long")
    g = (scored.groupBy(b.alias("bucket"))
         .agg(F.sum(F.when(F.col("label"), 1).otherwise(0))
              .alias("n_pos"),
              F.sum(F.when(F.col("label"), 0).otherwise(1))
              .alias("n_neg")))
    tot = g.agg(F.sum("n_pos").alias("all_pos"),
                F.sum("n_neg").alias("all_neg"))
    w = (Window.orderBy(F.col("bucket").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (g.crossJoin(F.broadcast(tot))
           .withColumn("tp", F.sum("n_pos").over(w))
           .withColumn("fp", F.sum("n_neg").over(w)))
    return (cum.select(
        "bucket", (F.col("bucket") * resolution).alias("thr_micro"),
        "n_pos", "n_neg", "tp", "fp",
        (F.col("all_pos") - F.col("tp")).alias("fn"),
        (F.col("all_neg") - F.col("fp")).alias("tn"),
        F.expr("tp * 10000 div (tp + fp)").alias("precision_bp"),
        F.expr("CASE WHEN all_pos > 0 THEN tp * 10000 div all_pos "
               "ELSE 0 END").alias("recall_bp")))


def readability(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_sents, n_syl, fk_micro): Flesch-Kincaid
    grade-level readability in exact integer micro-units — the
    audience-difficulty quality signal (C4/Gopher-class pipelines keep
    prose in a readability band; pathological token soup and legalese
    both fall outside it).

    Counting contract (engine-exact, RE2 == Java regex on these
    patterns): words = space-separated tokens; sentences = count of
    [.!?] terminator characters, floored at 1 (headline-only docs
    count as one sentence); syllables ≈ maximal [aeiou]+ vowel runs
    (the classic cheap proxy).  Grade = 0.39·words/sents +
    11.8·syl/words − 15.59, carried as fk_micro =
    (390000·words) div sents + (11800000·syl) div words − 15590000 —
    integer division per document, bit-identical anywhere.

    Pure narrow projection over built-ins (split/regexp_replace/
    length): zero shuffle, zero Python; at 10^12 docs this rides the
    same scan as every other per-doc quality column."""
    t = F.col("text")
    words = F.size(F.split(t, " ")).cast("long")
    sents = F.greatest(
        F.lit(1).cast("long"),
        F.length(F.regexp_replace(t, r"[^.!?]", "")).cast("long"))
    syl = F.length(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), r"[aeiou]+", "\x01"),
            "[^\x01]", "")).cast("long")
    return (docs.select("doc_id", words.alias("n_words"),
                        sents.alias("n_sents"), syl.alias("n_syl"))
            .select("doc_id", "n_words", "n_sents", "n_syl",
                    F.expr("(390000 * n_words) div n_sents"
                           " + (11800000 * n_syl) div n_words"
                           " - 15590000").alias("fk_micro")))
