"""Spark-vs-oracle byte-identity (the north_rule's core invariant).

The mapInArrow kernel must reproduce the pure-Python oracle
``extract_document`` byte-for-byte per url — text, markdown, spans —
on the deterministic synthetic corpus including skew bombs, PDFs,
malformed pages, and non-UTF8 payloads (FIXTURES.md §2 hard variants).
"""

import pyspark.sql.functions as F

from webextract.chunk import chunk_blocks_from_spans
from webextract.extract import extract_document
from webextract.options import DEFAULT_OPTIONS
from webextract.pipeline import chunks_df, extracted_df, with_part_id
from webextract.synth import gen_page, pages_df

N = 400


def test_pages_df_matches_gen_page(spark):
    rows = pages_df(spark, 50, parallelism=4).collect()
    assert len(rows) == 50
    by_url = {r.url: r for r in rows}
    for i in (0, 7, 49):
        p = gen_page(i)
        r = by_url[p["url"]]
        assert bytes(r.html) == p["html"]
        assert r.text == p["text"] and r.lang == p["lang"]
        assert r.warc_ts == p["warc_ts"]


def test_extract_byte_identity(spark):
    pages = pages_df(spark, N, parallelism=8)
    out = extracted_df(pages).collect()
    assert len(out) == N
    seen = set()
    for r in out:
        doc_id = int(r.url.rsplit("/", 1)[1].split(".")[0])
        seen.add(doc_id)
        o = extract_document(gen_page(doc_id)["html"], DEFAULT_OPTIONS, r.url)
        assert r.status == o.status, r.url
        assert r.text == o.text, r.url            # byte identity
        assert r.text_md == o.text_md, r.url
        assert r.n_blocks == o.n_blocks
        assert r.error == o.error
        got_spans = [(s.start, s.end, s.kind, s.path) for s in (r.spans or [])]
        assert got_spans == o.spans, r.url
    assert seen == set(range(N))


def test_extract_plan_shape(spark):
    """Plan sanity: no shuffle between repartition and kernel; naive
    `text` column pruned from the scan side of the plan."""
    pages = pages_df(spark, 10, parallelism=2)
    plan = extracted_df(pages)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert plan.count("Exchange") <= 4  # 2 tier repartitions (+AQE reads)


def test_chunk_kernel_identity(spark):
    pages = pages_df(spark, 80, parallelism=4)
    ex = extracted_df(pages)
    got = chunks_df(ex, "hybrid", 64).collect()
    # oracle
    want = {}
    for i in range(80):
        p = gen_page(i)
        o = extract_document(p["html"], DEFAULT_OPTIONS, p["url"])
        spans = [{"start": s, "end": e, "kind": k, "path": pt}
                 for (s, e, k, pt) in o.spans]
        for c in chunk_blocks_from_spans(o.text, spans, "hybrid", 64):
            want[(p["url"], c.idx)] = (c.text, c.heading, c.n_tokens)
    assert len(got) == len(want)
    for r in got:
        assert want[(r.url, r.chunk_idx)] == (r.chunk_text, r.heading,
                                              r.n_tokens)


def test_part_id_deterministic_and_balanced(spark):
    pages = with_part_id(pages_df(spark, 1000, parallelism=8), 64)
    counts = pages.groupBy("part_id").count().collect()
    assert len(counts) == 64                       # every partition hit
    sizes = [r["count"] for r in counts]
    mean = sum(sizes) / len(sizes)
    assert max(sizes) < 3 * mean                   # no hot partition
    # deterministic across evaluations
    a = pages.select("url", "part_id").orderBy("url").collect()
    b = pages.select("url", "part_id").orderBy("url").collect()
    assert a == b
