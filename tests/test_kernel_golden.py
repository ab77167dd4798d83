"""The kernel pinned by a frozen golden, independently of the kernel.

Every other identity test compares the job against ``extract_document``,
the same code, so a kernel rewrite would move that oracle with it.
``kernel_golden.json`` holds one sha256 per document over (status, fmt,
error, text, text_md, spans), written once from the kernel as it was and
never regenerated by these tests.  A change that alters any of those
columns for any document here fails, whichever path (the one-shot kernel,
the job's spread of oversized documents, or the cut chain) the document
takes.
"""

from __future__ import annotations

import hashlib
import json
import os

from webextract.extract import extract_document
from webextract.options import DEFAULT_OPTIONS
from webextract.synth import gen_page

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "kernel_golden.json")
SEED = 1
SPLIT_BYTES = 64 << 10
# (doc id, byte offset): torn payloads — empty, cut mid-tag, cut
# mid-PDF (id 3 is a mini-PDF), and a cut piece of the id-9 skew bomb
TRUNCATED = [(1, 0), (1, 100), (1, 1000), (3, 100), (3, 1000),
             (9, 100_000)]


def corpus() -> list[tuple[str, bytes]]:
    """(key, payload) for every pinned document: synth seed 1 ids
    0-299 (PDF, malformed, non-UTF-8 and empty-body pages and the id-9
    bomb), the ``giant_every=200`` variant's giant pages 0 and 200, the
    HTML tier's NASTY inputs and a few truncated synth pages."""
    from tests.test_htmlsplit import NASTY
    docs = [(f"synth/{i}", gen_page(i, SEED)["html"]) for i in range(300)]
    docs += [(f"giant200/{i}", gen_page(i, SEED, giant_every=200)["html"])
             for i in (0, 200)]
    docs += [(f"nasty/{j}", p) for j, p in enumerate(NASTY)]
    docs += [(f"trunc/{i}@{at}", gen_page(i, SEED)["html"][:at])
             for i, at in TRUNCATED]
    return docs


def digest(status, fmt, error, text, text_md, spans) -> str:
    """sha256 of the pinned columns; ``spans`` as (start, end, kind,
    path) tuples."""
    blob = json.dumps([status, fmt, error, text, text_md,
                       [list(s) for s in spans]])
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _golden() -> dict[str, str]:
    with open(GOLDEN) as f:
        return json.load(f)


def test_kernel_matches_golden():
    golden = _golden()
    docs = corpus()
    assert sorted(k for k, _ in docs) == sorted(golden)
    for key, payload in docs:
        x = extract_document(payload, url=key)
        got = digest(x.status, x.fmt, x.error, x.text, x.text_md, x.spans)
        assert got == golden[key], key


def _digests(rows) -> dict[str, str]:
    return {r.url: digest(r.status, r.fmt, r.error, r.text, r.text_md,
                          [(s.start, s.end, s.kind, s.path) for s in r.spans])
            for r in rows}


def _pages(spark):
    from webextract.docpages import PAGES_SCHEMA
    return spark.createDataFrame(
        [(k, None, p, "", "en") for k, p in corpus()], PAGES_SCHEMA)


def test_split_tier_job_matches_golden(spark, tmp_path):
    """The job's committed rows match the golden with the bomb and both
    giant pages spread to tasks of their own (split_bytes=64 KiB: a
    payload of at least 128 KiB is spread)."""
    from webextract.icetable import IceTable
    from webextract.pipeline import run_extract
    big = [k for k, p in corpus() if len(p) >= 2 * SPLIT_BYTES]
    assert {"synth/9", "giant200/0", "giant200/200"} <= set(big)
    root = str(tmp_path / "t")
    run_extract(spark, _pages(spark), root, partitions=4, waves=1,
                split_bytes=SPLIT_BYTES)
    rows = IceTable(root).read(spark).collect()
    assert len(rows) == len(corpus()) and _digests(rows) == _golden()


def test_cut_chain_matches_golden(spark):
    """The cut chain (split.tier_df) over the rows the job routes at
    split_bytes=64 KiB matches the golden: the bomb and both giant
    pages cut into pieces and merged."""
    from webextract.pipeline import oversized
    from webextract.split import tier_df
    routed = _pages(spark).filter(oversized(SPLIT_BYTES))
    got = _digests(tier_df(routed, DEFAULT_OPTIONS, SPLIT_BYTES).collect())
    golden = _golden()
    assert {"synth/9", "giant200/0", "giant200/200"} <= set(got)
    assert got == {k: golden[k] for k in got}
    assert set(got) == {k for k, p in corpus() if len(p) >= 2 * SPLIT_BYTES}
