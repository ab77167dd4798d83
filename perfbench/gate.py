"""Correctness gate: the committed table of a timed job against the
generated corpus and the row-at-a-time oracle
``extract_document(gen_page(doc_id, seed, giant_every)["html"])``.  Runs outside
the timed region."""

from __future__ import annotations

import random
import re
from collections import Counter
from dataclasses import dataclass, field

from webextract.extract import extract_document
from webextract.synth import gen_page

_DOC_ID = re.compile(r"/(\d+)\.(?:html|pdf)$")
STATUSES = ("success", "partial_success", "failure", "skipped")
_LINEAGE = {"success": "num_succeeded", "partial_success": "num_partial",
            "failure": "num_failed", "skipped": "num_skipped"}
SAMPLE_RANDOM = 40


def is_bomb(doc_id: int) -> bool:
    return doc_id % 17001 == 9          # synth's pinned skew bombs


@dataclass
class Oracle:
    """The expected corpus: ``n`` docs, and for a deterministic sample
    of doc ids the oracle's (url, status, text)."""
    n: int
    sample: dict[int, tuple[str, str, str]]

    @classmethod
    def build(cls, n: int, seed: int, giant_every: int | None) -> "Oracle":
        rng = random.Random(f"perfbench-gate-{seed}-{n}-{giant_every}")
        ids = set(rng.sample(range(n), min(n, SAMPLE_RANDOM)))
        ids.update(i for i in range(n) if is_bomb(i))
        if giant_every:
            ids.update(range(0, n, giant_every)[:4])
        pdfs = [i for i in range(min(n, 200)) if not is_bomb(i)
                and gen_page(i, seed, giant_every)["url"].endswith(".pdf")]
        ids.update(pdfs[:3])
        sample = {}
        for i in sorted(ids):
            page = gen_page(i, seed, giant_every)
            r = extract_document(page["html"], url=page["url"])
            sample[i] = (page["url"], r.status, r.text)
        return cls(n, sample)


@dataclass
class Verdict:
    failed_docs: int = 0
    problems: list[str] = field(default_factory=list)
    tallies: dict[str, int] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.failed_docs and not self.problems


def lineage_tallies(table) -> dict[str, int]:
    """Status tallies the table's snapshots recorded at commit."""
    out = Counter()
    for snap in table.snapshots():
        for p in snap["partitions"]:
            for status, key in _LINEAGE.items():
                out[status] += p["counters"].get(key, 0)
    return {s: out[s] for s in STATUSES}


def check_frame(df, oracle: Oracle, lineage: dict[str, int],
                expect_tallies: dict[str, int] | None = None) -> Verdict:
    """Check the committed rows ``df`` (url, status, text ...):

    * every doc id 0..n-1 appears exactly once, and nothing else;
    * no ``failure`` status, and the status tallies equal what the
      snapshots recorded (and ``expect_tallies``, when given);
    * on the oracle sample, status and text are byte-identical.
    """
    from pyspark.sql import functions as F

    v = Verdict()
    bad: set[int] = set()
    counts: Counter = Counter()
    tallies: Counter = Counter()
    stray = 0
    urls = {url: doc for doc, (url, _, _) in oracle.sample.items()}
    sampled = F.col("url").isin(list(urls))
    rows = df.select("url", "status", sampled.alias("sampled"),
                     F.when(sampled, F.col("text")).alias("text")).collect()
    seen = Counter()
    for url, status, is_sampled, text in rows:
        if is_sampled:
            sample_doc = urls[url]
            seen[sample_doc] += 1
            _, want_status, want_text = oracle.sample[sample_doc]
            if status != want_status or (text or "") != (want_text or ""):
                bad.add(sample_doc)
                v.problems.append(
                    f"doc {sample_doc}: status/text differ from oracle")
        m = _DOC_ID.search(url or "")
        doc = int(m.group(1)) if m else -1
        if not 0 <= doc < oracle.n:
            stray += 1
            continue
        counts[doc] += 1
        tallies[status] += 1
        if status == "failure":
            bad.add(doc)
    missing = [d for d in range(oracle.n) if not counts[d]]
    dups = [d for d, c in counts.items() if c > 1]
    bad.update(missing, dups)
    if missing:
        v.problems.append(f"{len(missing)} docs missing, e.g. {missing[:5]}")
    if dups:
        v.problems.append(f"{len(dups)} docs duplicated, e.g. {dups[:5]}")
    if stray:
        v.problems.append(f"{stray} rows with no corpus doc id")
    v.tallies = {s: tallies[s] for s in STATUSES}
    if v.tallies != lineage:
        v.problems.append(f"status tallies {v.tallies} != snapshot "
                          f"counters {lineage}")
    if expect_tallies is not None and v.tallies != expect_tallies:
        v.problems.append(f"status tallies {v.tallies} != first job's "
                          f"{expect_tallies}")
    bad.update(d for d in oracle.sample if not seen[d])
    v.failed_docs = len(bad) + stray
    if v.problems and not v.failed_docs:
        v.failed_docs = 1               # a tally mismatch fails the job
    return v


def check_table(spark, root: str, oracle: Oracle,
                expect_tallies: dict[str, int] | None = None) -> Verdict:
    from webextract.icetable import IceTable
    table = IceTable(root)
    return check_frame(table.read(spark), oracle, lineage_tallies(table),
                       expect_tallies)
