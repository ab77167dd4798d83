"""The benchmark's workloads: which corpus each one reads and which
``run_extract`` job it times.

Every workload runs the wave-committed, resumable ``run_extract`` job
over a corpus from ``webextract.synth.pages_df``; they differ in the
corpus variant and in the job's shape, so that each stresses a
different layer (README.md says which, and why each was chosen).
"""

from __future__ import annotations

from dataclasses import dataclass, field

SPLIT_BYTES = 256 * 1024
PARTITIONS = 64
# warm-up corpus: doc ids 0..8, every page below synth's first skew bomb
# (id 9), so set-up warms the workers, not the bomb
WARMUP_PAGES = 9


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int                          # corpus size
    giant_every: int | None = None      # synth giant-host variant
    job: dict = field(default_factory=dict)      # timed run_extract kwargs
    prepare: dict | None = None         # untimed crashed run before the job

    @property
    def variant(self) -> str:
        return "uniform" if self.giant_every is None else f"giant{self.giant_every}"


WORKLOADS = {w.name: w for w in (
    # the job as users run it; the split tiers are bypassed
    Workload(name="crawl_uniform", pages=3000,
             job=dict(partitions=PARTITIONS, waves=4)),
    # same generator with every site0 page a 60k-word page, through the
    # oversized-document fan-out tiers
    Workload(name="crawl_giant_host", pages=1000, giant_every=200,
             job=dict(partitions=PARTITIONS, waves=1,
                      split_bytes=SPLIT_BYTES, html_split=True)),
    # resume after a crash at half the waves: 32 parts left, 8 waves
    Workload(name="crawl_resume", pages=2000,
             job=dict(partitions=PARTITIONS, waves=8),
             prepare=dict(partitions=PARTITIONS, waves=4,
                          fail_after_wave=1)),
)}
