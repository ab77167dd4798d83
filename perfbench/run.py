#!/usr/bin/env python3
"""The extraction-job benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (perfbench/workloads.py) against ``webextract`` in
one driver process at ``local[nproc]``, one job in flight at a time.
A run is one session:

1. set-up, repeated ``SETUPS`` times: ``get_spark`` plus a warm-up run
   of the workload's job in one wave over a few pages (``setup_s`` is
   their median);
2. the corpus ``pages_df(spark, n, seed)``, generated once per (seed,
   GEN_VERSION, n, variant) into ``.perfbench_cache/`` and read back
   as parquet; ``crawl_resume`` also runs its crashed preparation here;
3. timed ``run_extract`` jobs into fresh table roots, at least
   ``MIN_JOBS`` and until their summed time reaches ``--seconds``;
   after each, outside the timed region, the correctness gate
   (perfbench/gate.py).

``--trace 1`` then stops the JVM and repeats the same session in a
fresh one with the span hooks (perfbench/trace.py) and the event log
on, so both halves reach their timed jobs at the same warm-up point;
it reports the per-layer metrics instead, and writes the spans to
``.perfbench_out/<workload>/``.

The last stdout line is one JSON object: ``correct``, ``attempted``
(documents input over all timed jobs), ``failed`` (documents failed,
missing, duplicated or differing from the oracle) and ``metrics``.
Exit code 1 if the gate failed, 2 if ``webextract`` is not next to
``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 2
MIN_JOBS = 1
CACHE_KEEP = 24

# the metrics BENCHMARK.json bounds; wall time is printed as well but
# not bounded, because hypervisor steal time on a shared host moves it
# by up to 2x within minutes while leaving CPU time nearly unchanged
END_TO_END = (
    ("job_cpu_s", "s"),
    ("docs_per_cpu_s", "1/s"),
    ("setup_s", "s"),
    ("stored_bytes_ratio", "ratio"),
    ("worker_peak_rss_mb", "MB"),
)
WALL = (
    ("job_s", "s"),
    ("docs_per_s", "1/s"),
)

PER_LAYER = (
    ("udfs.kernel_s", "s"), ("udfs.marshal_s", "s"),
    ("udfs.input_wait_s", "s"), ("udfs.batches", "count"),
    ("dom.parse_blocks_s", "s"), ("dom.blocks", "count"),
    ("dom.mb_per_s", "MB/s"),
    ("extract.select_main_s", "s"), ("extract.finish_blocks_s", "s"),
    ("extract.kept_block_share", "ratio"),
    ("extract.out_bytes_per_in_byte", "ratio"),
    ("pdfmini.parse_pdf_blocks_s", "s"), ("pdfmini.docs", "count"),
    ("split.segments", "count"),
    ("htmlsplit.scan_cuts_s", "s"), ("htmlsplit.parse_blocks_seeded_s", "s"),
    ("htmlsplit.segments", "count"), ("htmlsplit.merge_s", "s"),
    ("pipeline.job_wall_s", "s"), ("pipeline.cores_busy", "ratio"),
    ("pipeline.waves", "count"), ("pipeline.wave_s_p50", "s"),
    ("pipeline.wave_s_max", "s"), ("pipeline.unaccounted_s", "s"),
    ("pipeline.scan_bytes", "B"), ("pipeline.shuffle_write_bytes", "B"),
    ("pipeline.spill_bytes", "B"), ("pipeline.task_s_p50", "s"),
    ("pipeline.task_s_max", "s"), ("pipeline.task_skew", "ratio"),
    ("pipeline.commit_stage_s", "s"), ("icetable.commit_s", "s"),
    ("icetable.committed_parts_s", "s"), ("icetable.files_written", "count"),
    ("icetable.bytes_written", "B"),
    ("trace.overhead_s", "s"),
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    from perfbench.workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    """One benchmark run of one workload."""

    def __init__(self, wl, seed: int, seconds: float, cpus: int,
                 work: Path, rss) -> None:
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.n = wl.pages
        self.cpus = cpus
        self.work = work
        self.rss = rss
        self.spark = None
        self.tables = 0
        self.corpus_path = ""
        self.html_bytes = 0
        self.oracle = None
        self.prepared = None
        self.expect = None

    # -- set-up ----------------------------------------------------------

    def _table_root(self) -> str:
        self.tables += 1
        return str(self.work / f"table-{self.tables:03d}")

    def start_session(self) -> None:
        from webextract.session import get_spark
        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")

    def warm_up(self) -> None:
        from perfbench.workloads import WARMUP_PAGES
        from webextract.pipeline import run_extract
        from webextract.synth import pages_df
        pages = pages_df(self.spark, min(self.n, WARMUP_PAGES),
                         seed=self.seed, giant_every=self.wl.giant_every)
        # the workload's job in one wave of one part per core: it starts
        # the JVM side and the Python workers on the job's code paths
        # (split tiers included), at a fraction of the job's cost
        run_extract(self.spark, pages, self._table_root(), cpus=self.cpus,
                    **{**self.wl.job, "partitions": self.cpus, "waves": 1})

    def setup(self) -> list[float]:
        times = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.start_session()
            self.warm_up()
            times.append(time.perf_counter() - t0)
        return times

    def corpus(self):
        """The workload's pages (parquet, cached across runs); sets
        ``html_bytes``, their total HTML bytes."""
        from pyspark.sql import functions as F
        from webextract.synth import GEN_VERSION, pages_df
        cache = ROOT / ".perfbench_cache"
        path = cache / (f"pages-v{GEN_VERSION}-s{self.seed}-n{self.n}-"
                        f"{self.wl.variant}")
        meta = path / "_perfbench.json"
        if not meta.exists():
            tmp = cache / f".tmp-{os.getpid()}-{path.name}"
            shutil.rmtree(tmp, ignore_errors=True)
            (pages_df(self.spark, self.n, seed=self.seed,
                      parallelism=4 * self.cpus,
                      giant_every=self.wl.giant_every)
             .write.parquet(str(tmp)))
            html_bytes = (self.spark.read.parquet(str(tmp))
                          .agg(F.sum(F.length("html"))).first()[0])
            (tmp / meta.name).write_text(json.dumps(
                {"pages": self.n, "html_bytes": html_bytes}))
            try:
                os.replace(tmp, path)
            except OSError:             # another run cached it first
                shutil.rmtree(tmp, ignore_errors=True)
        os.utime(path)
        stale = sorted((p for p in cache.glob("pages-*") if p != path),
                       key=lambda p: p.stat().st_mtime)
        for p in stale[:max(0, len(stale) - CACHE_KEEP + 1)]:
            shutil.rmtree(p, ignore_errors=True)
        self.corpus_path = str(path)
        self.html_bytes = json.loads(meta.read_text())["html_bytes"]
        return self.spark.read.parquet(self.corpus_path)

    def prepare(self, pages) -> tuple[str, list[int]] | None:
        """The crashed run ``crawl_resume`` resumes from (untimed)."""
        if self.wl.prepare is None:
            return None
        from webextract.icetable import IceTable
        from webextract.pipeline import run_extract
        root = self._table_root()
        run_extract(self.spark, pages, root, cpus=self.cpus,
                    **self.wl.prepare)
        return root, sorted(IceTable(root).committed_parts())

    # -- jobs --------------------------------------------------------------

    def job(self, pages) -> dict:
        """One ``run_extract`` into a fresh table root, timed from call
        to return, then gated."""
        from perfbench import env
        from perfbench.gate import check_table
        from webextract.icetable import IceTable
        from webextract.pipeline import run_extract
        root = self._table_root()
        if self.prepared:
            shutil.copytree(self.prepared[0], root)
        self.rss.start_window()
        cpu0 = env.tree_cpu_s() + time.thread_time()
        w0, m0 = time.monotonic_ns(), time.time() * 1e3
        t0 = time.perf_counter()
        summary = run_extract(self.spark, pages, root, cpus=self.cpus,
                              **self.wl.job)
        job_s = time.perf_counter() - t0
        w1, m1 = time.monotonic_ns(), time.time() * 1e3
        cpu_s = env.tree_cpu_s() + time.thread_time() - cpu0
        peak = self.rss.end_window()
        docs = sum(w["num_docs"] for w in summary["waves"])
        verdict = check_table(self.spark, root, self.oracle, self.expect)
        self.expect = self.expect or verdict.tallies
        if self.prepared and (summary["skipped_parts"] != self.prepared[1]
                              or not self.prepared[1]):
            verdict.problems.append(
                f"resume skipped {summary['skipped_parts']}, the "
                f"crashed run committed {self.prepared[1]}")
            verdict.failed_docs = self.n
        stored = sum(os.path.getsize(f) for f in IceTable(root).data_files())
        for p in verdict.problems:
            log(f"GATE: {p}")
        shutil.rmtree(root, ignore_errors=True)
        log(f"job: {job_s:.3f} s, cpu {cpu_s:.2f} s, {docs} docs, "
            f"{len(summary['waves'])} waves, rss {peak:.0f} MB, gate "
            f"{'ok' if verdict.ok else 'FAILED'}")
        return {"job_s": job_s, "cpu_s": cpu_s, "docs": docs,
                "summary": summary, "rss_mb": peak,
                "stored_ratio": stored / self.html_bytes,
                "failed": verdict.failed_docs,
                "window": (w0, w1), "window_ms": (m0, m1)}

    def session(self) -> tuple[list[float], list[dict]]:
        """Set-ups, the corpus and the timed jobs of one JVM; returns
        (set-up times, timed jobs)."""
        from perfbench.gate import Oracle
        setup = self.setup()
        log(f"setup {[round(s, 3) for s in setup]} s")
        pages = self.corpus()
        if self.oracle is None:
            self.oracle = Oracle.build(self.n, self.seed, self.wl.giant_every)
            self.prepared = self.prepare(pages)
        reps: list[dict] = []
        while (len(reps) < MIN_JOBS
               or sum(r["job_s"] for r in reps) < self.seconds):
            reps.append(self.job(pages))
        return setup, reps

    def run(self, trace: bool) -> dict:
        setup, reps = self.session()
        med = statistics.median
        res = {
            "reps": reps, "attempted": self.n * len(reps),
            "failed": sum(r["failed"] for r in reps),
            "metrics": {
                "job_cpu_s": med(r["cpu_s"] for r in reps),
                "docs_per_cpu_s": med(r["docs"] / r["cpu_s"] for r in reps),
                "job_s": med(r["job_s"] for r in reps),
                "docs_per_s": med(r["docs"] / r["job_s"] for r in reps),
                "setup_s": med(setup),
                "stored_bytes_ratio": med(r["stored_ratio"] for r in reps),
                "worker_peak_rss_mb": med(r["rss_mb"] for r in reps),
            },
        }
        if trace:
            traced = self.traced_session()
            res["attempted"] += self.n * len(traced["reps"])
            res["failed"] += sum(r["failed"] for r in traced["reps"])
            res["layers"] = traced["layers"]
            res["layers"]["trace.overhead_s"] = (
                med(r["job_s"] for r in traced["reps"])
                - res["metrics"]["job_s"])
        return res

    # -- traced run ----------------------------------------------------------

    def traced_session(self) -> dict:
        """Stop the JVM, repeat the session in a fresh one with the span
        hooks and the event log, and reduce spans and tasks to per-layer
        metrics (median over the timed jobs)."""
        from perfbench import env, layers, trace
        events = self.work / "eventlog"
        spans_dir = self.work / "spans"
        events.mkdir()
        spans_dir.mkdir()
        self.spark.stop()
        self.spark = None
        env.stop_spark_jvm()
        # the fresh JVM reads these spark.* system properties into its
        # SparkConf; its Python workers inherit the trace directory
        props = {"spark.python.daemon.module": "perfbench.worker_daemon",
                 "spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": events.as_uri(),
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
        os.environ["JAVA_TOOL_OPTIONS"] += "".join(
            f" -D{k}={v}" for k, v in props.items())
        os.environ[trace.TRACE_DIR_ENV] = str(spans_dir)
        trace.install_driver_hooks()
        _, reps = self.session()
        self.spark.stop()
        self.spark = None

        spans = layers.load_spans(str(spans_dir), trace.RECORDER.rows())
        tasks = layers.event_log_tasks(str(events))
        per_job, waves = [], []
        for r in reps:
            m, w = layers.job_metrics(spans, tasks, r["summary"],
                                      r["window"], r["window_ms"], self.cpus)
            m["pipeline.job_wall_s"] = r["job_s"]
            m["pipeline.cores_busy"] = r["cpu_s"] / r["job_s"]
            per_job.append(m)
            waves.append(w)
        out = ROOT / ".perfbench_out" / self.wl.name
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        with open(out / "spans.jsonl", "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
        (out / "layers.json").write_text(json.dumps({
            "seed": self.seed, "pages": self.n,
            "jobs": [{"job_s": r["job_s"], "metrics": m, "waves": w}
                     for r, m, w in zip(reps, per_job, waves)],
            "self_time": layers.layer_table(spans)}, indent=1))
        log(f"spans and per-wave accounting in {out}")
        return {"reps": reps,
                "layers": {k: statistics.median(m[k] for m in per_job)
                           for k in per_job[0]}}


def measure(wl, seed: int, seconds: float, trace: bool) -> dict:
    """One run of workload ``wl`` in a pinned environment and a private
    work directory; stops every process it started before returning."""
    from perfbench import env
    env.remove_stale_work(ROOT / ".perfbench_work")
    work = ROOT / ".perfbench_work" / f"{wl.name}-{os.getpid()}"
    cpus = env.pin(ROOT, work)
    log(f"{wl.name}: seed {seed}, {wl.pages} pages, local[{cpus}], driver "
        f"{os.environ['WEBEXTRACT_DRIVER_MEM']}")
    try:
        with env.WorkerRss() as rss:
            return Bench(wl, seed, seconds, cpus, work, rss).run(trace)
    finally:
        procs = env.descendants()
        env.stop_spark_jvm()
        left = env.reap(procs)
        if left:
            log(f"reaped leftover processes {[procs[p] for p in left]}")
        shutil.rmtree(work, ignore_errors=True)


def report(res: dict, trace: bool, wl: str, seed: int) -> None:
    m = res["metrics"]
    print(f"perfbench {wl} seed={seed} jobs={len(res['reps'])}")
    for name, unit in END_TO_END + WALL:
        print(f"  {name:<28} {m[name]:.6g} {unit}")
    share = res["failed"] / res["attempted"]
    print(f"  {'failed_share':<28} {share:.6g} "
          f"({res['failed']}/{res['attempted']} docs)")
    names, values = (PER_LAYER, res["layers"]) if trace else (END_TO_END, m)
    if trace:
        for name, unit in PER_LAYER:
            print(f"  {name:<34} {values[name]:.6g} {unit}")
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in names}}))


def main(argv=None) -> int:
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    try:
        import webextract  # noqa: F401
    except ImportError:
        log(f"cannot import webextract from {ROOT}")
        return 2
    from perfbench.workloads import WORKLOADS
    # a SIGTERM still runs the clean-up in measure()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    res = measure(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace))
    report(res, bool(args.trace), args.workload, args.seed)
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    # import from the checkout root, not perfbench/ (whose trace.py
    # would shadow the stdlib module of that name)
    sys.path[0] = str(ROOT)
    sys.exit(main())
