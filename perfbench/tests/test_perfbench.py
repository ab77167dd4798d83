"""Tests of the benchmark itself, on tiny corpora.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import env, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

PAGES = 24          # ids 0..23: includes synth's first skew bomb (id 9)
SEED = 3


def _benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    cpus = env.pin(ROOT, tmp_path_factory.mktemp("work"))
    from webextract.session import get_spark
    sp = get_spark("perfbench-tests", cpus=min(cpus, 2))
    yield sp
    sp.stop()


def _extract(spark, root, wl, **job):
    from webextract.pipeline import run_extract
    from webextract.synth import pages_df
    pages = pages_df(spark, PAGES, seed=SEED, giant_every=wl.giant_every)
    return run_extract(spark, pages, str(root), cpus=2,
                       **{**wl.job, **job, "partitions": 8})


@pytest.fixture(scope="module")
def committed(spark, tmp_path_factory):
    """A committed crawl_uniform table and its oracle."""
    from perfbench.gate import Oracle
    root = tmp_path_factory.mktemp("table")
    _extract(spark, root, WORKLOADS["crawl_uniform"])
    return root, Oracle.build(PAGES, SEED, None)


def _check(spark, root, oracle, mutate):
    from perfbench.gate import check_frame, lineage_tallies
    from webextract.icetable import IceTable
    table = IceTable(str(root))
    return check_frame(mutate(table.read(spark)), oracle,
                       lineage_tallies(table))


def test_gate_passes_clean_table(spark, committed):
    root, oracle = committed
    assert 9 in oracle.sample                   # the bomb is sampled
    v = _check(spark, root, oracle, lambda df: df)
    assert v.ok, v.problems
    assert sum(v.tallies.values()) == PAGES


def test_gate_catches_dropped_row(spark, committed):
    from pyspark.sql import functions as F
    root, oracle = committed
    url = oracle.sample[9][0]
    v = _check(spark, root, oracle, lambda df: df.filter(F.col("url") != url))
    assert not v.ok and v.failed_docs >= 1
    assert any("missing" in p for p in v.problems)


def test_gate_catches_duplicated_row(spark, committed):
    from pyspark.sql import functions as F
    root, oracle = committed
    doc = min(oracle.sample)
    url = oracle.sample[doc][0]
    v = _check(spark, root, oracle,
               lambda df: df.unionByName(df.filter(F.col("url") == url)))
    assert not v.ok and v.failed_docs >= 1
    assert any("duplicated" in p for p in v.problems)


def test_gate_catches_one_byte_text_change(spark, committed):
    from pyspark.sql import functions as F
    root, oracle = committed
    doc = next(d for d, (_, _, text) in sorted(oracle.sample.items())
               if text and text[-1] != "#")
    url = oracle.sample[doc][0]

    def flip_last_byte(df):
        changed = F.concat(F.expr("substring(text, 1, length(text) - 1)"),
                           F.lit("#"))
        return df.withColumn("text", F.when(F.col("url") == url, changed)
                             .otherwise(F.col("text")))
    v = _check(spark, root, oracle, flip_last_byte)
    assert v.failed_docs == 1
    assert any(f"doc {doc}" in p for p in v.problems)


def test_resume_workload_resumes(spark, tmp_path):
    """The crashed preparation commits some parts; the timed resume
    skips exactly those and completes the table."""
    from perfbench.gate import Oracle, check_table
    from webextract.icetable import IceTable
    wl = WORKLOADS["crawl_resume"]
    prep = tmp_path / "prepared"
    crashed = _extract(spark, prep, wl, **wl.prepare)
    assert crashed.get("injected_failure")
    done = sorted(IceTable(str(prep)).committed_parts())
    assert done and len(done) < 8
    resumed = tmp_path / "resumed"
    shutil.copytree(prep, resumed)
    summary = _extract(spark, resumed, wl)
    assert summary["skipped_parts"] == done
    v = check_table(spark, str(resumed), Oracle.build(PAGES, SEED, None))
    assert v.ok, v.problems


def test_report_prints_benchmark_json_metrics(capsys):
    bench = _benchmark_json()
    res = {"reps": [{}], "attempted": 10, "failed": 0,
           "metrics": {n: 1.0 for n, _ in run.END_TO_END + run.WALL},
           "layers": {n: 1.0 for n, _ in run.PER_LAYER}}
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        run.report(res, trace, "crawl_uniform", 1)
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert ({n: m["unit"] for n, m in out["metrics"].items()}
                == {m["name"]: m["unit"] for m in bench[key]})
    assert ({w["name"] for w in bench["workloads"]}
            <= set(WORKLOADS))


def test_traced_run_end_to_end():
    """A traced run of the giant-host workload on a tiny corpus, in its
    own process: prints every end-to-end metric, and its last line
    carries exactly the per-layer metrics of BENCHMARK.json, with the
    split tiers busy."""
    script = (
        "import dataclasses, sys\n"
        "from perfbench import run\n"
        "from perfbench.workloads import WORKLOADS\n"
        "wl = dataclasses.replace(WORKLOADS['crawl_giant_host'], "
        f"pages={PAGES})\n"
        f"res = run.measure(wl, {SEED}, 0.1, True)\n"
        f"run.report(res, True, wl.name, {SEED})\n"
        "sys.exit(0 if res['failed'] == 0 else 1)\n")
    p = subprocess.run([sys.executable, "-c", script], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in
                                   _benchmark_json()["per_layer"]}
    for name, _ in run.END_TO_END + run.WALL + (("failed_share", ""),):
        assert any(line.split()[:1] == [name] for line in lines), name
    for name in ("split.segments", "htmlsplit.segments",
                 "htmlsplit.scan_cuts_s", "htmlsplit.merge_s"):
        assert out["metrics"][name]["value"] > 0, name
    assert (ROOT / ".perfbench_out" / "crawl_giant_host"
            / "spans.jsonl").stat().st_size > 0


def test_exits_nonzero_without_the_package(tmp_path):
    """Only BENCHMARK.json and perfbench/: no webextract to measure."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_uniform",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
