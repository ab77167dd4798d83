"""The commit lock, under real processes and a real kill.

``IceTable._commit_lock`` is an ``flock`` the kernel drops when its
holder dies: a writer SIGKILLed while it holds the lock, even in the
middle of a commit, costs the next commit nothing, and writers in other
processes or in threads sharing one ``IceTable`` never lose a snapshot
off the chain.  The in-process crash tests of ``test_resume.py`` raise
an exception, which runs every ``finally``; these kill the process.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import textwrap
import threading
import time

from webextract.icetable import IceTable
from webextract.pipeline import run_extract
from webextract.synth import pages_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python(code: str, *args: str) -> subprocess.Popen:
    """A Python process running ``code`` with ``args`` as ``sys.argv[1:]``
    and this package importable."""
    env = {**os.environ,
           "PYTHONPATH": os.pathsep.join(
               filter(None, [REPO, os.environ.get("PYTHONPATH")]))}
    return subprocess.Popen([sys.executable, "-c", textwrap.dedent(code),
                             *args], env=env, cwd=REPO)


def test_dead_holder_costs_the_next_commit_nothing(tmp_path):
    """A process SIGKILLed while it holds the lock leaves the next
    commit free to take it at once."""
    root = str(tmp_path / "t")
    IceTable(root)
    holder = _python("""
        import os, signal, sys
        from webextract.icetable import IceTable
        lock = IceTable(sys.argv[1])._commit_lock()
        lock.__enter__()
        os.kill(os.getpid(), signal.SIGKILL)
        """, root)
    assert holder.wait(timeout=60) == -signal.SIGKILL
    assert os.path.exists(os.path.join(root, "metadata", "_COMMIT_LOCK"))
    t0 = time.monotonic()
    snap = IceTable(root).commit("after", [], "2026-01-01T00:00:00Z")
    assert time.monotonic() - t0 < 5
    assert IceTable(root).current_snapshot_id() == snap


def test_processes_and_threads_never_drop_a_snapshot(tmp_path):
    """3 processes and 2 threads sharing one IceTable commit 10
    snapshots each into one table: the main chain holds all 50, each
    on its own parent."""
    root = str(tmp_path / "t")
    tbl = IceTable(root)
    procs = [_python("""
        import sys
        from webextract.icetable import IceTable
        tbl = IceTable(sys.argv[1])
        for i in range(10):
            tbl.commit(sys.argv[2], [], "2026-01-01T00:00:00Z")
        """, root, f"proc{n}") for n in range(3)]

    def commit_ten(run_id):
        for _ in range(10):
            tbl.commit(run_id, [], "2026-01-01T00:00:00Z")
    threads = [threading.Thread(target=commit_ten, args=(f"thread{n}",))
               for n in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert [p.wait(timeout=120) for p in procs] == [0, 0, 0]

    chain = tbl.snapshots()
    assert len(chain) == 50
    parents = [s["parent_id"] for s in chain]
    assert len(set(parents)) == 50 and parents[-1] is None
    runs = [s["run_id"] for s in chain]
    assert sorted(set(runs)) == [f"proc{n}" for n in range(3)] + \
        ["thread0", "thread1"]
    assert all(runs.count(r) == 10 for r in set(runs))


def test_kill_inside_the_commit_then_resume(spark, tmp_path):
    """A run SIGKILLs itself inside its second wave commit, holding the
    lock, after the snapshot file is durable and before _CURRENT swaps
    to it.  The resume takes the lock at once and commits every url
    exactly once, each row byte-identical to an uninterrupted run's."""
    n, parts, waves = 200, 4, 2
    pages = pages_df(spark, n, parallelism=2)
    reference = str(tmp_path / "reference")
    run_extract(spark, pages, reference, partitions=parts, waves=waves)
    want = _rows(spark, reference)
    assert len(want) == n

    root = str(tmp_path / "t")
    crashed = _python("""
        import os, signal, sys
        from webextract.pipeline import run_extract
        from webextract.session import get_spark
        from webextract.synth import pages_df
        root, n, parts, waves = sys.argv[1], *map(int, sys.argv[2:])
        current = os.path.join(root, "metadata", "_CURRENT")
        replace, swaps = os.replace, []

        def dying_replace(src, dst, **kw):
            if dst == current:
                swaps.append(dst)
                if len(swaps) == 2:
                    os.kill(os.getpid(), signal.SIGKILL)
            return replace(src, dst, **kw)
        os.replace = dying_replace
        spark = get_spark("killed-in-commit", cpus=2)
        run_extract(spark, pages_df(spark, n, parallelism=2), root,
                    partitions=parts, waves=waves)
        """, root, str(n), str(parts), str(waves))
    assert crashed.wait(timeout=600) == -signal.SIGKILL
    tbl = IceTable(root)
    committed = tbl.committed_parts()
    assert 0 < len(committed) < parts
    snaps = [fn for fn in os.listdir(tbl.meta_dir)
             if fn.startswith("snap-") and fn.endswith(".json")]
    assert len(snaps) == 2                    # one of them dangling

    s = run_extract(spark, pages, root, partitions=parts, waves=waves)
    assert s["skipped_parts"] == sorted(committed)
    assert s["adopted_parts"] == sorted(set(range(parts)) - committed)
    assert max(w["commit_ms"] for w in s["waves"]) < 5000
    assert sorted(tbl.committed_parts()) == list(range(parts))
    assert _rows(spark, root) == want


def _rows(spark, root) -> dict:
    rows = IceTable(root).read(spark).collect()
    by_url = {r.url: r for r in rows}
    assert len(by_url) == len(rows)                 # every url once
    return by_url
