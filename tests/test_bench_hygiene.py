"""bench.py measurement hygiene (r14): the process-tree CPU clock
counts descendants and ignores unrelated load; the compact stdout
tail always fits the driver's 2000-char capture. No Spark needed."""

from __future__ import annotations

import json
import os
import subprocess
import time

import bench


def test_tree_cpu_counts_descendants():
    a = bench._tree_cpu_seconds()
    child = "import time\nt=time.time()\nwhile time.time()-t<0.8: pass\nimport sys; sys.stdin.read()"
    p = subprocess.Popen(
        ["python", "-c", child], stdin=subprocess.PIPE
    )
    t0 = time.time()
    while time.time() - t0 < 1.2:  # parent burn while child burns
        pass
    b = bench._tree_cpu_seconds()
    p.stdin.close()
    p.wait()
    # child (0.8s) + parent (1.2s) CPU both land in the delta
    assert b - a >= 1.5, (a, b)


def test_compact_tail_always_fits_capture():
    # current suite size and well past it: every degradation stage
    # emits a line the 2000-char tail cannot decapitate
    def synth_timings(n):
        return {
            f"synth200k_entry_with_a_rather_long_name_{i}": 1.234
            for i in range(n // 2)
        } | {f"headline_query_with_long_name_{i}": 2.5 for i in range(n - n // 2)}

    for n in (10, 80, 200, 600):
        t = synth_timings(n)
        line = bench._compact_tail_line(sum(t.values()), 0.1, t)
        assert len(line) <= 1995, (n, len(line))
        parsed = json.loads(line)  # and it parses
        assert parsed["total"] > 0


def test_tree_cpu_delta_never_negative_under_churn():
    # r15: the r14 record carried queries_cpu_min = -1953.88 when a
    # worker daemon died between the start and end samples. The
    # per-(pid, starttime) delta is non-negative by construction:
    # a child that burns CPU then EXITS mid-window contributes 0
    # (undercount, documented), never a negative.
    start = bench._tree_cpu_sample()
    child = (
        "import time\nt=time.time()\nwhile time.time()-t<0.5: pass\n"
    )
    p = subprocess.Popen(["python", "-c", child])
    p.wait()  # child fully exited before the end sample
    end = bench._tree_cpu_sample()
    d = bench._tree_cpu_delta(start, end)
    assert d >= 0.0, d
    # and a synthetic "died daemon" fabricated directly: a pid in the
    # start sample only must not subtract from the total
    fake_start = {(99999999, 1): 100_000, (1234, 5): 10}
    fake_end = {(1234, 5): 12}
    assert bench._tree_cpu_delta(fake_start, fake_end) == (
        2 / __import__("os").sysconf("SC_CLK_TCK")
    )
    # a recycled pid (same pid, NEW starttime) counts from zero, not
    # from the dead process's ticks
    fake_end2 = {(99999999, 7): 50}
    assert (
        bench._tree_cpu_delta(fake_start, fake_end2)
        == 50 / __import__("os").sysconf("SC_CLK_TCK")
    )


def test_tree_cpu_delta_counts_live_and_newborn():
    # both-sample processes contribute their delta; processes born
    # inside the window contribute everything they accumulated
    start = bench._tree_cpu_sample()
    t0 = time.time()
    while time.time() - t0 < 0.6:  # parent burn (both samples)
        pass
    child = (
        "import time\nt=time.time()\nwhile time.time()-t<0.6: pass\n"
        "import sys; sys.stdin.read()"
    )
    p = subprocess.Popen(["python", "-c", child], stdin=subprocess.PIPE)
    t0 = time.time()
    while time.time() - t0 < 0.8:
        pass
    end = bench._tree_cpu_sample()  # child still alive: newborn path
    d = bench._tree_cpu_delta(start, end)
    p.stdin.close()
    p.wait()
    assert d >= 1.2, d


def test_tree_cpu_split_puts_a_python_child_in_workers():
    start = bench._tree_cpu_sample()
    child = (
        "import time\nt=time.time()\nwhile time.time()-t<0.6: pass\n"
        "import sys; sys.stdin.read()"
    )
    p = subprocess.Popen(["python", "-c", child], stdin=subprocess.PIPE)
    time.sleep(1.0)
    end = bench._tree_cpu_sample()
    split = bench._tree_cpu_split(start, end)
    total = bench._tree_cpu_delta(start, end)
    p.stdin.close()
    p.wait()
    assert set(split) == {"driver", "jvm", "workers"}
    assert split["workers"] >= 0.4, split
    tick = 1 / os.sysconf("SC_CLK_TCK")
    assert abs(sum(split.values()) - total) <= tick * len(end), (split, total)
