"""/proc accounting: the role split sums to the tree total, and CPU of
children that exited and were reaped still counts."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import proctree  # noqa: E402

# a: burns, runs b to completion (reaped), starts c, reports, then blocks
# b: burns and exits
# c: burns, reports, then blocks
SCRIPT = r"""
import json, os, subprocess, sys, time

def burn(s):
    t = time.process_time()
    while time.process_time() - t < s:
        pass

def report(path):
    t = os.times()
    with open(path + ".tmp", "w") as f:
        json.dump([t.user + t.system, t.children_user + t.children_system], f)
    os.replace(path + ".tmp", path)

role, out = sys.argv[1], sys.argv[2]
if role == "a":
    burn(0.2)
    subprocess.run([sys.executable, __file__, "b", out], check=True)
    c = subprocess.Popen([sys.executable, __file__, "c", out], stdin=subprocess.PIPE)
    while not os.path.exists(os.path.join(out, "c.json")):
        time.sleep(0.01)
    report(os.path.join(out, "a.json"))
    sys.stdin.read()
    c.stdin.close()
    c.wait()
elif role == "b":
    burn(0.3)
else:
    burn(0.2)
    report(os.path.join(out, "c.json"))
    sys.stdin.read()
"""


def test_split_sums_to_tree_total_and_counts_reaped_children(tmp_path):
    script = tmp_path / "tree.py"
    script.write_text(SCRIPT)
    a = subprocess.Popen(
        [sys.executable, str(script), "a", str(tmp_path)], stdin=subprocess.PIPE
    )
    try:
        deadline = time.time() + 60
        while not (tmp_path / "a.json").exists():
            assert time.time() < deadline, "process tree did not report"
            time.sleep(0.02)
        time.sleep(0.1)  # let both reporters reach their blocking read

        def roles(procs):
            return {p.pid: "driver_py" if p.pid == a.pid else "pyworker" for p in procs}

        snap = proctree.snapshot(a.pid, roles=roles)
        reported = [json.loads((tmp_path / f"{r}.json").read_text()) for r in "ac"]
    finally:
        a.stdin.close()
        a.wait(timeout=60)
    assert a.returncode == 0
    assert snap.n_procs == 2  # a and c alive; b exited and was reaped

    tick = proctree.TICK_S
    split = sum(v for v in snap.by_role.values())
    assert abs(split - snap.total_s) <= tick * snap.n_procs
    # the tree total agrees with what each process measured of itself
    # (os.times: own CPU plus reaped children). os.times truncates user and
    # system time to whole ticks each, so a process's own CPU may read up
    # to two ticks below its CPU clock.
    independent = sum(own + children for own, children in reported)
    assert abs(snap.total_s - independent) <= 2 * tick * snap.n_procs
    # b's 0.3 s lives only in a's reaped-children time
    assert reported[0][1] >= 0.3 - tick
    assert snap.by_role["driver_py"] >= 0.2 + 0.3 - 2 * tick
    assert snap.by_role["pyworker"] >= 0.2 - tick


def test_default_roles_follow_the_jvm():
    P = proctree.Proc
    procs = [
        P(10, 1, "python3", 0, 0, 0, 0),
        P(11, 10, "java", 0, 0, 0, 0),
        P(12, 11, "python3", 0, 0, 0, 0),
        P(13, 12, "python3", 0, 0, 0, 0),
        P(14, 10, "bash", 0, 0, 0, 0),
    ]
    assert proctree.default_roles(procs) == {
        10: "driver_py",
        11: "jvm",
        12: "pyworker",
        13: "pyworker",
        14: "other",
    }


def test_snapshot_puts_jvm_reaped_children_in_pyworker(monkeypatch):
    P = proctree.Proc
    procs = [
        P(10, 1, "python3", 1.0, 7, 0, 0),
        P(11, 10, "java", 3.0, 50, 0, 0),
        P(12, 11, "python3", 0.2, 5, 0, 0),
    ]
    monkeypatch.setattr(proctree, "tree", lambda root: procs)
    snap = proctree.snapshot(10)
    t = proctree.TICK_S
    assert snap.by_role["driver_py"] == pytest.approx(1.0 + 7 * t)
    assert snap.by_role["jvm"] == pytest.approx(3.0)
    assert snap.by_role["pyworker"] == pytest.approx(0.2 + (50 + 5) * t)
    assert snap.total_s == pytest.approx(4.2 + 62 * t)


def test_cpu_clock_sees_what_ticks_round_to_zero():
    # a few milliseconds of CPU: below one tick, but visible on the clock
    t0 = time.process_time()
    while time.process_time() - t0 < 0.003:
        pass
    before = proctree.tree(os.getpid())[0].own_s
    t0 = time.process_time()
    while time.process_time() - t0 < 0.003:
        pass
    after = proctree.tree(os.getpid())[0].own_s
    assert after - before >= 0.003


def test_resident_bytes_counts_a_vfork_child_once():
    P = proctree.Proc
    procs = [
        P(10, 1, "python3", 0, 0, 100, 1000),
        P(11, 10, "java", 0, 0, 2000, 9000),
        P(12, 11, "process reaper", 0, 0, 2000, 9000),  # vfork, not yet exec'd
        P(13, 11, "python3", 0, 0, 60, 500),
    ]
    assert proctree.resident_bytes(procs) == 100 + 2000 + 60
