"""Unit tests for the /proc accounting (run: python3 -m pytest perfbench/tests)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from procacct import ProcAccountant, steal_s  # noqa: E402


def _burn(seconds: float) -> None:
    end = time.process_time() + seconds
    x = 0
    while time.process_time() < end:
        x += 1


def test_exited_child_keeps_its_cpu():
    acc = ProcAccountant(interval=0.02).start()
    try:
        before = acc.totals()
        pid = os.fork()
        if pid == 0:  # child: burn CPU, then exit without cleanup
            _burn(0.5)
            os._exit(0)
        os.waitpid(pid, 0)
        after = acc.totals()
        time.sleep(0.1)
        later = acc.totals()
    finally:
        acc.stop()
    burned = after["workers"] - before["workers"]
    # the child is gone, yet its CPU stays counted (minus at most one
    # sampling interval lost before it exited) and never goes down
    assert 0.4 <= burned <= 0.7, burned
    assert later["workers"] == after["workers"]
    assert all(later[k] >= before[k] for k in before)


def test_driver_cpu_and_steal_are_monotone():
    acc = ProcAccountant()
    a = acc.totals()
    s0 = steal_s()
    _burn(0.2)
    b = acc.totals()
    assert b["driver"] - a["driver"] >= 0.15
    assert steal_s() >= s0 >= 0.0
