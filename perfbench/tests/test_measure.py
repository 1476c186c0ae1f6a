"""Self-tests of the benchmark's measurement code (no JVM needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402

_BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


@pytest.mark.parametrize(
    "intervals, want",
    [
        ([], 0.0),
        ([(0, 1), (2, 3)], 2.0),  # disjoint
        ([(0, 2), (1, 3)], 3.0),  # overlapping
        ([(0, 10), (2, 3), (4, 5)], 10.0),  # nested
        ([(3, 4), (0, 1), (0.5, 2)], 3.0),  # unsorted
        ([(1, 1), (2, 1)], 0.0),  # empty and inverted intervals add nothing
        ([(0, 1), (1, 2)], 2.0),  # touching
    ],
)
def test_union_length(intervals, want):
    assert measure.union_length(intervals) == pytest.approx(want)


def test_tree_cpu_counts_live_and_reaped_children():
    before = measure.cpu_split(os.getpid())["total"]
    child = subprocess.Popen([sys.executable, "-c", _BUSY.format(s=0.6) + "time.sleep(30)"])
    try:
        deadline = time.monotonic() + 20
        live = 0.0
        while time.monotonic() < deadline and live < 0.6:
            time.sleep(0.1)
            live = measure.cpu_split(os.getpid())["total"] - before
        # the busy child is still running: counted as a live descendant
        assert child.pid in measure.tree(os.getpid())
        assert live >= 0.6
    finally:
        child.kill()
        child.wait()
    # reaped: its CPU moves into this process's children time
    assert measure.cpu_split(os.getpid())["total"] - before >= 0.6


def test_tree_cpu_counts_grandchildren():
    code = (
        "import subprocess, sys\n"
        f"subprocess.run([sys.executable, '-c', {_BUSY.format(s=0.5)!r}])\n"
    )
    before = measure.cpu_split(os.getpid())["total"]
    subprocess.run([sys.executable, "-c", code], check=True)
    assert measure.cpu_split(os.getpid())["total"] - before >= 0.5


def test_rss_sampler_sees_this_process():
    s = measure.RssSampler(os.getpid(), interval=0.05).start()
    time.sleep(0.12)
    assert s.stop() > 1 << 20


@pytest.mark.parametrize(
    "n, want_index, want_pct",
    [(11, 0, 100 / 11), (20, 9, 50.0), (100, 89, 90.0), (1000, 989, 99.0)],
)
def test_tail_keeps_ten_samples_beyond(n, want_index, want_pct):
    xs = [float(i) for i in range(n)][::-1]  # unsorted input
    value, pct, beyond = measure.tail(xs)
    assert value == float(want_index)
    assert pct == pytest.approx(want_pct)
    assert beyond == 10 == sum(x > value for x in xs)


def test_tail_needs_eleven_samples():
    assert measure.tail([1.0] * 10) is None


class _FakeClient:
    def __init__(self):
        self.sent = []

    def send_command(self, command, retry=True):
        self.sent.append(command)
        return "ok:" + command


def test_py4j_counter_counts_round_trips_and_pauses():
    client = _FakeClient()
    counter = measure.Py4JCounter(client)
    assert client.send_command("a") == "ok:a"
    client.send_command("b", retry=False)
    with counter.paused():
        client.send_command("ignored")
    client.send_command("c")
    assert counter.count == 3
    assert client.sent == ["a", "b", "ignored", "c"]
