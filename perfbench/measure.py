"""Measurement primitives: /proc process-tree CPU and RSS, machine CPU,
a py4j round-trip counter, Spark status-store reads per job set, job
interval unions and the tail-percentile rule.

Nothing here imports pyspark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_HAS_CHILDREN = os.path.exists(f"/proc/{os.getpid()}/task/{os.getpid()}/children")


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (index 0 is
    the state), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def proc_info(pid: int) -> dict | None:
    """ppid, own CPU seconds, reaped-children CPU seconds, RSS bytes and
    the command name of one process."""
    f = _stat_fields(pid)
    if f is None:
        return None
    try:
        with open(f"/proc/{pid}/comm") as fh:
            comm = fh.read().strip()
    except OSError:
        comm = ""
    return {
        "ppid": int(f[1]),
        "cpu": (int(f[11]) + int(f[12])) / _TICK,
        "child_cpu": (int(f[13]) + int(f[14])) / _TICK,
        "rss": int(f[21]) * _PAGE,
        "comm": comm,
    }


def _children(pid: int) -> list[int]:
    """Child pids of every thread of ``pid`` (empty once it is gone)."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return []
    kids = []
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(c) for c in f.read().split()]
        except OSError:  # the thread ended
            pass
    return kids


def tree(root: int) -> dict[int, dict]:
    """``proc_info`` of ``root`` and every live descendant, found through
    the per-thread ``children`` lists, so the cost follows the size of the
    tree, not the number of processes on the machine."""
    if not _HAS_CHILDREN:
        raise RuntimeError("perfbench needs /proc/<pid>/task/<tid>/children")
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        info = proc_info(pid)
        if info is not None:
            out[pid] = info
            todo += _children(pid)
    return out


def _descendants(procs: dict[int, dict], pid: int) -> set[int]:
    found, todo = set(), [pid]
    while todo:
        p = todo.pop()
        for c, info in procs.items():
            if info["ppid"] == p and c not in found:
                found.add(c)
                todo.append(c)
    return found


def cpu_split(root: int) -> dict[str, float]:
    """Cumulative CPU seconds of the tree under ``root``, split into the
    driver Python process, the JVM (own threads only) and the JVM's
    Python descendants (daemon and workers, reaped ones included).
    ``total`` also counts any other descendant. Differences of two
    snapshots give the CPU spent between them."""
    procs = tree(root)
    jvm = next(
        (p for p, i in procs.items() if i["ppid"] == root and i["comm"] == "java"), None
    )
    py = _descendants(procs, jvm) if jvm is not None else set()
    total = sum(i["cpu"] + i["child_cpu"] for i in procs.values())
    return {
        "total": total,
        "driver": procs[root]["cpu"] if root in procs else 0.0,
        "jvm": procs[jvm]["cpu"] if jvm is not None else 0.0,
        "pyworker": sum(procs[p]["cpu"] + procs[p]["child_cpu"] for p in py),
    }


def machine_busy_s() -> float:
    """Busy CPU seconds of the whole machine since boot (/proc/stat:
    user, nice, system, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    v = [int(x) for x in parts]
    return (v[0] + v[1] + v[2] + v[5] + v[6] + v[7]) / _TICK


class RssSampler:
    """Background thread that samples the tree's summed RSS every
    ``interval`` seconds and keeps the peak; ``stop()`` joins it."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, sum(i["rss"] for i in tree(self.root).values()))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak


# ---------------------------------------------------------------- py4j


class Py4JCounter:
    """Counts round trips through one py4j gateway client by wrapping
    its ``send_command`` on the instance. ``paused()`` excludes the
    benchmark's own status reads."""

    def __init__(self, client):
        orig = client.send_command
        self._lock = threading.Lock()
        self._paused = 0
        self.count = 0

        def send_command(*args, **kwargs):
            if not self._paused:
                with self._lock:
                    self.count += 1
            return orig(*args, **kwargs)

        client.send_command = send_command

    @contextlib.contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1


# ---------------------------------------------------------------- spark


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals; overlaps count once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_STAGE_FIELDS = {
    # StageData getter -> (metric, scale to seconds/bytes/count)
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "executorRunTime": ("task_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_records", 1),
    "outputBytes": ("output_bytes", 1),
}
SPARK_SUMS = sorted({m for m, _ in _STAGE_FIELDS.values()})


def job_metrics(sc, job_ids) -> tuple[dict[str, float], dict[int, tuple[float, float]]]:
    """Sum the status store's stage metrics over ``job_ids`` (each stage
    once; skipped stages add nothing) and return them with each job's
    (submission, completion) interval in epoch seconds."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    sums = {m: 0.0 for m in SPARK_SUMS}
    sums["jobs"] = float(len(job_ids))
    sums["stages"] = 0.0
    intervals = {}
    stage_ids: set[int] = set()
    for jid in job_ids:
        jd = store.job(int(jid))
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals[int(jid)] = (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
        info = tracker.getJobInfo(int(jid))
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(int(sid))
        except Exception:  # py4j error: stage never attempted (skipped)
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        sums["stages"] += 1
        for getter, (metric, scale) in _STAGE_FIELDS.items():
            sums[metric] += getattr(sd, getter)() * scale
    return sums, intervals


# ---------------------------------------------------------------- stats


def tail(values) -> tuple[float, float, int] | None:
    """Latency at the highest percentile with at least ten samples
    beyond it: (value, percentile, samples beyond), or None under 11
    samples. With n sorted samples that is the (n-10)-th smallest, at
    percentile 100 * (n - 10) / n."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return None
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def median(values) -> float:
    return statistics.median(values)


def mean_of(records, key) -> float:
    """Mean of ``key`` over the records that have it (0.0 if none do)."""
    vals = [r[key] for r in records if key in r]
    return sum(vals) / len(vals) if vals else 0.0


def loadavg() -> list[float]:
    return list(os.getloadavg())

