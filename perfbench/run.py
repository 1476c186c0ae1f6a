#!/usr/bin/env python3
"""Repository benchmark: one workload run in its own process and session.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke      # every workload once, sf0.01 inputs

Run from the root of a checkout. Inputs are generated from source into
``.perfbench/`` on first use (see fixtures.py); each run sets up a
session, warms up, runs ops in a closed loop (one client) until
``--seconds`` have passed and the workload's op count is reached, checks
the outputs once, untimed, and prints one JSON detail line followed
by the result line. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import measure  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"
#: per scale: fixture scale factor, LSH seed/batch docs and warm-up
#: batches, hier snapshot and warm-up snapshot vectors
SIZES = {
    "full": {
        "sf": 0.1,
        "lsh": {"seed": 1000, "batch": 400, "warm_batches": 3},
        "hier": {"vectors": 2000, "warm_vectors": 250},
    },
    "smoke": {
        "sf": 0.01,
        "lsh": {"seed": 500, "batch": 100, "warm_batches": 1},
        "hier": {"vectors": 1000, "warm_vectors": 250},
    },
}
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
    "error_rate": "ratio",
}
HIER_SPANS = {
    "hier_root_full": "hier.build.root_s",
    "hier_leaf_full": "hier.build.leaf_s",
    "hier_assign_full": "hier.build.assign_s",
    "hier_pq_books": "hier.build.pq_books_s",
    "hier_pq_codes": "hier.build.codes_s",
}


def load_benchmark_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ tracing


class NullTracer:
    """Untraced runs: phase walls only."""

    @contextlib.contextmanager
    def phase(self, res, name):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            res.phases[name] = time.perf_counter() - t0

    @contextlib.contextmanager
    def stream_phase(self, res, query):
        with self.phase(res, "op"):
            yield

    def begin(self) -> None:
        pass

    def finish(self, res) -> dict:
        return {}


class Tracer(NullTracer):
    """Traced runs: a job group per phase, py4j round trips and driver
    CPU per phase, per-op status-store sums, /proc CPU of the JVM and its
    Python workers, streaming progress and spans around
    ``bucketed._bucketed_table`` by table name."""

    def __init__(self, spark):
        from mr_py_spark.operators import bucketed

        self.sc = spark.sparkContext
        self.py4j = measure.Py4JCounter(self.sc._gateway._gateway_client)
        self.op_no = 0
        self.spans: list[tuple[str, float]] = []
        orig = bucketed._bucketed_table
        spans = self.spans

        def traced_bucketed_table(spark, sf_dir, name, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(spark, sf_dir, name, *args, **kwargs)
            finally:
                spans.append((name, time.perf_counter() - t0))

        bucketed._bucketed_table = traced_bucketed_table

    @contextlib.contextmanager
    def phase(self, res, name):
        group = f"perfbench-{self.op_no}-{name}"
        with self.py4j.paused():
            self.sc.setJobGroup(group, name)
        calls0, cpu0 = self.py4j.count, time.process_time()
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            res.phases[name] = time.perf_counter() - t0
            w1 = time.time()
            res.extra[f"{name}_py4j"] = self.py4j.count - calls0
            res.extra[f"{name}_pycpu"] = time.process_time() - cpu0
            res.extra.setdefault("_groups", []).append((name, group, w0, w1))
            with self.py4j.paused():
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def stream_phase(self, res, query):
        with self.py4j.paused():
            group = str(query.runId)
            before = set(self.sc.statusTracker().getJobIdsForGroup(group))
        calls0, w0 = self.py4j.count, time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            res.phases["op"] = time.perf_counter() - t0
            w1 = time.time()
            res.extra["exec_py4j"] = self.py4j.count - calls0
            with self.py4j.paused():
                now = set(self.sc.statusTracker().getJobIdsForGroup(group))
                progress = list(query.recentProgress)
            res.extra["_stream"] = (sorted(now - before), w0, w1, progress)

    def begin(self) -> None:
        self.op_no += 1
        self.spans.clear()
        self.cpu0 = measure.cpu_split(os.getpid())

    def finish(self, res) -> dict:
        """Per-layer values of one finished op."""
        cpu1 = measure.cpu_split(os.getpid())
        d = {k: cpu1[k] - self.cpu0[k] for k in cpu1}
        lay: dict[str, float] = {}
        with self.py4j.paused():
            if "_stream" in res.extra:
                jobs, w0, w1, progress = res.extra.pop("_stream")
                exec_jobs = jobs
                exec_window = (w0, w1)
                lay.update(stream_layers(res, progress))
            else:
                groups = res.extra.pop("_groups")
                jobs, exec_jobs, exec_window = [], [], None
                for name, group, w0, w1 in groups:
                    ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
                    jobs += ids
                    if name == "exec":
                        exec_jobs, exec_window = ids, (w0, w1)
            sums, intervals = measure.job_metrics(self.sc, jobs)
        lo, hi = exec_window
        exec_wall = measure.union_length(
            [(max(s, lo), min(e, hi)) for j, (s, e) in intervals.items() if j in exec_jobs]
        )
        job_wall = measure.union_length(intervals.values())
        lay["operators.build_s"] = res.phases["build"]
        lay["operators.py4j_calls"] = res.extra.get("build_py4j", 0)
        lay["operators.driver_py_cpu_s"] = res.extra.get("build_pycpu", 0.0)
        lay["spark.exec_s"] = res.phases["exec"]
        lay["spark.py4j_calls"] = res.extra.get("exec_py4j", 0)
        lay["spark.job_wall_s"] = job_wall
        lay["spark.driver_gap_s"] = max(0.0, res.phases["exec"] - exec_wall)
        for k, v in sums.items():
            lay[f"spark.{k}"] = v
        lay["spark.slot_util"] = sums["task_s"] / (job_wall * CPUS) if job_wall else 0.0
        lay["jvm.cpu_s"] = d["jvm"]
        lay["jvm.driver_cpu_s"] = d["jvm"] - sums["task_cpu_s"]
        lay["pyworker.cpu_s"] = d["pyworker"]
        if any(n in HIER_SPANS for n, _ in self.spans):
            for table, metric in HIER_SPANS.items():
                lay[metric] = sum(w for n, w in self.spans if n == table)
            lay["hier.serve_s"] = res.phases["exec"]
        for k in ("index_files", "index_bytes"):
            if k in res.extra:
                lay[f"bucketed.{k}"] = res.extra[k]
        if "files_written" in res.extra:
            lay["sinks.files_written"] = res.extra["files_written"]
            lay["sinks.bytes_written"] = res.extra["stored_bytes"]
        if "_source_rows" in lay:
            # everything the batch's jobs read beyond its own source scans
            src = res.extra["input_bytes"] * lay.pop("_source_rows") / res.extra["batch_docs"]
            lay["bucketed.index_bytes_read_per_batch"] = max(0.0, sums["input_bytes"] - src)
        return lay


def stream_layers(res, progress) -> dict:
    p = next((p for p in progress if p.batchId == res.extra["batch_id"]), None)
    if p is None:
        return {}
    dur = p.durationMs
    rows = float(p.numInputRows)
    return {
        "streaming.trigger_s": dur.get("triggerExecution", 0) / 1e3,
        "streaming.add_batch_s": dur.get("addBatch", 0) / 1e3,
        "streaming.wal_commit_s": (dur.get("walCommit", 0) + dur.get("commitOffsets", 0)) / 1e3,
        "streaming.offsets_s": (dur.get("latestOffset", 0) + dur.get("getBatch", 0)) / 1e3,
        "streaming.source_reads_per_doc": rows / res.extra["batch_docs"],
        "_source_rows": rows,
    }


# ------------------------------------------------------------------ run


class Context:
    """What a workload needs: session, registry, seed, sizes, its private
    temp dir and the input directory."""

    def __init__(self, work, tmp, seed, scale):
        self.work, self.tmp, self.seed = work, tmp, seed
        self.sizes = SIZES[scale]
        self.stamps: dict[str, str] = {}
        self.null_tracer = NullTracer()
        self.spark = self.reg = None

    def fixture(self) -> str:
        """Directory of the mutated documents + embeddings tables,
        generated on first use in the checkout and content-verified once
        per run."""
        sf = self.sizes["sf"]
        path = os.path.join(self.work, "fixtures", f"mut_sf{sf}")
        if "mut" not in self.stamps:
            self.stamps["mut"] = fixtures.ensure(
                path, lambda out: fixtures.write_mutated(out, sf)
            )
        return path


def isolate_env(tmp: str) -> None:
    """Keep every file the run writes inside its own temp dir and size
    the session for this benchmark."""
    for d in ("local", "warehouse", "java"):
        os.makedirs(os.path.join(tmp, d))
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(tmp, "warehouse"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*,
        # from the spark-submit launcher JVM as well as the driver JVM
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'java')}",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    import tempfile

    tempfile.tempdir = None


def stop_session(spark) -> None:
    """Stop the session, close the py4j gateway and wait until the JVM and
    every process under this one have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in measure.tree(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 10
        time.sleep(0.2)


def summarize_e2e(lat, busy, cpu_s, peak_rss, setup_s, stored, inputs, attempted, failed):
    out = {
        "setup_s": setup_s,
        "ops_per_s": len(lat) / busy,
        "latency_p50_s": measure.median(lat),
        "cpu_s_per_op": cpu_s / len(lat),
        "peak_rss_mb": peak_rss / 2**20,
        "error_rate": failed / attempted,
    }
    t = measure.tail(lat)
    if t is not None:
        out["latency_tail_s"] = t[0]
        out["latency_tail_percentile"] = t[1]
        out["latency_tail_beyond"] = t[2]
    if inputs:
        out["stored_bytes_per_input_byte"] = stored / inputs
    return out


def run(args) -> int:
    root = os.getcwd()
    spec = load_benchmark_spec(root)
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    isolate_env(tmp)
    sys.path.insert(0, root)
    load0, busy0 = measure.loadavg(), measure.machine_busy_s()
    tree0 = measure.cpu_split(os.getpid())["total"]
    ctx = Context(work, tmp, args.seed, args.scale)
    # input generation and verification are the benchmark's own work,
    # kept out of setup_s
    ctx.fixture()

    t_setup = time.perf_counter()
    rss = measure.RssSampler(os.getpid()).start()
    from mr_py_spark.session import get_spark

    spark = get_spark("perfbench")
    ctx.spark = spark
    setup = {"session.start_s": time.perf_counter() - t_setup}
    if WORKLOADS[args.workload].uses_registry:
        t_reg = time.perf_counter()
        from mr_py_spark.registry import load_all

        ctx.reg = load_all()
        setup["registry.load_s"] = time.perf_counter() - t_reg
    tracer = Tracer(spark) if args.trace else NullTracer()
    wl = None
    try:
        wl = WORKLOADS[args.workload](ctx)
        wl.warm_up()
        setup_s = time.perf_counter() - t_setup

        lat, layers = [], []
        # op walls and CPU, failed ops included; the benchmark's own work
        # between ops (next input, storage walks, tracing reads) excluded
        busy = cpu_s = 0.0
        attempted = failed = 0
        stored = inputs = 0
        w0 = time.perf_counter()
        while True:
            wl.prepare()
            tracer.begin()
            attempted += 1
            c0 = measure.cpu_split(os.getpid())["total"]
            t0 = time.perf_counter()
            try:
                res = wl.op(tracer)
            except Exception as e:  # a failed op is counted, the loop goes on
                busy += time.perf_counter() - t0
                cpu_s += measure.cpu_split(os.getpid())["total"] - c0
                failed += 1
                print(f"op failed: {type(e).__name__}: {e}", file=sys.stderr)
            else:
                lat.append(time.perf_counter() - t0)
                cpu_s += measure.cpu_split(os.getpid())["total"] - c0
                busy += lat[-1]
                wl.account(res)
                stored += res.extra.get("stored_bytes", 0)
                inputs += res.extra.get("input_bytes", 0)
                if args.trace:
                    lay = tracer.finish(res)
                    lay["op_wall_s"] = lat[-1]
                    layers.append(lay)
            if time.perf_counter() - w0 >= args.seconds and attempted >= wl.min_ops:
                break
        if not lat:
            raise RuntimeError(f"all {attempted} ops failed")
        tree1 = measure.cpu_split(os.getpid())["total"]
        busy1 = measure.machine_busy_s()
        peak_rss = rss.stop()
        check = wl.check()
        check_ok = bool(check["ok"])
    finally:
        if wl is not None:
            wl.close()
        validity = {
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "driver_memory": spark.conf.get("spark.driver.memory"),
        }
        stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    if not check_ok:
        failed = attempted
    e2e = summarize_e2e(lat, busy, cpu_s, peak_rss, setup_s, stored, inputs, attempted, failed)
    validity.update(
        seed=args.seed,
        spark_graft_cpus=CPUS,
        loadavg_start=load0,
        loadavg_end=measure.loadavg(),
        foreign_cpu_s=(busy1 - busy0) - (tree1 - tree0),
        fixture_stamps=ctx.stamps,
        sizes=ctx.sizes,
    )
    detail = {
        "workload": args.workload,
        "trace": args.trace,
        "ops": len(lat),
        "latencies_s": lat,
        "validity": validity,
        "check": check,
        "setup": setup,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS.get(k, "")} for k, v in e2e.items()},
    }
    if args.trace:
        per_op = {k: measure.mean_of(layers, k) for k in sorted(set().union(*layers))}
        per_op.update(setup)
        detail["per_layer"] = per_op
        detail["reconciliation"] = reconcile(layers)
        detail["tracing_overhead"] = tracing_overhead(work, args, e2e)
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": per_op.get(n, 0.0), "unit": units[n]} for n in names}
    else:
        record_untraced(work, args, e2e)
        metrics = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]
        }
    print(json.dumps({"perfbench": detail}))
    print(json.dumps({"correct": check_ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if check_ok else 1


def reconcile(layers) -> dict:
    """Median residuals, as a share of op wall: op wall vs build + exec,
    and exec vs job wall + driver gap (non-zero only when jobs ran past
    the exec phase)."""
    r1 = [(l["op_wall_s"] - l["operators.build_s"] - l["spark.exec_s"]) / l["op_wall_s"]
          for l in layers]
    r2 = [(l["spark.exec_s"] - l["spark.job_wall_s"] - l["spark.driver_gap_s"]) / l["op_wall_s"]
          for l in layers]
    return {"wall_minus_build_exec": measure.median(r1),
            "exec_minus_jobwall_gap": measure.median(r2)}


def _results_file(work, args) -> str:
    return os.path.join(work, "results", f"{args.workload}-{args.scale}-{args.seed}.json")


def record_untraced(work, args, e2e) -> None:
    path = _results_file(work, args)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(e2e, f)


def tracing_overhead(work, args, e2e) -> dict | None:
    """Traced vs untraced latency_p50_s of the same workload and seed, when
    an untraced run of it has been recorded in this checkout."""
    try:
        with open(_results_file(work, args)) as f:
            base = json.load(f)["latency_p50_s"]
    except (OSError, KeyError, ValueError):
        return None
    return {"traced_p50_s": e2e["latency_p50_s"], "untraced_p50_s": base,
            "overhead": e2e["latency_p50_s"] / base - 1.0}


def smoke(root) -> int:
    """Every workload once on sf0.01-sized inputs, traced, its minimum op
    count each."""
    ok = True
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
               "--seed", "1", "--seconds", "0", "--trace", "1", "--scale", "smoke"]
        p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
        last = (p.stdout.strip().splitlines() or [""])[-1]
        print(f"{name}: exit {p.returncode} {last[:200]}")
        ok &= p.returncode == 0
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "mr_py_spark")):
        print("perfbench: run from the root of a checkout holding mr_py_spark/",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke(root)
    if args.workload not in WORKLOADS:
        print(f"perfbench: --workload must be one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
