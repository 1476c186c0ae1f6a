"""Warm state that ``session.get_spark`` keeps across tasks and plans:
Python workers forked from the pre-importing daemon
(``mr_py_spark._daemon``) and a whole-stage-codegen class cache that
holds a build's generated classes."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_FRESH_SESSION_PROBE = """
import gc, json, os, sys, zipimport
sys.path.insert(0, {root!r})
from mr_py_spark.session import get_spark

spark = get_spark("daemon-probe", cpus=2)
probe = lambda _: [(
    open(f"/proc/{{os.getppid()}}/cmdline", "rb").read().decode().split("\\0"),
    len(os.listdir(f"/proc/{{os.getppid()}}/task")),
    gc.get_freeze_count(),
    "mr_py_spark" in sys.modules,
    hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"),
)]
got = spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
print(json.dumps(got))
spark.stop()
"""


def test_fresh_session_workers_fork_from_the_preloaded_daemon(tmp_path):
    """The first tasks of a fresh ``get_spark`` session run in workers
    forked from ``mr_py_spark._daemon``, which was single-threaded, and
    they start with the package (and its zip import cache) imported and
    the import-time heap frozen. The task is a plain lambda that
    imports nothing of the package, and the session runs from a
    directory outside the checkout, so the daemon is importable only
    through the PYTHONPATH entry ``get_spark`` adds."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION_PROBE.format(root=ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(got) == 2
    for cmdline, threads, frozen, has_pkg, zip_cache in got:
        assert "mr_py_spark._daemon" in cmdline, cmdline
        assert threads == 1
        assert frozen > 0
        assert has_pkg
        assert zip_cache


@pytest.mark.parametrize("blas_threads,falls_back", [("1", False), ("2", True)])
def test_daemon_forks_only_when_single_threaded(tmp_path, blas_threads, falls_back):
    """The daemon checks its thread count after the preload. With one
    OpenBLAS thread it stays single-threaded and serves as itself; an
    OpenBLAS pool of two starts a thread at the numpy import, and the
    daemon replaces itself with the stock ``pyspark.daemon`` instead of
    forking from a multi-threaded process. Either way a daemon is
    serving: it writes its listening port (4 bytes) and exits when its
    stdin closes."""
    env = dict(os.environ, OPENBLAS_NUM_THREADS=blas_threads, PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, "-m", "mr_py_spark._daemon", "pyspark.worker"],
        cwd=tmp_path, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        timeout=300,
    )
    assert len(proc.stdout) == 4, proc.stderr[-2000:]
    assert (b"starting the stock pyspark.daemon" in proc.stderr) == falls_back


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_second_identical_hier_build_reuses_generated_classes(spark, tmp_path):
    """Two identical small hier + PQ builds (the same snapshot at two
    paths, so the second builds its own index): the second one finds
    its whole-stage-codegen classes in the cache. With Spark's default
    of 100 entries it recompiled 76-91 classes."""
    from mr_py_spark.operators.hier import knn_hier_pq_topk_indexed
    from tests.conftest import SF_DIR

    paths = []
    for name in ("a", "b"):
        d = tmp_path / name
        d.mkdir()
        shutil.copy(os.path.join(SF_DIR, "embeddings.parquet"), d / "embeddings.parquet")
        paths.append(str(d))
    first = knn_hier_pq_topk_indexed(spark, paths[0]).collect()
    before = _compiles(spark)
    second = knn_hier_pq_topk_indexed(spark, paths[1]).collect()
    assert _compiles(spark) - before <= 5
    assert sorted(map(tuple, second)) == sorted(map(tuple, first))
