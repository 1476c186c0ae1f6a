"""Round-15 loop-level evidence — the streaming LSH maintenance step's
PER-BATCH wall (triage + status write + admit + the every-other-batch
gauge CHECK) measured against standing indexes of 1x and 2x size
(VERDICT r14 item 1's done criterion, lifted from the primitive A/B to
the end-to-end loop: with the r14 full gauge the check batches paid an
index-sized groupBy + corpus-wide distinct; with the sidecar they pay
a file read, so check batches should cost the same as non-check
batches, at BOTH index sizes).

Usage: python scripts/r15_loop_flat.py --sf-dir /tmp/sparkgraft/sf10mut
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mr_py_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sparkgraft/sf10mut")
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--batch-docs", type=int, default=1000)
    args = ap.parse_args()

    spark = get_spark()
    sf = args.sf_dir

    from mr_py_spark.operators.bucketed import _BUCKETS
    from mr_py_spark.operators.dedup import (
        _LSH_INDEX_KEYS,
        lsh_band_entries,
        minhash_signatures,
    )
    from mr_py_spark.sources import tbl
    from mr_py_spark.sources.sinks import write_bucketed
    from mr_py_spark.streaming import _lsh_maintenance_step

    docs = tbl(spark, sf, "documents").select("doc_id", "text")
    n = docs.count()
    print(f"corpus {n} docs; loadavg={os.getloadavg()}", flush=True)
    twin = docs.select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat_ws(
            " ", F.col("text"), F.lit("r15loop"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    base = docs.limit(args.batch_docs * args.batches).collect()

    for tag, frame in (("1x", docs), ("2x", docs.unionByName(twin))):
        table = f"mrps_r15_loop_{tag}"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        root = f"/tmp/sparkgraft/r15_loop/{tag}"
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        t0 = time.time()
        write_bucketed(
            lsh_band_entries(minhash_signatures(frame)), table,
            _LSH_INDEX_KEYS, _BUCKETS, path=os.path.join(root, "idx"),
        )
        rows = spark.table(table).count()
        print(f"[{tag}] index {rows} band rows in {time.time()-t0:.1f}s",
              flush=True)
        step = _lsh_maintenance_step(
            spark, table, os.path.join(root, "out"),
            os.path.join(root, "idx"), check_every=2,
        )
        for b in range(args.batches):
            rows_b = [
                (50_000_000 + b * args.batch_docs + i,
                 r.text + f" loopnovel {tag} {b} {i}")
                for i, r in enumerate(
                    base[b * args.batch_docs:(b + 1) * args.batch_docs]
                )
            ]
            bdf = spark.createDataFrame(rows_b, "doc_id long, text string")
            t0 = time.time()
            step(bdf, b)
            kind = "CHECK" if b > 0 and b % 2 == 0 else "plain"
            print(f"[{tag}] batch {b} ({kind}): {time.time()-t0:.2f}s",
                  flush=True)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(root, ignore_errors=True)
    print(f"loadavg end={os.getloadavg()}")
    spark.stop()


if __name__ == "__main__":
    main()
