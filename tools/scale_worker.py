"""Single measurement for the scaling study: build the full inverted index
at a given local[N] parallelism, print one JSON line with throughput.

Run in a FRESH process per measurement (own JVM) by tools/bench_scaling.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def driver_memory() -> str:
    """Half the host's physical memory, in whole GiB (at least 1g): in
    local mode the driver JVM also runs every task."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName(f"lss-scale-{args.cpus}")
        .config("spark.sql.shuffle.partitions", str(max(4 * args.cpus, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        # small splits -> ~4 task waves at every parallelism level, so
        # straggler skew costs the same fraction of wall at N and 4N
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from lucene_solr_spark.index.builder import build_index

    src = spark.read.parquet(args.corpus)
    n_docs = src.count()
    if os.path.exists(args.out):
        shutil.rmtree(args.out)
    t0 = time.time()
    build_index(
        spark,
        src,
        out_dir=args.out,
        content_col="content",
        order_cols=["repo", "path", "commit"],
        meta_cols=["repo", "path", "lang"],
        fingerprint=f"scale-{args.cpus}-{time.time()}",
    )
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "cpus": args.cpus,
                "n_docs": n_docs,
                "wall_s": round(wall, 2),
                "files_per_sec": round(n_docs / wall, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
