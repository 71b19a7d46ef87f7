#!/usr/bin/env python
"""Distributed connected-components at graph scale — evidence that the
large-star/small-star contraction (kgforge.canon.connected_components_star,
the path canonical_map_auto takes ABOVE the driver-union-find threshold)
holds up on large same-as graphs.

    python tools/bench_cc.py [--edges 1000000] [--cpus 16]

Generates a deterministic random graph (n nodes ≈ edges/2, plus one
10k-node chain to force deep contraction), runs
connected_components_star, and reports wall seconds, node and component
counts as one JSON line.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kgforge.canon import connected_components_star  # noqa: E402
from kgforge.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()

    spark = get_spark(master=f"local[{args.cpus}]", app_name="cc-bench",
                      shuffle_partitions=args.cpus * 2)
    n_nodes = max(args.edges // 2, 4)
    # deterministic edges: endpoints from xxhash64 of the edge index
    e = (
        spark.range(args.edges)
        .select(
            F.concat(F.lit("n"), F.pmod(F.xxhash64(F.col("id") * 2), F.lit(n_nodes)).cast("string")).alias("src"),
            F.concat(F.lit("n"), F.pmod(F.xxhash64(F.col("id") * 2 + 1), F.lit(n_nodes)).cast("string")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    # a 10k chain stresses contraction depth (a path of n nodes takes about
    # log2(n) + 1 star rounds)
    chain = spark.range(10_000).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("src"),
        F.concat(F.lit("c"), (F.col("id") + 1).cast("string")).alias("dst"),
    )
    edges = e.unionByName(chain).withColumn("source", F.lit("bench"))

    t0 = time.time()
    cc = connected_components_star(edges)
    n_comp = cc.select("component").distinct().count()
    wall = time.time() - t0
    print(json.dumps({
        "edges": args.edges + 10_000,
        "nodes": cc.count(),
        "components": n_comp,
        "wall_s": round(wall, 1),
        "cpus": args.cpus,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
