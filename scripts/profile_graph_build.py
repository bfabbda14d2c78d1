#!/usr/bin/env python
"""Target-scale probe for the graph build: time ``build_graph_tables`` on
seeded synthetic 24-dim movie features, cold (first call in a fresh
session) and warm (second call, same inputs), with the Spark jobs each call
ran and the WSSSE of its micro-clustering.

Usage: python scripts/profile_graph_build.py --rows 40000 --k 800 --seed 1
Env: SPARK_GRAFT_CPUS as bench.py (default: all cores).

The features are ``--rows`` draws around 60 seeded Gaussian centres, so the
micro-clusters have structure to find. Generating and caching them is not
timed. The timed call includes everything ``build_graph_tables`` runs
eagerly (scaling, the micro-clustering fit, the per-cluster summary, the
tree); the lazy membership is then forced by a count, timed separately.
WSSSE is measured outside the timed calls: the rows are scaled the way the
build scales them and compared with the centers of the build's own
micro-clustering.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 24
BLOBS = 60


def synthetic_features(spark, rows: int, seed: int):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(BLOBS, DIM)) * 3.0
    X = centres[rng.integers(0, BLOBS, rows)] + rng.normal(size=(rows, DIM))
    cols = [f"f{j}" for j in range(DIM)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf.insert(0, "movie_id", np.arange(rows, dtype=np.int64))
    feats = spark.createDataFrame(pdf).persist()
    feats.count()
    return feats, cols


def wssse(features, key_col: str, cols: list[str], assignments, centers) -> float:
    """Σ squared distance from every scaled row to its cluster's center."""
    from pyspark.sql import functions as F

    from cinegraph_spark.operators.features import standard_scale
    from cinegraph_spark.session import local_df

    spark = features.sparkSession
    cent = local_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cluster int, _c array<double>",
    )
    scaled = standard_scale(features, key_col, cols)
    d2 = sum((F.col(c) - F.col("_c")[j]) ** 2 for j, c in enumerate(cols))
    return float(
        scaled.join(assignments.select(key_col, "cluster"), key_col)
        .join(F.broadcast(cent), "cluster")
        .agg(F.sum(d2))
        .collect()[0][0]
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=40_000)
    ap.add_argument("--k", type=int, default=800)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from cinegraph_spark.operators import graph_build
    from cinegraph_spark.session import get_spark

    spark = get_spark(app_name="cinegraph-profile-graph-build")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    feats, cols = synthetic_features(spark, args.rows, args.seed)

    fits = []
    kmeans_assign = graph_build.kmeans_assign

    def recording_kmeans_assign(*a, **kw):
        fits.append(kmeans_assign(*a, **kw))
        return fits[-1]

    graph_build.kmeans_assign = recording_kmeans_assign
    try:
        for run in ("cold", "warm"):
            group = f"profile_graph_build_{run}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            graph, membership = graph_build.build_graph_tables(
                spark, feats, "movie_id", cols, k=args.k, seed=args.seed
            )
            t1 = time.perf_counter()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            members = membership.count()
            t2 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            assignments, centers = fits[-1]
            print(
                f"{run}: build_graph_tables {t1 - t0:.2f} s in {jobs} spark jobs, "
                f"membership count {t2 - t1:.2f} s, {len(centers)} centers, "
                f"{graph.count()} nodes, {members} members, WSSSE "
                f"{wssse(feats, 'movie_id', cols, assignments, centers):.6g}",
                flush=True,
            )
    finally:
        graph_build.kmeans_assign = kmeans_assign
        spark.stop()


if __name__ == "__main__":
    main()
