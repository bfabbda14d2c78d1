"""End-to-end graph construction + serving queries — the Spark rendition of
the reference's ``construct_graph`` (``graph_creator.py:381-392``) and the
FastAPI serving layer (``api/api.py:35-74``).

Pipeline (three eager collects of ≤ k rows each, a fourth of representative
keys with a namer, then the driver-side small steps):

    features(24-dim) ──agg──► n, mean, std per feature           [1 row]
    features ──scale (literals)──► pass 1: ≤4k weighted centers
      per partition ──► pass 2: one task merges to k centers     [wide]
    scaled ──nearest center──► assignments(key, features, cluster)
      ──groupBy cluster──► count + feature sums                  [≤k rows]
    assignments ──(key, cluster)──► cached for the membership join
    centroids(≤800×24, a few KB) ──ward──► tree ──rebalance──► flatten  [driver]
    graph/membership rows ──createDataFrame──► serving tables           [tiny]

At 100 TB the wide part is the only part that touches the corpus; the
driver never holds more than (k × d) floats plus the ≤800-node tree —
exactly the reference's own scalability argument, kept intact.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cinegraph_spark.operators.clustering import (
    REPRESENTATIVES,
    FlatGraph,
    annotate_tree,
    flatten_tree,
    kmeans_assign,
    linkage_to_tree,
    n_micro_clusters,
    rebalance_tree,
    ward_linkage,
)
from cinegraph_spark.operators.features import scale_by, scale_moments
from cinegraph_spark.schemas import GRAPH


def _sql_double(x: float | None) -> str:
    """``x`` as an exact SQL double literal; NULL for None or a non-finite
    value (the clustering then rejects the column)."""
    return f"{x!r}D" if x is not None and math.isfinite(x) else "CAST(NULL AS DOUBLE)"


def _iter_nodes(tree: dict):
    stack = [tree]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(node.get("children", []))


def node_representatives(
    assignments: DataFrame,
    tree: dict,
    key_col: str,
    feature_cols: list[str],
    top: int = REPRESENTATIVES,
) -> None:
    """C6 distributed: attach ``_representatives`` (the ``top`` member keys
    closest to the node centroid, ``graph_creator.py:343-354``) to every
    annotated tree node, without collecting the corpus. ``assignments``
    carries ``key_col``, ``cluster`` and the (scaled) ``feature_cols``.

    Plan shape: a tiny (node, cluster, centroid) mapping table — Σ over
    nodes of their member-cluster count, ≤ nodes × k rows — broadcast-joined
    onto the assignments (each row fans out to its ≤depth ancestor nodes),
    distance computed as a JVM array expression against the in-row centroid,
    then the C6 window top-k idiom per node. Only node_count × top (id, key)
    pairs ever reach the driver.
    """
    annotated = [n for n in _iter_nodes(tree) if n.get("_centroid") is not None]
    if not annotated:
        return
    rows = []
    for tag, node in enumerate(annotated):
        cent = [float(x) for x in node["_centroid"]]
        for cid in node["indices"]:
            rows.append((tag, int(cid), cent))
    spark = assignments.sparkSession
    from cinegraph_spark.session import local_df

    mapping = local_df(
        spark, rows, "_tag int, cluster int, _cent array<double>"
    )
    vec = F.array(*[F.col(c).cast("double") for c in feature_cols])
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(vec, F.col("_cent"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    w = Window.partitionBy("_tag").orderBy(F.asc("_dist"), F.asc(key_col))
    reps = (
        assignments.join(F.broadcast(mapping), "cluster")
        .select("_tag", key_col, dist.alias("_dist"))
        .withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= top)
        .orderBy("_tag", "_rnk")
        .select("_tag", key_col)
        .collect()
    )
    for node in annotated:
        node["_representatives"] = []
    for row in reps:
        annotated[row["_tag"]]["_representatives"].append(row[key_col])


def build_graph_tables(
    spark: SparkSession,
    features: DataFrame,
    key_col: str,
    feature_cols: list[str],
    k: int | None = None,
    seed: int = 42,
    namer=None,
) -> tuple[DataFrame, DataFrame]:
    """Features → (graph, membership) serving tables.

    Returns ``graph`` (schemas.GRAPH shape) and ``membership``
    (key_col, graph_id) mapping every input row to its leaf node.

    Driver-memory contract (the 100 TB shape): the only things collected
    are (a) one row of row count + scaling moments, (b) the ≤k final
    micro-cluster centers (:func:`kmeans_assign`), (c) the ≤k
    per-micro-cluster summaries (count + feature sums — a few KB), (d) when
    a ``namer`` is supplied, node_count × 15 representative keys, and (e)
    nothing else. The assignment pass carries the scaled features next to
    ``cluster``, so the summary is one ``groupBy`` with no join. Tree leaves
    carry *micro-cluster ids* (not row ordinals), so ward/rebalance/flatten are
    O(k); per-row leaf assignment is a broadcast join of the tiny
    cluster→leaf map onto the distributed assignments. Representatives
    (C6) and shift labels (C7) come from per-cluster aggregates /
    the distributed window idiom — see :func:`annotate_tree` and
    :func:`node_representatives`. ``tests/test_clustering.py`` pins that
    no corpus-sized collect happens in this build.

    An EMPTY features frame (every movie filtered by the <3-window gate
    on a degenerate corpus, r17 minimal-fixture sweep) yields a graph of
    just the root and an empty membership — clustering zero movies is
    zero clusters, not a crash: a 100 TB pipeline stage must survive an
    upstream filter leaving nothing.
    """
    # one aggregate: row count (and so emptiness) plus the scaling moments
    stats = features.selectExpr(
        "count(1) AS _n", *scale_moments(feature_cols)
    ).collect()[0]
    if stats["_n"] == 0:
        graph_df = spark.createDataFrame(
            [(0, "root", "root", "root", 0)], schema=GRAPH
        )
        membership_df = spark.createDataFrame(
            [], f"{key_col} long, graph_id long"
        )
        return graph_df, membership_df
    if k is None:
        k = n_micro_clusters(stats["_n"])
    scaled = features.selectExpr(
        f"`{key_col}`", *scale_by(feature_cols, lambda name: _sql_double(stats[name]))
    )
    # assignments carry the scaled features next to ``cluster``: the one
    # cache the summary and the representatives read (``scaled`` is read
    # twice, by the fit and by this cache, so it is not cached itself)
    assignments, centers = kmeans_assign(scaled, key_col, feature_cols, k=k, seed=seed)
    assignments = assignments.persist()

    # per-micro-cluster summaries: ≤k rows × (1 + d) values on the driver.
    summary = (
        assignments.groupBy("cluster")
        .agg(F.expr("count(1) AS _n"), *[F.expr(f"sum(`{c}`) AS `{c}`") for c in feature_cols])
        .collect()
    )
    counts = {int(r["cluster"]): int(r["_n"]) for r in summary}
    sums = {
        int(r["cluster"]): np.array([float(r[c]) for c in feature_cols])
        for r in summary
    }

    # driver-side small steps: ward over ≤800 centroids, rebalance, flatten.
    # Leaves carry their micro-cluster id; a center no row is nearest to
    # still appears as a ward point but attaches no members.
    members = {cid: [cid] for cid in range(len(centers))}
    Z = ward_linkage(centers)
    tree = rebalance_tree(linkage_to_tree(Z, members))
    annotate_tree(tree, counts, sums, list(feature_cols))
    if namer is not None:
        node_representatives(assignments, tree, key_col, feature_cols)
    # membership needs only (key, cluster): cache that (a no-op write fills
    # it in one map-only job) and drop the wide cache, so no copy of the
    # scaled features outlives the build
    keyed = assignments.select(key_col, "cluster").persist()
    keyed.write.format("noop").mode("overwrite").save()
    assignments.unpersist()
    flat: FlatGraph = flatten_tree(tree, namer=namer)

    from cinegraph_spark.session import local_df

    graph_df = local_df(
        spark, [(int(i), p, n, t, int(c)) for i, p, n, t, c in flat.nodes], GRAPH
    )
    # leaf assignment: broadcast the tiny cluster→leaf map onto the
    # distributed assignments — the corpus-sized (key, graph_id) table is
    # built without any row leaving the cluster.
    leaf_map = local_df(
        spark,
        [(int(cid), int(gid)) for cid, gid in flat.membership],
        "cluster int, graph_id long",
    )
    membership_df = (
        keyed.join(F.broadcast(leaf_map), "cluster")
        .select(F.col(key_col).cast("long").alias(key_col), "graph_id")
    )
    return graph_df, membership_df


# --- serving queries (G1/G2/G4/G5/G7) --------------------------------------


def children_of(graph: DataFrame, node_path: str) -> DataFrame:
    """G1 — depth-1 children of a node: the ltree pattern
    ``path ~ '<p>.*{1}'`` (``graph_repo.py:114-123``) as prefix+depth
    filters (sargable, no regex)."""
    prefix = node_path + "."
    return graph.filter(
        F.col("path").startswith(prefix)
        & ~F.col("path").substr(F.lit(len(prefix) + 1), F.lit(10**6)).contains(".")
    )


def root_of(graph: DataFrame) -> DataFrame:
    """G5 — ``WHERE path = 'root'`` (``graph_repo.py:30-33``)."""
    return graph.filter(F.col("path") == "root")


def node_members(membership: DataFrame, items: DataFrame, key_col: str, node_id: int) -> DataFrame:
    """G2 — items attached to one node (``graph_repo.py:125-129``)."""
    return membership.filter(F.col("graph_id") == node_id).join(items, key_col)


def node_with_children(graph: DataFrame, membership: DataFrame, node_id: int) -> DataFrame:
    """G7 — the NodeWithChildren projection (``api/api.py:35-59``): node row
    + nested children array + member ids, one row."""
    node = graph.filter(F.col("id") == node_id)
    node_path = node.select("path")
    kids = graph.join(
        F.broadcast(node_path.select(F.col("path").alias("_pp"))),
        F.col("path").startswith(F.concat("_pp", F.lit(".")))
        & ~F.expr("substring(path, length(_pp) + 2, 1000000)").contains("."),
    ).select(
        F.struct("id", "name", "type", "path", "children_count").alias("child")
    )
    kids_arr = kids.agg(F.sort_array(F.collect_list("child")).alias("children_nodes"))
    members = (
        membership.filter(F.col("graph_id") == node_id)
        .agg(F.sort_array(F.collect_list(F.col(membership.columns[0]))).alias("member_ids"))
    )
    return node.crossJoin(kids_arr).crossJoin(members)


def subtree(graph: DataFrame, node_path: str) -> DataFrame:
    """All descendants of a node (path-prefix scan — the GiST-index query
    shape, answered by a sargable prefix filter)."""
    return graph.filter(
        (F.col("path") == node_path)
        | F.col("path").startswith(node_path + ".")
    )
