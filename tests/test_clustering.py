"""Property tests for the clustering/hierarchy operators (SURVEY §5.2 —
[PROP] operators: verified by invariants, not hashes)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cinegraph_spark.operators.clustering import (
    MAX_DEPTH,
    emotional_shift,
    fallback_names,
    flatten_tree,
    kmeans_assign,
    linkage_to_tree,
    n_micro_clusters,
    rebalance_tree,
    tree_invariants,
    validate_names,
    ward_linkage,
)
from cinegraph_spark.operators.graph_build import build_graph_tables, children_of, root_of


def test_ward_merges_separated_groups_last():
    rng = np.random.RandomState(0)
    a = rng.randn(5, 3) * 0.1
    b = rng.randn(5, 3) * 0.1 + 100.0
    pts = np.vstack([a, b])
    Z = ward_linkage(pts)
    assert Z.shape == (9, 4)
    # distances monotonic non-decreasing (ward has no inversions)
    assert (np.diff(Z[:, 2]) >= -1e-9).all()
    # the final merge joins the two far groups: its distance dominates
    assert Z[-1, 2] > 50
    # sizes: final row merges everything
    assert Z[-1, 3] == 10


def test_ward_matches_bruteforce_two_points():
    pts = np.array([[0.0, 0.0], [3.0, 4.0]])
    Z = ward_linkage(pts)
    assert Z.shape == (1, 4)
    assert Z[0, 2] == pytest.approx(5.0)  # ward distance of singletons = euclidean


def test_linkage_to_tree_partitions_members():
    pts = np.array([[0.0], [1.0], [10.0], [11.0]])
    Z = ward_linkage(pts)
    members = {0: [0, 7], 1: [1], 2: [2, 5], 3: [3]}
    tree = linkage_to_tree(Z, members)
    assert tree["type"] == "root"
    assert sorted(tree["indices"]) == [0, 1, 2, 3, 5, 7]
    assert tree["count"] == 6
    assert not tree_invariants(tree)


def _node(dist, children, indices=None):
    idx = indices if indices is not None else sorted(
        {i for c in children for i in c["indices"]}
    )
    return {
        "type": "node",
        "distance": dist,
        "indices": list(idx),
        "count": sum(c["count"] for c in children),
        "children": children,
    }


def _leaf(indices):
    return {"type": "leaf", "indices": list(indices), "count": len(indices), "children": []}


def test_rebalance_inlines_divergent_child():
    # child at distance 0.9 under parent at 1.0 → divergence 0.9 > 0.65 → inline
    inner = _node(0.9, [_leaf([0]), _leaf([1])])
    root = _node(1.0, [inner, _leaf([2])])
    root["type"] = "root"
    out = rebalance_tree(root)
    # inner was inlined: root now has 3 leaf children
    assert len(out["children"]) == 3
    assert all(c["type"] == "leaf" for c in out["children"])
    assert not tree_invariants(out)


def test_rebalance_keeps_convergent_child():
    inner = _node(0.1, [_leaf([0]), _leaf([1])])  # 0.1/1.0 < 0.65 → kept
    root = _node(1.0, [inner, _leaf([2])])
    root["type"] = "root"
    out = rebalance_tree(root)
    assert len(out["children"]) == 2
    assert {c["type"] for c in out["children"]} == {"node", "leaf"}


def test_rebalance_caps_depth():
    # a pure chain deeper than MAX_DEPTH gets truncated to a leaf
    node = _leaf([0])
    for d in range(10):
        node = _node(0.01 * (d + 1), [node, _leaf([10 + d])])
    node["type"] = "root"
    out = rebalance_tree(node)

    def max_internal_depth(n, d=0):
        if not n["children"]:
            return d
        return max(max_internal_depth(c, d + 1) for c in n["children"])

    assert max_internal_depth(out) <= MAX_DEPTH
    assert not tree_invariants(out)


def test_n_micro_clusters_formula():
    assert n_micro_clusters(100) == 100
    assert n_micro_clusters(5000) == 100
    assert n_micro_clusters(10000) == 200
    assert n_micro_clusters(100000) == 800  # capped


def test_emotional_shift_labels():
    feats = [f"{e}_act{a}" for a in (1, 2, 3) for e in ("sadness", "joy")]
    parent = np.zeros(6 + 2)  # 6 act-features + 2 std slots
    child = parent.copy()
    child[0] = 0.5  # sadness_act1 up
    child[3] = 0.3  # joy_act2 up
    child[2] = -0.4  # sadness_act2 down
    label = emotional_shift(child, parent, feats, n_emotions=2)
    assert "Higher sadness in act1" in label
    assert "Higher joy in act2" in label
    assert "Lower sadness in act2" in label
    assert emotional_shift(child, None, feats, n_emotions=2) == "Baseline Story Shape"
    assert (
        emotional_shift(parent, parent, feats, n_emotions=2)
        == "Balanced/Nuanced Pacing"
    )


def test_fallback_names_and_validation():
    names = fallback_names("root", 3)
    assert names == ["root_Subgroup_0", "root_Subgroup_1", "root_Subgroup_2"]
    assert validate_names(names, 3)
    assert not validate_names(["a", "a"], 2)  # dupes
    assert not validate_names(["one two three four five"], 1)  # > 4 words


def test_retry_namer_protocol():
    """M7 retry loop (clustering/utils.py:76-130 semantics): invalid
    responses consume retries, the first valid one wins, exhaustion falls
    back to {parent}_Subgroup_{i} exactly like utils.py:130."""
    from cinegraph_spark.operators.clustering import NAMER_RETRIES, retry_namer

    calls = []

    def flaky(parent, groups, attempt):
        calls.append(attempt)
        if attempt == 0:
            return ["dup", "dup"]  # not unique
        if attempt == 1:
            return ["way too many words in this name", "ok"]  # > 4 words
        if attempt == 2:
            raise RuntimeError("transient")  # exceptions consume a retry
        return ["Bleak Descents", "Hopeful Turns"]

    names = retry_namer(flaky)("root", [{}, {}])
    assert names == ["Bleak Descents", "Hopeful Turns"]
    assert calls == [0, 1, 2, 3]

    # always-invalid: consumes the full budget then falls back
    calls.clear()
    bad = retry_namer(lambda p, g, a: (calls.append(a), ["x"])[1])
    assert bad("Parent", [{}, {}, {}]) == [
        "Parent_Subgroup_0",
        "Parent_Subgroup_1",
        "Parent_Subgroup_2",
    ]
    assert calls == list(range(NAMER_RETRIES))

    # wrong-count and non-list-of-strings responses also fall back
    assert retry_namer(lambda p, g, a: ["a", "b", "c"])("p", [{}]) == [
        "p_Subgroup_0"
    ]


def test_retry_namer_feeds_groups_through_graph_build(spark, sf_dir):
    """The namer receives per-child groups with representative keys and
    shift labels during the real distributed build (C6/C7 context for M7)."""
    from cinegraph_spark.operators.clustering import retry_namer
    from cinegraph_spark.queries import load_all

    feats = load_all()["pipeline_movie_features"].spark(spark, sf_dir)
    fcols = [c for c in feats.columns if c != "doc_id"]
    seen = []

    def llm(parent, groups, attempt):
        seen.append((parent, groups))
        return [f"{parent}/{i}" for i in range(len(groups))]

    graph, _ = build_graph_tables(
        spark, feats, "doc_id", fcols, k=8, seed=42, namer=retry_namer(llm)
    )
    names = {r.name for r in graph.collect()}
    assert any("/" in n for n in names), "LLM names did not reach the graph"
    assert seen, "namer was never called"
    for _parent, groups in seen:
        for g in groups:
            assert "shift" in g and "representative_indices" in g
            assert isinstance(g["representative_indices"], list)
    # at least one group carries real representatives (non-empty leaf)
    assert any(
        g["representative_indices"] for _p, gs in seen for g in gs
    ), "no representatives were computed distributed"


def test_flatten_tree_paths_and_membership():
    inner = _node(0.1, [_leaf([0, 1]), _leaf([2])])
    root = _node(1.0, [inner, _leaf([3, 4])])
    root["type"] = "root"
    flat = flatten_tree(rebalance_tree(root))
    nodes = {n[0]: n for n in flat.nodes}
    # root is id 0 with path 'root'
    assert nodes[0][1] == "root" and nodes[0][3] == "root"
    # every non-root path's parent exists
    paths = {n[1] for n in flat.nodes}
    for _, path, *_ in flat.nodes:
        if path != "root":
            assert path.rsplit(".", 1)[0] in paths
    # membership covers all 5 ordinals exactly once, to leaf nodes only
    assert sorted(m[0] for m in flat.membership) == [0, 1, 2, 3, 4]
    leaf_ids = {n[0] for n in flat.nodes if n[4] == 0}
    assert {m[1] for m in flat.membership} <= leaf_ids


@pytest.mark.slow
def test_kmeans_properties(spark, sf_dir):
    from cinegraph_spark.queries import load_all

    feats = load_all()["pipeline_movie_features"].spark(spark, sf_dir)
    fcols = [c for c in feats.columns if c != "doc_id"]
    a1, centers1 = kmeans_assign(feats, "doc_id", fcols, k=12, seed=42)
    rows1 = {r.doc_id: r.cluster for r in a1.collect()}
    # labels in range, k respected
    assert set(rows1.values()) <= set(range(12))
    assert centers1.shape == (12, len(fcols))
    # deterministic under fixed seed
    a2, _ = kmeans_assign(feats, "doc_id", fcols, k=12, seed=42)
    rows2 = {r.doc_id: r.cluster for r in a2.collect()}
    assert rows1 == rows2


@pytest.mark.slow
def test_graph_build_driver_materialization_bounded(spark, sf_dir, monkeypatch):
    """The C8 build must never materialize corpus-sized data on the driver:
    the only collects allowed are the ≤k per-cluster summaries and (with a
    namer) node_count × 15 representative keys; toPandas is banned outright
    (VERDICT r1 finding #1)."""
    # patch the concrete class — pyspark 4 instances are
    # pyspark.sql.classic.dataframe.DataFrame, which overrides collect
    from pyspark.sql.classic.dataframe import DataFrame

    from cinegraph_spark.queries import load_all

    feats = load_all()["pipeline_movie_features"].spark(spark, sf_dir)
    fcols = [c for c in feats.columns if c != "doc_id"]
    k = 12

    sizes: list[int] = []
    orig_collect = DataFrame.collect

    def spy_collect(self):
        rows = orig_collect(self)
        sizes.append(len(rows))
        return rows

    def banned_topandas(self):
        raise AssertionError("toPandas() called inside build_graph_tables")

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    monkeypatch.setattr(DataFrame, "toPandas", banned_topandas)
    try:
        graph, membership = build_graph_tables(
            spark, feats, "doc_id", fcols, k=k, seed=42,
            namer=lambda parent, groups: fallback_names(parent, len(groups)),
        )
    finally:
        monkeypatch.undo()

    n_nodes = graph.count()
    assert sizes, "expected the per-cluster summary collect"
    bound = max(k, n_nodes * 15)
    assert all(s <= bound for s in sizes), (sizes, bound)
    # and the result is still a full, valid membership
    assert membership.count() == feats.count()


@pytest.mark.slow
def test_end_to_end_graph_build(spark, sf_dir):
    from cinegraph_spark.queries import load_all

    feats = load_all()["pipeline_movie_features"].spark(spark, sf_dir)
    fcols = [c for c in feats.columns if c != "doc_id"]
    graph, membership = build_graph_tables(
        spark, feats, "doc_id", fcols, k=12, seed=42
    )
    g = graph.collect()
    m = membership.collect()
    n_docs = feats.count()

    roots = [r for r in g if r.path == "root"]
    assert len(roots) == 1 and roots[0].id == 0
    paths = {r.path for r in g}
    for r in g:
        if r.path != "root":
            assert r.path.rsplit(".", 1)[0] in paths, f"orphan {r.path}"
    # children_count consistency
    by_parent = {}
    for r in g:
        if r.path != "root":
            by_parent[r.path.rsplit(".", 1)[0]] = (
                by_parent.get(r.path.rsplit(".", 1)[0], 0) + 1
            )
    for r in g:
        assert r.children_count == by_parent.get(r.path, 0), r
    # membership: every doc exactly once, into existing leaf nodes
    assert len(m) == n_docs
    assert len({x.doc_id for x in m}) == n_docs
    leaf_ids = {r.id for r in g if r.children_count == 0}
    assert {x.graph_id for x in m} <= leaf_ids
    # serving queries
    assert root_of(graph).count() == 1
    kids = children_of(graph, "root").collect()
    assert len(kids) == roots[0].children_count


# --- C1 kernel: partition-local k-means + one merge (quick tier) -----------


def _blob_frame(spark, n_per_blob=40, n_blobs=12, dim=6, partitions=6, seed=0):
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_blobs, dim)) * 100.0
    rows = [
        (i, *map(float, centres[i % n_blobs] + rng.normal(size=dim)))
        for i in range(n_blobs * n_per_blob)
    ]
    schema = "id long, " + ", ".join(f"f{j} double" for j in range(dim))
    df = spark.createDataFrame(rows, schema).repartition(partitions, "id")
    return df, [f"f{j}" for j in range(dim)]


def test_kmeans_one_cluster_per_separated_blob(spark):
    df, cols = _blob_frame(spark)
    assign, centers = kmeans_assign(df, "id", cols, k=12, seed=42)
    assert centers.shape == (12, len(cols))
    by_blob: dict[int, set] = {}
    for r in assign.select("id", "cluster").collect():
        by_blob.setdefault(r.id % 12, set()).add(r.cluster)
    assert all(len(c) == 1 for c in by_blob.values()), by_blob
    assert len({next(iter(c)) for c in by_blob.values()}) == 12


def test_kmeans_distinct_rows_become_the_centers(spark):
    distinct = [(float(i), float(i * i % 7), -float(i)) for i in range(9)]
    rows = [(n, *distinct[n % 9]) for n in range(45)]
    df = spark.createDataFrame(rows, "id long, a double, b double, c double").repartition(3)
    assign, centers = kmeans_assign(df, "id", ["a", "b", "c"], k=20, seed=42)
    assert sorted(map(tuple, centers.tolist())) == sorted(distinct)
    got = assign.collect()
    assert len(got) == len(rows)
    for r in got:
        assert tuple(centers[r.cluster]) == (r.a, r.b, r.c)


def test_kmeans_same_seed_same_result(spark):
    df, cols = _blob_frame(spark, n_per_blob=15, seed=3)
    runs = []
    for _ in range(2):
        assign, centers = kmeans_assign(df, "id", cols, k=7, seed=11)
        runs.append((centers, sorted(assign.select("id", "cluster").collect())))
    assert np.array_equal(runs[0][0], runs[1][0])
    assert runs[0][1] == runs[1][1]


def test_kmeans_merge_input_bounded_by_parallelism_times_summary(spark):
    from cinegraph_spark.operators.clustering import SUMMARY, _local_pass

    dp = spark.sparkContext.defaultParallelism
    k = 2
    df, cols = _blob_frame(spark, n_per_blob=20, partitions=3 * dp, seed=5)
    local = _local_pass(df, cols, k, seed=42).collect()
    assert len(local) <= dp * SUMMARY * k
    # every row is accounted for in the weights
    assert sum(r["_w"] for r in local) == df.count()


def test_summarize_streams_chunks_independent_of_block_sizes(monkeypatch):
    from cinegraph_spark.operators import clustering

    monkeypatch.setattr(clustering, "CHUNK_ROWS", 64)
    rng = np.random.default_rng(9)
    X = rng.normal(size=(1000, 5))
    seen = []
    real = clustering.weighted_kmeans

    def spy(X, w, k, seed, stream=(), restarts=1):
        seen.append(len(X))
        return real(X, w, k, seed, stream=stream, restarts=restarts)

    monkeypatch.setattr(clustering, "weighted_kmeans", spy)
    C1, w1 = clustering.summarize(iter([X]), 16, seed=3)
    # every reduction holds one chunk plus the ≤ m carried centers
    assert max(seen) <= 64 + 16
    C2, w2 = clustering.summarize(iter(np.array_split(X, 37)), 16, seed=3)
    assert len(C1) <= 16 and w1.sum() == 1000
    assert np.array_equal(C1, C2) and np.array_equal(w1, w2)
    C0, w0 = clustering.summarize(iter([X[:0]]), 16, seed=3)
    assert len(C0) == 0 and len(w0) == 0


def test_graph_build_job_count_bounded(spark):
    rng = np.random.default_rng(7)
    cols = [f"x{j}" for j in range(24)]
    rows = [(i, *map(float, rng.normal(size=24))) for i in range(137)]
    feats = spark.createDataFrame(
        rows, "id long, " + ", ".join(f"{c} double" for c in cols)
    ).localCheckpoint(eager=True)
    sc = spark.sparkContext
    group = "test_graph_build_job_count_bounded"
    sc.setJobGroup(group, group)
    try:
        graph, membership = build_graph_tables(spark, feats, "id", cols, seed=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 12, len(jobs)
    assert membership.count() == 137
    assert graph.filter(F.col("path") == "root").count() == 1
