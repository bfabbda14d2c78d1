"""C1-C8 — clustering + hierarchy construction (SURVEY §2.6), re-expressed
Spark-first.

Division of labor mirrors the reference's deliberate two-level design
(``clustering/graph_creator.py:162-206``): the *wide* step (assigning every
movie to one of ≤800 micro-clusters) runs on the executors; the *small*
step (agglomerating ≤800 centroids into a tree and rebalancing it) runs on
the driver over a few KB of centroids — the analog of a broadcast/local
stage, exact and cheap at any corpus size.

The wide step (:func:`kmeans_assign`) is a seeded, weighted k-means++/Lloyd
numpy kernel (:func:`weighted_kmeans`) run in two executor passes over
Arrow batches: every input partition (coalesced to at most
``defaultParallelism``) streams its rows into at most ``SUMMARY × k``
weighted centers (:func:`summarize`, chunk by chunk, so a task holds
O(``CHUNK_ROWS`` + ``SUMMARY × k``) rows at any partition size), then one
task merges those ``≤ defaultParallelism × SUMMARY × k`` centers into the
final ``k`` and only they reach the driver. A lazy map-only pass then
labels each row with its nearest center. No Spark ML: a fit is one collect
over two stages, where Spark ML's KMeans ran a k-means|| init plus up to 20
Lloyd rounds, each its own job.

Ward linkage is implemented here directly (Lance-Williams recurrence over
the centroid distance matrix — scipy isn't available in this environment);
semantics match ``scipy.cluster.hierarchy.linkage(method='ward')`` /
``to_tree`` as used at ``graph_creator.py:192-194``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial
from typing import Callable

import numpy as np

#: knobs — reference defaults (``settings.py:104-135``).
MAX_NODES = 800
TARGET_LEAF_SIZE = 50
MAX_DEPTH = 5
MAX_FANOUT = 8
DIVERGENCE_THRESHOLD = 0.65
DELTA_THRESHOLD = 0.2
REPRESENTATIVES = 15


def n_micro_clusters(n: int) -> int:
    """``min(800, max(100, n // 50))`` (``graph_creator.py:180``)."""
    return min(MAX_NODES, max(100, n // TARGET_LEAF_SIZE))


# ---------------------------------------------------------------------------
# C1 — distributed micro-clustering (partition-local k-means + one merge)
# ---------------------------------------------------------------------------

#: Lloyd rounds per fit (Spark ML KMeans's ``maxIter`` default) and the
#: relative cost improvement below which the rounds stop early.
LLOYD_ITERS = 20
LLOYD_TOL = 1e-4
#: seeded k-means++/Lloyd restarts in the merge; the lowest weighted cost
#: wins. The merge input is at most ``defaultParallelism × SUMMARY × k``
#: rows, so restarts are cheap there and nowhere else.
MERGE_RESTARTS = 4
#: pass-1 summary size per final center: a partition reduces its rows to at
#: most ``SUMMARY × k`` weighted centers, a finer summary than the final
#: clustering, so the merge sees each partition's shape rather than one
#: local k-means of it (the streaming k-means coreset idea: Guha et al.
#: 2003; Ailon, Jaiswal & Monteleoni 2009 keep O(k log k) per chunk).
SUMMARY = 4
#: rows a pass-1 task reads before it reduces: each chunk, together with the
#: centers carried from the chunks before it, becomes at most
#: ``SUMMARY × k`` weighted centers, so a task holds
#: O(CHUNK_ROWS + SUMMARY × k) rows at any partition size.
CHUNK_ROWS = 1 << 16
#: cap on the entries of one rows × centers distance block (32 MB of
#: float64), so a partition of any size never builds an n × k matrix.
_BLOCK = 1 << 22


def _nearest(X: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Index of the nearest center (lowest index on ties) and the squared
    distance to it, for every row of ``X``, in row blocks."""
    labels = np.empty(len(X), dtype=np.int64)
    d2 = np.empty(len(X))
    cc = (C * C).sum(1)
    step = max(1, _BLOCK // max(1, len(C)))
    for lo in range(0, len(X), step):
        x = X[lo : lo + step]
        # ‖c‖² − 2 x·c: the squared distance less ‖x‖², which is the same
        # for every center of a row, so it is added back to the minimum only
        d = x @ C.T
        d *= -2.0
        d += cc
        lab = d.argmin(1)
        labels[lo : lo + step] = lab
        d2[lo : lo + step] = np.maximum(d[np.arange(len(x)), lab] + (x * x).sum(1), 0.0)
    return labels, d2


def _kmeanspp(X: np.ndarray, w: np.ndarray, k: int, rng) -> np.ndarray:
    """Greedy weighted k-means++ seeding over distinct rows: each step draws
    ``2 + ln k`` candidates with probability ∝ weight × squared distance to
    the chosen centers and keeps the one that lowers the weighted cost most
    (Arthur & Vassilvitskii 2007; the greedy trials as in scikit-learn)."""
    trials = 2 + int(np.log(k))
    cum = np.cumsum(w)
    first = min(int(np.searchsorted(cum, rng.random() * cum[-1], "right")), len(X) - 1)
    chosen = [first]
    d2 = ((X - X[first]) ** 2).sum(1)
    xx = (X * X).sum(1)
    for _ in range(1, k):
        cum = np.cumsum(w * d2)
        if cum[-1] <= 0:
            break
        cand = np.minimum(
            np.searchsorted(cum, rng.random(trials) * cum[-1], "right"), len(X) - 1
        )
        dc = xx[cand][:, None] - 2.0 * (X[cand] @ X.T) + xx[None, :]
        dc = np.minimum(d2[None, :], np.maximum(dc, 0.0))
        best = int(np.argmin(dc @ w))
        chosen.append(int(cand[best]))
        d2 = dc[best]
    return X[chosen].copy()


def _lloyd(X: np.ndarray, w: np.ndarray, C: np.ndarray):
    """Weighted Lloyd rounds from centers ``C``. A center left with no rows
    moves to the row that costs most, so every center keeps members.
    Returns ``(centers, labels, cost)``."""
    C = C.copy()
    k = len(C)
    prev = np.inf
    for it in range(LLOYD_ITERS + 1):
        labels, d2 = _nearest(X, C)
        cost = float(w @ d2)
        if it == LLOYD_ITERS or prev - cost <= LLOYD_TOL * cost:
            return C, labels, cost
        prev = cost
        mass = np.bincount(labels, weights=w, minlength=k)
        sums = np.stack(
            [np.bincount(labels, weights=w * x, minlength=k) for x in X.T], axis=1
        )
        full = mass > 0
        C[full] = sums[full] / mass[full, None]
        empty = np.flatnonzero(~full)
        if len(empty):
            C[empty] = X[np.argsort(-(w * d2), kind="stable")[: len(empty)]]


def weighted_kmeans(
    X: np.ndarray,
    w: np.ndarray,
    k: int,
    seed: int,
    stream: tuple[int, ...] = (),
    restarts: int = 1,
) -> tuple[np.ndarray, np.ndarray]:
    """Seeded weighted k-means of the rows ``X`` (weights ``w``).

    Returns ``(centers, mass)``: at most ``k`` centers, each with the total
    weight of its rows. Equal rows are merged and sorted first, so the
    result does not depend on row order. When at most ``k`` distinct rows
    remain they are the centers, exactly. Otherwise the best of
    ``restarts`` greedy k-means++/Lloyd runs by weighted cost wins; the
    runs draw from the random stream ``(seed, stream)``."""
    if not np.isfinite(X).all():
        raise ValueError("k-means input holds a NaN, infinite or null feature")
    X, inv = np.unique(X, axis=0, return_inverse=True)
    w = np.bincount(inv.reshape(-1), weights=w, minlength=len(X))
    if len(X) <= k:
        return X, w
    rng = np.random.default_rng([seed % 2**64, *stream])
    best = None
    for _ in range(restarts):
        C, labels, cost = _lloyd(X, w, _kmeanspp(X, w, k, rng))
        if best is None or cost < best[2]:
            best = (C, labels, cost)
    C, labels, _ = best
    mass = np.bincount(labels, weights=w, minlength=k)
    return C[mass > 0], mass[mass > 0]


def _matrix(batch, cols: list[str]) -> np.ndarray:
    """The (double) feature columns of an Arrow batch as a rows × d matrix
    (a null reads as NaN, which :func:`weighted_kmeans` rejects)."""
    return np.stack(
        [batch.column(c).to_numpy(zero_copy_only=False) for c in cols], axis=1
    )


#: schema of both fit passes' output: one weighted center per row.
_CENTERS_SCHEMA = "_w double, _c array<double>"


def _centers_batch(C: np.ndarray, mass: np.ndarray):
    """Centers and their weights as one Arrow batch of :data:`_CENTERS_SCHEMA`."""
    import pyarrow as pa

    offsets = np.arange(0, C.size + 1, C.shape[1], dtype=np.int32)
    return pa.RecordBatch.from_arrays(
        [pa.array(mass), pa.ListArray.from_arrays(offsets, C.ravel())],
        names=["_w", "_c"],
    )


def _chunks(blocks, size: int):
    """Re-cut row blocks into chunks of exactly ``size`` rows (the last one
    may be shorter), so the chunking does not depend on batch sizes."""
    pending, held = [], 0
    for X in blocks:
        while len(X):
            take = X[: size - held]
            X = X[len(take) :]
            pending.append(take)
            held += len(take)
            if held == size:
                yield np.concatenate(pending)
                pending, held = [], 0
    if held:
        yield np.concatenate(pending)


def summarize(blocks, m: int, seed: int, stream: int = 0):
    """Stream row blocks into at most ``m`` weighted centers.

    Rows are reduced in chunks of ``max(CHUNK_ROWS, m)``, each together
    with the weighted centers carried from the chunks before it, so at most
    O(CHUNK_ROWS + m) rows are held at once. Chunk ``i`` draws from the
    random stream ``(seed, stream, i)``. Returns ``(centers, weights)``;
    both are empty when there are no rows."""
    C, w = None, None
    for i, X in enumerate(_chunks(blocks, max(CHUNK_ROWS, m))):
        wx = np.ones(len(X))
        if C is not None:
            X, wx = np.concatenate([C, X]), np.concatenate([w, wx])
        C, w = weighted_kmeans(X, wx, m, seed, stream=(stream, i))
    if C is None:
        return np.empty((0, 0)), np.empty(0)
    return C, w


def _local_centers(batches, cols: list[str], k: int, seed: int):
    """Pass 1, one task per (coalesced) input partition: stream the
    partition's rows into at most ``SUMMARY × k`` weighted centers."""
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    C, mass = summarize(
        (_matrix(b, cols) for b in batches), SUMMARY * k, seed, stream=pid + 1
    )
    if len(C):
        yield _centers_batch(C, mass)


def _merge_centers(batches, d: int, k: int, seed: int):
    """Pass 2, a single task: the weighted centers of every partition into
    the final ``k``, best of :data:`MERGE_RESTARTS` restarts."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    w = np.concatenate([b.column("_w").to_numpy() for b in batches])
    X = np.concatenate(
        [b.column("_c").flatten().to_numpy().reshape(-1, d) for b in batches]
    )
    yield _centers_batch(*weighted_kmeans(X, w, k, seed, restarts=MERGE_RESTARTS))


def _assign_batches(batches, cols: list[str], centers: np.ndarray):
    """Each row's nearest final center, appended as ``cluster``."""
    import pyarrow as pa

    for b in batches:
        labels, _ = _nearest(_matrix(b, cols), centers)
        yield b.append_column("cluster", pa.array(labels.astype(np.int32)))


def _local_pass(rows, cols: list[str], k: int, seed: int):
    """Pass 1 as a frame ``[_w, _c]``: at most ``SUMMARY × k`` weighted
    centers per partition of ``rows`` coalesced to ``defaultParallelism``
    partitions."""
    return (
        rows.select(*cols)
        .coalesce(rows.sparkSession.sparkContext.defaultParallelism)
        .mapInArrow(partial(_local_centers, cols=cols, k=k, seed=seed), _CENTERS_SCHEMA)
    )


def kmeans_assign(features_df, key_col: str, feature_cols: list[str], k: int | None = None, seed: int = 42):
    """Assign each row to one of at most ``k`` micro-clusters.

    Returns ``(assignments, centers)``: ``assignments`` is the lazy frame
    ``[key_col, *feature_cols (as double), cluster int]`` and ``centers``
    the ``m × d`` array of final centers (``m ≤ k``; ``m`` is the number of
    distinct rows when that is smaller).

    Two executor passes and one k-row collect (the reference's wide
    MiniBatchKMeans step, ``graph_creator.py:180-186``, re-expressed — a
    different algorithm by design, SURVEY §2.6 C1 [PROP]):

    1. the input, coalesced to at most ``defaultParallelism`` partitions,
       is streamed partition-locally into at most ``SUMMARY × k`` weighted
       centers each (:func:`summarize`: chunks of ``CHUNK_ROWS`` rows, a
       random stream per partition index and chunk);
    2. one task merges those ≤ ``defaultParallelism × SUMMARY × k``
       weighted centers into the final ``k`` — best of
       :data:`MERGE_RESTARTS` seeded restarts by weighted cost — and only
       those ``k`` rows reach the driver.

    The assignment is a third, lazy map-only pass: nearest final center
    per row. The result is a function of ``seed``, the rows, how they are
    partitioned and, past ``CHUNK_ROWS`` rows in a partition, their order.
    Raises ``ValueError`` on an empty input.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    from cinegraph_spark.session import ensure_shipped

    ensure_shipped(features_df.sparkSession)  # the Arrow passes run this module
    cols = list(feature_cols)
    if k is None:
        k = n_micro_clusters(features_df.count())
    if k < 1:
        raise ValueError(f"k must be positive, got {k}")
    rows = features_df.selectExpr(
        f"`{key_col}`", *[f"CAST(`{c}` AS DOUBLE) AS `{c}`" for c in cols]
    )
    merged = (
        _local_pass(rows, cols, k, seed)
        .repartition(1)
        .mapInArrow(partial(_merge_centers, d=len(cols), k=k, seed=seed), _CENTERS_SCHEMA)
        .collect()
    )
    if not merged:
        raise ValueError("KMeans training requires a non-empty corpus")
    centers = np.array([r["_c"] for r in merged], dtype=np.float64)
    assignments = rows.mapInArrow(
        partial(_assign_batches, cols=cols, centers=centers),
        StructType([*rows.schema.fields, StructField("cluster", IntegerType(), False)]),
    )
    return assignments, centers


# ---------------------------------------------------------------------------
# C3 — Ward agglomerative linkage (driver-side, Lance-Williams)
# ---------------------------------------------------------------------------


def ward_linkage(points: np.ndarray) -> np.ndarray:
    """Agglomerative Ward clustering over ``points`` (m × d).

    Returns a scipy-style linkage matrix Z (m-1 × 4): each row
    ``[left_id, right_id, distance, size]`` where ids ≥ m refer to
    previously formed merges. Distance is the Ward distance
    (sqrt of the variance-increase form), matching scipy's convention.
    """
    m = len(points)
    if m == 1:
        return np.empty((0, 4))
    # squared euclidean distances between current clusters
    sq = ((points[:, None, :] - points[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(sq, np.inf)
    sizes = np.ones(m)
    ids = np.arange(m)  # current cluster id per active slot
    active = np.ones(m, dtype=bool)
    Z = np.zeros((m - 1, 4))
    next_id = m
    for step in range(m - 1):
        # find the closest active pair (deterministic tie-break: lowest flat index)
        masked = np.where(active[:, None] & active[None, :], sq, np.inf)
        i, j = np.unravel_index(np.argmin(masked), masked.shape)
        if i > j:
            i, j = j, i
        d = float(np.sqrt(masked[i, j]))
        ni, nj = sizes[i], sizes[j]
        a, b = ids[i], ids[j]
        Z[step] = [min(a, b), max(a, b), d, ni + nj]
        # Lance-Williams ward update of slot i; retire slot j
        k_mask = active.copy()
        k_mask[[i, j]] = False
        nk = sizes[k_mask]
        sq_ik = sq[i, k_mask]
        sq_jk = sq[j, k_mask]
        new_sq = (
            (ni + nk) * sq_ik + (nj + nk) * sq_jk - nk * sq[i, j]
        ) / (ni + nj + nk)
        sq[i, k_mask] = new_sq
        sq[k_mask, i] = new_sq
        sizes[i] = ni + nj
        ids[i] = next_id
        active[j] = False
        sq[j, :] = np.inf
        sq[:, j] = np.inf
        next_id += 1
    return Z


# ---------------------------------------------------------------------------
# C4 — linkage → nested dict tree
# ---------------------------------------------------------------------------


def linkage_to_tree(Z: np.ndarray, cluster_members: dict[int, list[int]]) -> dict:
    """Convert a linkage matrix + micro-cluster membership into the
    reference tree dict ``{type, indices, count, distance, children}``
    (``graph_creator.py:209-234``). Leaves are micro-clusters."""
    m = len(Z) + 1
    nodes: dict[int, dict] = {}
    for cid in range(m):
        members = list(cluster_members.get(cid, []))
        nodes[cid] = {
            "type": "leaf",
            "indices": members,
            "count": len(members),
            "children": [],
        }
    for step, (a, b, dist, _size) in enumerate(Z):
        left, right = nodes.pop(int(a)), nodes.pop(int(b))
        nodes[m + step] = {
            "type": "node",
            "distance": float(dist),
            "count": left["count"] + right["count"],
            "indices": left["indices"] + right["indices"],
            "children": [left, right],
        }
    root = nodes[max(nodes)] if len(Z) else nodes[0]
    root["type"] = "root"
    return root


# ---------------------------------------------------------------------------
# C5 — tree rebalance (pure function, property-tested)
# ---------------------------------------------------------------------------


def rebalance_tree(
    node: dict,
    depth: int = 0,
    max_depth: int = MAX_DEPTH,
    max_fanout: int = MAX_FANOUT,
    divergence_threshold: float = DIVERGENCE_THRESHOLD,
) -> dict:
    """Rebalance semantics of ``graph_creator.py:237-281``:

    - a node at depth ≥ max_depth (or with no children) becomes a leaf;
    - otherwise children are rebalanced recursively, then repeatedly: any
      child of type 'node' whose ``distance / (parent.distance + 1e-9)``
      exceeds the divergence threshold is inlined (replaced by its
      children), while current fanout < max_fanout and something changed
      last pass. (Fanout may overshoot max_fanout within a pass — the
      reference's documented loose bound, ``settings.py:121-124``.)

    **Deliberate deviation from the reference**: ``graph_creator.py:237-281``
    keeps children on depth-capped nodes (and ``_populate_db_from_tree``
    still recurses into them), so reference trees can exceed max_depth in
    the DB. Here a depth-capped node truncates its subtree and absorbs all
    member indices — max_depth becomes a hard invariant (what
    :func:`tree_invariants` checks and the serving queries assume). The
    saner contract, kept intentionally.
    """
    if not node.get("children") or depth >= max_depth:
        if node["type"] != "root":
            node["type"] = "leaf"
        node["children"] = []
        return node

    node["children"] = [
        rebalance_tree(c, depth + 1, max_depth, max_fanout, divergence_threshold)
        for c in node["children"]
    ]

    changed = True
    while changed and len(node["children"]) < max_fanout:
        changed = False
        new_children = []
        for child in node["children"]:
            if child["type"] == "node":
                div = child.get("distance", 0) / (node.get("distance", 1) + 1e-9)
                if div > divergence_threshold:
                    new_children.extend(child["children"])
                    changed = True
                    continue
            new_children.append(child)
        node["children"] = new_children
    return node


def tree_invariants(node: dict, depth: int = 0) -> list[str]:
    """Check the structural invariants the reference guarantees; returns a
    list of violations (empty == healthy). Used by property tests."""
    problems = []
    kids = node.get("children", [])
    if kids:
        if depth >= MAX_DEPTH:
            problems.append(f"internal node at depth {depth} >= {MAX_DEPTH}")
        member_union = sorted(i for c in kids for i in c["indices"])
        if member_union != sorted(node["indices"]):
            problems.append("children indices do not partition parent indices")
        if sum(c["count"] for c in kids) != node["count"]:
            problems.append("count != sum(children counts)")
        for c in kids:
            problems.extend(tree_invariants(c, depth + 1))
    else:
        if node["type"] not in ("leaf", "root"):
            problems.append(f"childless node of type {node['type']}")
    return problems


# ---------------------------------------------------------------------------
# C7 — emotional-shift labels; M7 — naming fallback
# ---------------------------------------------------------------------------


def emotional_shift(
    child_centroid: np.ndarray | None,
    parent_centroid: np.ndarray | None,
    feature_names: list[str],
    n_emotions: int = 6,
    delta_threshold: float = DELTA_THRESHOLD,
) -> str:
    """Shift label (``graph_creator.py:118-159``): top-2 positive deltas >
    threshold → 'Higher {emotion} in act{N}'; bottom-1 negative < -threshold
    → 'Lower ...'; std block excluded; fixed fallback strings."""
    if parent_centroid is None:
        return "Baseline Story Shape"
    deltas = np.asarray(child_centroid) - np.asarray(parent_centroid)
    deltas = deltas[: -n_emotions] if n_emotions else deltas  # drop std block
    shifts = []
    order = np.argsort(deltas)
    for idx in order[-2:]:
        if deltas[idx] > delta_threshold:
            shifts.append("Higher " + feature_names[idx].replace("_", " in "))
    for idx in order[:1]:
        if deltas[idx] < -delta_threshold:
            shifts.append("Lower " + feature_names[idx].replace("_", " in "))
    return ", ".join(shifts) if shifts else "Balanced/Nuanced Pacing"


def fallback_names(parent_name: str, n: int) -> list[str]:
    """Deterministic node naming (``clustering/utils.py:130`` fallback).

    Hardening beyond the reference's plain f-string: the fallback is the
    retry protocol's terminal state, so it MUST satisfy
    :func:`validate_names` for any parent string — collapse/normalize
    whitespace (exotic whitespace like NEL would otherwise split the
    ``_Subgroup_i`` suffix into its own word) and keep at most 3 parent
    words so the result never exceeds the 4-word cap.

    Deliberate deviation from the reference's terminal fallback text
    (which emits ``parent.replace(' ', '_')_Subgroup_{i+1}`` — underscore
    -joined parent, 1-based index): this repo keeps spaces in the (≤3)
    parent words and uses 0-based indices. Both satisfy
    :func:`validate_names`; byte parity of fallback name TEXT with
    reference output is not a goal (the names are synthetic labels, not
    data), so the deviation is recorded here rather than matched."""
    words = parent_name.split()[:3]
    base = " ".join(words)
    return [f"{base}_Subgroup_{i}" for i in range(n)]


def validate_names(names: list[str], n: int) -> bool:
    """The reference's LLM-name validation (``clustering/utils.py:36-57``):
    right count, each ≤ 4 words, all unique."""
    return (
        len(names) == n
        and all(len(str(x).split()) <= 4 for x in names)
        and len(set(names)) == n
    )


#: LLM naming budget (``clustering/utils.py:113-127``).
NAMER_RETRIES = 5


def retry_namer(
    llm: Callable[[str, list[dict], int], list[str]],
    retries: int = NAMER_RETRIES,
) -> Callable[[str, list[dict]], list[str]]:
    """M7 — wrap a pluggable LLM callable in the reference's retry/validate
    protocol (``clustering/utils.py:76-130``): up to ``retries`` calls of
    ``llm(parent_name, groups, attempt)``; each response is validated
    (count, ≤ 4 words each, all unique — :func:`validate_names`); invalid
    responses AND raised exceptions consume a retry; when the budget is
    exhausted the names fall back to ``{parent}_Subgroup_{i}`` exactly like
    ``utils.py:130``. ``groups`` carry each child's representative member
    keys and shift label (see :func:`flatten_tree`), the same context the
    reference's prompt builder feeds its structured-output LLM.

    Returns a namer pluggable into :func:`flatten_tree` /
    ``build_graph_tables`` — deterministic infrastructure around a
    nondeterministic callable, so the protocol itself is property-testable
    with a fake LLM (tests/test_clustering.py)."""

    def namer(parent_name: str, groups: list[dict]) -> list[str]:
        n = len(groups)
        for attempt in range(retries):
            try:
                names = [str(x) for x in llm(parent_name, groups, attempt)]
            except Exception:
                continue
            if validate_names(names, n):
                return names
        return fallback_names(parent_name, n)

    return namer


# ---------------------------------------------------------------------------
# C8 — flatten tree → serving tables (graph / membership)
# ---------------------------------------------------------------------------


@dataclass
class FlatGraph:
    nodes: list[tuple] = field(default_factory=list)  # (id, path, name, type, children_count)
    membership: list[tuple] = field(default_factory=list)  # (member_index, graph_id)


def annotate_tree(
    tree: dict,
    counts: dict[int, int],
    sums: dict[int, np.ndarray],
    feature_names: list[str],
) -> None:
    """Attach ``_centroid`` and ``_shift`` to every tree node from
    per-micro-cluster aggregates (count + feature-sum per cluster id).

    This is the driver-side half of the distributed C6/C7 computation: a
    node's centroid is the count-weighted mean of its member clusters'
    sums — identical to the member-row mean the reference computes
    (``graph_creator.py:345-347``) but derived from O(k × d) aggregates
    instead of the corpus. Shift labels (``graph_creator.py:118-159``) are
    pure math over (child, parent) centroids. The corpus itself never
    reaches the driver.
    """

    def centroid_of(node: dict) -> np.ndarray | None:
        cids = [int(c) for c in node.get("indices", [])]
        tot = sum(counts.get(c, 0) for c in cids)
        if tot == 0:
            return None
        return np.sum([sums[c] for c in cids if c in sums], axis=0) / tot

    def visit(node: dict, parent_centroid) -> None:
        cc = centroid_of(node)
        node["_centroid"] = cc
        node["_shift"] = (
            emotional_shift(cc, parent_centroid, feature_names)
            if cc is not None
            else "Baseline Story Shape"
        )
        for child in node.get("children", []):
            visit(child, cc)

    visit(tree, None)


def flatten_tree(
    tree: dict,
    namer: Callable[[str, list[dict]], list[str]] | None = None,
) -> FlatGraph:
    """DFS the rebalanced tree into flat serving rows with pre-assigned ids
    and dot-paths (the reference's recursive DB populate,
    ``graph_creator.py:305-378``, minus the two-phase id dance).

    ``namer(parent_name, groups) -> names`` mirrors M7; defaults to the
    deterministic fallback. Groups carry each child's shift label
    (``node['_shift']``, see :func:`annotate_tree`) and representative
    member keys (``node['_representatives']``, computed distributed by
    ``operators/graph_build.py::node_representatives``) so an LLM namer
    plugs in unchanged; both default to empty on unannotated trees.
    """
    out = FlatGraph()
    counter = {"next": 0}

    def nid() -> int:
        counter["next"] += 1
        return counter["next"] - 1

    def visit(node: dict, parent_path: str, name: str):
        my_id = nid()
        path = f"{parent_path}.{my_id}" if parent_path else "root"
        kids = node.get("children", [])
        # children_count counts child *nodes* (graph_repo.py:84 bumps it in
        # add_child only; attached movies don't) — leaves carry 0.
        out.nodes.append(
            (
                my_id,
                path,
                name,
                node["type"] if not kids or node["type"] == "root" else "node",
                len(kids),
            )
        )
        if not kids:
            for idx in node["indices"]:
                out.membership.append((int(idx), my_id))
            return
        groups = [
            {
                "representative_indices": child.get("_representatives", []),
                "shift": child.get("_shift", "Baseline Story Shape"),
            }
            for child in kids
        ]
        name_fn = namer or (lambda parent, gs: fallback_names(parent, len(gs)))
        names = name_fn(name, groups)
        if not validate_names(list(names), len(kids)):
            names = fallback_names(name, len(kids))
        for child, child_name in zip(kids, names):
            visit(child, path, child_name)

    visit(tree, "", "root")
    return out
