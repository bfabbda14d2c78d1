"""Output checks. Each returns ``None`` when the result is right and a short
reason string when it is wrong; a wrong result fails its op.

They take plain Python values (collected rows, numpy arrays), so the tests
can feed them corrupted results without Spark.
"""

from __future__ import annotations

import numpy as np

#: cosine agreement allowed between the index's reported similarity and a
#: numpy recomputation (the index rounds to 6 decimals)
COS_TOL = 2e-6


def brute_force_topk(ids: np.ndarray, X: np.ndarray, q: np.ndarray, k: int):
    """Exact cosine top-k: ``[(id, cos)]`` by (cos desc, id asc)."""
    cos = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -np.round(cos, 6)))[:k]
    return [(int(ids[i]), float(cos[i])) for i in order]


def check_similar(result, ids: np.ndarray, X: np.ndarray, q: np.ndarray, k: int):
    """``result`` ([(id, cos)] by rank) must be an exact cosine top-k of
    ``q`` over ``(ids, X)``: same length, every id real and distinct, every
    reported cosine true for its id, and rank by rank the same cosines as
    the brute force (ties at 6 decimals may come in either order)."""
    want = brute_force_topk(ids, X, q, k)
    if len(result) != len(want):
        return f"similar: {len(result)} results, expected {len(want)}"
    pos = {int(i): n for n, i in enumerate(ids)}
    qn = np.linalg.norm(q)
    seen = set()
    for rank, ((nid, cs), (_, wcs)) in enumerate(zip(result, want)):
        if nid in seen or nid not in pos:
            return f"similar: rank {rank} id {nid} unknown or repeated"
        seen.add(nid)
        x = X[pos[nid]]
        true = float(x @ q / (np.linalg.norm(x) * qn))
        if abs(true - cs) > COS_TOL:
            return f"similar: id {nid} reported cos {cs}, true {true:.7f}"
        if abs(cs - wcs) > COS_TOL:
            return f"similar: rank {rank} cos {cs}, exact top-k has {wcs:.7f}"
    return None


def check_graph_node(row, node_id: int, nodes: dict, members: dict):
    """``row`` (node_with_children) must be node ``node_id`` with exactly its
    depth+1 path children, matching ``children_count``s, and its members.

    ``nodes`` maps id -> (path, children_count); ``members`` maps a leaf id
    to its sorted member ids."""
    if row is None or row["id"] != node_id:
        return f"graph_node {node_id}: missing"
    path = nodes[node_id][0]
    want = sorted(
        i for i, (p, _) in nodes.items()
        if p.startswith(path + ".") and "." not in p[len(path) + 1:]
    )
    kids = row["children_nodes"] or []
    got = sorted(c["id"] for c in kids)
    if got != want:
        return f"graph_node {node_id}: children {got[:5]}.. expected {want[:5]}.."
    if row["children_count"] != len(want):
        return f"graph_node {node_id}: children_count {row['children_count']} != {len(want)}"
    for c in kids:
        if c["children_count"] != nodes[c["id"]][1] or c["path"] != nodes[c["id"]][0]:
            return f"graph_node {node_id}: child {c['id']} row differs"
    if list(row["member_ids"] or []) != members.get(node_id, []):
        return f"graph_node {node_id}: member ids differ"
    return None


def check_movie_arc(row, movie_id: int, n_windows_allowed):
    """``row`` must be movie ``movie_id`` whose arc has window ids 0..n-1 in
    order, with ``n`` one of ``n_windows_allowed``."""
    if row is None or row["movie_id"] != movie_id:
        return f"movie_arc {movie_id}: missing"
    wids = [a["window_id"] for a in row["arc"]]
    if wids != list(range(len(wids))):
        return f"movie_arc {movie_id}: window ids not 0..n-1 in order"
    if len(wids) != row["n_windows"] or len(wids) not in n_windows_allowed:
        return (f"movie_arc {movie_id}: {len(wids)} windows, "
                f"expected one of {sorted(n_windows_allowed)}")
    return None


def check_membership(pairs, leaves: set, eligible: set):
    """Every eligible movie (3 or more windows) in exactly one leaf, and no
    other movie in any node. ``pairs`` is [(movie_id, graph_id)]."""
    seen: dict[int, int] = {}
    for mid, gid in pairs:
        if mid in seen:
            return f"membership: movie {mid} in two nodes"
        if gid not in leaves:
            return f"membership: movie {mid} attached to non-leaf {gid}"
        seen[mid] = gid
    if set(seen) != eligible:
        extra, missing = set(seen) - eligible, eligible - set(seen)
        return f"membership: {len(missing)} eligible movies missing, {len(extra)} extra"
    return None


def check_movies(rows, expected: dict):
    """Published movie rows against the generator: every movie present once
    with its exact cleaned token count, window count and ordered arc.
    ``rows`` carry movie_id, n_tokens, n_windows, wids; ``expected`` maps
    movie_id -> (n_tokens, n_windows)."""
    got = {}
    for r in rows:
        if r["movie_id"] in got:
            return f"movies: {r['movie_id']} published twice"
        got[r["movie_id"]] = r
    if set(got) != set(expected):
        return f"movies: {len(set(expected) - set(got))} missing, {len(set(got) - set(expected))} extra"
    for mid, (n_tok, n_win) in expected.items():
        r = got[mid]
        if r["n_tokens"] != n_tok:
            return f"movies: {mid} has {r['n_tokens']} tokens after cleaning, expected {n_tok}"
        if r["n_windows"] != n_win or list(r["wids"]) != list(range(n_win)):
            return f"movies: {mid} arc is not windows 0..{n_win - 1}"
    return None
