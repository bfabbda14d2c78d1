"""Each output check accepts a right result and rejects a corrupted one."""

import numpy as np

from perfbench import checks


def _vectors(n=60, d=24, seed=0):
    rng = np.random.default_rng(seed)
    return np.arange(1, n + 1, dtype=np.int64), rng.normal(size=(n, d))


def test_similar():
    ids, X = _vectors()
    q = X[7] + 0.01
    good = [(i, round(c, 6)) for i, c in checks.brute_force_topk(ids, X, q, 10)]
    assert checks.check_similar(good, ids, X, q, 10) is None
    # a true neighbour replaced by a worse one
    worst = int(ids[np.argmin(X @ q)])
    assert checks.check_similar(good[:-1] + [(worst, good[-1][1])], ids, X, q, 10)
    assert checks.check_similar(good[:-1], ids, X, q, 10)  # one missing
    assert checks.check_similar(good[:-1] + [good[0]], ids, X, q, 10)  # repeated
    swapped = [good[1], good[0]] + good[2:]
    assert checks.check_similar(swapped, ids, X, q, 10)  # wrong order
    off = [(good[0][0], good[0][1] - 1e-3)] + good[1:]
    assert checks.check_similar(off, ids, X, q, 10)  # wrong similarity
    assert checks.check_similar([(999, 1.0)] + good[1:], ids, X, q, 10)  # unknown id


NODES = {
    0: ("root", 2), 1: ("root.1", 2), 2: ("root.1.2", 0), 3: ("root.1.3", 0),
    4: ("root.4", 0),
}
MEMBERS = {2: [5, 9], 3: [1], 4: [2, 3]}


def _node_row(nid, kids, count=None, members=()):
    return {
        "id": nid,
        "children_count": len(kids) if count is None else count,
        "children_nodes": [
            {"id": k, "path": NODES[k][0], "children_count": NODES[k][1]} for k in kids
        ],
        "member_ids": list(members),
    }


def test_graph_node():
    assert checks.check_graph_node(_node_row(0, [1, 4]), 0, NODES, MEMBERS) is None
    assert checks.check_graph_node(_node_row(1, [2, 3]), 1, NODES, MEMBERS) is None
    assert checks.check_graph_node(_node_row(2, [], members=[5, 9]), 2, NODES, MEMBERS) is None
    assert checks.check_graph_node(_node_row(0, [1]), 0, NODES, MEMBERS)  # child missing
    assert checks.check_graph_node(_node_row(0, [1, 2, 4]), 0, NODES, MEMBERS)  # grandchild
    assert checks.check_graph_node(_node_row(0, [1, 4], count=3), 0, NODES, MEMBERS)
    assert checks.check_graph_node(_node_row(2, [], members=[5]), 2, NODES, MEMBERS)
    bad_child = _node_row(0, [1, 4])
    bad_child["children_nodes"][0]["children_count"] = 0
    assert checks.check_graph_node(bad_child, 0, NODES, MEMBERS)
    assert checks.check_graph_node(None, 0, NODES, MEMBERS)


def _arc(mid, wids):
    return {"movie_id": mid, "n_windows": len(wids),
            "arc": [{"window_id": w} for w in wids]}


def test_movie_arc():
    assert checks.check_movie_arc(_arc(3, [0, 1, 2, 3]), 3, {4}) is None
    assert checks.check_movie_arc(_arc(3, [0, 2, 1, 3]), 3, {4})  # out of order
    assert checks.check_movie_arc(_arc(3, [0, 1, 3]), 3, {3, 4})  # gap
    assert checks.check_movie_arc(_arc(3, [0, 1, 2]), 3, {4})  # stale version
    assert checks.check_movie_arc(_arc(4, [0, 1, 2, 3]), 3, {4})  # wrong movie
    assert checks.check_movie_arc(None, 3, {4})


def test_membership():
    leaves, eligible = {2, 3, 4}, {1, 2, 3}
    good = [(1, 2), (2, 3), (3, 4)]
    assert checks.check_membership(good, leaves, eligible) is None
    assert checks.check_membership(good + [(1, 3)], leaves, eligible)  # two leaves
    assert checks.check_membership([(1, 0), (2, 3), (3, 4)], leaves, eligible)  # non-leaf
    assert checks.check_membership(good[:2], leaves, eligible)  # missing
    assert checks.check_membership(good + [(7, 2)], leaves, eligible)  # ineligible


def test_movies():
    want = {1: (700, 3), 2: (100, 1)}
    good = [{"movie_id": 1, "n_tokens": 700, "n_windows": 3, "wids": [0, 1, 2]},
            {"movie_id": 2, "n_tokens": 100, "n_windows": 1, "wids": [0]}]
    assert checks.check_movies(good, want) is None
    assert checks.check_movies(good[:1], want)
    assert checks.check_movies(good + good[:1], want)
    assert checks.check_movies([{**good[0], "n_tokens": 701}, good[1]], want)
    assert checks.check_movies([{**good[0], "wids": [0, 2, 1]}, good[1]], want)
