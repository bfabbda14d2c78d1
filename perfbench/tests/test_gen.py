"""The input generator: deterministic per seed, and its corpus carries every
artifact class the cleaner removes while keeping exact token counts."""

import re

import pytest

from perfbench import gen
from perfbench.model import build_model


def _corpus(seed, n=60):
    return gen.Generator(seed).corpus(n)


def test_same_seed_same_inputs():
    a, b = gen.Generator(5), gen.Generator(5)
    ca, cb = a.corpus(40), b.corpus(40)
    assert [(m.movie_id, m.filename, m.n_tokens, m.text) for m in ca] == [
        (m.movie_id, m.filename, m.n_tokens, m.text) for m in cb
    ]
    sa, sb = a.sessions([m.movie_id for m in ca]), b.sessions([m.movie_id for m in cb])
    assert [next(sa) for _ in range(300)] == [next(sb) for _ in range(300)]
    ba = a.refresh_batch(0, ca, 12, 41)
    bb = b.refresh_batch(0, cb, 12, 41)
    assert [(m.movie_id, m.version, m.text) for m in ba] == [
        (m.movie_id, m.version, m.text) for m in bb
    ]


def test_other_seed_other_inputs():
    assert [m.text for m in _corpus(5, 10)] != [m.text for m in _corpus(6, 10)]


def test_ids_sequential_and_names_unique():
    movies = _corpus(3)
    assert [m.movie_id for m in movies] == list(range(1, len(movies) + 1))
    assert len({m.name for m in movies}) == len(movies)
    assert len({m.filename for m in movies}) == len(movies)


def test_corpus_covers_the_edge_cases():
    movies = _corpus(3, 200)
    assert any(m.year is None and "_1" not in m.filename for m in movies)
    assert any(not m.title.isascii() for m in movies)
    assert any(m.n_windows < 3 for m in movies)
    assert any(m.n_windows % 3 != 0 and m.n_windows >= 3 for m in movies)
    text = "".join(m.text for m in movies)
    for pattern in [
        r"\d{2}:\d{2}:\d{2},\d{3} --> ",  # SRT timestamps
        r"\d{2}:\d{2}:\d{2}\.\d{3} --> ",  # WebVTT timestamps
        r"^WEBVTT", r"\[[a-z ]+\]", r"\([a-z ]+\)", r"\{\\an8\}",
        r"<i>", r"<v [A-Z]", r"^[A-Z ]+: ", r"^\w[\w ]*: ",
        r"\b(Um|Uh|Like|Okay|Yeah)\b", r"\.\.\.", r"--", r'"',
    ]:
        assert re.search(pattern, text, re.M), pattern


def test_refresh_batch_mixes_reuploads_and_new_movies():
    g = gen.Generator(4)
    known = g.corpus(50)
    batch = g.refresh_batch(2, known, 24, 51)
    old = [m for m in batch if m.movie_id <= 50]
    new = [m for m in batch if m.movie_id > 50]
    assert len(old) == 6 and len(new) == 18
    assert all(m.version == 1 for m in old)
    assert [m.movie_id for m in new] == list(range(51, 69))
    by_id = {m.movie_id: m for m in known}
    assert all(m.name == by_id[m.movie_id].name for m in old)


def test_sessions_are_zipf_popular():
    ids = list(range(1, 201))
    stream = gen.Generator(9).sessions(ids)
    counts = {}
    for _ in range(5000):
        mid, _ = next(stream)
        counts[mid] = counts.get(mid, 0) + 1
    top = sorted(counts.values(), reverse=True)
    assert top[0] > 10 * top[len(top) // 2]


def test_cleaned_token_counts_are_exact():
    duckdb = pytest.importorskip("duckdb")
    from cinegraph_spark.functions.text_clean import clean_subtitles_sql

    con = duckdb.connect()
    expr = clean_subtitles_sql("t")
    for m in _corpus(8, 40) + gen.Generator(8).refresh_batch(0, _corpus(8, 40), 8, 41):
        out = con.execute(f"SELECT {expr} FROM (SELECT ? AS t)", [m.text]).fetchone()[0]
        assert len(out.split()) == m.n_tokens, m.filename


def test_model_is_deterministic_and_emotion_aware():
    import numpy as np

    from cinegraph_spark.operators.scoring import pad_batch

    tok_a, model_a = build_model(3)
    tok_b, model_b = build_model(3)
    g = gen.Generator(3)
    sad = " ".join(g.pools[0][:50])
    joy = " ".join(g.pools[1][:50])
    ids, mask = pad_batch(tok_a([sad, joy])["input_ids"], tok_a.pad_token_id)
    la, lb = model_a(ids, mask), model_b(ids, mask)
    assert np.array_equal(la, lb) and la.shape == (2, 6)
    assert la[0].argmax() == 0 and la[1].argmax() == 1
