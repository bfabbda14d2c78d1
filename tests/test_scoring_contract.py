"""Contract tests for the production scorer path (M3/M5 —
``emotion_analysis/model.py:108-141`` parity) driven with an injected fake
tokenizer/model — no torch/transformers needed. Pins:

- sub-batching at ``batch_size`` (``model.py:28,166-169``);
- right-padding to the batch max + ``mask = ids != pad_id``
  (``model.py:108-120``), including the pad-id-collision quirk;
- the sigmoid (multi-label) vs softmax (single-label) switch
  (``model.py:136-140``);
- the Arrow/mapInPandas wiring end-to-end on a real DataFrame.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from cinegraph_spark.operators.scoring import hf_scorer, pad_batch
from cinegraph_spark.schemas import EMOTIONS

PAD = 0


class FakeTokenizer:
    """Whitespace tokenizer: token → len(token) (so id 3 ← 'abc'). A 1-char
    token gets id 1; '' never appears. pad_token_id = 0."""

    pad_token_id = PAD

    def __call__(self, texts):
        return {"input_ids": [[len(t) for t in s.split()] for s in texts]}


class RecordingModel:
    """Deterministic fake classifier head; records every call's shapes and
    masks. logits[r][j] = (masked row sum) * (j+1) / 10 - 1."""

    def __init__(self):
        self.calls = []

    def __call__(self, input_ids, attention_mask):
        self.calls.append(
            (
                np.asarray(input_ids).copy(),
                np.asarray(attention_mask).copy(),
            )
        )
        row = (np.asarray(input_ids) * np.asarray(attention_mask)).sum(axis=1)
        j = np.arange(len(EMOTIONS)) + 1
        return row[:, None] * j[None, :] / 10.0 - 1.0


def _drive(fn, texts):
    """Run the mapInPandas function over one pandas batch, like Spark does."""
    pdf = pd.DataFrame({"window_text": texts})
    out = list(fn(iter([pdf])))
    assert len(out) == 1
    return out[0]


def test_pad_batch_shapes_and_mask():
    ids, mask = pad_batch([[5, 2], [7], [1, 2, 3, 4]], pad_id=PAD)
    assert ids.shape == (3, 4) and mask.shape == (3, 4)
    assert ids.dtype == np.int64 and mask.dtype == np.int64
    assert ids.tolist() == [[5, 2, 0, 0], [7, 0, 0, 0], [1, 2, 3, 4]]
    assert mask.tolist() == [[1, 1, 0, 0], [1, 0, 0, 0], [1, 1, 1, 1]]


def test_pad_batch_pad_id_collision_matches_reference_quirk():
    """A real token equal to pad_id is masked out — the reference's
    ``attention_mask = input_ids != pad_id`` does exactly this."""
    ids, mask = pad_batch([[3, 0, 2]], pad_id=PAD)
    assert mask.tolist() == [[1, 0, 1]]


def test_scorer_subbatches_at_batch_size_and_pads_per_batch():
    model = RecordingModel()
    fn = hf_scorer(lambda: (FakeTokenizer(), model), batch_size=4)
    # 10 texts of varying token counts → sub-batches of 4, 4, 2
    texts = [" ".join(["tok"] * n) for n in (1, 5, 2, 3, 7, 1, 4, 2, 6, 3)]
    _drive(fn, texts)
    assert [ids.shape[0] for ids, _ in model.calls] == [4, 4, 2]
    # padded length == that sub-batch's own max, not the global max
    assert [ids.shape[1] for ids, _ in model.calls] == [5, 7, 6]
    # masks row sums == true token counts
    assert [m.sum(axis=1).tolist() for _, m in model.calls] == [
        [1, 5, 2, 3],
        [7, 1, 4, 2],
        [6, 3],
    ]
    # int64 arrays reach the model
    assert all(ids.dtype == np.int64 for ids, _ in model.calls)


def test_scorer_sigmoid_vs_softmax_switch():
    texts = ["aa bbb", "c"]  # token ids [2,3], [1]

    def expected_logits():
        row = np.array([5.0, 1.0])  # masked row sums
        j = np.arange(len(EMOTIONS)) + 1
        return row[:, None] * j[None, :] / 10.0 - 1.0

    multi = _drive(
        hf_scorer(lambda: (FakeTokenizer(), RecordingModel()), multi_label=True),
        texts,
    )
    single = _drive(
        hf_scorer(lambda: (FakeTokenizer(), RecordingModel()), multi_label=False),
        texts,
    )
    logits = expected_logits()
    sig = 1.0 / (1.0 + np.exp(-logits))
    ex = np.exp(logits - logits.max(axis=1, keepdims=True))
    soft = ex / ex.sum(axis=1, keepdims=True)
    for j, e in enumerate(EMOTIONS):
        assert multi[e].tolist() == pytest.approx(sig[:, j].tolist())
        assert single[e].tolist() == pytest.approx(soft[:, j].tolist())
    # softmax rows sum to 1; sigmoid rows generally don't
    assert sum(single[e][0] for e in EMOTIONS) == pytest.approx(1.0)


def test_scorer_loader_runs_once_and_missing_loader_raises():
    loads = {"n": 0}

    def loader():
        loads["n"] += 1
        return FakeTokenizer(), RecordingModel()

    fn = hf_scorer(loader)
    _drive(fn, ["a b"])
    _drive(fn, ["c d e"])
    assert loads["n"] == 1  # per-process singleton (model.py:31-67 analog)

    with pytest.raises(NotImplementedError):
        _drive(hf_scorer(None), ["x"])


def test_scorer_empty_batch_yields_empty_scored_frame():
    fn = hf_scorer(lambda: (FakeTokenizer(), RecordingModel()))
    out = _drive(fn, [])
    assert len(out) == 0
    assert set(EMOTIONS) <= set(out.columns)


@pytest.mark.slow
def test_scorer_maps_in_pandas_end_to_end(spark):
    """The real Spark wiring: windowized texts → mapInPandas(hf_scorer) →
    scored frame with the M4 output shape, values matching the pure-pandas
    drive of the same fake model."""
    # fakes defined inside the test so cloudpickle ships them by value —
    # executors cannot import the test module
    def loader():
        import numpy as np

        class Tok:
            pad_token_id = 0  # literal: workers can't resolve test globals

            def __call__(self, texts):
                return {"input_ids": [[len(t) for t in s.split()] for s in texts]}

        def model(input_ids, attention_mask):
            row = (np.asarray(input_ids) * np.asarray(attention_mask)).sum(axis=1)
            j = np.arange(6) + 1
            return row[:, None] * j[None, :] / 10.0 - 1.0

        return Tok(), model

    rows = [(i, " ".join(["w"] * (i % 5 + 1))) for i in range(23)]
    df = spark.createDataFrame(rows, "doc_id long, window_text string")
    fn = hf_scorer(loader, batch_size=16)
    schema = "doc_id long, window_text string, " + ", ".join(
        f"{e} double" for e in EMOTIONS
    )
    got = {
        r["doc_id"]: [r[e] for e in EMOTIONS]
        for r in df.mapInPandas(fn, schema).collect()
    }
    want_pdf = _drive(
        hf_scorer(lambda: (FakeTokenizer(), RecordingModel()), batch_size=16),
        [t for _, t in rows],
    )
    for i, (doc_id, _) in enumerate(rows):
        assert got[doc_id] == pytest.approx(
            [float(want_pdf[e].iloc[i]) for e in EMOTIONS]
        ), doc_id
    assert not any(math.isnan(v) for vals in got.values() for v in vals)


def test_device_slot_round_robin_over_partitions(spark):
    """X3 — device_slot must assign partitionId % n_slots inside tasks:
    every slot in range is used, assignment is deterministic per
    partition, and out-of-task (driver) calls return 0."""
    from pyspark.sql import functions as F

    from cinegraph_spark.operators.scoring import device_slot

    assert device_slot(4) == 0  # driver side: no task context

    def emit(batches):
        import pandas as pd
        from pyspark import TaskContext

        from cinegraph_spark.operators.scoring import device_slot as ds

        pid = TaskContext.get().partitionId()
        next(batches)  # consume
        yield pd.DataFrame({"pid": [pid], "slot": [ds(3)]})

    df = (
        spark.range(60)
        .repartition(6)
        .mapInPandas(emit, "pid int, slot int")
        .collect()
    )
    got = {(r.pid, r.slot) for r in df}
    assert got == {(p, p % 3) for p in range(6)}


def test_hf_scorer_loader_receives_round_robin_slot(spark):
    """With n_device_slots set, hf_scorer calls model_loader(slot) with the
    task's round-robin slot — the pluggable point where a real loader pins
    its model to cuda:{slot}."""
    import numpy as np
    import pandas as pd

    from cinegraph_spark.operators.scoring import hf_scorer
    from cinegraph_spark.schemas import EMOTIONS

    def loader(slot):
        class Tok:
            pad_token_id = 0

            def __call__(self, texts):
                return [[slot + 1]] * len(texts)  # ids encode the slot

        def model(ids, mask):
            # logits put all mass on emotion index = ids[0][0]-1 = slot
            n = len(ids)
            out = np.full((n, len(EMOTIONS)), -40.0)
            out[:, (ids[0][0] - 1) % len(EMOTIONS)] = 40.0
            return out

        return Tok(), model

    score = hf_scorer(model_loader=loader, multi_label=True,
                      n_device_slots=2)
    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "window_id": [0, 1],
         "window_text": ["a b", "c d"]}
    )
    df = (
        spark.createDataFrame(pdf)
        .repartition(4)
        .mapInPandas(score, "doc_id long, window_id long, "
                     "window_text string, "
                     + ", ".join(f"{e} double" for e in EMOTIONS))
    )
    rows = df.collect()
    assert rows  # ran through the slot-aware loader without error
    for r in rows:
        hot = [e for e in EMOTIONS if r[e] > 0.99]
        assert len(hot) == 1  # exactly the slot-indexed emotion saturated


@pytest.mark.slow
def test_injected_model_full_pipeline_matches_stub_bookkeeping(
    spark, sf_dir
):
    """r15 verdict task 6 — the PRODUCTION path, not just the plumbing:
    documents.parquet → tokenize → windowize → mapInPandas(hf_scorer with
    an injected pure-numpy model) at sf0.001. Pins (a) the window
    bookkeeping (doc_id/window_id/window_start/window_end,
    model.py:174-177 semantics) IDENTICAL to the stub-scorer pipeline,
    and (b) a sha256 over every score against a closed-form
    recomputation from the window token weights — which only matches if
    tokenization, sub-batch padding, and masking inside the scorer are
    exactly right (a pad leak or batch-boundary effect changes the
    masked row sums and breaks the hash)."""
    import hashlib

    from pyspark.sql import functions as F

    from cinegraph_spark.queries.pipeline import _spark_scored, _spark_windows

    win = _spark_windows(spark, sf_dir)
    prod = win.select(
        "doc_id",
        "window_id",
        "window_start",
        "window_end",
        F.array_join("window_tokens", " ").alias("window_text"),
        # the independent ground truth for the model's masked row sums:
        # FakeTokenizer maps token -> len(token), mask strips the pads
        F.aggregate(
            "window_tokens",
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
        ).alias("_tok_weight"),
    )

    def loader():  # shipped by value; executors can't import this module
        import numpy as np

        class Tok:
            pad_token_id = 0

            def __call__(self, texts):
                return {
                    "input_ids": [
                        [len(t) for t in s.split()] for s in texts
                    ]
                }

        def model(input_ids, attention_mask):
            row = (
                np.asarray(input_ids) * np.asarray(attention_mask)
            ).sum(axis=1)
            j = np.arange(6) + 1
            return row[:, None] * j[None, :] / 10.0 - 1.0

        return Tok(), model

    schema = (
        "doc_id long, window_id int, window_start int, window_end int, "
        "window_text string, _tok_weight long, "
        + ", ".join(f"{e} double" for e in EMOTIONS)
    )
    # batch_size 16 guarantees multiple sub-batches per Arrow batch at
    # sf0.001 (hundreds of windows), so padding geometry varies per
    # sub-batch — the invariance of the masked row sum is what's tested
    rows = prod.mapInPandas(
        hf_scorer(loader, batch_size=16), schema
    ).collect()
    assert len(rows) > 100

    # (a) bookkeeping identical to the stub-scorer pipeline
    prod_keys = sorted(
        (r["doc_id"], r["window_id"], r["window_start"], r["window_end"])
        for r in rows
    )
    stub_keys = sorted(
        (r["doc_id"], r["window_id"], r["window_start"], r["window_end"])
        for r in _spark_scored(spark, sf_dir)
        .select("doc_id", "window_id", "window_start", "window_end")
        .collect()
    )
    assert prod_keys == stub_keys

    # (b) value hash vs the closed-form expectation from token weights
    def canon(emit):
        lines = sorted(
            f"{r['doc_id']}|{r['window_id']}|"
            + "|".join(f"{v:.9f}" for v in emit(r))
            for r in rows
        )
        return hashlib.sha256("\n".join(lines).encode()).hexdigest()

    got = canon(lambda r: [r[e] for e in EMOTIONS])
    want = canon(
        lambda r: [
            1.0
            / (1.0 + math.exp(-(r["_tok_weight"] * (j + 1) / 10.0 - 1.0)))
            for j in range(len(EMOTIONS))
        ]
    )
    assert got == want


# --- stub scorer: 64-bit keys ------------------------------------------------


def test_stub_scores_hashed_and_negative_keys_match_duckdb(spark, duck):
    """A hashed 64-bit key times 13 overflowed (ANSI ARITHMETIC_OVERFLOW) and
    a negative key gave a negative score. Spark and DuckDB agree on every
    key, scores stay in [0, 1), and a non-negative key keeps its old value."""
    from cinegraph_spark.operators.scoring import _MOD, stub_scores, stub_scores_sql

    keys = [-7046029254386353131, -5, 0, 123456789]
    rows = [(key, w, ["ab", "cde", "f"][: w + 1]) for key in keys for w in range(3)]
    got = {
        (r["key"], r["window_id"]): [r[e] for e in EMOTIONS]
        for r in stub_scores(
            spark.createDataFrame(rows, "key long, window_id int, window_tokens array<string>"),
            "key",
        ).collect()
    }
    values = ", ".join(
        f"({key}::BIGINT, {w}, {['ab', 'cde', 'f'][: w + 1]!r})" for key, w, _ in rows
    )
    sql = (
        f"SELECT key, window_id, {', '.join(stub_scores_sql('toks', 'key', 'window_id'))} "
        f"FROM (VALUES {values}) t(key, window_id, toks)"
    )
    want = {(r[0], r[1]): list(r[2:]) for r in duck.execute(sql).fetchall()}
    assert got == want
    for (key, w), scores in got.items():
        assert all(0.0 <= s < 1.0 for s in scores), (key, scores)
        if key >= 0:
            weight = sum(len(t) for t in ["ab", "cde", "f"][: w + 1])
            assert scores == [
                ((weight * (i + 1) + key * 13 + w * 7) % _MOD) / _MOD
                for i in range(len(EMOTIONS))
            ]
