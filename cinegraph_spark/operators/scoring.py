"""M3/M4 — pluggable window scorers producing the 6-emotion frame.

Two implementations behind one output contract
(``movie_id/doc_id, window_id, window_start, window_end, sadness..surprise``,
``emotion_analysis/model.py:172-177``):

- :func:`stub_scores` — deterministic pure-SQL scorer for correctness tests:
  integer arithmetic over window token stats, mod-normalized to [0, 1).
  Exactly reproducible in DuckDB (the oracle), and fully codegen'd.
- :func:`hf_scorer` — the production path: an Arrow-batched ``mapInPandas``
  that loads a HF classifier per executor and scores window batches
  (sigmoid multi-label vs softmax single-label, ``model.py:136-140``).
  The transformers stack is not installed in this container, so the loader
  raises unless a model object is injected — the Spark plumbing (schema,
  batching, broadcast) is real and tested with a fake model.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cinegraph_spark.schemas import EMOTIONS

#: modulus for the stub scorer — prime, keeps scores dense in [0,1).
_MOD = 997


def stub_score_col(
    window_tokens: Column, key: Column, window_id: Column, emotion_index: int
) -> Column:
    """Deterministic score in [0,1): integer arithmetic only, so Spark and
    DuckDB produce bit-identical doubles (single final division).

    The key is reduced with ``pmod(key, _MOD)`` before it is multiplied: a
    hashed 64-bit key times 13 overflows (an ANSI error), and a negative
    key would give a negative score. For a non-negative key whose product
    fits in 64 bits the score is unchanged."""
    tok_weight = F.aggregate(
        window_tokens, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mixed = (
        tok_weight * (emotion_index + 1)
        + F.pmod(key, F.lit(_MOD)) * 13
        + window_id * 7
    ) % _MOD
    return mixed.cast("double") / float(_MOD)


def stub_scores(df: DataFrame, key_col: str) -> DataFrame:
    """Attach the 6 deterministic emotion columns to a windowized frame."""
    return df.select(
        "*",
        *[
            stub_score_col(
                F.col("window_tokens"),
                F.col(key_col),
                F.col("window_id"),
                i,
            ).alias(e)
            for i, e in enumerate(EMOTIONS)
        ],
    ).drop("window_tokens")


def stub_scores_sql(tokens_slice_expr: str, key_expr: str, window_id_expr: str) -> list[str]:
    """DuckDB expressions mirroring :func:`stub_score_col`, one per emotion."""
    tok_weight = (
        f"list_sum(list_transform({tokens_slice_expr}, x -> CAST(len(x) AS BIGINT)))"
    )
    out = []
    for i, e in enumerate(EMOTIONS):
        # pmod: DuckDB's % keeps the dividend's sign, as Spark's does
        key_mod = f"((({key_expr}) % {_MOD}) + {_MOD}) % {_MOD}"
        mixed = (
            f"(coalesce({tok_weight}, 0) * {i + 1} + {key_mod} * 13 "
            f"+ {window_id_expr} * 7) % {_MOD}"
        )
        out.append(f"CAST({mixed} AS DOUBLE) / {_MOD}.0 AS {e}")
    return out


# --- production scorer (pandas-UDF surface) --------------------------------


def pad_batch(id_lists: list[list[int]], pad_id: int):
    """``torch.nn.utils.rnn.pad_sequence(batch_first=True)`` parity in
    numpy, plus the reference's attention mask (``model.py:108-120``):
    right-pad every sequence to the batch max length with ``pad_id``;
    ``mask = input_ids != pad_id`` — exactly the reference's rule, including
    its quirk that a *real* token equal to pad_id is masked out.

    Returns ``(input_ids int64 [n, L], attention_mask int64 [n, L])``.
    """
    import numpy as np

    n = len(id_lists)
    length = max((len(x) for x in id_lists), default=0)
    ids = np.full((n, length), pad_id, dtype=np.int64)
    for row, seq in enumerate(id_lists):
        ids[row, : len(seq)] = seq
    mask = (ids != pad_id).astype(np.int64)
    return ids, mask


def _encode(tokenizer: Any, texts: list[str]) -> list[list[int]]:
    """Tokenize a list of texts to id-lists. Accepts an HF-style tokenizer
    (returns a mapping with ``input_ids``) or a plain callable returning the
    id-lists directly — the full-text, no-truncation call of
    ``model.py:155-156`` (windowing happened upstream)."""
    out = tokenizer(texts)
    try:
        ids = out["input_ids"]  # HF BatchEncoding / plain dict
    except (TypeError, KeyError, IndexError):
        ids = out
    return [list(x) for x in ids]


def device_slot(n_slots: int) -> int:
    """X3 — round-robin resource assignment (the reference cycles proxy
    resources round-robin per worker, ``scraping/utils.py:17-40,43-63``;
    the Spark analog is tasks picking a local accelerator/connection
    slot). The running task's partition id modulo ``n_slots`` spreads
    concurrent tasks on one executor across its local resources with zero
    coordination — deterministic per partition, so retries of a partition
    land on the same slot. Returns 0 outside a task context (driver-side
    tests, local experimentation)."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return (ctx.partitionId() if ctx is not None else 0) % max(n_slots, 1)


def hf_scorer(
    model_loader: Callable[..., Any] | None = None,
    multi_label: bool = True,
    batch_size: int = 16,
    n_device_slots: int | None = None,
):
    """Build a ``mapInPandas`` function scoring window texts with a model —
    the reference's batched forward pass (``model.py:108-141``) on the
    Arrow-batch surface.

    ``model_loader`` runs once per executor process (lazy singleton), the
    Spark-side analog of the reference's per-process model init
    (``model.py:31-67``); it returns ``(tokenizer, model)`` where ``model``
    is called as ``model(input_ids, attention_mask) -> logits [n, 6]``.
    Per sub-batch of ``batch_size`` (``model.py:28,166-169``): tokenize,
    right-pad to the batch max (``pad_batch``), mask = ids != pad_id,
    forward, then sigmoid (multi-label / PEFT path) vs row-softmax
    (single-label) exactly as ``model.py:136-140`` switches.

    With ``n_device_slots`` set, the loader is called as
    ``model_loader(slot)`` where ``slot = device_slot(n_device_slots)`` —
    the X3 round-robin assignment: each task pins its model to a local
    accelerator slot (e.g. ``torch.device(f"cuda:{slot}")``) without any
    cross-task coordination.

    The transformers stack is not installed in this container, so with no
    injected loader this raises — the batching/padding/masking semantics
    themselves are torch-free and pinned by tests/test_scoring_contract.py.
    """
    state: dict[str, Any] = {}

    def fn(batches: Iterator) -> Iterator:
        import numpy as np

        if "model" not in state:
            if model_loader is None:
                raise NotImplementedError(
                    "no model_loader injected and transformers is not "
                    "available in this environment; use stub_scores for "
                    "deterministic runs"
                )
            if n_device_slots is not None:
                state["tokenizer"], state["model"] = model_loader(
                    device_slot(n_device_slots)
                )
            else:
                state["tokenizer"], state["model"] = model_loader()
        tokenizer, model = state["tokenizer"], state["model"]
        pad_id = getattr(tokenizer, "pad_token_id", 0)
        if pad_id is None:
            # GPT-style tokenizers ship pad_token_id=None; silently using 0
            # would mask real vocab-id-0 tokens (mask = ids != pad_id), so
            # require the caller to pick one explicitly.
            raise ValueError(
                "tokenizer.pad_token_id is None; set tokenizer.pad_token_id "
                "explicitly before injecting it into hf_scorer"
            )
        for pdf in batches:
            texts = pdf["window_text"].tolist()
            scores = []
            for i in range(0, len(texts), batch_size):
                ids = _encode(tokenizer, texts[i : i + batch_size])
                input_ids, attention_mask = pad_batch(ids, pad_id)
                logits = np.asarray(
                    model(input_ids, attention_mask), dtype=np.float64
                )
                if multi_label:
                    probs = 1.0 / (1.0 + np.exp(-logits))  # sigmoid
                else:
                    ex = np.exp(logits - logits.max(axis=1, keepdims=True))
                    probs = ex / ex.sum(axis=1, keepdims=True)  # softmax
                scores.append(probs)
            allp = (
                np.concatenate(scores)
                if scores
                else np.zeros((0, len(EMOTIONS)))
            )
            out = pdf.copy()
            for j, e in enumerate(EMOTIONS):
                out[e] = allp[:, j].astype("float64")
            yield out

    return fn
