"""Seeded numpy stand-in for the emotion classifier that ``hf_scorer`` loads.

The production scorer loads a Hugging Face tokenizer and model per executor.
None is installed here and nothing is downloaded, so the benchmark supplies a
tokenizer and a model with the same call shapes:

- ``tokenizer(texts) -> {"input_ids": [[int, ...], ...]}`` with a
  ``pad_token_id`` attribute, mapping words through a fixed vocabulary
  (unknown words map to ``UNK_ID``);
- ``model(input_ids, attention_mask) -> logits [n, 6]``: a token
  embedding bag (masked mean of token embeddings) times a projection, plus
  a bias.

Both are rebuilt from the seed alone, so every executor process gets the
same weights without shipping arrays. Emotion-pool words get embeddings
aligned with their emotion's logit, which makes the generated corpus'
per-act emotion mix visible in the scores and gives the cluster tree real
structure.

This module is pickled by value into the Spark Python workers (see
``make_model_loader``), so it imports nothing from the benchmark package.
"""

from __future__ import annotations

import numpy as np

N_EMOTIONS = 6
PAD_ID = 0
UNK_ID = 1
EMBED_DIM = 16
_SYLLABLES = (
    "ba be bi bo bu da de di do du fa fe fi fo fu ga ge gi go gu ka ke ki ko "
    "ku la le li lo lu ma me mi mo mu na ne ni no nu pa pe pi po pu ra re ri "
    "ro ru sa se si so su ta te ti to tu va ve vi vo vu za ze zi zo zu"
).split()
#: words the cleaner drops as fillers (F8) or that collide with them; the
#: vocabulary never contains these, so cleaned token counts are exact
FILLERS = (
    "um", "uh", "hmm", "hm", "ah", "oh", "er", "erm", "gonna", "wanna",
    "gotta", "kinda", "sorta", "like", "okay", "ok", "yeah", "yep", "nope",
)


def vocabulary(seed: int, pool_size: int = 120, neutral_size: int = 600):
    """Deterministic word lists: one pool per emotion plus a neutral pool.

    Words are 2-4 random syllables of lowercase ASCII, distinct, and never a
    filler word, so the cleaning chain keeps each one as exactly one token.
    Returns ``(pools, neutral)`` with ``pools`` a list of 6 word lists."""
    rng = np.random.default_rng([seed, 7])
    seen: set[str] = set(FILLERS)
    words: list[str] = []
    need = N_EMOTIONS * pool_size + neutral_size
    while len(words) < need:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    pools = [
        words[i * pool_size : (i + 1) * pool_size] for i in range(N_EMOTIONS)
    ]
    return pools, words[N_EMOTIONS * pool_size :]


class WordTokenizer:
    """Vocabulary lookup with the Hugging Face call shape."""

    pad_token_id = PAD_ID

    def __init__(self, words: list[str]):
        self.ids = {w: i + 2 for i, w in enumerate(words)}

    def __call__(self, texts: list[str]) -> dict:
        get = self.ids.get
        return {"input_ids": [[get(w, UNK_ID) for w in t.split()] for t in texts]}


class EmbeddingBagModel:
    """Masked mean of token embeddings, projected to six emotion logits."""

    def __init__(self, embeddings: np.ndarray, projection: np.ndarray, bias: float):
        self.embeddings = embeddings
        self.projection = projection
        self.bias = bias

    def __call__(self, input_ids: np.ndarray, attention_mask: np.ndarray):
        vecs = self.embeddings[input_ids] * attention_mask[:, :, None]
        n = np.maximum(attention_mask.sum(axis=1, keepdims=True), 1)
        return (vecs.sum(axis=1) / n) @ self.projection + self.bias


def build_model(seed: int):
    """``(tokenizer, model)`` for a seed; identical in every process."""
    pools, neutral = vocabulary(seed)
    words = [w for pool in pools for w in pool] + list(neutral)
    rng = np.random.default_rng([seed, 11])
    emb = rng.normal(0.0, 0.6, size=(len(words) + 2, EMBED_DIM))
    emb[PAD_ID] = 0.0
    emb[UNK_ID] = 0.0
    # the first six embedding dimensions carry the emotion signal
    for e, pool in enumerate(pools):
        start = 2 + e * len(pool)
        emb[start : start + len(pool), e] += 4.0
    proj = np.zeros((EMBED_DIM, N_EMOTIONS))
    proj[:N_EMOTIONS, :N_EMOTIONS] = np.eye(N_EMOTIONS) * 2.0
    proj += rng.normal(0.0, 0.1, size=proj.shape)
    return WordTokenizer(words), EmbeddingBagModel(emb, proj, -1.0)


def make_model_loader(seed: int):
    """A zero-argument ``model_loader`` for ``hf_scorer``.

    Registers this module to be pickled by value, so Spark's Python workers
    rebuild the model from the seed without importing the benchmark."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    def load():
        return build_model(seed)

    return load
