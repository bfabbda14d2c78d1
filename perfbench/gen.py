"""Seeded input generator: subtitle corpus, request stream, refresh batches.

Everything the program receives is made here from the ``--seed`` argument;
the same seed gives byte-identical files and the same request sequence.

Corpus files follow the reference's naming: ``{title}_{year}.txt`` with
spaces turned into underscores, or ``{title}.txt`` when the year is unknown
(the reader defaults it to 1800). Each file is an SRT or WebVTT transcript
whose dialogue is made of vocabulary words (see ``model.vocabulary``) mixed
with every artifact class ``clean_subtitles`` removes: cue numbers and
timestamps, bracketed sound cues, HTML and voice tags, speaker labels,
dialogue dashes and ellipses, quotes and punctuation, and filler words.
Only vocabulary words survive cleaning, so the generator knows each movie's
exact cleaned token count and window count, which the checks rely on.

Movie ids are sequential from 1, like the reference's serial keys; the
catalog mapping each display name (``"Title YEAR"``) to its id is an input
too; the build joins it onto the corpus.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np

from perfbench.model import FILLERS, N_EMOTIONS, vocabulary

STRIDE = 256

_SOUND_CUES = ("music", "laughs", "door slams", "sighs", "thunder", "crowd cheering")
_SPEAKERS = ("JOHN", "MARY", "DR SMITH", "OFFICER", "Anna", "old man")
_NON_ASCII = ("Amélie", "Señor", "Über", "Ça", "Øresund", "東京", "Ναός", "Жизнь")
#: story shapes: the dominant emotion of each act (sadness, joy, love,
#: anger, fear, surprise = 0..5); movies follow one shape with noise
_SHAPES = (
    (1, 0, 1), (0, 0, 2), (4, 3, 1), (5, 4, 1), (2, 0, 2), (3, 3, 0),
    (1, 5, 4), (4, 4, 4), (2, 1, 5), (0, 3, 1),
)


@dataclass
class Movie:
    movie_id: int
    title: str
    year: int | None
    n_tokens: int
    version: int = 0
    text: str = field(default="", repr=False)

    @property
    def name(self) -> str:
        """Display name as ``read_subtitle_corpus`` derives it."""
        return f"{self.title} {self.year if self.year is not None else ''}".strip()

    @property
    def filename(self) -> str:
        stem = self.title if self.year is None else f"{self.title} {self.year}"
        return stem.replace(" ", "_") + ".txt"

    @property
    def n_windows(self) -> int:
        return math.ceil(self.n_tokens / STRIDE)


def _title(rng, neutral: list[str], used: set[str]) -> str:
    while True:
        n = int(rng.integers(1, 4))
        words = [neutral[int(i)].capitalize() for i in rng.integers(0, len(neutral), n)]
        if rng.random() < 0.1:
            words.insert(int(rng.integers(0, n + 1)), _NON_ASCII[int(rng.integers(0, len(_NON_ASCII)))])
        title = " ".join(words)
        if title not in used:
            used.add(title)
            return title


def _n_tokens(rng) -> int:
    """Mostly 5-11 windows (1-2.8k words, about half the 4k-word movies of
    the sizing probe, to fit the time budget; see README.md); about one
    movie in ten has fewer than 3."""
    if rng.random() < 0.1:
        return int(rng.integers(40, 2 * STRIDE + 1))
    return int(rng.integers(4 * STRIDE + 1, 11 * STRIDE + 1))


def _dialogue(rng, n_tokens: int, pools, neutral) -> list[str]:
    """The movie's content words: each act leans to its shape's emotion."""
    shape = _SHAPES[int(rng.integers(0, len(_SHAPES)))]
    words = []
    for act in range(3):
        n = n_tokens // 3 + (1 if act < n_tokens % 3 else 0)
        lean = rng.dirichlet(np.full(N_EMOTIONS, 0.4))
        lean[shape[act]] += 1.5
        lean /= lean.sum()
        emotional = rng.random(n) < 0.45
        emo = rng.choice(N_EMOTIONS, size=n, p=lean)
        idx = rng.integers(0, 1 << 30, size=n)
        for e, is_emo, i in zip(emo.tolist(), emotional.tolist(), idx.tolist()):
            pool = pools[e] if is_emo else neutral
            words.append(pool[i % len(pool)])
    return words


def _stamp(t_ms: int, sep: str) -> str:
    h, rem = divmod(t_ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, ms = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d}{sep}{ms:03d}"


def _decorate(words, draws, head: float, tail: float) -> str:
    """One cue line: the words plus removable artifacts, space-separated so
    that removing an artifact never glues two words together. ``draws``
    holds three random draws per word; ``head`` and ``tail`` decide the
    line's opening and closing artifacts."""
    out = []
    if head < 0.2:
        out.append(_SPEAKERS[int(head * 1000) % len(_SPEAKERS)] + ":")
    elif head < 0.3:
        out.append("-")
    elif head < 0.335:
        # a position tag before a speaker label would leave the label in
        # place (the label patterns anchor at the line start), so tags only
        # open unlabelled lines
        out.append("{\\an8}")
    for w, (r, q, i) in zip(words, draws):
        if r < 0.04:
            out.append(FILLERS[i % len(FILLERS)].capitalize() + ",")
        elif r < 0.07:
            out.append("[" + _SOUND_CUES[i % len(_SOUND_CUES)] + "]")
        elif r < 0.09:
            out.append("(" + _SOUND_CUES[i % len(_SOUND_CUES)] + ")")
        if q < 0.05:
            w = f"<i>{w}</i>"
        elif q < 0.08:
            w = f'"{w}"'
        elif q < 0.14:
            w = w + "!?.,"[i % 4]
        elif q < 0.16:
            w = w + "..."
        elif q < 0.17:
            w = w.upper()
        out.append(w)
    if tail < 0.05:
        out.append("--")
    # a closing "." keeps the speaker-label patterns, which may span line
    # breaks, from reaching back into this line's words
    return " ".join(out) + "."


def render(rng, words: list[str], vtt: bool) -> str:
    """An SRT (or WebVTT) transcript of ``words``: cues of 4-13 words.
    Every random draw is made up front, one array per kind."""
    n = len(words)
    sizes = rng.integers(4, 14, size=n // 4 + 1)
    n_cues = int(np.searchsorted(np.cumsum(sizes), n)) + 1
    sizes, durations = sizes[:n_cues].tolist(), rng.integers(800, 4000, size=n_cues).tolist()
    lines_rng = rng.random((n_cues, 3)).tolist()
    draws = list(zip(rng.random(n).tolist(), rng.random(n).tolist(),
                     rng.integers(0, 1 << 30, size=n).tolist()))
    sep = "." if vtt else ","
    lines = ["WEBVTT", ""] if vtt else []
    t, i = 1000, 0
    for cue, (size, dur, (head, tail, voice)) in enumerate(zip(sizes, durations, lines_rng)):
        end = t + dur
        if not vtt:
            lines.append(str(cue + 1))
        lines.append(f"{_stamp(t, sep)} --> {_stamp(end, sep)}")
        text = _decorate(words[i : i + size], draws[i : i + size], head, tail)
        if vtt and voice < 0.3:
            text = f"<v {_SPEAKERS[int(voice * 1000) % 4].title()}>" + text
        lines.append(text)
        lines.append("")
        t, i = end + 200, i + size
    return "\n".join(lines) + "\n"


class Generator:
    """All benchmark inputs for one seed."""

    def __init__(self, seed: int):
        self.seed = seed
        self.pools, self.neutral = vocabulary(seed)
        self._titles: set[str] = set()

    def _movie(self, rng, movie_id: int, title: str, year: int | None, version: int,
               text: bool = True) -> Movie:
        n = _n_tokens(rng)
        if not text:
            return Movie(movie_id, title, year, n, version)
        words = _dialogue(rng, n, self.pools, self.neutral)
        return Movie(movie_id, title, year, n, version,
                     render(rng, words, vtt=rng.random() < 0.25))

    def corpus(self, n_movies: int, text: bool = True) -> list[Movie]:
        """The base corpus: movies 1..n_movies. Without ``text`` only the
        metadata and token counts are made (a serving state published from
        generated arcs needs no transcripts)."""
        rng = np.random.default_rng([self.seed, 1])
        out = []
        for mid in range(1, n_movies + 1):
            title = _title(rng, self.neutral, self._titles)
            year = None if rng.random() < 0.08 else int(rng.integers(1930, 2026))
            out.append(self._movie(rng, mid, title, year, 0, text))
        return out

    def refresh_batch(self, b: int, known: list[Movie], size: int, next_id: int) -> list[Movie]:
        """Batch ``b``: about a quarter re-uploads existing movies (same name
        and id, new transcript), the rest are new movies with ids from
        ``next_id``."""
        rng = np.random.default_rng([self.seed, 2, b])
        n_up = max(1, size // 4)
        picks = rng.choice(len(known), size=n_up, replace=False)
        out = [
            self._movie(rng, known[int(i)].movie_id, known[int(i)].title,
                        known[int(i)].year, known[int(i)].version + 1)
            for i in sorted(picks)
        ]
        for mid in range(next_id, next_id + size - n_up):
            title = _title(rng, self.neutral, self._titles)
            out.append(self._movie(rng, mid, title, int(rng.integers(1930, 2026)), 0))
        return out

    def sessions(self, movie_ids: list[int]):
        """Endless Zipf-popular session targets: ``(movie_id, probe_seed)``.

        The movie of popularity rank ``r`` is picked with probability
        proportional to ``1 / r`` (Zipf's law, exponent 1). No CineGraph
        traffic log exists to fit the exponent to. Popularity rank is a
        seeded permutation of the ids; the probe seed perturbs the
        similar-movies query vector."""
        rng = np.random.default_rng([self.seed, 3])
        order = rng.permutation(np.asarray(movie_ids))
        p = 1.0 / np.arange(1, len(order) + 1)
        p /= p.sum()
        while True:
            for r in rng.choice(len(order), size=256, p=p):
                yield int(order[int(r)]), int(rng.integers(0, 1 << 31))


def write_corpus(movies: list[Movie], path: str) -> int:
    """Write one file per movie into ``path``; returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for m in movies:
        data = m.text.encode("utf-8")
        with open(os.path.join(path, m.filename), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def probe_vector(v: np.ndarray, probe_seed: int, noise: float = 0.05) -> np.ndarray:
    """The similar-movies query: the target's vector, slightly perturbed."""
    rng = np.random.default_rng(probe_seed)
    return v + rng.normal(0.0, noise, size=v.shape)


def arc_scores(seed: int, m: Movie) -> np.ndarray:
    """Generated emotion arc for a movie of the serving corpus, ``(n_windows,
    6)`` scores in (0, 1), used where set-up publishes tables directly."""
    rng = np.random.default_rng([seed, 4, m.movie_id, m.version])
    centre = rng.normal(0.0, 1.0, size=(3, N_EMOTIONS))
    acts = np.array_split(np.arange(m.n_windows), 3)
    logits = np.vstack([
        centre[a] + rng.normal(0.0, 0.7, size=(len(w), N_EMOTIONS))
        for a, w in enumerate(acts)
    ])
    return 1.0 / (1.0 + np.exp(-logits))


def arc_features(scores: np.ndarray) -> np.ndarray:
    """The 24 clustering features of an arc with the definitions of
    ``movie_features``: per-act means (acts are ``np.array_split`` thirds)
    in act-major order, then each emotion's sample standard deviation."""
    acts = np.array_split(scores, 3)
    return np.concatenate([a.mean(axis=0) for a in acts] + [scores.std(axis=0, ddof=1)])
