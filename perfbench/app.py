"""The CineGraph application the benchmark drives, written against the
public functions of ``cinegraph_spark`` only.

- ``build``: subtitle corpus on disk -> cleaned, windowed, scored, featured
  movies -> cluster tree, similarity index and serving tables, published.
- ``Server``: the three web reads: ``/graph?node=``, ``/movie?id=`` and
  "emotionally close movies".
- ``refresh``: a batch of new or re-uploaded subtitle files through the same
  chain, then upserts of the movie and vector layouts and an incremental
  index update.

Every call into a layer runs inside ``tracer.span``. With the real tracer,
``tracer.force`` materialises a stage's output at the layer boundary so the
span measures the stage's work; with ``NullTracer`` it returns the frame
untouched and Spark fuses the chain as usual.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cinegraph_spark.functions.text_clean import clean_subtitles
from cinegraph_spark.operators.features import movie_features
from cinegraph_spark.operators.graph_build import build_graph_tables, node_with_children
from cinegraph_spark.operators.hnsw import (
    hnsw_corpus_layout,
    hnsw_index_knn,
    hnsw_index_save,
    hnsw_index_update,
)
from cinegraph_spark.operators.maintenance import (
    dataset_stats,
    hash_layout_save,
    hash_layout_upsert,
    layout_read,
)
from cinegraph_spark.operators.scoring import hf_scorer
from cinegraph_spark.operators.serving_io import atomic_swap_write
from cinegraph_spark.operators.windowize import tokenize_whitespace, windowize
from cinegraph_spark.schemas import EMOTIONS, FEATURE_COLS
from cinegraph_spark.sources.text_corpus import read_subtitle_corpus

#: hash partitions of the movie layout (one directory each)
MOVIE_PARTS = 8

#: serving schema of the movie layout: metadata plus the ordered arc
MOVIE_DDL = (
    "movie_id long, movie string, title string, year int, n_tokens int, "
    "n_windows int, arc array<struct<window_id: int, "
    + ", ".join(f"{e}: double" for e in EMOTIONS) + ">>"
)

_WINDOWS_SCHEMA = (
    "movie_id long, window_id int, window_start int, window_end int, "
    "window_text string, " + ", ".join(f"{e} double" for e in EMOTIONS)
)


@dataclass(frozen=True)
class Tables:
    """Where one build publishes its serving state."""

    root: str

    @property
    def graph(self) -> str:
        return os.path.join(self.root, "graph")

    @property
    def membership(self) -> str:
        return os.path.join(self.root, "membership")

    @property
    def movies(self) -> str:
        return os.path.join(self.root, "movies")

    @property
    def vectors(self) -> str:
        return os.path.join(self.root, "vectors")

    @property
    def index(self) -> str:
        return os.path.join(self.root, "index")


@dataclass
class Scaler:
    """Per-feature mean and population std, fitted at build time and reused
    for refresh batches so that old and new vectors share one space."""

    mean: np.ndarray
    std: np.ndarray

    @classmethod
    def fit(cls, feats: DataFrame) -> "Scaler":
        row = feats.agg(
            *[F.avg(c).alias(f"m_{c}") for c in FEATURE_COLS],
            *[F.stddev_pop(c).alias(f"s_{c}") for c in FEATURE_COLS],
        ).first()
        std = np.array([row[f"s_{c}"] or 0.0 for c in FEATURE_COLS])
        return cls(
            np.array([row[f"m_{c}"] for c in FEATURE_COLS]),
            np.where(std > 0, std, 1.0),
        )

    def embed(self, feats: DataFrame) -> DataFrame:
        """``(vec_id, v)`` rows: the standardised 24-dim feature vector."""
        return feats.select(
            F.col("movie_id").cast("long").alias("vec_id"),
            F.array(*[
                ((F.col(c) - float(m)) / float(s))
                for c, m, s in zip(FEATURE_COLS, self.mean, self.std)
            ]).alias("v"),
        )


def _catalog(spark: SparkSession, movies) -> DataFrame:
    return spark.createDataFrame(
        [(m.name, m.movie_id) for m in movies], "movie string, movie_id long"
    )


def score_corpus(spark, tracer, corpus_dir: str, movies, model_loader):
    """Text -> scored windows and features: returns ``(cleaned, scored,
    feats, counts)``.

    ``cleaned`` holds one row per movie, ``scored`` one row per window with
    its six emotion scores, ``feats`` the 24 features of each movie with 3
    or more windows. All are persisted, since several outputs read them.
    ``counts`` holds the traced run's input and output sizes."""
    counts = {"files": len(movies), "bytes": sum(len(m.text.encode()) for m in movies)}
    with tracer.span("text_corpus.read"):
        raw = read_subtitle_corpus(spark, corpus_dir).join(
            F.broadcast(_catalog(spark, movies)), "movie"
        )
        raw = tracer.force(raw)
    with tracer.span("text_clean"):
        cleaned = raw.select(
            "movie_id", "movie", "title", "year",
            clean_subtitles(F.col("raw_text")).alias("text"),
        )
        cleaned = tracer.force(cleaned).persist()
    if tracer.enabled:
        row = raw.agg(F.sum(F.length("raw_text"))).first()
        counts["chars_in"] = int(row[0] or 0)
        counts["chars_out"] = int(cleaned.agg(F.sum(F.length("text"))).first()[0] or 0)
    with tracer.span("windowize"):
        tokens = cleaned.select(
            "movie_id", tokenize_whitespace(F.col("text")).alias("tokens")
        )
        wins = windowize(tokens, "movie_id").select(
            "movie_id", "window_id", "window_start", "window_end",
            F.array_join("window_tokens", " ").alias("window_text"),
        )
        wins = tracer.force(wins)
    if tracer.enabled:
        counts["windows"] = wins.count()
    with tracer.span("scoring"):
        scored = wins.mapInPandas(hf_scorer(model_loader), _WINDOWS_SCHEMA)
        scored = tracer.force(scored.drop("window_text")).persist()
    with tracer.span("features"):
        feats = tracer.force(movie_features(scored, "movie_id")).persist()
    if tracer.enabled:
        counts["movies_in"] = len(movies)
        counts["movies_kept"] = feats.count()
    return cleaned, scored, feats, counts


def movie_rows(cleaned: DataFrame, scored: DataFrame) -> DataFrame:
    """One serving row per movie: metadata plus its emotion arc, the window
    scores ordered by ``window_id``."""
    arcs = scored.groupBy("movie_id").agg(
        F.max("window_end").cast("int").alias("n_tokens"),
        F.count(F.lit(1)).cast("int").alias("n_windows"),
        F.sort_array(F.collect_list(F.struct("window_id", *EMOTIONS))).alias("arc"),
    )
    return cleaned.select(
        "movie_id", "movie", "title", F.col("year").cast("int").alias("year")
    ).join(arcs, "movie_id")


def published_bytes(spark, tables: Tables) -> int:
    return sum(
        dataset_stats(p, spark)["total_bytes"]
        for p in (tables.graph, tables.membership, tables.movies, tables.vectors)
    )


def build(spark, tracer, corpus_dir: str, movies, tables: Tables, model_loader) -> dict:
    """Corpus on disk -> every serving table and the index published.
    Returns the traced run's counts."""
    cleaned, scored, feats, counts = score_corpus(
        spark, tracer, corpus_dir, movies, model_loader)
    with tracer.span("graph_build"):
        graph, membership = build_graph_tables(
            spark, feats, "movie_id", list(FEATURE_COLS)
        )
        graph, membership = tracer.force(graph), tracer.force(membership)
    scaler = Scaler.fit(feats)
    vectors = scaler.embed(feats)
    with tracer.span("hnsw.save"):
        hnsw_index_save(vectors, tables.index)
    with tracer.span("serving_io.publish"):
        atomic_swap_write(graph, tables.graph)
        atomic_swap_write(membership, tables.membership)
        hash_layout_save(movie_rows(cleaned, scored), tables.movies, "movie_id", MOVIE_PARTS)
        hnsw_corpus_layout(vectors, tables.vectors, tables.index)
    for df in (cleaned, scored, feats):
        df.unpersist()
    if tracer.enabled:
        tracer.release()
        counts["index_bytes"] = dataset_stats(tables.index, spark)["total_bytes"]
        counts["bytes_written"] = published_bytes(spark, tables)
    return counts


class Server:
    """The web reads. Each request plans from the published paths, so it
    always sees the current state of the tables. Each call is one span,
    named after the layer function it calls."""

    def __init__(self, spark: SparkSession, tables: Tables, tracer):
        self.spark = spark
        self.tables = tables
        self.tracer = tracer

    def graph_node(self, node_id: int, request: str | None = None):
        """``/graph?node=``: the node, its children and its member ids."""
        spark = self.spark
        with self.tracer.span("graph_build.node_with_children", request):
            rows = node_with_children(
                spark.read.parquet(self.tables.graph),
                spark.read.parquet(self.tables.membership),
                node_id,
            ).collect()
        return rows[0] if rows else None

    def movie_arc(self, movie_id: int, request: str | None = None):
        """``/movie?id=``: the movie row with its ordered window scores."""
        with self.tracer.span("maintenance.read", request):
            rows = (
                layout_read(self.spark, self.tables.movies)
                .filter(F.col("movie_id") == movie_id)
                .collect()
            )
        return rows[0] if rows else None

    def movies(self, movie_ids: list[int], request: str | None = None):
        with self.tracer.span("maintenance.read", request):
            return (
                layout_read(self.spark, self.tables.movies)
                .filter(F.col("movie_id").isin(movie_ids))
                .collect()
            )

    def similar(self, queries: list[tuple[int, list[float]]], k: int,
                request: str | None = None):
        """Emotionally close movies for each ``(probe_id, vector)``:
        ``{probe_id: [(movie_id, cos_sim), ...]}`` ordered by rank."""
        q = self.spark.createDataFrame(queries, "vec_id long, v array<double>")
        with self.tracer.span("hnsw.knn", request):
            rows = hnsw_index_knn(self.spark, self.tables.index, q, k=k).collect()
        out: dict[int, list] = {qid: [] for qid, _ in queries}
        for r in sorted(rows, key=lambda r: (r["qid"], r["rnk"])):
            out[r["qid"]].append((r["nid"], r["cos_sim"]))
        return out


@dataclass
class BaseState:
    """A serving state published directly from generated data."""

    scaler: Scaler
    ids: np.ndarray  # vector ids, ascending
    X: np.ndarray  # their vectors
    nodes: dict  # graph id -> (path, children_count)
    members: dict  # leaf id -> sorted member movie ids
    leaf_of: dict  # movie id -> leaf id
    bytes_written: int  # traced run only


def publish_base(spark, tracer, tables: Tables, movies, arcs: dict, seed: int) -> BaseState:
    """Publish the serving state of ``movies`` (with generated ``arcs``,
    movie id -> (n_windows, 6) scores) through the program's writers, with
    no text or Spark clustering work: the movie layout, the vector layout,
    the index, and a cluster tree made by the program's driver-side
    clustering steps over numpy micro-clusters."""
    from cinegraph_spark.operators.clustering import (
        flatten_tree,
        linkage_to_tree,
        rebalance_tree,
        ward_linkage,
    )
    from cinegraph_spark.schemas import GRAPH
    from perfbench.gen import arc_features

    rows = [
        (m.movie_id, m.name, m.title, m.year if m.year is not None else 1800,
         m.n_tokens, m.n_windows,
         [(w, *map(float, arcs[m.movie_id][w])) for w in range(m.n_windows)])
        for m in movies
    ]
    eligible = [m for m in movies if m.n_windows >= 3]
    ids = np.array([m.movie_id for m in eligible], dtype=np.int64)
    F_ = np.vstack([arc_features(arcs[m.movie_id]) for m in eligible])
    std = F_.std(axis=0)
    scaler = Scaler(F_.mean(axis=0), np.where(std > 0, std, 1.0))
    X = (F_ - scaler.mean) / scaler.std

    rng = np.random.default_rng([seed, 5])
    k = min(100, len(ids))
    centres = X[rng.choice(len(ids), size=k, replace=False)]
    cluster = np.argmin(((X[:, None, :] - centres[None]) ** 2).sum(-1), axis=1)
    tree = rebalance_tree(
        linkage_to_tree(ward_linkage(centres), {c: [c] for c in range(k)})
    )
    flat = flatten_tree(tree)
    leaf_of_cluster = dict(flat.membership)
    leaf_of = {int(i): int(leaf_of_cluster[int(c)]) for i, c in zip(ids, cluster)}
    members: dict[int, list] = {}
    for mid, gid in sorted(leaf_of.items()):
        members.setdefault(gid, []).append(mid)
    nodes = {int(i): (p, int(c)) for i, p, _n, _t, c in flat.nodes}

    with tracer.span("serving_io.publish"):
        atomic_swap_write(
            spark.createDataFrame(
                [(int(i), p, n, t, int(c)) for i, p, n, t, c in flat.nodes], GRAPH
            ),
            tables.graph,
        )
        atomic_swap_write(
            spark.createDataFrame(
                sorted(leaf_of.items()), "movie_id long, graph_id long"
            ),
            tables.membership,
        )
        hash_layout_save(
            spark.createDataFrame(rows, MOVIE_DDL), tables.movies, "movie_id",
            MOVIE_PARTS,
        )
    vectors = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, X)],
        "vec_id long, v array<double>",
    )
    with tracer.span("hnsw.save"):
        hnsw_index_save(vectors, tables.index)
    with tracer.span("serving_io.publish"):
        hnsw_corpus_layout(vectors, tables.vectors, tables.index)
    written = published_bytes(spark, tables) if tracer.enabled else 0
    return BaseState(scaler, ids, X, nodes, members, leaf_of, written)


def refresh(spark, tracer, batch_dir: str, movies, tables: Tables, model_loader,
            scaler: Scaler, on_index_update=None) -> dict:
    """One landed batch through text -> score -> features, then the layout
    upserts and the incremental index update. Returns the batch's new
    vectors ``{movie_id: np.ndarray}`` (movies with fewer than 3 windows
    have none and leave the index), the maintenance results and the traced
    run's counts. ``on_index_update`` is called just before the index starts
    to change."""
    cleaned, scored, feats, counts = score_corpus(
        spark, tracer, batch_dir, movies, model_loader)
    vectors = scaler.embed(feats).persist()
    vecs = {int(r["vec_id"]): np.asarray(r["v"]) for r in vectors.collect()}
    gone = [m.movie_id for m in movies if m.movie_id not in vecs]
    with tracer.span("maintenance.upsert"):
        up_movies = hash_layout_upsert(spark, tables.movies, movie_rows(cleaned, scored))
        deletes = spark.createDataFrame([(i,) for i in gone], "vec_id long")
        hash_layout_upsert(spark, tables.vectors, vectors, deletes=deletes)
    if on_index_update is not None:
        on_index_update(vecs)
    with tracer.span("hnsw.update"):
        delta = spark.createDataFrame([(m.movie_id,) for m in movies], "vec_id long")
        update = hnsw_index_update(tables.vectors, delta, tables.index)
    for df in (cleaned, scored, feats, vectors):
        df.unpersist()
    if tracer.enabled:
        tracer.release()
    return {"vectors": vecs, "movies": up_movies, "update": update, "counts": counts}
