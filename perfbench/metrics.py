"""Metric names, units and directions: the single list ``run.py`` reports
and ``BENCHMARK.json`` declares (a test keeps the two equal).

End-to-end metrics are reported by every workload (untraced run). Each
workload has one unit of work: a whole build (``build``), one user session
of tree walk, movie page and similar-movies query (``serve``), or one
refresh batch from its files landing to a read seeing its movies
(``refresh``).

Per-layer metrics come from the traced run. A metric of a layer that a
workload does not exercise reads 0 there. The per-op latencies and rates
(``graph_node_p50_ms`` and the like) are the workload-specific end-to-end
views; they are reported here because every end-to-end metric must be
reported by every workload.
"""

from __future__ import annotations

#: name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "work_p50_s": ("s", "lower"),
}

#: (name, unit, better, the end-to-end metric it should move)
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s on every workload"),
    ("peak_rss_mb", "MB", "lower", "memory of the driver plus the JVM (VmHWM)"),
    ("text_corpus.read_s", "s", "lower", "build_s; refresh_visible_p50_s"),
    ("text_corpus.files", "count", "higher", "build_s (input size)"),
    ("text_corpus.bytes", "B", "higher", "build_s (input size)"),
    ("text_clean.s", "s", "lower", "build_s"),
    ("text_clean.chars_in", "count", "higher", "build_s (input size)"),
    ("text_clean.chars_out", "count", "higher", "build_s (input size)"),
    ("windowize.s", "s", "lower", "build_s"),
    ("windowize.windows", "count", "higher", "build_s (input size)"),
    ("scoring.s", "s", "lower", "build_s; refresh_visible_p50_s"),
    ("scoring.windows_per_s", "1/s", "higher", "build_s; refresh_visible_p50_s"),
    ("features.s", "s", "lower", "build_s"),
    ("features.movies_kept_frac", "ratio", "higher", "build_s (share clustered)"),
    ("graph_build.s", "s", "lower", "build_s"),
    ("graph_build.spark_jobs", "count", "lower", "build_s"),
    ("graph_build.nodes", "count", "higher", "graph_node_p50_ms (tree shape)"),
    ("graph_build.depth", "count", "lower", "graph_node_p50_ms (walk length)"),
    ("graph_build.node_with_children_s", "s", "lower", "graph_node_p50_ms on serve"),
    ("graph_build.node_with_children_jobs", "count", "lower", "graph_node_p50_ms on serve"),
    ("hnsw.save_s", "s", "lower", "build_s"),
    ("hnsw.index_bytes", "B", "lower", "build_s; similar_p50_ms"),
    ("hnsw.subindexes", "count", "higher", "similar_p50_ms; refresh_visible_p50_s"),
    ("hnsw.knn_s", "s", "lower", "similar_p50_ms on serve"),
    ("hnsw.knn_jobs", "count", "lower", "similar_p50_ms on serve"),
    ("hnsw.knn_tasks", "count", "lower", "similar_p50_ms on serve"),
    ("hnsw.update_s", "s", "lower", "refresh_visible_p50_s"),
    ("hnsw.rebuilt_vectors_per_changed", "ratio", "lower", "refresh_visible_p50_s"),
    ("maintenance.upsert_s", "s", "lower", "refresh_visible_p50_s"),
    ("maintenance.dirs_rewritten_frac", "ratio", "lower", "refresh_visible_p50_s"),
    ("maintenance.bytes_written_per_delta_byte", "ratio", "lower", "refresh_visible_p50_s"),
    ("maintenance.read_s", "s", "lower", "movie_arc_p50_ms"),
    ("serving_io.publish_s", "s", "lower", "build_s; setup_s"),
    ("serving_io.bytes_written", "B", "lower", "build_s; setup_s"),
    ("spark.graph_node.jobs_per_request", "count", "lower", "graph_node_p50_ms"),
    ("spark.graph_node.tasks_per_request", "count", "lower", "graph_node_p50_ms"),
    ("spark.movie_arc.jobs_per_request", "count", "lower", "movie_arc_p50_ms"),
    ("spark.movie_arc.tasks_per_request", "count", "lower", "movie_arc_p50_ms"),
    ("spark.similar.jobs_per_request", "count", "lower", "similar_p50_ms"),
    ("spark.similar.tasks_per_request", "count", "lower", "similar_p50_ms"),
    ("build_s", "s", "lower", "work_p50_s on build"),
    ("serve_rps", "1/s", "higher", "work_p50_s on serve"),
    ("graph_node_p50_ms", "ms", "lower", "work_p50_s on serve"),
    ("graph_node_p90_ms", "ms", "lower", "work_p50_s on serve"),
    ("movie_arc_p50_ms", "ms", "lower", "work_p50_s on serve"),
    ("movie_arc_p90_ms", "ms", "lower", "work_p50_s on serve"),
    ("similar_p50_ms", "ms", "lower", "work_p50_s on serve"),
    ("similar_p90_ms", "ms", "lower", "work_p50_s on serve"),
    ("refresh_visible_p50_s", "s", "lower", "work_p50_s on refresh"),
    ("refresh_read_p50_ms", "ms", "lower", "work_p50_s on refresh (read side)"),
    ("refresh_read_p90_ms", "ms", "lower", "work_p50_s on refresh (read side)"),
    ("trace.work_p50_s", "s", "lower", "work_p50_s: traced minus untraced is the tracing overhead"),
]
