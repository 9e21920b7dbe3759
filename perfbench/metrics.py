"""The benchmark's metric catalogue: one place for names, units, the
direction that is better, and, per layer, the end-to-end metric and
workload the layer's numbers should move (and where they should not).

``BENCHMARK.json`` lists the same names; ``perfbench/smoke.py`` checks
that the two agree.  The end-to-end metrics are reported on every
workload, so they are named for what they measure on any workload; the
``op`` of a workload is its timed user-facing call:

==============  =====================  =================
workload        op_p50_ms              quality
==============  =====================  =================
batch_er        er_wall_s (x1000)      er_pair_f1
stream_assign   assign_p50_ms          assign_accuracy
==============  =====================  =================

``op_fail_ratio`` is ``failed / attempted`` in the result line (0 on a
correct program, so it is not a bounded metric), and the tail latency is
printed with its percentile and sample count in the report lines.
"""

from __future__ import annotations

END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("quality", "ratio", "higher", 0.15),
]

BATCH = "batch_er"
STREAM = "stream_assign"
WORKLOADS = (BATCH, STREAM)

# name, unit, better, moves (metric on workload), steady on (workload).
# On stream_assign "steady" means its timed call (op_p50_ms): its set-up
# runs the batch pipeline once, so setup_s there follows the batch layers.
PER_LAYER = [
    ("pipeline.run_s", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("pipeline.names_s", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("pipeline.tfidf_wait_s", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("canonicalize.busy_s", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("canonicalize.rows_out", "count", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("tfidf.fit_s", "s", "lower",
     f"op_p50_ms on {BATCH} while pipeline.tfidf_wait_s > 0", STREAM),
    ("tfidf.terms", "count", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("blocking.keys_s", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("blocking.key_rows", "count", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("blocking.pairs_s", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("blocking.candidate_pairs", "count", "lower",
     f"op_p50_ms and quality on {BATCH}", STREAM),
    ("blocking.hot_keys", "count", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("blocking.metrics_s", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("blocking.truth_recall", "ratio", "higher", f"quality on {BATCH}", STREAM),
    ("blocking.useful_ratio", "ratio", "higher",
     f"op_p50_ms and quality on {BATCH}", STREAM),
    ("scoring.busy_s", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("scoring.pairs", "count", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("scoring.pairs_per_s", "1/s", "higher", f"op_p50_ms on {BATCH}", STREAM),
    ("scoring.matches", "count", "higher", f"quality on {BATCH}", STREAM),
    ("scoring.tasks", "count", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("scoring.kernel_share", "ratio", "higher", f"op_p50_ms on {BATCH}", STREAM),
    ("features.build_s_per_10k", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("gbm.margin_s_per_10k", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("clustering.busy_s", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("clustering.edges_in", "count", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("clustering.components", "count", "lower", f"quality on {BATCH}", STREAM),
    ("clustering.max_component", "count", "lower", f"quality on {BATCH}", STREAM),
    ("resolve.entities_s", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("resolve.records_s", "s", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("resolve.entities", "count", "lower", f"quality on {BATCH}", STREAM),
    ("checkpoint.bytes_written", "bytes", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("checkpoint.stages_written", "count", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("checkpoint.resumed", "count", "lower", f"op_p50_ms on {BATCH}", STREAM),
    ("stream.index_build_s", "s", "lower", f"setup_s on {STREAM}", BATCH),
    ("stream.index_rows", "count", "lower", f"setup_s on {STREAM}", BATCH),
    ("assign.exact_hit_ratio", "ratio", "higher", f"op_p50_ms on {STREAM}", BATCH),
    ("assign.candidates_per_name", "count", "lower", f"op_p50_ms on {STREAM}", BATCH),
    ("assign.pending_ratio", "ratio", "lower", f"quality on {STREAM}", BATCH),
    ("assign.jobs_per_batch", "count", "lower", f"op_p50_ms on {STREAM}", BATCH),
    ("assign.tasks_per_batch", "count", "lower", f"op_p50_ms on {STREAM}", BATCH),
    ("session.start_s", "s", "lower", "setup_s on every workload", "none"),
    ("jvm.old_gen_peak_mb", "MB", "lower",
     "peak_rss_mb on every workload (past the heap cap: op_p50_ms)", "none"),
]

UNITS = {n: u for n, u, *_ in END_TO_END} | {n: u for n, u, *_ in PER_LAYER}
