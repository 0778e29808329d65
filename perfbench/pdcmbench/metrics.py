"""The metric catalogue: every run reports every metric of its kind, by
name with its unit. BENCHMARK.json lists the same names."""

from __future__ import annotations

# (name, unit): reported with --trace 0, measured with tracing off
END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("ops_per_s", "1/s"),
]

REQUEST_CLASSES = ["search", "detail", "facet", "molecular"]

# the warm-up pass: one registry query per operator family, few enough
# to fit the per-run time alongside the JVM start
OPERATOR_GROUPS = {
    "operators.dedup_s": ["dedup_groups_star"],
    "operators.graph_s": ["pagerank"],
    "operators.text_s": ["text_tfidf"],
    "operators.ml_s": ["ann_ivf_trained_topk"],
    "streaming_s": ["stream_stream_join"],
}
SUITE = [q for qs in OPERATOR_GROUPS.values() for q in qs]

# (name, unit): reported with --trace 1. A layer a workload does not call
# reports 0.
PER_LAYER = [
    ("synth.plan_s", "s"),
    ("dag.build_s", "s"),
    ("dag.run_s", "s"),
    ("dag.jobs", "count"),
    ("dag.shared_nodes", "count"),
    ("incremental.base_s", "s"),
    ("incremental.plan_s", "s"),
    ("incremental.exec_s", "s"),
    ("incremental.jobs", "count"),
    ("incremental.recompute_frac", "ratio"),
    ("sinks.write_s", "s"),
    ("sinks.write_max_s", "s"),
    ("sinks.read_s", "s"),
    ("sinks.files", "count"),
    ("sinks.bytes", "bytes"),
    ("sinks.unreadable_entities", "count"),
    ("views.create_s", "s"),
    ("views.created", "count"),
    *[(f"views.{c}.{m}", u) for c in REQUEST_CLASSES
      for m, u in (("plan_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"))],
    ("api.tail_ms", "ms"),
    ("api.tail_pct", "%"),
    *[(f"operators.{q}_s", "s") for q in SUITE],
    *[(g, "s") for g in OPERATOR_GROUPS],
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("jvm.gc_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
    ("ops", "count"),
    ("failed_frac", "ratio"),
    ("trace.overhead_s", "s"),
    ("trace.latency_p50_ms", "ms"),
    ("trace.spans", "count"),
]
