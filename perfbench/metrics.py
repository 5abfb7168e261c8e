"""Metric registry: every metric the benchmark prints, its unit, which
way is better, and for per-layer metrics the end-to-end metric it should
move and the workload it should move on (on the other workloads the
prediction is no change). ``BENCHMARK.json`` lists the same names;
``selftest.py`` checks that the two agree.

End-to-end metrics are printed by every workload with tracing off.
``op_p50_s`` is the median latency of the workload's unit of work: one
cron tick on ``ingest_cycle`` (``run_sequence_ingest`` plus ``ingest_run``
plus the dashboard requests that follow, each call -> collected rows), one
pass over the suite queries (each built and collected) on
``query_suite``. ``ok_ops_ratio`` counts ticks, requests and queries.
"""

from __future__ import annotations

from harness import mean, median

END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "ok_ops_ratio": ("ratio", "higher", 0.05),
}

INGEST, SUITE, ALL = "ingest_cycle", "query_suite", "all"

#: name -> (unit, better, moves, on)
PER_LAYER = {
    "plans.obs_ingest.discover_s": ("s", "lower", "obs_cycle_p50_s, ingest_rows_per_s", INGEST),
    "plans.obs_ingest.discover_jobs": ("count", "lower", "obs_cycle_p50_s", INGEST),
    "sources.harvest_csv.parses_per_file": ("ratio", "lower",
                                            "obs_cycle_p50_s, ingest_rows_per_s", INGEST),
    "plans.obs_ingest.ingest_new_s": ("s", "lower", "obs_cycle_p50_s", INGEST),
    "plans.obs_ingest.ingest_new_jobs": ("count", "lower", "obs_cycle_p50_s", INGEST),
    "plans.obs_ingest.ingest_station_meta_s": ("s", "lower", "obs_cycle_p50_s", INGEST),
    "operators.ledger.anti_join_s": ("s", "lower", "obs_cycle_p50_s", INGEST),
    "operators.ledger.ledger_rows": ("count", "lower", "obs_cycle_p50_s as history grows", INGEST),
    "sources.catalog.merge_keep_latest_s": ("s", "lower",
                                            "obs_cycle_p50_s, model_run_p50_s", INGEST),
    "sources.catalog.merge_jobs": ("count", "lower", "obs_cycle_p50_s, model_run_p50_s", INGEST),
    "sources.catalog.merge_rewrite_ratio": (
        "ratio", "lower", "obs_cycle_p50_s, model_run_p50_s, fact_bytes_per_row", INGEST),
    "sources.catalog.update_s": ("s", "lower", "obs_cycle_p50_s as history grows", INGEST),
    "sources.catalog.append_s": ("s", "lower", "obs_cycle_p50_s as history grows", INGEST),
    "sources.skipping.refresh_skipping_s": (
        "s", "lower", "obs_cycle_p50_s; read_p50_s via pruning", INGEST),
    "sources.skipping.refresh_jobs": ("count", "lower", "obs_cycle_p50_s", INGEST),
    "plans.model_ingest.ingest_run_s": ("s", "lower", "model_run_p50_s", INGEST),
    "plans.model_ingest.publish_stations_s": ("s", "lower", "model_run_p50_s", INGEST),
    "plans.dashboard_meta.run_props_s": ("s", "lower", "model_run_p50_s", INGEST),
    "plans.read_api.x1_p50_s": ("s", "lower", "read_p50_s", INGEST),
    "plans.read_api.x2_p50_s": ("s", "lower", "read_p50_s", INGEST),
    "plans.read_api.x3_p50_s": ("s", "lower", "read_p50_s", INGEST),
    "plans.read_api.x4_p50_s": ("s", "lower", "read_p50_s", INGEST),
    "plans.read_api.asof_p50_s": ("s", "lower", "read_p50_s", INGEST),
    "plans.read_api.build_s": ("s", "lower", "read_p50_s", INGEST),
    "plans.read_api.run_s": ("s", "lower", "read_p50_s", INGEST),
    "plans.read_api.jobs_per_request": ("count", "lower", "read_p50_s", INGEST),
    "plans.read_api.tasks_per_request": ("count", "lower", "read_p50_s", INGEST),
    "sources.zonemap.prune_files_s": ("s", "lower", "read_p50_s", INGEST),
    "sources.zonemap.files_kept_ratio": ("ratio", "lower", "read_p50_s", INGEST),
    # workload figures a user sees, but on one workload only, so they are
    # reported here (0 elsewhere) rather than as end-to-end metrics
    "obs_cycle_p50_s": ("s", "lower", "op_p50_s", INGEST),
    "model_run_p50_s": ("s", "lower", "op_p50_s", INGEST),
    "ingest_rows_per_s": ("rows/s", "higher", "op_p50_s", INGEST),
    "fact_bytes_per_row": ("B/row", "lower", "op_p50_s", INGEST),
    "ingest.uncovered_s": ("s", "lower", "op_p50_s", INGEST),
    "read_p50_s": ("s", "lower", "op_p50_s", INGEST),
    # every workload
    "session.start_s": ("s", "lower", "setup_s", ALL),
    "peak_rss_mb": ("MB", "lower", "none (JVM heap growth follows GC timing)", ALL),
    "lineage_cuts": ("count", "lower", "op_p50_s", ALL),
    "lineage_cut_s": ("s", "lower", "op_p50_s", ALL),
    "codegen_fallbacks": ("count", "lower", "op_p50_s", ALL),
    "spark.jobs": ("count", "lower", "op_p50_s", ALL),
    "spark.stages": ("count", "lower", "op_p50_s", ALL),
    "spark.tasks": ("count", "lower", "op_p50_s", ALL),
    "spark.shuffle_write_mb": ("MB", "lower", "op_p50_s", ALL),
    "spark.gc_s": ("s", "lower", "op_p50_s", ALL),
    "trace.overhead_s": ("s", "lower", "none (tracer cost per op)", ALL),
    "trace.op_p50_s": ("s", "lower", "none (op_p50_s with tracing on)", ALL),
}

#: layers whose self time (span time minus child spans, per op) is reported
LAYERS = (
    "plans.obs_ingest", "sources.harvest_csv", "operators.ledger",
    "sources.catalog", "sources.skipping", "plans.model_ingest",
    "plans.dashboard_meta", "plans.apsviz_stations", "plans.read_api",
    "sources.zonemap", "lineage", "bench",
)
for _layer in LAYERS:
    PER_LAYER[f"{_layer}.self_s"] = ("s", "lower", "op_p50_s", ALL)

#: the suite queries ``query_suite`` runs, each with its own metrics
SUITE_NAMED = (
    "llm_embedding_neardup", "llm_ngram_jaccard_pairs", "llm_cross_corpus_neardup",
    "llm_pagerank", "llm_semantic_dedup", "llm_min_k_prob", "llm_perplexity_ngram",
    "llm_kmeans_assign", "llm_ann_assign", "llm_multimodal_features",
    "x1_event_pivot", "j7_keep_latest_dedup",
)
PER_LAYER.update({
    "suite_pass_s": ("s", "lower", "op_p50_s", SUITE),
    "suite.build_s": ("s", "lower", "suite_pass_s", SUITE),
    "suite.run_s": ("s", "lower", "suite_pass_s", SUITE),
    "suite.jobs": ("count", "lower", "suite_pass_s", SUITE),
    "suite.stages": ("count", "lower", "suite_pass_s", SUITE),
    "suite.tasks": ("count", "lower", "suite_pass_s", SUITE),
    "suite.self_s": ("s", "lower", "suite_pass_s", SUITE),
})
for _q in SUITE_NAMED:
    for _m, _u in (("build_s", "s"), ("run_s", "s"), ("jobs", "count")):
        PER_LAYER[f"suite.{_q}.{_m}"] = (_u, "lower", "suite_pass_s", SUITE)


def e2e(values: dict) -> dict:
    return {k: {"value": values[k], "unit": END_TO_END[k][0]} for k in END_TO_END}


def per_layer(values: dict) -> dict:
    """Every registered metric, 0 where the workload does no such work."""
    return {k: {"value": values.get(k, 0.0), "unit": spec[0]} for k, spec in PER_LAYER.items()}


def common_layer_values(run, tracer, ops, op_times, log_span, gc_s) -> dict:
    """Per-layer metrics every workload reports from its traced run."""
    tracer.resolve_jobs()
    spans = tracer.in_ops(ops)
    stage_ids = [s for _, sp in spans for s in sp.stage_ids]
    self_s = tracer.self_times()
    out = {
        "lineage_cuts": mean(tracer.per_op(ops, lambda i, s: 1, name="lineage_cut")),
        "lineage_cut_s": mean(tracer.per_op(ops, lambda i, s: s.dur, name="lineage_cut")),
        "codegen_fallbacks": run.codegen_fallbacks(*log_span),
        "spark.jobs": mean(tracer.per_op(ops, lambda i, s: len(s.jobs))),
        "spark.stages": mean(tracer.per_op(ops, lambda i, s: s.stages)),
        "spark.tasks": mean(tracer.per_op(ops, lambda i, s: s.tasks)),
        "spark.shuffle_write_mb": run.shuffle_write_bytes(stage_ids) / 2**20 / max(1, len(ops)),
        "spark.gc_s": gc_s / max(1, len(ops)),
        "trace.overhead_s": mean([tracer.overhead.get(op, 0.0) for op in ops]),
        "trace.op_p50_s": median(op_times),
    }
    for layer in LAYERS:
        out[f"{layer}.self_s"] = mean(tracer.per_op(ops, lambda i, s: self_s[i], layer=layer))
    return out


def wrap_common(tracer, spark) -> None:
    """Lineage cuts: every DataFrame.localCheckpoint / checkpoint call."""
    cls = type(spark.range(1))
    tracer.wrap(cls, "localCheckpoint", "lineage_cut", "lineage")
    tracer.wrap(cls, "checkpoint", "lineage_cut", "lineage")


if __name__ == "__main__":
    print("| per-layer metric | unit | moves | on |\n|---|---|---|---|")
    for _name, (_unit, _better, _moves, _on) in PER_LAYER.items():
        print(f"| `{_name}` | {_unit} | {_moves} | {_on} |")
