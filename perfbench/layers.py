"""Per-layer metrics of a traced run, from the span table (benchmark spans
joined with the Spark work the event log attributes to them) and the
counters the workloads recorded. A layer a workload does not exercise
reports 0.
"""

from __future__ import annotations

from harness import Bench, median

# Spans timed around each layer call, by the name the workloads give them.
TIMED = {
    "functions.cells.cell_h3_s": "functions.cells.cell_h3",
    "query.planner.run_query_s": "query.planner.run_query",
    "operators.tiles.tile_stats_s": "operators.tiles.tile_stats",
    "operators.spatial_join.bbox_join_s": "operators.spatial_join.bbox_join",
    "operators.spatial_join.pip_literal_join_s": "operators.spatial_join.pip_literal_join",
    "operators.spatial_join.pip_h3_join_s": "operators.spatial_join.pip_h3_join",
    "operators.knn.knn_kring_s": "operators.knn.knn_kring",
    "operators.knn.knn_h3_s": "operators.knn.knn_h3",
    "operators.dedup.ngram_jaccard_pairs_s": "operators.dedup.ngram_jaccard_pairs",
    "operators.dedup.minhash_near_dups_s": "operators.dedup.minhash_near_dups",
    "operators.dedup.connected_components_s": "operators.dedup.connected_components",
    "index.build.build_index_s": "index.build.build_index",
    "index.upsert.upsert_index_s": "index.upsert.upsert_index",
    "index.build.read_index_s": "index.build.read_index",
}
TIMED_MS = {
    "query.parser.parse_query_ms": "query.parser.parse_query",
    "query.planner.plan_query_ms": "query.planner.plan_query",
    "sources.geojson.to_geojson_capped_ms": "sources.geojson.to_geojson_capped",
    "web.query_p50_ms": "web.query",
    "web.cells_p50_ms": "web.cells",
    "web.tiles_p50_ms": "web.tiles",
}
# Spans that start Spark jobs: each gets .jobs, .task_cpu_s and
# .shuffle_write_bytes per call.
SPARK_SPANS = [
    "operators.tiles.tile_stats", "operators.spatial_join.bbox_join",
    "operators.spatial_join.pip_literal_join", "operators.spatial_join.pip_h3_join",
    "operators.knn.knn_kring", "operators.knn.knn_h3", "functions.cells.cell_h3",
    "query.planner.run_query", "web.query", "web.cells", "web.tiles",
    "index.build.build_index", "index.upsert.upsert_index", "index.build.read_index",
    "operators.dedup.ngram_jaccard_pairs", "operators.dedup.minhash_near_dups",
    "operators.dedup.connected_components",
]
UDF_SPANS = [
    "operators.spatial_join.pip_literal_join", "operators.spatial_join.pip_h3_join",
    "operators.knn.knn_h3", "functions.cells.cell_h3", "operators.dedup.ngram_jaccard_pairs",
]
DEDUP_SPANS = [
    "operators.dedup.ngram_jaccard_pairs", "operators.dedup.minhash_near_dups",
    "operators.dedup.connected_components",
]
# the SQL metric (ms) every Python evaluation node reports for its workers
PYTHON_METRIC = "time to run Python workers"
OUT_ROWS = "number of output rows"


def python_s(row: dict) -> float:
    return sum(v for (_, metric), v in row["sql"].items() if metric == PYTHON_METRIC) / 1e3


def candidate_rows(row: dict) -> float:
    """Output rows of the span's largest inner equi-join: the candidate
    join that feeds the kNN top-k window and the dedup pair aggregates
    (the later joins of the same span only attach columns to fewer rows)."""
    return max((v for label, metric, v in row["nodes"]
                if metric == OUT_ROWS and label.endswith("Join Inner")), default=0.0)


def values(b: Bench, table: dict, traced_e2e: dict) -> dict[str, float]:
    measured = [r for r in table.values() if r["phase"] == "measure"]

    def per_call(span: str, fn) -> float:
        return median(fn(r) for r in measured if r["name"] == span)

    out: dict[str, float] = {}
    out["session.get_spark_s"] = median(
        r["wall_s"] for r in table.values() if r["name"] == "session.get_spark")
    out["session.first_udf_stage_s"] = median(b.counters.get("session.first_udf_stage_s", []))
    out["sources.datagen_s"] = median(b.span_durations("sources.datagen"))
    for name, span in TIMED.items():
        out[name] = per_call(span, lambda r: r["wall_s"])
    for name, span in TIMED_MS.items():
        out[name] = 1e3 * per_call(span, lambda r: r["wall_s"])
    n_rows = median(b.counters.get("functions.cells.n_rows", []))
    if out["functions.cells.cell_h3_s"]:
        out["functions.cells.cell_h3_rows_per_s"] = n_rows / out["functions.cells.cell_h3_s"]
    # request latency minus its parse / plan / GeoJSON child spans
    out["web.overhead_ms"] = 1e3 * per_call("web.query", lambda r: r["self_s"])

    out["operators.knn.knn_kring_window_rows"] = per_call("operators.knn.knn_kring", candidate_rows)
    out["operators.knn.knn_h3_window_rows"] = per_call("operators.knn.knn_h3", candidate_rows)
    ngram_cand = per_call("operators.dedup.ngram_jaccard_pairs", candidate_rows)
    lsh_cand = per_call("operators.dedup.minhash_near_dups", candidate_rows)
    out["operators.dedup.ngram_candidate_rows"] = ngram_cand
    out["operators.dedup.lsh_candidate_rows"] = lsh_cand
    if ngram_cand:
        out["operators.dedup.ngram_pair_yield"] = (
            median(b.counters.get("operators.dedup.ngram_pairs", [])) / ngram_cand)
    if lsh_cand:
        out["operators.dedup.lsh_pair_yield"] = (
            median(b.counters.get("operators.dedup.lsh_pairs", [])) / lsh_cand)
    out["operators.dedup.minhash_python_s"] = per_call(
        "operators.dedup.minhash_near_dups", python_s)
    out["operators.dedup.components_jobs"] = per_call(
        "operators.dedup.connected_components", lambda r: r["jobs"])

    for name in ("index.upsert.rows_written_per_delta_row",
                 "index.upsert.bytes_written_per_delta_byte",
                 "index.upsert.lookup_hit_share", "index.space_per_live_byte"):
        out[name] = median(b.counters.get(name, []))

    for span in SPARK_SPANS:
        if span != "operators.dedup.connected_components":  # see components_jobs
            out[f"{span}.jobs"] = per_call(span, lambda r: r["jobs"])
        out[f"{span}.task_cpu_s"] = per_call(span, lambda r: r["task_cpu_s"])
        out[f"{span}.shuffle_write_bytes"] = per_call(span, lambda r: r["shuffle_write_bytes"])
    for span in UDF_SPANS:
        out[f"{span}.python_worker_s"] = per_call(span, python_s)
    for span in DEDUP_SPANS:
        out[f"{span}.spill_bytes"] = per_call(span, lambda r: r["spill_bytes"])
    out["trace.pass_s"] = traced_e2e["pass_s"]
    return out
