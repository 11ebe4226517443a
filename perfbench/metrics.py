"""Turn one run's operation log, spans and (traced) event log into the
metrics named in BENCHMARK.json."""

from __future__ import annotations

from harness import Bench, median


# The kinds of each workload whose work is the package's operators layer
# (h3 also encodes cells with functions.cells, but its time is mostly the
# H3 join and kNN).
OPERATOR_KINDS = {
    "spatial_batch": ("tile", "bbox", "pip", "knn", "h3"),
    "dedup_text": ("ngram", "minhash", "components"),
}


def end_to_end(b: Bench, session_s: float, peak_mb: float) -> dict[str, float]:
    medians = b.kind_medians()
    return {
        "setup_s": session_s + median(b.setup_times),
        "peak_pss_mb": peak_mb,
        "first_pass_s": sum(dt for _, dt in b.first_ops),
        "pass_s": sum(medians.values()),
        "operators_s": sum(medians.get(k, 0.0) for k in OPERATOR_KINDS[b.workload]),
    }


def per_layer(b: Bench) -> dict[str, float]:
    import eventlog
    import layers

    table = eventlog.span_table(b.event_log_dir, b.spans)
    return layers.values(b, table, end_to_end(b, 0.0, 0.0))
