"""dedup_text: near-duplicate detection over a seeded caption corpus with
a Zipf vocabulary and planted near-duplicate clusters (closed loop, one
client).

Operation kinds (one of each per round): ngram (dedup.ngram_jaccard_pairs),
minhash (dedup.minhash_near_dups), components (dedup.connected_components
over the minhash pairs). Checks: recall of the planted pairs, Python
set-Jaccard on sampled output pairs, union-find components.
"""

from __future__ import annotations

import os

import numpy as np

import oracles as O
from harness import Bench, bump, drive, write_parquet
from inputs import TextParams, text_inputs

PAIR_SAMPLE = 50  # output pairs re-checked by Python set-Jaccard per call
NUM_PERM, BANDS = 64, 16  # minhash_near_dups defaults
ROUND_S = 8.0  # one measured round's wall time on 4 cores


def run(b: Bench) -> None:
    from simple_osm_queries_spark.caching import unpersist_intermediates
    from simple_osm_queries_spark.operators import dedup

    spark = b.spark
    p = TextParams().scaled(b.scale)
    path = os.path.join(b.work_dir, "docs")

    def make():
        import pyarrow as pa

        # the corpus is the benchmark's own (the package generates no text
        # with a Zipf vocabulary), so no sources.datagen span here
        inp = text_inputs(b.seed, p)
        write_parquet(path, pa.table({
            "doc_id": np.arange(len(inp.texts), dtype=np.int64), "text": inp.texts}))
        docs = spark.read.parquet(path).cache()
        docs.count()
        return inp, docs

    inp, docs = b.setup(make, lambda prev: prev[1].unpersist())

    # oracle state: shingle sets (all shingles for minhash; the max_df-capped
    # sets that ngram_jaccard_pairs scores) and the planted pairs
    full_sets = O.shingle_sets(inp.texts, p.n)
    capped = O.capped_sets(full_sets, p.max_df)
    planted_ngram = O.planted_pairs(inp.clusters, capped, p.threshold)
    planted_mh = O.planted_pairs(inp.clusters, full_sets, p.threshold)
    rows_per_band = NUM_PERM // BANDS
    mh_expect = (
        sum(O.lsh_hit_prob(O.jaccard(full_sets[a], full_sets[c]), BANDS, rows_per_band,
                           NUM_PERM, p.threshold) for a, c in planted_mh)
        / max(1, len(planted_mh))
    )
    rng = np.random.default_rng([b.seed, 12])
    state = {}

    def sample(rows):
        idx = rng.choice(len(rows), min(PAIR_SAMPLE, len(rows)), replace=False)
        return [rows[i] for i in idx]

    def op_ngram():
        with b.span("operators.dedup.ngram_jaccard_pairs"):
            out = dedup.ngram_jaccard_pairs(docs, n=p.n, threshold=p.threshold, max_df=p.max_df)
            rows = out.select("id_a", "id_b", "jaccard").collect()
            unpersist_intermediates(out)
        b.count("operators.dedup.ngram_pairs", len(rows))
        return rows

    def check_ngram(rows):
        got = {(r["id_a"], r["id_b"]) for r in rows}
        missed = planted_ngram - got
        if missed:
            return f"ngram missed {len(missed)} of {len(planted_ngram)} planted pairs"
        for r in sample(rows):
            j = O.jaccard(capped[r["id_a"]], capped[r["id_b"]])
            if abs(j - r["jaccard"]) > 1e-9 or j < p.threshold:
                return f"ngram pair {r['id_a']},{r['id_b']}: jaccard {r['jaccard']} != {j}"
        return None

    def op_minhash():
        with b.span("operators.dedup.minhash_near_dups"):
            out = dedup.minhash_near_dups(docs, n=p.n, num_perm=NUM_PERM, bands=BANDS,
                                          threshold=p.threshold)
            rows = out.select("id_a", "id_b", "jaccard_est").collect()
            unpersist_intermediates(out)
        state["pairs"] = [(r["id_a"], r["id_b"]) for r in rows]
        b.count("operators.dedup.lsh_pairs", len(rows))
        return rows

    def check_minhash(rows):
        got = {(r["id_a"], r["id_b"]) for r in rows}
        recall = len(planted_mh & got) / max(1, len(planted_mh))
        # expected recall from the banding S-curve; the margin covers the
        # correlation between pairs of one cluster
        if recall < mh_expect - 0.1:
            return f"minhash recall {recall:.3f} < expected {mh_expect:.3f} - 0.1"
        for r in sample(rows):
            j = O.jaccard(full_sets[r["id_a"]], full_sets[r["id_b"]])
            if abs(j - r["jaccard_est"]) > 0.25:
                return f"minhash pair {r['id_a']},{r['id_b']}: estimate {r['jaccard_est']} vs {j}"
        return None

    def op_components():
        pairs = spark.createDataFrame(state["pairs"], "id_a long, id_b long")
        with b.span("operators.dedup.connected_components"):
            return dedup.connected_components(pairs).select("node", "comp").collect()

    def check_components(rows):
        want = O.components(state["pairs"])
        got = {r["node"]: r["comp"] for r in rows}
        if got != want:
            bad = [n for n in want if got.get(n) != want[n]][:3]
            return f"components differ from union-find at nodes {bad} ({len(got)} vs {len(want)})"
        return None

    kinds = [
        ("ngram", op_ngram, check_ngram, lambda rows: bump(rows, "jaccard", 0.01)),
        ("minhash", op_minhash, check_minhash, lambda rows: []),
        ("components", op_components, check_components, lambda rows: bump(rows, "comp", 1)),
    ]
    drive(b, kinds, ROUND_S, first_udf=("ngram", "operators.dedup.ngram_jaccard_pairs"))
