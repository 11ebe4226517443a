"""The benchmark's own tests.

Fast tests cover the oracles, the seeded generators and the event-log
parser. The slow ones run the benchmark itself at a tiny size: a traced
smoke run of each workload must emit every per-layer metric of
BENCHMARK.json with its unit and pass its checks; a run whose results are
deliberately corrupted must fail the check of every operation; a directory
holding only the benchmark must make it exit non-zero.

    python3 -m pytest perfbench/tests -q     # from the checkout root, ~5 min
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import inputs  # noqa: E402
import oracles as O  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    CATALOGUE = json.load(_f)
WORKLOADS = [w["name"] for w in CATALOGUE["workloads"]]


# --- oracles and generators -------------------------------------------------


def test_tile_ids_match_the_package_scalar_twin():
    from simple_osm_queries_spark.functions.cells import tile_id_py, tile_xy_py

    rng = np.random.default_rng(0)
    lon = 9.9 + 0.2 * rng.random(500)
    lat = 53.5 + 0.2 * rng.random(500)
    got = O.tile_ids(lon, lat, 13)
    want = [tile_id_py(*tile_xy_py(x, y, 13), 13) for x, y in zip(lon, lat)]
    assert got.tolist() == want


def test_in_polygon_on_a_square():
    ring = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    lon = np.array([0.5, 1.5, -0.1, 0.99])
    lat = np.array([0.5, 0.5, 0.5, 0.01])
    assert O.in_polygon(lon, lat, ring).tolist() == [True, False, False, True]


def test_components_take_the_smallest_id():
    assert O.components([(5, 3), (3, 9), (7, 8)]) == {3: 3, 5: 3, 9: 3, 7: 7, 8: 7}


def test_lsh_hit_probability_is_an_s_curve():
    p = [O.lsh_hit_prob(j, 16, 4, 64, 0.5) for j in (0.2, 0.5, 0.7, 0.9)]
    assert p == sorted(p) and p[0] < 0.05 and p[-1] > 0.99


def test_capped_sets_drop_shingles_above_max_df():
    sets = [frozenset({"a", "b"}), frozenset({"a", "c"}), frozenset({"a"})]
    assert O.capped_sets(sets, 2) == [frozenset({"b"}), frozenset({"c"}), frozenset()]


def _points(seed: int, p):
    from simple_osm_queries_spark.sources import datagen

    ids = inputs.point_ids(seed, p)
    lon, lat = datagen.node_lonlat(ids)
    return inputs.spatial_inputs(seed, p, ids, lon, lat,
                                 [datagen.node_tags(i) for i in ids.tolist()])


def test_generators_repeat_for_a_seed_and_differ_across_seeds():
    p = inputs.SpatialParams().scaled(0.05)
    a, b, c = (_points(s, p) for s in (1, 1, 2))
    assert np.array_equal(a.lon, b.lon) and a.queries == b.queries
    assert not np.array_equal(a.lon, c.lon)
    t = inputs.TextParams().scaled(0.1)
    assert inputs.text_inputs(4, t).texts == inputs.text_inputs(4, t).texts


def test_points_are_the_package_generator_s_with_a_planted_hot_cluster():
    from simple_osm_queries_spark.sources import datagen

    p = inputs.SpatialParams().scaled(0.05)
    inp = _points(4, p)
    lon, _ = datagen.node_lonlat(inp.ids)
    moved = inp.lon != lon
    assert moved.sum() == round(p.hot_share * len(inp.ids))
    hx, _ = inp.hot_center
    assert np.all(np.abs(inp.lon[moved] - hx) <= p.hot_span / 2)
    assert inp.bench.tolist() == [i % 16 == 0 for i in inp.ids.tolist()]


def test_planted_clusters_reach_the_threshold():
    p = inputs.TextParams().scaled(0.1)
    inp = inputs.text_inputs(5, p)
    sets = O.shingle_sets(inp.texts, p.n)
    pairs = O.planted_pairs(inp.clusters, sets, p.threshold)
    n_pairs = sum(len(c) * (len(c) - 1) // 2 for c in inp.clusters)
    assert len(pairs) >= 0.9 * n_pairs


def test_index_deltas_name_live_ids_and_keep_the_model_consistent():
    rng = np.random.default_rng(1)
    lon, lat = 9.9 + 0.2 * rng.random(3000), 53.5 + 0.2 * rng.random(3000)
    p = inputs.IndexParams().scaled(0.1)
    model = inputs.IndexModel(7, p, lon, lat, base=500)
    live = set(range(500, 3500))
    for _ in range(5):
        d = model.next_delta()
        assert set(d.deletes.tolist()) <= live
        assert not set(d.deletes.tolist()) & set(d.upserts)
        live -= set(d.deletes.tolist())
        live |= set(d.upserts)
        assert model.live_count == len(live)


def test_eventlog_attributes_jobs_tasks_and_sql_metrics_to_spans(tmp_path):
    plan = {"nodeName": "BroadcastHashJoin", "metrics": [
        {"name": "number of output rows", "accumulatorId": 7, "metricType": "sum"}],
        "children": []}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "s1", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor CPU Time": 2e9, "Executor Run Time": 3000,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}},
         "Task Info": {"Accumulables": [{"ID": 7, "Update": "40"}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Memory Bytes Spilled": 5},
         "Task Info": {"Accumulables": [{"ID": 7, "Update": 2}]}},
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events))
    spans = {"s1": {"name": "x", "parent": None, "phase": "measure", "t0": 0.0, "t1": 4.0},
             "s2": {"name": "y", "parent": "s1", "phase": "measure", "t0": 1.0, "t1": 2.5}}
    table = eventlog.span_table(str(tmp_path), spans)
    row = table["s1"]
    assert (row["jobs"], row["tasks"], row["task_cpu_s"]) == (1, 2, 2.0)
    assert row["shuffle_write_bytes"] == 100 and row["spill_bytes"] == 5
    assert row["sql"][("BroadcastHashJoin", "number of output rows")] == 42
    assert table["s2"]["jobs"] == 0
    assert row["self_s"] == pytest.approx(2.5)


# --- the benchmark itself ---------------------------------------------------


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=900,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _units(section: str) -> dict:
    return {m["name"]: m["unit"] for m in CATALOGUE[section]}


TINY = ("--seed", "3", "--seconds", "1", "--scale", "0.05")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_smoke_run_emits_every_per_layer_metric(workload):
    r = _result(_run("--workload", workload, *TINY, "--trace", "1"))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == _units("per_layer")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_results_fail_every_check(workload):
    r = _result(_run("--workload", workload, *TINY, "--trace", "0", "--corrupt"))
    assert not r["correct"]
    assert r["failed"] == r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == _units("end_to_end")
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_a_directory_without_the_package_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", cwd=tmp_path)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
