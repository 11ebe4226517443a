"""Benchmark entry point.

    python3 perfbench/run.py --workload spatial_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts a local Spark session over the package in that checkout,
measures for ``--seconds`` seconds, checks every output against an
independent oracle and prints one JSON result line last. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs with
the Spark event log on and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("spatial_batch", "dedup_text")


def _catalogue() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a small one)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt every result before its check (tests the checks)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "simple_osm_queries_spark", "__init__.py")):
        print("perfbench: no simple_osm_queries_spark package beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    catalogue = _catalogue()

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every file Spark, the JVM and the Python workers write stays in the
    # checkout; the H3 table cache is shared by the runs of one checkout
    shared_tmp = os.path.join(base, "tmp")
    os.makedirs(shared_tmp, exist_ok=True)
    os.environ["TMPDIR"] = shared_tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SOQ_ICEBERG_WAREHOUSE"] = os.path.join(work, "iceberg")
    os.environ.setdefault("SOQ_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)

    import importlib

    import metrics
    from harness import Bench, result_line

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work, args.scale,
                  args.corrupt)
    workload = importlib.import_module(args.workload)
    try:
        try:
            session_s = bench.start_session()
            workload.run(bench)
        finally:
            peak_mb = bench.stop_session()
        if args.trace:
            values = metrics.per_layer(bench)
            wanted = catalogue["per_layer"]
        else:
            values = metrics.end_to_end(bench, session_s, peak_mb)
            wanted = catalogue["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench: " + json.dumps({
        "session_s": round(session_s, 3),
        "setup_s": [round(x, 3) for x in bench.setup_times],
        "first_ops": {k: round(v, 3) for k, v in bench.first_ops},
        "op_medians": {k: round(v, 3) for k, v in bench.kind_medians().items()},
        "rounds": bench.counters.get("rounds")}), file=sys.stderr)
    for msg in bench.failures[:20]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    out = {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in wanted}
    print(result_line(bench.failed == 0, bench.attempted, bench.failed, out), flush=True)
    return 0

if __name__ == "__main__":
    t0 = time.time()
    rc = main()
    print(f"perfbench: wall {time.time() - t0:.1f}s", file=sys.stderr)
    sys.exit(rc)
