"""The index write path over the spatial_batch point table: ``build_index``
into a fresh directory, then one seeded delta (updates, inserts, deletes)
applied with ``upsert_index``, then a read-after-write bbox count through
``read_index``.

Checks after every delta: upserted ids present, deleted ids absent, total
and bbox row counts equal to the benchmark's own model of the index
(:class:`inputs.IndexModel`).
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from harness import Bench
from inputs import LON0, IndexModel, IndexParams


def dir_listing(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def kinds(b: Bench, points, lon: np.ndarray, lat: np.ndarray, base: int) -> list:
    """(kind, fn, check, corrupt) for one round: build, upsert, read.
    ``points`` is the (id, lon, lat) table whose arrays are ``lon``/``lat``,
    with ids base..base+n-1."""
    from pyspark.sql import functions as F

    from simple_osm_queries_spark.index import build as IB
    from simple_osm_queries_spark.index import upsert as IU

    spark = b.spark
    p = IndexParams().scaled(b.scale)
    part_of = F.floor((F.col("lon") - F.lit(LON0)) / F.lit(p.part_w)).cast("int")
    src = points.select("id", "lon", "lat", part_of.alias("part"))
    state = {"builds": 0}

    def frame(ids, xs, ys):
        import pandas as pd

        pdf = pd.DataFrame({"id": ids, "lon": xs, "lat": ys})
        return (spark.createDataFrame(pdf, "id long, lon double, lat double")
                .withColumn("part", part_of))

    def op_build():
        if "path" in state:
            shutil.rmtree(state["path"], ignore_errors=True)
        state["builds"] += 1
        path = os.path.join(b.work_dir, f"index-{state['builds']}")
        with b.span("index.build.build_index"):
            rep = IB.build_index(src, path, input_fingerprint=f"seed-{b.seed}",
                                 max_rows_per_band=10**9, partition_col="part",
                                 files_per_cell=p.files_per_cell)
        # every build starts the delta stream again from the same state
        state.update(path=path, model=IndexModel(b.seed, p, lon, lat, base), deltas=0)
        return rep

    def check_build(rep):
        if rep["rows"] != len(lon):
            return f"build wrote {rep['rows']} rows, want {len(lon)}"
        return None

    def op_upsert():
        model = state["model"]
        live_rows = model.live_count
        delta = model.next_delta()
        ids = np.fromiter(delta.upserts.keys(), dtype=np.int64)
        xy = np.array(list(delta.upserts.values()))
        df = frame(ids, xy[:, 0], xy[:, 1]).localCheckpoint()
        dels = spark.createDataFrame(
            [(int(i),) for i in delta.deletes], "id long").localCheckpoint()
        state["deltas"] += 1
        before = dir_listing(state["path"])
        live_before = sum(sz for f, sz in before.items() if "/data/" in f)
        with b.span("index.upsert.upsert_index"):
            rep = IU.upsert_index(spark, state["path"], df,
                                  f"seed-{b.seed}-delta-{state['deltas']}",
                                  deletes=dels, partition_col="part",
                                  files_per_cell=p.files_per_cell)
        after = dir_listing(state["path"])
        written = sum(sz for f, sz in after.items() if f not in before)
        rows = len(ids) + len(delta.deletes)
        bytes_per_row = live_before / max(1, live_rows)
        b.count("index.upsert.rows_written_per_delta_row", rep["rows_written"] / rows)
        b.count("index.upsert.bytes_written_per_delta_byte", written / (rows * bytes_per_row))
        b.count("index.upsert.lookup_hit_share", 1.0 if rep["used_lookup"] else 0.0)
        b.count("index.space_per_live_byte", sum(after.values()) / max(1, sum(
            sz for f, sz in after.items() if "/data/" in f)))
        state["delta"] = delta
        return rep

    def check_upsert(rep):
        return "upsert skipped a new delta" if rep["skipped"] else None

    def op_read():
        x0, y0, x1, y1 = state["delta"].bbox
        with b.span("index.build.read_index"):
            idx = IB.read_index(spark, state["path"])
            n = idx.filter((F.col("lon") >= x0) & (F.col("lon") <= x1)
                           & (F.col("lat") >= y0) & (F.col("lat") <= y1)).count()
        return idx, n

    def check_read(res):
        idx, n = res
        model, delta = state["model"], state["delta"]
        want = model.count_in(delta.bbox)
        if n != want:
            return f"bbox count {n} after delta, model has {want}"
        up = [int(i) for i in delta.upserts]
        gone = [int(i) for i in delta.deletes]
        row = idx.agg(
            F.count("*").alias("n"),
            F.sum(F.col("id").isin(up).cast("int")).alias("up"),
            F.sum(F.col("id").isin(gone).cast("int")).alias("gone"),
        ).collect()[0]
        if row["n"] != model.live_count:
            return f"index holds {row['n']} rows, model has {model.live_count}"
        if row["up"] != len(up):
            return f"{len(up) - (row['up'] or 0)} upserted ids missing"
        if row["gone"]:
            return f"{row['gone']} deleted ids still present"
        return None

    return [
        ("build", op_build, check_build, lambda rep: dict(rep, rows=rep["rows"] - 1)),
        ("upsert", op_upsert, check_upsert, lambda rep: dict(rep, skipped=True)),
        ("read", op_read, check_read, lambda res: (res[0], res[1] + 1)),
    ]
