"""spatial_batch: the BASELINE headline jobs, one at a time (closed loop,
one client), over a seeded point table with a planted hot cluster, plus an
HTTP burst (http_ops) and the index write path (index_ops) over the same
table.

Headline kinds (one of each per round): tile (tiles.tile_stats z13),
bbox (spatial_join.bbox_join), pip (point_in_polygon_literal_join), knn
(knn.knn_kring), h3 (cells.cell_h3 over all rows, then
point_in_polygon_h3_join and knn.knn_h3), osm_query (the flagship
``run_query``). Every result is checked against numpy.
"""

from __future__ import annotations

import math
import os

import numpy as np

import index_ops
import oracles as O
from harness import Bench, bump, drive, write_parquet
from http_ops import HttpKind
from inputs import SpatialParams, point_ids, spatial_inputs

TILE_ZOOM = 13
# kNN search sizes at full scale: ~40 background points per k-ring cell,
# and an H3 disc that holds >= k background points, so every query is
# exact; both widen with the point spacing at smaller scales
KRING_CELL = 0.002
H3_RES = 10
FLAGSHIP = "bbox(9.90, 53.50, 10.10, 53.70).nodes{ amenity=bench AND seats=* }"
KNN_SAMPLE = 8  # queries re-checked by brute force per call
ROUND_S = 18.0  # one measured round's wall time on 4 cores


def write_points(path: str, inp) -> None:
    import pyarrow as pa

    write_parquet(path, pa.table({
        "id": inp.ids, "lon": inp.lon, "lat": inp.lat,
        "tags": pa.array(inp.tags, type=pa.map_(pa.string(), pa.string())),
    }))


def load_points(b: Bench, path: str):
    """The written point table, with the cell columns and empty membership
    arrays of a prepared node table, cached."""
    from pyspark.sql import functions as F

    from simple_osm_queries_spark.functions import cells as C

    full = b.spark.read.parquet(path).select(
        "id", "lon", "lat", "tags",
        C.cell_x(F.col("lon")).alias("cell_x"),
        C.cell_y(F.col("lat")).alias("cell_y"),
        C.cell_of(F.col("lon"), F.col("lat")).alias("cell"),
        # these nodes belong to no way or relation
        F.array().cast("array<long>").alias("way_ids"),
        F.array().cast("array<long>").alias("relation_ids"),
    ).cache()
    full.count()
    return full


def spatial_kinds(b: Bench, inp, ds) -> list:
    """(kind, fn, check, corrupt) of the six headline jobs over the nodes
    of ``ds``, checked against numpy over ``inp``."""
    from pyspark.sql import functions as F

    from simple_osm_queries_spark.functions import cells as C
    from simple_osm_queries_spark.operators import knn, spatial_join, tiles
    from simple_osm_queries_spark.query.planner import run_query

    spark = b.spark
    k = inp.params.k
    sparse = SpatialParams().n_points / inp.params.n_points  # 1 at full scale
    kring_cell = KRING_CELL * math.sqrt(sparse)
    h3_res = H3_RES - math.ceil(math.log(sparse, 7) - 1e-9)
    pts = ds.nodes.select("id", "lon", "lat")
    boxes = spark.createDataFrame(
        inp.boxes, "qid long, min_lon double, min_lat double, max_lon double, max_lat double")
    queries = spark.createDataFrame(
        [(q, x, y, k) for q, x, y in inp.queries], "qid long, lon double, lat double, k int")

    # expected outputs, computed once from the generated arrays
    tid = O.tile_ids(inp.lon, inp.lat, TILE_ZOOM)
    u, c = np.unique(tid, return_counts=True)
    want_tiles = dict(zip(u.tolist(), c.tolist()))
    want_boxes = {q: int(O.in_box(inp.lon, inp.lat, bx).sum()) for q, *bx in inp.boxes}
    want_pip = {q: int(O.in_polygon(inp.lon, inp.lat, ring).sum()) for q, ring in inp.polygons}
    want_pent = int(O.in_polygon(inp.lon, inp.lat, inp.pentagon).sum())
    want_flag = int((inp.bench & inp.seats & O.in_box(
        inp.lon, inp.lat, (9.90, 53.50, 10.10, 53.70))).sum())
    rng = np.random.default_rng([b.seed, 11])
    half = len(inp.queries) // 2

    def sample():
        return sorted(set(rng.choice(half, KNN_SAMPLE // 2, replace=False).tolist())
                      | set((half + rng.choice(len(inp.queries) - half, KNN_SAMPLE // 2,
                                               replace=False)).tolist()))

    def by_qid(rows):
        return {r["qid"]: r["count"] for r in rows}

    def op_tile():
        with b.span("operators.tiles.tile_stats"):
            return tiles.tile_stats(pts, TILE_ZOOM).select("tile_id", "n").collect()

    def op_bbox():
        with b.span("operators.spatial_join.bbox_join"):
            return spatial_join.bbox_join(pts, boxes).groupBy("qid").count().collect()

    def op_pip():
        with b.span("operators.spatial_join.pip_literal_join"):
            return (spatial_join.point_in_polygon_literal_join(pts, inp.polygons)
                    .groupBy("qid").count().collect())

    def op_knn():
        with b.span("operators.knn.knn_kring"):
            return knn.knn_kring(pts, queries, ring=1, cell_w=kring_cell,
                                 cell_h=kring_cell).select("qid", "dist2", "exact").collect()

    def op_h3():
        with b.span("functions.cells.cell_h3"):
            enc = pts.select(C.cell_h3(F.col("lon"), F.col("lat"), 8).alias("h")).agg(
                F.count("h").alias("n"), F.count_distinct("h").alias("d")).collect()[0]
        with b.span("operators.spatial_join.pip_h3_join"):
            pent = spatial_join.point_in_polygon_h3_join(pts, [(0, inp.pentagon)], res=8).count()
        with b.span("operators.knn.knn_h3"):
            nn = knn.knn_h3(pts, queries, res=h3_res).select("qid", "dist2", "exact").collect()
        return enc, pent, nn

    def op_query():
        with b.span("query.planner.run_query"):
            return run_query(FLAGSHIP, ds).count()

    def check_h3(res):
        enc, pent, nn = res
        if enc["n"] != len(inp.lon) or not 0 < enc["d"] <= len(inp.lon):
            return f"cell_h3 encoded {enc['n']} rows into {enc['d']} cells"
        if pent != want_pent:
            return f"pip_h3 count {pent} != {want_pent}"
        return O.check_knn(nn, inp, sample(), cos_scaled=True, dist_col="dist2")

    return [
        ("tile", op_tile, lambda r: O.compare_counts(
            {x["tile_id"]: x["n"] for x in r}, want_tiles, "tile"), lambda r: r[1:]),
        ("bbox", op_bbox, lambda r: O.compare_counts(by_qid(r), want_boxes, "bbox"),
         lambda r: bump(r, "count", 1)),
        ("pip", op_pip, lambda r: O.compare_counts(by_qid(r), want_pip, "pip"),
         lambda r: bump(r, "count", 1)),
        ("knn", op_knn, lambda r: O.check_knn(r, inp, sample(), False, "dist2"),
         lambda r: bump(r, "dist2", 1e-7)),
        ("h3", op_h3, check_h3, lambda r: (r[0], r[1] + 1, r[2])),
        ("osm_query", op_query, lambda r: None if r == want_flag
         else f"flagship count {r} != {want_flag}", lambda r: r + 1),
    ]


def run(b: Bench) -> None:
    from simple_osm_queries_spark.sources import datagen

    params = SpatialParams().scaled(b.scale)
    path = os.path.join(b.work_dir, "points")

    def make():
        ids = point_ids(b.seed, params)
        with b.span("sources.datagen"):
            lon, lat = datagen.node_lonlat(ids)
            tags = [datagen.node_tags(i) for i in ids.tolist()]
        inp = spatial_inputs(b.seed, params, ids, lon, lat, tags)
        write_points(path, inp)
        return inp, load_points(b, path)

    inp, full = b.setup(make, lambda prev: prev[1].unpersist())
    ds = points_dataset(b.spark, full)
    web = HttpKind(b, ds, inp.lon, inp.lat, inp.bench)
    try:
        kinds = (spatial_kinds(b, inp, ds) + [("http", web.op, web.check, web.corrupt)]
                 + index_ops.kinds(b, full.select("id", "lon", "lat"), inp.lon, inp.lat,
                                   int(inp.ids[0])))
        drive(b, kinds, ROUND_S, first_udf=("pip", "operators.spatial_join.pip_literal_join"))
    finally:
        web.close()
    b.count("functions.cells.n_rows", len(inp.lon))


def points_dataset(spark, nodes):
    """The point table as an OsmDataset: nodes with tags, and empty ways
    and relations with the prepared schemas."""
    from simple_osm_queries_spark.sources import datagen
    from simple_osm_queries_spark.sources.dataset import OsmDataset, prepare

    shape = prepare(
        spark.createDataFrame([], datagen.NODE_SCHEMA_MINIMAL),
        spark.createDataFrame([], datagen.WAY_SCHEMA),
        spark.createDataFrame([], datagen.RELATION_SCHEMA),
    )
    return OsmDataset(
        nodes=nodes,
        ways=spark.createDataFrame([], shape.ways.schema),
        relations=spark.createDataFrame([], shape.relations.schema),
    )
