"""Seeded input generators: spatial_batch's points, HTTP requests and
index deltas, and dedup_text's corpus.

Everything is a pure function of (seed, params): the same seed gives the
same inputs. spatial_batch's points come from the package's own generator
(a seeded run of node ids, placed and tagged by ``sources.datagen``) with
a seeded hot cluster planted over them. The params dataclasses expose the
properties that drive the program's behaviour (hot-cluster share, Zipf
exponent, cluster sizes, viewport size and repeat share, delta size and
delete share); ``scale`` shrinks the row counts for the smoke test without
changing the shape.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace

import numpy as np

# The generator window of the package's own fixtures (FIXTURES.md).
LON0, LAT0, SPAN = 9.90, 53.50, 0.20


def _scaled(n: int, scale: float, floor: int) -> int:
    return max(floor, int(round(n * scale)))


# --- spatial_batch ---------------------------------------------------------


@dataclass(frozen=True)
class SpatialParams:
    n_points: int = 100_000
    hot_share: float = 0.05  # share of points planted in the hot cluster
    hot_span: float = 0.002  # side of the hot cluster, degrees
    n_queries: int = 100  # kNN queries, half inside the hot cluster
    k: int = 10
    n_polygons: int = 8

    def scaled(self, scale: float) -> "SpatialParams":
        return replace(self, n_points=_scaled(self.n_points, scale, 2_000))


@dataclass
class SpatialInputs:
    params: SpatialParams
    ids: np.ndarray
    lon: np.ndarray
    lat: np.ndarray
    tags: list[dict[str, str]]
    bench: np.ndarray  # bool: amenity=bench
    seats: np.ndarray  # bool: seats tag present
    hot_center: tuple[float, float]
    boxes: list[tuple[int, float, float, float, float]]
    polygons: list[tuple[int, list[tuple[float, float]]]]
    pentagon: list[tuple[float, float]]
    queries: list[tuple[int, float, float]]


def point_ids(seed: int, p: SpatialParams) -> np.ndarray:
    """The seed's node ids: a run of ``n_points`` consecutive ids at a
    seeded start. The package's generator places and tags each id
    (``datagen.node_lonlat``, ``datagen.node_tags``)."""
    start = int(np.random.default_rng([seed, 0]).integers(0, 1_000_000))
    return np.arange(start, start + p.n_points, dtype=np.int64)


def spatial_inputs(seed: int, p: SpatialParams, ids: np.ndarray, lon: np.ndarray,
                   lat: np.ndarray, tags: list[dict[str, str]]) -> SpatialInputs:
    """The point table the package's generator made for ``ids``, with a
    seeded hot cluster planted over it (``hot_share`` of the points moved
    into a ``hot_span`` square at a seeded position), and the seeded query
    boxes, polygons and kNN queries."""
    rng = np.random.default_rng([seed, 1])
    n = len(ids)
    n_hot = int(round(n * p.hot_share))
    hx = LON0 + rng.uniform(0.2, 0.8) * SPAN
    hy = LAT0 + rng.uniform(0.2, 0.8) * SPAN
    lon, lat = lon.copy(), lat.copy()
    hot = rng.permutation(n)[:n_hot]
    lon[hot] = hx + p.hot_span * (rng.random(n_hot) - 0.5)
    lat[hot] = hy + p.hot_span * (rng.random(n_hot) - 0.5)
    bench = np.array([t.get("amenity") == "bench" for t in tags])
    seats = np.array(["seats" in t for t in tags])
    # four query boxes: one on the hot cluster, one large, two random
    boxes = [(0, hx - 0.01, hy - 0.01, hx + 0.01, hy + 0.01),
             (1, LON0 + 0.02, LAT0 + 0.02, LON0 + 0.18, LAT0 + 0.18)]
    for q in (2, 3):
        x, y = LON0 + rng.uniform(0, 0.15), LAT0 + rng.uniform(0, 0.15)
        boxes.append((q, x, y, x + rng.uniform(0.01, 0.05), y + rng.uniform(0.01, 0.05)))
    polygons = []
    for pid in range(p.n_polygons):
        cx = LON0 + rng.uniform(0.03, 0.17) * (SPAN / 0.2)
        cy = LAT0 + rng.uniform(0.03, 0.17) * (SPAN / 0.2)
        r_out, r_in = rng.uniform(0.015, 0.03), rng.uniform(0.005, 0.015)
        ring = [
            (cx + (r_out if i % 2 == 0 else r_in) * math.cos(2 * math.pi * i / 32),
             cy + (r_out if i % 2 == 0 else r_in) * math.sin(2 * math.pi * i / 32))
            for i in range(32)
        ]
        polygons.append((pid, ring))
    # the H3 polyfill polygon covers the hot cluster
    pentagon = [(hx + 0.04 * math.cos(2 * math.pi * i / 5 + 0.3),
                 hy + 0.04 * math.sin(2 * math.pi * i / 5 + 0.3)) for i in range(5)]
    half = p.n_queries // 2
    queries = [(i, hx + p.hot_span * (rng.random() - 0.5) * 0.8,
                hy + p.hot_span * (rng.random() - 0.5) * 0.8) for i in range(half)]
    queries += [(half + i, LON0 + SPAN * rng.uniform(0.05, 0.95),
                 LAT0 + SPAN * rng.uniform(0.05, 0.95)) for i in range(p.n_queries - half)]
    return SpatialInputs(p, ids, lon, lat, tags, bench, seats,
                         (hx, hy), boxes, polygons, pentagon, queries)


# --- dedup_text ------------------------------------------------------------


@dataclass(frozen=True)
class TextParams:
    n_docs: int = 6_000
    vocab: int = 30_000
    zipf_s: float = 1.05  # word-rank exponent
    min_words: int = 20
    max_words: int = 32
    # planted near-duplicate clusters: (size, how many)
    cluster_sizes: tuple[tuple[int, int], ...] = ((2, 300), (3, 120), (5, 40), (8, 15))
    hub_size: int = 40  # one hub cluster
    edits: int = 1  # word substitutions per cluster member
    n: int = 3
    threshold: float = 0.5
    max_df: int = 100  # ~1.7% of the docs: the cap engages on the Zipf head

    def scaled(self, scale: float) -> "TextParams":
        sizes = tuple((s, max(1, int(round(c * scale)))) for s, c in self.cluster_sizes)
        return replace(self, n_docs=_scaled(self.n_docs, scale, 600),
                       cluster_sizes=sizes,
                       hub_size=max(4, int(round(self.hub_size * min(1.0, 4 * scale)))))


@dataclass
class TextInputs:
    params: TextParams
    texts: list[str]
    clusters: list[list[int]]  # doc ids of each planted cluster


def text_inputs(seed: int, p: TextParams) -> TextInputs:
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, p.vocab + 1, dtype=np.float64)
    prob = ranks ** -p.zipf_s
    prob /= prob.sum()
    cdf = np.cumsum(prob)
    words = np.array([f"w{i}" for i in range(p.vocab)])

    def draw(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(k)), p.vocab - 1)

    lens = rng.integers(p.min_words, p.max_words + 1, p.n_docs)
    docs = [draw(int(m)) for m in lens]
    sizes = [s for s, c in p.cluster_sizes for _ in range(c)] + [p.hub_size]
    rng.shuffle(sizes)
    slots = rng.permutation(p.n_docs)
    clusters, pos = [], 0
    for s in sizes:
        members = sorted(int(x) for x in slots[pos:pos + s])
        pos += s
        base = docs[members[0]]
        for m in members[1:]:
            d = base.copy()
            at = rng.choice(len(d), p.edits, replace=False)
            d[at] = draw(p.edits)
            docs[m] = d
        clusters.append(members)
    return TextInputs(p, [" ".join(words[d]) for d in docs], clusters)


# --- HTTP requests (spatial_batch) --------------------------------------------


@dataclass(frozen=True)
class HttpParams:
    clients: int = 4  # client threads (<= nproc)
    small_view: float = 0.004  # viewport side, degrees
    repeat_share: float = 0.25  # share of /query requests that repeat an earlier one
    # one burst, one request per client thread: a /query viewport (some
    # repeated), a this.* substatement, /cells, /tiles mvt
    mix: tuple[str, ...] = ("query", "substatement", "cells", "tiles")
    tile_zoom: int = 16
    cells_res: int = 9


@dataclass
class Request:
    kind: str
    method: str
    path: str
    body: str | None = None
    bbox: tuple[float, float, float, float] | None = None


def _tile_of(lon: float, lat: float, z: int) -> tuple[int, int]:
    n = 1 << z
    x = int((lon + 180.0) / 360.0 * n)
    r = math.radians(lat)
    y = int((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.pi) / 2.0 * n)
    return x, y


class RequestStream:
    """Seeded HTTP requests, one burst at a time."""

    def __init__(self, seed: int, p: HttpParams):
        self.p = p
        self.rng = np.random.default_rng([seed, 3])
        self.seen: list[Request] = []

    def _view(self, side: float) -> tuple[float, float, float, float]:
        x = LON0 + self.rng.uniform(0, SPAN - side)
        y = LAT0 + self.rng.uniform(0, SPAN - side)
        return (round(x, 6), round(y, 6), round(x + side, 6), round(y + side, 6))

    def burst(self) -> list[Request]:
        return [self._one(kind) for kind in self.p.mix]

    def _one(self, kind: str) -> Request:
        p, rng = self.p, self.rng
        if kind == "query" and self.seen and rng.random() < p.repeat_share:
            return self.seen[int(rng.integers(len(self.seen)))]
        if kind == "query":
            b = self._view(p.small_view)
            r = Request(kind, "POST", "/query",
                        f"bbox({b[0]}, {b[1]}, {b[2]}, {b[3]}).nodes{{ amenity=bench }}", b)
            self.seen.append(r)
            return r
        if kind == "substatement":
            b = self._view(p.small_view)
            return Request(kind, "POST", "/query",
                           f"bbox({b[0]}, {b[1]}, {b[2]}, {b[3]})"
                           ".nodes{ amenity=bench AND this.ways{ highway=* } }", b)
        if kind == "cells":
            b = self._view(p.small_view * 2)
            return Request(kind, "GET", f"/cells?bbox={b[0]},{b[1]},{b[2]},{b[3]}"
                           f"&res={p.cells_res}", None, b)
        x, y = _tile_of(LON0 + rng.uniform(0.01, 0.19), LAT0 + rng.uniform(0.01, 0.19),
                        p.tile_zoom)
        return Request(kind, "GET", f"/tiles/{p.tile_zoom}/{x}/{y}.mvt")


# --- index write path (spatial_batch) ---------------------------------------


@dataclass(frozen=True)
class IndexParams:
    part_w: float = 0.005  # partition column width, degrees: 40 partitions
    files_per_cell: int = 1
    delta_rows: int = 400
    delta_width: float = 0.008  # a delta is spatially local (a "city diff")
    update_share: float = 0.6
    insert_share: float = 0.25  # the rest are deletes

    def scaled(self, scale: float) -> "IndexParams":
        return replace(self, delta_rows=_scaled(self.delta_rows, scale, 40))


@dataclass
class Delta:
    upserts: dict  # id -> (lon, lat); updates and inserts
    deletes: np.ndarray  # ids
    bbox: tuple[float, float, float, float]  # the strip the delta touches


class IndexModel:
    """The expected index content (points ``lon``/``lat`` with ids
    base..base+n-1) plus a seeded stream of deltas. Each delta is drawn
    against the current state, so every update and delete names a live id;
    inserts take new ids after the last one."""

    def __init__(self, seed: int, p: IndexParams, lon: np.ndarray, lat: np.ndarray,
                 base: int):
        self.params = p
        self.base = base
        self.rng = np.random.default_rng([seed, 4])
        n = len(lon)
        # live state as parallel arrays indexed by id - base; NaN marks a
        # deleted id
        cap = n + 16 * p.delta_rows
        self.x = np.full(cap, np.nan)
        self.y = np.full(cap, np.nan)
        self.x[:n], self.y[:n] = lon, lat
        self.next_id = n

    @property
    def live_count(self) -> int:
        return int(np.count_nonzero(~np.isnan(self.x[: self.next_id])))

    def count_in(self, bbox: tuple[float, float, float, float]) -> int:
        x, y = self.x[: self.next_id], self.y[: self.next_id]
        x0, y0, x1, y1 = bbox
        return int(np.count_nonzero((x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)))

    def next_delta(self) -> Delta:
        p, rng = self.params, self.rng
        if self.next_id + p.delta_rows > len(self.x):
            grow = np.full(len(self.x), np.nan)
            self.x, self.y = np.concatenate([self.x, grow]), np.concatenate([self.y, grow])
        n_upd = int(round(p.delta_rows * p.update_share))
        n_ins = int(round(p.delta_rows * p.insert_share))
        n_del = p.delta_rows - n_upd - n_ins
        x0 = LON0 + rng.uniform(0, SPAN - p.delta_width)
        x1 = x0 + p.delta_width
        xs = self.x[: self.next_id]
        strip = np.flatnonzero((xs >= x0) & (xs < x1))
        pick = strip[rng.permutation(len(strip))[: n_upd + n_del]]
        upd, dels = pick[:n_upd], np.sort(pick[n_upd:])
        new = np.arange(self.next_id, self.next_id + n_ins, dtype=np.int64)
        self.next_id += n_ins
        touched = np.concatenate([upd, new])
        nx = x0 + p.delta_width * rng.random(len(touched))
        ny = LAT0 + SPAN * rng.random(len(touched))
        self.x[dels] = np.nan
        self.y[dels] = np.nan
        self.x[touched], self.y[touched] = nx, ny
        ups = {int(i) + self.base: (float(a), float(b)) for i, a, b in zip(touched, nx, ny)}
        return Delta(ups, dels.astype(np.int64) + self.base, (x0, LAT0, x1, LAT0 + SPAN))
