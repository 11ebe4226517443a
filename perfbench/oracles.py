"""Independent oracles: each recomputes an expected output in numpy or
plain Python from the generated inputs, without calling the package.
Every check returns None on a match and a short error string otherwise.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

MAX_MERCATOR_LAT = 85.05112878


# --- spatial ---------------------------------------------------------------


def tile_ids(lon: np.ndarray, lat: np.ndarray, z: int) -> np.ndarray:
    """Web-Mercator tile id packed as zoom<<58 | tx<<29 | ty."""
    n = float(1 << z)
    fx = (lon + 180.0) / 360.0 * n
    r = np.radians(np.clip(lat, -MAX_MERCATOR_LAT, MAX_MERCATOR_LAT))
    fy = (1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / math.pi) / 2.0 * n
    tx = np.clip(np.floor(fx).astype(np.int64), 0, (1 << z) - 1)
    ty = np.clip(np.floor(fy).astype(np.int64), 0, (1 << z) - 1)
    return (np.int64(z) << 58) | (tx << 29) | ty


def in_box(lon, lat, box) -> np.ndarray:
    x0, y0, x1, y1 = box
    return (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)


def in_polygon(lon: np.ndarray, lat: np.ndarray, ring) -> np.ndarray:
    """Even-odd ray cast, edge by edge."""
    inside = np.zeros(len(lon), dtype=bool)
    m = len(ring)
    for i in range(m):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % m]
        if ay == by:
            continue
        straddles = (ay > lat) != (by > lat)
        x_at = (bx - ax) * (lat - ay) / (by - ay) + ax
        inside ^= straddles & (lon < x_at)
    return inside


def knn_dists(lon, lat, qlon, qlat, k: int, cos_scaled: bool) -> np.ndarray:
    """Sorted squared distances of the k nearest points (brute force)."""
    dx = lon - qlon
    if cos_scaled:
        dx = dx * math.cos(math.radians(qlat))
    d2 = dx * dx + (lat - qlat) ** 2
    return np.sort(np.partition(d2, k - 1)[:k])


def compare_counts(got: dict, want: dict, what: str) -> str | None:
    got = {k: v for k, v in got.items() if v}
    want = {k: v for k, v in want.items() if v}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:4]
        return f"{what} counts differ: {diff}"
    return None


def check_knn(rows, inp, sample: list[int], cos_scaled: bool, dist_col: str) -> str | None:
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    k = inp.params.k
    if len(by_q) != len(inp.queries):
        return f"kNN answered {len(by_q)} of {len(inp.queries)} queries"
    not_exact = [q for q, rs in by_q.items() if not all(r["exact"] for r in rs)]
    if not_exact:
        return f"kNN inexact for queries {not_exact[:5]}"
    for qid in sample:
        _, qlon, qlat = inp.queries[qid]
        want = knn_dists(inp.lon, inp.lat, qlon, qlat, k, cos_scaled)
        got = np.sort(np.array([r[dist_col] for r in by_q.get(qid, [])]))
        if len(got) != k or not np.allclose(got, want, rtol=1e-9, atol=1e-18):
            return f"kNN query {qid}: distances differ from brute force"
    return None


# --- text ------------------------------------------------------------------


def shingle_sets(texts: list[str], n: int) -> list[frozenset]:
    out = []
    for t in texts:
        w = t.strip().lower().split()
        if len(w) <= n:
            out.append(frozenset([" ".join(w)]))
        else:
            out.append(frozenset(" ".join(w[i:i + n]) for i in range(len(w) - n + 1)))
    return out


def capped_sets(sets: list[frozenset], max_df: int | None) -> list[frozenset]:
    """Drop shingles held by more than ``max_df`` documents."""
    if max_df is None:
        return sets
    df = Counter(s for d in sets for s in d)
    hot = {s for s, c in df.items() if c > max_df}
    return [d - hot for d in sets] if hot else sets


def jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def planted_pairs(clusters, sets, threshold: float) -> set[tuple[int, int]]:
    """Within-cluster pairs whose Jaccard reaches the threshold."""
    out = set()
    for members in clusters:
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                if jaccard(sets[a], sets[b]) >= threshold:
                    out.add((a, b))
    return out


def lsh_hit_prob(j: float, bands: int, rows: int, num_perm: int, t: float) -> float:
    """P(pair becomes an LSH candidate and its estimate passes ``t``): the
    banding S-curve times a normal approximation of the estimator."""
    cand = 1.0 - (1.0 - j ** rows) ** bands
    sd = math.sqrt(max(j * (1 - j), 1e-12) / num_perm)
    # the estimate is a multiple of 1/num_perm; passes when >= t
    z = (t - 0.5 / num_perm - j) / sd
    return cand * 0.5 * math.erfc(z / math.sqrt(2.0))


def components(pairs) -> dict[int, int]:
    """Union-find: node -> smallest id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}
