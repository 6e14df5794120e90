"""Independent NumPy oracle for the benchmark's correctness checks.

It imports nothing from ``geomesa_spark``: point-in-polygon, the Morton
Z2 code, haversine search and the density histogram are written here
from their definitions and evaluated over the generator's exact doubles.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371008.8  # mean Earth radius, the engine's documented constant
EDGE_EPS_DEG = 1e-9  # a point this close to an edge may fall either way
DIST_EPS_M = 1e-6


def _near_segment(px, py, ax, ay, bx, by, eps):
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / ll, 0.0, 1.0)
    ex, ey = px - (ax + t * dx), py - (ay + t * dy)
    return ex * ex + ey * ey <= eps * eps


def pip(px, py, rings, eps=EDGE_EPS_DEG):
    """Even-odd point-in-polygon over closed rings (holes by parity).

    Returns (inside, on_edge); ``on_edge`` marks points on an edge or
    within ``eps`` degrees of one, where ``inside`` is not meaningful."""
    inside = np.zeros(px.shape, dtype=bool)
    on_edge = np.zeros(px.shape, dtype=bool)
    for r in rings:
        for (ax, ay), (bx, by) in zip(r[:-1], r[1:]):
            on_edge |= _near_segment(px, py, ax, ay, bx, by, eps)
            if ay == by:
                continue
            straddle = (ay > py) != (by > py)
            xint = ax + (py - ay) * (bx - ax) / (by - ay)
            inside ^= straddle & (px < xint)
    return inside, on_edge


class PointIndex:
    """Points sorted by longitude for envelope range lookups."""

    def __init__(self, lon, lat):
        self.order = np.argsort(lon, kind="stable")
        self.lon = lon[self.order]
        self.lat = lat[self.order]

    def in_envelope(self, x0, y0, x1, y1):
        """Indices (into the original arrays) of points in the closed box."""
        lo = np.searchsorted(self.lon, x0, side="left")
        hi = np.searchsorted(self.lon, x1, side="right")
        sel = np.flatnonzero((self.lat[lo:hi] >= y0) & (self.lat[lo:hi] <= y1)) + lo
        return self.order[sel]


def pip_pairs(index: PointIndex, lon, lat, polys):
    """All (point, polygon) pairs where the point is inside the polygon or
    on its boundary band. Returns (point_idx, poly_idx, on_edge)."""
    out_p, out_q, out_e = [], [], []
    for q, rings in enumerate(polys.rings):
        idx = index.in_envelope(*polys.env[q])
        if len(idx) == 0:
            continue
        inside, edge = pip(lon[idx], lat[idx], rings)
        keep = inside | edge
        out_p.append(idx[keep])
        out_q.append(np.full(int(keep.sum()), q, dtype=np.int64))
        out_e.append(edge[keep])
    if not out_p:
        z = np.zeros(0, dtype=np.int64)
        return z, z, np.zeros(0, dtype=bool)
    return np.concatenate(out_p), np.concatenate(out_q), np.concatenate(out_e)


def envelope_candidates(index: PointIndex, env):
    """All (point, polygon) pairs with the point in the polygon's closed
    envelope: the join's candidates before the exact refine."""
    out_p, out_q = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for q in range(len(env)):
        idx = index.in_envelope(*env[q])
        out_p.append(idx)
        out_q.append(np.full(len(idx), q, dtype=np.int64))
    return np.concatenate(out_p), np.concatenate(out_q)


def compare_pairs(got: set, strict: set, edge: set) -> dict:
    """Engine pair set against the oracle: every strict pair present,
    nothing outside strict ∪ edge; edge pairs may fall either way."""
    missing = strict - got
    extra = got - strict - edge
    return {
        "ok": not missing and not extra,
        "missing": len(missing),
        "extra": len(extra),
        "edge_kept": len(got & edge),
        "edge_total": len(edge),
        "strict": len(strict),
    }


def _spread1(v):
    v = v.astype(np.uint64)
    for shift, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        v = (v | (v << np.uint64(shift))) & np.uint64(mask)
    return v


def _normalize(v, lo, hi, bits):
    bins = 1 << bits
    i = np.floor((np.clip(v, lo, hi) - lo) * (bins / (hi - lo)))
    return np.minimum(i, bins - 1).astype(np.int64)


def morton_z2(lon, lat, bits: int = 31):
    """Z2 Morton code: lon bits at even positions, lat bits at odd ones."""
    x = _spread1(_normalize(np.asarray(lon, float), -180.0, 180.0, bits))
    y = _spread1(_normalize(np.asarray(lat, float), -90.0, 90.0, bits))
    return (x | (y << np.uint64(1))).astype(np.int64)


def haversine_m(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def check_knn(lon, lat, keys, probe, got) -> str | None:
    """``got``: list of (key, dist_m) the engine returned for one probe.
    The k-th distance must match within DIST_EPS_M; every point strictly
    nearer than the k-th ring must be present, and nothing returned may
    lie beyond it. Returns an error string or None."""
    d = haversine_m(lon, lat, probe["lon"], probe["lat"])
    k = min(int(probe["k"]), len(d))
    kth = np.partition(d, k - 1)[k - 1]
    if len(got) != k:
        return f"{probe['q_id']}: {len(got)} rows, want {k}"
    gd = max(g[1] for g in got)
    if abs(gd - kth) > DIST_EPS_M:
        return f"{probe['q_id']}: k-th distance {gd!r} != oracle {kth!r}"
    must = set(keys[d < kth - DIST_EPS_M].tolist())
    allowed = set(keys[d <= kth + DIST_EPS_M].tolist())
    got_keys = {g[0] for g in got}
    if not must <= got_keys or not got_keys <= allowed:
        return f"{probe['q_id']}: neighbour ids differ from oracle"
    return None


def radius_pairs(lon, lat, keys, probe):
    """(sure, band): keys within the radius, and keys within DIST_EPS_M of
    the radius that may fall either way."""
    d = haversine_m(lon, lat, probe["lon"], probe["lat"])
    r = probe["radius_m"]
    band = np.abs(d - r) <= DIST_EPS_M
    return set(keys[(d <= r) & ~band].tolist()), set(keys[band].tolist())


def density(lon, lat, bbox, width, height) -> dict:
    """{(ix, iy): count} over the half-open bbox, cell = floor((v - v0) / step)."""
    x0, y0, x1, y1 = bbox
    dx, dy = (x1 - x0) / width, (y1 - y0) / height
    m = (lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1)
    ix = np.floor((lon[m] - x0) / dx).astype(np.int64)
    iy = np.floor((lat[m] - y0) / dy).astype(np.int64)
    cells, counts = np.unique(np.stack([ix, iy]), axis=1, return_counts=True)
    return {(int(a), int(b)): int(c) for (a, b), c in zip(cells.T, counts)}


def envelopes_overlap(a, b):
    """Closed-envelope overlap of (n, 4) arrays row by row."""
    return (a[:, 0] <= b[:, 2]) & (b[:, 0] <= a[:, 2]) & (a[:, 1] <= b[:, 3]) & (b[:, 1] <= a[:, 3])


def envelope_pairs(left, right):
    """All (left, right) index pairs whose closed envelopes overlap."""
    li, ri = [], []
    for j in range(len(right)):
        hit = np.flatnonzero(envelopes_overlap(left, np.broadcast_to(right[j], left.shape)))
        li.append(hit)
        ri.append(np.full(len(hit), j, dtype=np.int64))
    return np.concatenate(li), np.concatenate(ri)
