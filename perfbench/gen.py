"""Seeded input generator for the benchmark.

Everything the engine reads is made here from ``--seed`` with NumPy and
written as parquet; the engine receives only those files. Nothing is
taken from ``geomesa_spark.tables``, so a change there cannot change
what the benchmark measures.

Coordinates sit on a 0.01 degree lattice, as in the engine's own
synthetic table, so points land exactly on the lattice-aligned edges of
bbox and holed polygons. The generator keeps the exact doubles it wrote
(``Points``, ``Polys``); the oracle works from those, never from engine
output. Shares (kinds, hot points, giant polygons) are exact counts placed
at random, so the amount of work varies little from seed to seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# span kind by offset inside a document; geo spans sit at offsets 1 and 4
SPAN_KINDS = ["text", "geo", "image", "text", "geo", "audio", "text"]
LATTICE = 100  # lattice steps per degree
LON_STEPS = 360 * LATTICE  # lon = -180 .. 179.99
LAT_STEPS = 170 * LATTICE  # lat = -85 .. 84.99


@dataclass
class Points:
    """Generated geo spans, in document order."""

    doc: np.ndarray  # int64 document number
    offset: np.ndarray  # int32 span offset
    lon: np.ndarray  # float64, exactly as written in the POINT text
    lat: np.ndarray

    def key(self) -> np.ndarray:
        """One int64 per point: doc * 8 + offset (offsets are < 8)."""
        return self.doc * 8 + self.offset


@dataclass
class Polys:
    """Generated polygon layer: exact vertex doubles per ring."""

    ids: list  # poly_id strings
    kind: np.ndarray  # 'bbox' | 'convex' | 'holed'
    rings: list  # per polygon: list of (m, 2) float64 closed rings
    env: np.ndarray  # (n, 4) min_lon, min_lat, max_lon, max_lat


def _lattice_lonlat(kx: np.ndarray, ky: np.ndarray):
    return (kx - 180 * LATTICE) / float(LATTICE), (ky - 85 * LATTICE) / float(LATTICE)


def uniform_lattice(rng: np.random.Generator, n: int):
    kx = rng.integers(0, LON_STEPS, n)
    ky = rng.integers(0, LAT_STEPS, n)
    return _lattice_lonlat(kx, ky)


def exact_share(rng, n: int, share: float) -> np.ndarray:
    """Boolean mask with exactly round(n * share) True values at random places."""
    mask = np.zeros(n, dtype=bool)
    mask[: int(round(n * share))] = True
    return rng.permutation(mask)


def clustered_lattice(rng, n: int, centers: np.ndarray, hot_share: float, sigma_deg: float):
    """``hot_share`` of the points fall in Gaussian clusters around
    ``centers`` (lon, lat), as many around each, the rest uniformly; all
    snapped to the lattice."""
    kx = rng.integers(0, LON_STEPS, n)
    ky = rng.integers(0, LAT_STEPS, n)
    hot = exact_share(rng, n, hot_share)
    c = rng.permutation(np.arange(n) % len(centers))
    gx = centers[c, 0] + rng.normal(0.0, sigma_deg, n)
    gy = centers[c, 1] + rng.normal(0.0, sigma_deg, n)
    hx = np.clip(np.rint((gx + 180.0) * LATTICE), 0, LON_STEPS - 1).astype(np.int64)
    hy = np.clip(np.rint((gy + 85.0) * LATTICE), 0, LAT_STEPS - 1).astype(np.int64)
    kx = np.where(hot, hx, kx)
    ky = np.where(hot, hy, ky)
    return _lattice_lonlat(kx, ky)


def tiled_centers(rng, n: int, centers: np.ndarray, spacing: float, k: int):
    """``n`` shape centers: a jittered (2k+1)^2 grid with ``spacing``
    degrees around each of ``centers``, the rest uniform, in random order.
    Tiling the hot spots (rather than scattering shapes around them) keeps
    the number of join candidates nearly the same from seed to seed."""
    g = np.arange(-k, k + 1) * spacing
    gx, gy = np.meshgrid(g, g)
    grid = (centers[:, None, :] + np.stack([gx.ravel(), gy.ravel()], 1)[None]).reshape(-1, 2)
    grid = grid + rng.uniform(-0.1, 0.1, grid.shape)
    rest = n - len(grid)
    lon = np.concatenate([grid[:, 0], rng.uniform(-180.0, 180.0, rest)])
    lat = np.concatenate([grid[:, 1], rng.uniform(-85.0, 85.0, rest)])
    order = rng.permutation(n)
    return lon[order], lat[order]


def documents(rng, n_docs: int, coords) -> tuple[pa.Table, Points]:
    """Interleaved documents (doc_id, spans) with 1-7 spans each.

    ``coords(rng, n)`` returns lon/lat arrays for the geo spans."""
    n_spans = rng.integers(1, len(SPAN_KINDS) + 1, n_docs)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_spans, out=offsets[1:])
    total = int(offsets[-1])
    doc = np.repeat(np.arange(n_docs, dtype=np.int64), n_spans)
    j = (np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], n_spans)).astype(np.int32)
    kinds = np.array(SPAN_KINDS)[j]
    geo = kinds == "geo"
    lon, lat = coords(rng, int(geo.sum()))

    doc_s = pc.cast(pa.array(doc), pa.string())
    j_s = pc.cast(pa.array(j), pa.string())
    text = pc.binary_join_element_wise("lorem-", doc_s, "-", j_s, "")
    lon_full = np.zeros(total)
    lat_full = np.zeros(total)
    lon_full[geo] = lon
    lat_full[geo] = lat
    point = pc.binary_join_element_wise(
        "POINT(",
        pc.cast(pa.array(lon_full), pa.string()),
        " ",
        pc.cast(pa.array(lat_full), pa.string()),
        ")",
        "",
    )
    media = pc.binary_join_element_wise(
        "s3://m/", pc.cast(pa.array(doc % 1000), pa.string()), "/", doc_s, "-", j_s, ".bin", ""
    )
    empty = pa.scalar("")
    kinds_a = pa.array(kinds)
    is_media = pa.array((kinds == "image") | (kinds == "audio"))
    text_col = pc.if_else(pa.array(geo), point, pc.if_else(pa.array(kinds == "text"), text, empty))
    media_col = pc.if_else(is_media, media, empty)
    spans = pa.StructArray.from_arrays(
        [kinds_a, text_col, media_col, pa.array(j)],
        names=["kind", "text", "media_ref", "offset"],
    )
    ids = pc.binary_join_element_wise(
        "doc-", pc.utf8_lpad(pc.cast(pa.array(np.arange(n_docs)), pa.string()), 12, "0"), ""
    )
    table = pa.table({"doc_id": ids, "spans": pa.ListArray.from_arrays(pa.array(offsets), spans)})
    pts = Points(doc=doc[geo], offset=j[geo], lon=lon, lat=lat)
    return table, pts


def polygons(rng, n: int, kind_p, size_range=(0.1, 2.5), giant_share=0.02, giant_deg=9.0,
             prefix="poly", centers=None):
    """Polygon layer: axis-aligned boxes, hexagons and boxes with a square
    hole, in proportions ``kind_p`` (bbox, convex, holed). Centers and
    half-sizes sit on the half-lattice, so box edges are lattice lines.
    ``giant_share`` of them are ``giant_deg`` wide (hot cells in the
    cover). ``centers(rng, n)`` places them; uniform by default."""
    counts = np.floor(np.asarray(kind_p) * n).astype(int)
    counts[0] += n - counts.sum()
    kinds = rng.permutation(np.repeat(np.array(["bbox", "convex", "holed"]), counts))
    size = rng.uniform(*size_range, n)
    size = np.where(exact_share(rng, n, giant_share), giant_deg, size)
    half = np.round(size * LATTICE) / (2.0 * LATTICE)
    half = np.maximum(half, 1.0 / LATTICE)
    lo_x, hi_x = -180.0 + half, 180.0 - half
    lo_y, hi_y = -85.0 + half, 85.0 - half
    if centers is None:
        ux, uy = rng.random(n), rng.random(n)
    else:
        cx0, cy0 = centers(rng, n)
        ux, uy = (cx0 + 180.0) / 360.0, (cy0 + 85.0) / 170.0
    cx = np.round((lo_x + ux * (hi_x - lo_x)) * LATTICE) / LATTICE
    cy = np.round((lo_y + uy * (hi_y - lo_y)) * LATTICE) / LATTICE
    ang = np.pi / 3.0 * np.arange(7)
    rings, env = [], np.empty((n, 4))
    for i in range(n):
        x0, x1 = cx[i] - half[i], cx[i] + half[i]
        y0, y1 = cy[i] - half[i], cy[i] + half[i]
        box = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        if kinds[i] == "bbox":
            rr = [box]
        elif kinds[i] == "convex":
            rr = [np.column_stack([cx[i] + half[i] * np.cos(ang), cy[i] + half[i] * np.sin(ang)])]
            rr[0][-1] = rr[0][0]
        else:
            q = half[i] / 2.0
            hole = np.array(
                [[cx[i] - q, cy[i] - q], [cx[i] + q, cy[i] - q], [cx[i] + q, cy[i] + q],
                 [cx[i] - q, cy[i] + q], [cx[i] - q, cy[i] - q]]
            )
            rr = [box, hole]
        rings.append(rr)
        outer = rr[0]
        env[i] = outer[:, 0].min(), outer[:, 1].min(), outer[:, 0].max(), outer[:, 1].max()
    ids = [f"{prefix}-{i:06d}" for i in range(n)]
    return Polys(ids=ids, kind=kinds, rings=rings, env=env)


def wkt(rings) -> str:
    # repr() is the shortest string that parses back to the same double
    body = ", ".join("(" + ", ".join(f"{x!r} {y!r}" for x, y in r) + ")" for r in rings)
    return f"POLYGON ({body})"


def poly_table(p: Polys, id_col: str = "poly_id", with_kind: bool = True) -> pa.Table:
    cols = {id_col: p.ids}
    if with_kind:
        cols["kind"] = p.kind.tolist()
    cols["wkt"] = [wkt(r) for r in p.rings]
    for k, name in enumerate(["min_lon", "min_lat", "max_lon", "max_lat"]):
        cols[name] = p.env[:, k]
    return pa.table(cols)


def probes(rng, n: int, pts: Points, k_range=(1, 10), radius_range=(2_000.0, 60_000.0)):
    """Probe points for knn / distance_join, drawn next to generated
    points (so windows are populated) and jittered off the lattice."""
    pick = rng.integers(0, len(pts.lon), n)
    lon = np.clip(pts.lon[pick] + rng.uniform(-0.5, 0.5, n), -179.5, 179.5)
    lat = np.clip(pts.lat[pick] + rng.uniform(-0.5, 0.5, n), -84.5, 84.5)
    return {
        "q_id": [f"q-{i:05d}" for i in range(n)],
        "lon": lon,
        "lat": lat,
        "k": rng.integers(k_range[0], k_range[1] + 1, n).astype(np.int32),
        "radius_m": np.round(rng.uniform(*radius_range, n), 1),
    }


def write_parquet(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // files))
    for f, start in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(start, step), os.path.join(path, f"part-{f:05d}.parquet"))
