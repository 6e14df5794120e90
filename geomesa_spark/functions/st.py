"""The ``st_*`` scalar function catalog.

Re-creates the reference's Spark SQL surface (reference:
geomesa-spark/geomesa-spark-jts/.../jts/udf/{GeometricConstructor
Functions, GeometricCastFunctions, GeometricAccessorFunctions,
GeometricOutputFunctions, GeometricProcessingFunctions,
SpatialRelationFunctions}.scala, registered by jts/package.scala::
initJTS) without a JVM geometry UDT: geometries travel as WKT string
columns (plus plain lon/lat doubles for the point fast path), and
``register_st_functions(spark)`` exposes every function to SQL text
queries.

Execution model — two tiers:

- **Column-expression tier** (whole-stage codegen, zero Python): point
  constructors/accessors, type/tag tests, bbox construction — anything
  expressible over the WKT string with regexp/concat arithmetic.
- **Pandas-UDF tier** (Arrow batches): real geometry math via the NumPy
  kernels in geom.py. Each batch computes per *distinct* WKT then maps
  back — repeated geometries (the common join/filter shape) parse once;
  an LRU cache persists across batches in each worker.

These functions are the compatibility surface, not the engine hot path:
large-scale joins/kNN/tiling use the operators/ pipeline (cell joins +
grouped kernels). A query that filters with ``st_contains(poly, geom)``
still runs vectorized per-batch here, but won't get cell pruning unless
routed through plans/planner.py.

Boundary semantics: the whole engine uses the ray-crossing half-open
rule (geom.py::points_in_rings), so a point EXACTLY on a polygon's
right/top edge tests as outside (JTS would report touches=true /
contains=false there). Fixture suites avoid on-edge points, matching
the reference's own test conventions (SURVEY.md §5.1).
"""

from __future__ import annotations

import functools
import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_spark import geom as G

__all__ = ["register_st_functions", "ST_FUNCTIONS"]

_X = r"[-+0-9.eE]+"
_POINT_RE = rf"POINT\s*\(\s*({_X})\s+({_X})\s*\)"


@functools.lru_cache(maxsize=8192)
def _parse(wkt: str) -> G.Geometry:
    return G.parse_wkt(wkt)


def _per_unique(s: pd.Series, fn):
    """Apply fn once per distinct value; None/NaN propagates as None."""
    out = {}
    for w in s.dropna().unique():
        try:
            out[w] = fn(w)
        except Exception:
            out[w] = None
    return s.map(out)


def _unary(fn, rettype):
    @F.pandas_udf(rettype)
    def udf(wkt: pd.Series) -> pd.Series:
        return _per_unique(wkt, fn)

    return udf


def _binary(fn, rettype):
    @F.pandas_udf(rettype)
    def udf(a: pd.Series, b: pd.Series) -> pd.Series:
        key = a.astype(str) + "\x00" + b.astype(str)
        out = {}
        res = np.empty(len(a), dtype=object)
        for i, (wa, wb, k) in enumerate(zip(a, b, key)):
            if wa is None or wb is None:
                res[i] = None
                continue
            if k not in out:
                try:
                    out[k] = fn(wa, wb)
                except Exception:
                    out[k] = None
            res[i] = out[k]
        return pd.Series(res)

    return udf


# --- constructors (column-expression tier where possible) ----------------

def st_point(x: Column, y: Column) -> Column:
    return F.concat(F.lit("POINT ("), x.cast("string"), F.lit(" "), y.cast("string"), F.lit(")"))


st_makePoint = st_point


def st_makeBBOX(x0: Column, y0: Column, x1: Column, y1: Column) -> Column:
    c = lambda v: v.cast("string")  # noqa: E731
    return F.concat(
        F.lit("POLYGON (("),
        c(x0), F.lit(" "), c(y0), F.lit(", "),
        c(x1), F.lit(" "), c(y0), F.lit(", "),
        c(x1), F.lit(" "), c(y1), F.lit(", "),
        c(x0), F.lit(" "), c(y1), F.lit(", "),
        c(x0), F.lit(" "), c(y0), F.lit("))"),
    )


st_makeBox2D = st_makeBBOX


def st_makeLine(points: Column) -> Column:
    """Array of POINT WKTs → LINESTRING (built-ins only)."""
    xy = F.transform(
        points,
        lambda p: F.concat(
            F.regexp_extract(p, _POINT_RE, 1), F.lit(" "), F.regexp_extract(p, _POINT_RE, 2)
        ),
    )
    return F.concat(F.lit("LINESTRING ("), F.concat_ws(", ", xy), F.lit(")"))


def st_geomFromWKT(wkt: Column) -> Column:
    return wkt


st_geometryFromText = st_geomFromWKT
st_pointFromText = st_geomFromWKT
st_lineFromText = st_geomFromWKT
st_polygonFromText = st_geomFromWKT
st_polygon = st_geomFromWKT
st_mLineFromText = st_geomFromWKT
st_mPointFromText = st_geomFromWKT
st_mPolyFromText = st_geomFromWKT


def st_makePolygon(line: Column) -> Column:
    """LINESTRING WKT (closed) → POLYGON WKT (string surgery, codegen)."""
    inner = F.regexp_extract(line, r"LINESTRING\s*\((.*)\)", 1)
    return F.concat(F.lit("POLYGON (("), inner, F.lit("))"))


# --- point accessors (column-expression tier) ----------------------------

def st_x(geom: Column) -> Column:
    return F.regexp_extract(geom, _POINT_RE, 1).try_cast("double")


def st_y(geom: Column) -> Column:
    return F.regexp_extract(geom, _POINT_RE, 2).try_cast("double")


def st_geometryType(geom: Column) -> Column:
    tag = F.upper(F.regexp_extract(geom, r"^\s*([A-Za-z]+)", 1))
    return F.concat(F.lit("ST_"), F.initcap(F.lower(tag)))


def st_coordDim(geom: Column) -> Column:
    return F.when(geom.isNotNull(), F.lit(2))


def st_dimension(geom: Column) -> Column:
    tag = F.upper(F.regexp_extract(geom, r"^\s*([A-Za-z]+)", 1))
    return (
        F.when(tag.isin("POINT", "MULTIPOINT"), 0)
        .when(tag.isin("LINESTRING", "MULTILINESTRING"), 1)
        .when(tag.isin("POLYGON", "MULTIPOLYGON"), 2)
    )


def st_isCollection(geom: Column) -> Column:
    return F.upper(F.regexp_extract(geom, r"^\s*([A-Za-z]+)", 1)).startswith("MULTI")


def st_isEmpty(geom: Column) -> Column:
    return F.upper(geom).contains("EMPTY")


def st_byteArray(s: Column) -> Column:
    return s.cast("binary")


# --- casts ---------------------------------------------------------------

def _cast_to(tag: str):
    def cast_fn(geom: Column) -> Column:
        t = F.upper(F.regexp_extract(geom, r"^\s*([A-Za-z]+)", 1))
        return F.when(t == tag, geom)

    return cast_fn


st_castToPoint = _cast_to("POINT")
st_castToPolygon = _cast_to("POLYGON")
st_castToLineString = _cast_to("LINESTRING")


def st_castToGeometry(geom: Column) -> Column:
    return geom


# --- UDF-tier accessors / outputs / measures -----------------------------

st_envelope = _unary(
    lambda w: (lambda b: f"POLYGON (({b[0]} {b[1]}, {b[2]} {b[1]}, {b[2]} {b[3]}, {b[0]} {b[3]}, {b[0]} {b[1]}))")(
        _parse(w).bbox
    ),
    T.StringType(),
)
st_exteriorRing = _unary(
    lambda w: "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in G.parse_wkt(w).rings[0]) + ")"
    if _parse(w).geom_type in ("POLYGON",)
    else None,
    T.StringType(),
)
st_interiorRingN = _binary(
    lambda w, n: "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in _parse(w).rings[int(n)]) + ")"
    if _parse(w).geom_type == "POLYGON" and 1 <= int(n) < len(_parse(w).rings)
    else None,
    T.StringType(),
)
st_numPoints = _unary(lambda w: int(sum(len(r) for r in _parse(w).rings)), T.IntegerType())
st_numGeometries = _unary(
    lambda w: int(len(_parse(w).parts or []) if _parse(w).geom_type == "GEOMETRYCOLLECTION"
                  else (len(set(_parse(w).ring_poly)) if _parse(w).geom_type == "MULTIPOLYGON"
                        else (len(_parse(w).rings[0]) if _parse(w).geom_type == "MULTIPOINT"
                              else (len(_parse(w).rings) if _parse(w).geom_type == "MULTILINESTRING" else 1)))),
    T.IntegerType(),
)
st_pointN = _binary(
    lambda w, n: (lambda r: f"POINT ({r[int(n) - 1][0]} {r[int(n) - 1][1]})")(_parse(w).rings[0])
    if _parse(w).geom_type == "LINESTRING" and 1 <= int(n) <= len(_parse(w).rings[0])
    else None,
    T.StringType(),
)
st_isClosed = _unary(
    lambda w: bool(
        _parse(w).geom_type not in ("LINESTRING", "MULTILINESTRING")
        or all(len(r) > 1 and r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1] for r in _parse(w).rings)
    ),
    T.BooleanType(),
)
st_isRing = _unary(
    lambda w: bool(
        _parse(w).geom_type == "LINESTRING"
        and len(_parse(w).rings[0]) > 3
        and (_parse(w).rings[0][0] == _parse(w).rings[0][-1]).all()
    ),
    T.BooleanType(),
)
st_isValid = _unary(lambda w: _parse(w) is not None, T.BooleanType())
st_isSimple = _unary(lambda w: bool(G.is_simple(_parse(w))), T.BooleanType())
st_boundary = st_exteriorRing


def _geometry_n(w: str, n: int) -> str | None:
    """1-based nth component of a MULTI* / GEOMETRYCOLLECTION (PostGIS
    ST_GeometryN convention; a simple geometry is its own component 1)."""
    g = _parse(w)
    n = int(n)
    t = g.geom_type
    if t == "GEOMETRYCOLLECTION":
        return G.to_wkt(g.parts[n - 1]) if 1 <= n <= len(g.parts or []) else None
    if t == "MULTIPOINT":
        pts = g.rings[0]
        return f"POINT ({pts[n-1][0]:g} {pts[n-1][1]:g})" if 1 <= n <= len(pts) else None
    if t == "MULTILINESTRING":
        if not 1 <= n <= len(g.rings):
            return None
        return G.to_wkt(G.Geometry("LINESTRING", [g.rings[n - 1]]))
    if t == "MULTIPOLYGON":
        polys: dict[int, list] = {}
        for r, pi in zip(g.rings, g.ring_poly):
            polys.setdefault(pi, []).append(r)
        keys = sorted(polys)
        if not 1 <= n <= len(keys):
            return None
        return G.to_wkt(G.Geometry("POLYGON", polys[keys[n - 1]]))
    return w if n == 1 else None


st_geometryN = _binary(_geometry_n, T.StringType())

# envelope bound accessors (PostGIS ST_XMin-style; used by the SQL
# spatial rewriter to derive cover ranges when a table carries only wkt)
st_xmin = _unary(lambda w: float(_parse(w).bbox[0]), T.DoubleType())
st_ymin = _unary(lambda w: float(_parse(w).bbox[1]), T.DoubleType())
st_xmax = _unary(lambda w: float(_parse(w).bbox[2]), T.DoubleType())
st_ymax = _unary(lambda w: float(_parse(w).bbox[3]), T.DoubleType())

st_area = _unary(lambda w: float(G.geom_area(_parse(w))), T.DoubleType())
st_length = _unary(lambda w: float(G.geom_length(_parse(w))), T.DoubleType())
st_centroid = _unary(
    lambda w: (lambda c: f"POINT ({c[0]} {c[1]})")(G.geom_centroid(_parse(w))), T.StringType()
)
st_convexHull = _unary(
    lambda w: (lambda h: "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in h)
               + f", {h[0][0]} {h[0][1]}))")(G.convex_hull(np.concatenate(_parse(w).rings))),
    T.StringType(),
)
st_asText = st_geomFromWKT
st_asBinary = _unary(lambda w: G.wkb_write(_parse(w)), T.BinaryType())
st_geomFromWKB = _unary(lambda b: G.to_wkt(G.wkb_read(bytes(b))), T.StringType())
st_pointFromWKB = st_geomFromWKB


def _geojson(w: str) -> str:
    g = _parse(w)
    t = g.geom_type
    if t == "POINT":
        return json.dumps({"type": "Point", "coordinates": [float(g.rings[0][0][0]), float(g.rings[0][0][1])]})
    if t == "LINESTRING":
        return json.dumps({"type": "LineString", "coordinates": g.rings[0].tolist()})
    if t == "POLYGON":
        return json.dumps({"type": "Polygon", "coordinates": [r.tolist() for r in g.rings]})
    if t == "MULTIPOINT":
        return json.dumps({"type": "MultiPoint", "coordinates": g.rings[0].tolist()})
    if t == "MULTILINESTRING":
        return json.dumps({"type": "MultiLineString", "coordinates": [r.tolist() for r in g.rings]})
    by_poly: dict[int, list] = {}
    for r, pi in zip(g.rings, g.ring_poly):
        by_poly.setdefault(pi, []).append(r.tolist())
    return json.dumps({"type": "MultiPolygon", "coordinates": [by_poly[k] for k in sorted(by_poly)]})


st_asGeoJSON = _unary(_geojson, T.StringType())


def _lat_lon_text(w: str) -> str:
    g = _parse(w)
    x, y = float(g.rings[0][0][0]), float(g.rings[0][0][1])

    def dms(v: float, pos: str, neg: str) -> str:
        h = pos if v >= 0 else neg
        v = abs(v)
        d = int(v)
        m = int((v - d) * 60)
        s = (v - d - m / 60) * 3600
        return f"{d}°{m:02d}'{s:06.3f}\"{h}"

    return f"{dms(y, 'N', 'S')} {dms(x, 'E', 'W')}"


st_asLatLonText = _unary(_lat_lon_text, T.StringType())
st_geoHash = _binary(
    lambda w, prec: G.geohash_encode(*G.geom_centroid(_parse(w)), precision=max(1, int(prec) // 5)),
    T.StringType(),
)
st_geomFromGeoHash = _unary(
    lambda gh: (lambda c: f"POINT ({c[0]} {c[1]})")(G.geohash_decode(gh)), T.StringType()
)
st_pointFromGeoHash = st_geomFromGeoHash

# --- processing ----------------------------------------------------------

st_translate = None  # defined below (ternary)


@F.pandas_udf(T.StringType())
def _st_translate(wkt: pd.Series, dx: pd.Series, dy: pd.Series) -> pd.Series:
    out = []
    for w, a, b in zip(wkt, dx, dy):
        if w is None:
            out.append(None)
            continue
        g = _parse(w)
        # SQL numeric literals arrive as Decimal — coerce
        off = np.array([float(a), float(b)])
        moved = G.Geometry(g.geom_type, [r + off for r in g.rings], g.ring_poly)
        out.append(G.to_wkt(moved))
    return pd.Series(out)


st_translate = _st_translate


@F.pandas_udf(T.StringType())
def st_simplify(wkt: pd.Series, tolerance: pd.Series) -> pd.Series:
    """Douglas–Peucker simplification (JTS DouglasPeuckerSimplifier /
    upstream st_simplify parity): drop vertices whose perpendicular
    distance to the retained chord is ≤ tolerance. LINESTRING /
    MULTILINESTRING paths and POLYGON rings; rings keep closure and the
    4-point minimum (bbox-corner fallback). Points pass through."""
    out = []
    for w, tol in zip(wkt, tolerance):
        if w is None or tol is None:
            out.append(None)
            continue
        try:
            g = _parse(w)
            t = float(tol)
            if g.geom_type in ("POINT", "MULTIPOINT"):
                out.append(w)
                continue
            closed = g.geom_type in ("POLYGON", "MULTIPOLYGON")
            rings = [G.simplify_path(r, t, closed=closed) for r in g.rings]
            out.append(G.to_wkt(G.Geometry(g.geom_type, rings, g.ring_poly)))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@F.pandas_udf(T.StringType())
def st_bufferPoint(wkt: pd.Series, radius_m: pd.Series) -> pd.Series:
    out = []
    for w, r in zip(wkt, radius_m):
        if w is None:
            out.append(None)
            continue
        g = _parse(w)
        x, y = float(g.rings[0][0][0]), float(g.rings[0][0][1])
        out.append(G.point_buffer_wkt(x, y, float(r)))
    return pd.Series(out)


def _antimeridian_safe(w: str) -> str:
    """Normalize longitudes into [-180, 180) (IDL-crossing split is
    handled at ingest by the extraction normalizer; reference:
    GeometricProcessingFunctions::st_antimeridianSafeGeom)."""
    g = _parse(w)
    rings = []
    for r in g.rings:
        rr = r.copy()
        rr[:, 0] = ((rr[:, 0] + 180.0) % 360.0) - 180.0
        rings.append(rr)
    return G.to_wkt(G.Geometry(g.geom_type, rings, g.ring_poly))


st_antimeridianSafeGeom = _unary(_antimeridian_safe, T.StringType())

def _poly_op(a: str, b: str, op: str) -> str | None:
    """Boolean polygon op (Greiner–Hormann for arbitrary simple rings;
    point operands reduce to containment filtering). None = empty."""
    ga, gb = _parse(a), _parse(b)
    polyish = ("POLYGON", "MULTIPOLYGON")
    if ga.geom_type in ("POINT", "MULTIPOINT") or gb.geom_type in ("POINT", "MULTIPOINT"):
        pts_g, other = (ga, gb) if ga.geom_type in ("POINT", "MULTIPOINT") else (gb, ga)
        if other.geom_type not in polyish:
            return None
        p = G._rep_points(pts_g)
        inside = G.points_in_polygon(p[:, 0], p[:, 1], other)
        if op == "intersection":
            keep = p[inside]
        elif op == "difference" and pts_g is ga:
            keep = p[~inside]
        else:
            return None
        if len(keep) == 0:
            return None
        if len(keep) == 1:
            return f"POINT ({keep[0][0]:g} {keep[0][1]:g})"
        return G.to_wkt(G.Geometry("MULTIPOINT", [keep]))
    if ga.geom_type != "POLYGON" or gb.geom_type != "POLYGON":
        return None
    out = G.clip_polygons(ga.rings[0], gb.rings[0], op)
    return G.to_wkt(out) if out is not None else None


st_intersection = _binary(lambda a, b: _poly_op(a, b, "intersection"), T.StringType())
st_difference = _binary(lambda a, b: _poly_op(a, b, "difference"), T.StringType())

# --- relations + measures (UDF tier) -------------------------------------

import re as _re_mod  # noqa: E402

_POINT_FAST = _re_mod.compile(_POINT_RE)


def _rel_grouped(
    per_geom_points, fallback, batch_pred: str | None = None, batch_negate: bool = False
):
    """Vectorized predicate: when the second operand column is all
    POINTs (the join/filter hot shape), group the batch by the first
    geometry and run the batched kernel once per distinct geometry.
    For general geometry×geometry batches, ``batch_pred`` names a
    geom.batch_predicate mode evaluated over the WHOLE batch at once
    (the layer×layer SQL-join residual hot path); only predicates with
    no batched form fall back to per-distinct-pair evaluation."""

    @F.pandas_udf(T.BooleanType())
    def udf(a: pd.Series, b: pd.Series) -> pd.Series:
        ext = b.str.extract(_POINT_FAST)
        px = pd.to_numeric(ext[0], errors="coerce")
        if not px.isna().any():
            py = pd.to_numeric(ext[1], errors="coerce")
            # null first operands propagate NULL (same as the fallback
            # path — groupby would silently drop them to False)
            out = np.full(len(a), None, dtype=object)
            pxv, pyv = px.to_numpy(), py.to_numpy()
            for w, idx in a.groupby(a, sort=False).indices.items():
                out[idx] = np.asarray(per_geom_points(_parse(w), pxv[idx], pyv[idx]), dtype=bool)
            return pd.Series(out)
        if batch_pred is not None:
            mask = a.notna() & b.notna()
            out = np.full(len(a), None, dtype=object)
            mv = mask.to_numpy()
            if mv.any():
                res = G.batch_predicate(
                    a[mask].to_numpy(), b[mask].to_numpy(), batch_pred
                )
                out[mv] = ~res if batch_negate else res
            return pd.Series(out)
        return pd.Series(
            [None if (x is None or y is None) else bool(fallback(_parse(x), _parse(y)))
             for x, y in zip(a, b)]
        )

    return udf


def _rel(fn):
    return _binary(lambda a, b: bool(fn(_parse(a), _parse(b))), T.BooleanType())


st_intersects = _rel_grouped(
    lambda g, px, py: G.points_in_polygon(px, py, g)
    if g.geom_type in ("POLYGON", "MULTIPOLYGON")
    else [G.geoms_intersect(g, G.Geometry("POINT", [np.array([[x, y]])])) for x, y in zip(px, py)],
    G.geoms_intersect,
    batch_pred="intersects",
)
st_disjoint = _rel_grouped(
    lambda g, px, py: ~G.points_in_polygon(px, py, g)
    if g.geom_type in ("POLYGON", "MULTIPOLYGON")
    else [not G.geoms_intersect(g, G.Geometry("POINT", [np.array([[x, y]])])) for x, y in zip(px, py)],
    lambda a, b: not G.geoms_intersect(a, b),
    batch_pred="intersects",
    batch_negate=True,
)
st_contains = _rel_grouped(
    lambda g, px, py: G.points_in_polygon(px, py, g)
    if g.geom_type in ("POLYGON", "MULTIPOLYGON")
    else np.zeros(len(px), dtype=bool),
    G.geom_contains,
    batch_pred="contains",
)
st_covers = _rel_grouped(
    # closed-region test: interior (ray-cast) OR exactly on boundary —
    # the true boundary-inclusive variant, no longer a contains alias
    lambda g, px, py: (
        G.points_in_polygon(px, py, g) | G.points_on_boundary(px, py, g)
    )
    if g.geom_type in ("POLYGON", "MULTIPOLYGON")
    else np.zeros(len(px), dtype=bool),
    G.geom_covers,
    batch_pred="covers",
)
@F.pandas_udf(T.BooleanType())
def st_within(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_Within(a, b) ≡ ST_Contains(b, a) — evaluated with the batched
    pair kernel (arguments swapped), not per-distinct-pair."""
    mask = a.notna() & b.notna()
    out = np.full(len(a), None, dtype=object)
    mv = mask.to_numpy()
    if mv.any():
        res = G.batch_predicate(b[mask].to_numpy(), a[mask].to_numpy(), "contains")
        out[mv] = [bool(r) for r in res]
    return pd.Series(out)
st_equals = _rel(
    lambda a, b: a.geom_type == b.geom_type
    and len(a.rings) == len(b.rings)
    and all(r1.shape == r2.shape and bool((r1 == r2).all()) for r1, r2 in zip(a.rings, b.rings))
)
st_crosses = _rel(
    lambda a, b: G.geoms_intersect(a, b)
    and not G.geom_contains(a, b)
    and not G.geom_contains(b, a)
    and {a.geom_type.replace("MULTI", ""), b.geom_type.replace("MULTI", "")}
    not in ({"POLYGON"}, {"POINT"})
)
st_overlaps = _rel(
    lambda a, b: a.geom_type == b.geom_type
    and G.geoms_intersect(a, b)
    and not G.geom_contains(a, b)
    and not G.geom_contains(b, a)
)
st_touches = _rel(
    lambda a, b: G.geoms_intersect(a, b) and G.geom_distance(a, b) == 0.0
    and not (
        G.points_in_polygon(G._rep_points(b)[:, 0], G._rep_points(b)[:, 1], a).any()
        if a.geom_type in ("POLYGON", "MULTIPOLYGON") else False
    )
)

st_relate = _binary(lambda a, b: G.relate_matrix(_parse(a), _parse(b)), T.StringType())


@F.pandas_udf(T.BooleanType())
def st_relateBool(a: pd.Series, b: pd.Series, pat: pd.Series) -> pd.Series:
    """DE-9IM pattern predicate (reference SpatialRelationFunctions.
    st_relateBool): matrix per distinct pair, wildcard match."""
    cache: dict = {}
    out = []
    for wa, wb, p in zip(a, b, pat):
        if wa is None or wb is None or p is None:
            out.append(None)
            continue
        k = (wa, wb)
        if k not in cache:
            try:
                cache[k] = G.relate_matrix(_parse(wa), _parse(wb))
            except Exception:
                cache[k] = None
        out.append(None if cache[k] is None else G.relate_match(cache[k], str(p)))
    return pd.Series(out, dtype=object)


st_distance = _binary(lambda a, b: float(G.geom_distance(_parse(a), _parse(b))), T.DoubleType())


def _dist_sphere(a: str, b: str) -> float:
    ga, gb = _parse(a), _parse(b)
    if ga.geom_type == "POINT" and gb.geom_type == "POINT":
        return float(
            G.haversine_m(ga.rings[0][0, 0], ga.rings[0][0, 1], gb.rings[0][0, 0], gb.rings[0][0, 1])
        )
    # general: planar nearest points, then great-circle between them
    cx, cy = G.geom_centroid(gb)
    px, py = G.closest_point_on(ga, cx, cy)
    qx, qy = G.closest_point_on(gb, px, py)
    return float(G.haversine_m(px, py, qx, qy))


st_distanceSphere = _binary(_dist_sphere, T.DoubleType())


def _dist_spheroid(a: str, b: str) -> float:
    """WGS84 geodesic (Vincenty) — a real spheroid distance, no longer
    the sphere alias (reference st_distanceSpheroid uses GeodeticCalculator,
    the same ellipsoid model)."""
    ga, gb = _parse(a), _parse(b)
    if ga.geom_type == "POINT" and gb.geom_type == "POINT":
        return float(
            G.vincenty_m(
                ga.rings[0][0, 0], ga.rings[0][0, 1], gb.rings[0][0, 0], gb.rings[0][0, 1]
            )
        )
    cx, cy = G.geom_centroid(gb)
    px, py = G.closest_point_on(ga, cx, cy)
    qx, qy = G.closest_point_on(gb, px, py)
    return float(G.vincenty_m(px, py, qx, qy))


st_distanceSpheroid = _binary(_dist_spheroid, T.DoubleType())


@F.pandas_udf(T.BooleanType())
def st_dwithin(a: pd.Series, b: pd.Series, meters: pd.Series) -> pd.Series:
    """Great-circle DWITHIN predicate (ECQL DWITHIN / PostGIS
    ST_DWithin surface form): distanceSphere(a, b) <= meters. The
    spatial rewriter turns join conditions in this form into
    cell-cover equi-joins."""
    out = []
    for wa, wb, m in zip(a, b, meters):
        if wa is None or wb is None or m is None:
            out.append(None)
            continue
        try:
            out.append(bool(_dist_sphere(wa, wb) <= float(m)))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


def _length_sphere(w: str) -> float:
    g = _parse(w)
    total = 0.0
    for r in g.rings:
        e = G._close(r) if g.geom_type in ("POLYGON", "MULTIPOLYGON") else r
        if len(e) > 1:
            total += float(
                G.haversine_m(e[:-1, 0], e[:-1, 1], e[1:, 0], e[1:, 1]).sum()
            )
    return total


st_lengthSphere = _unary(_length_sphere, T.DoubleType())


def _length_spheroid(w: str) -> float:
    g = _parse(w)
    total = 0.0
    for r in g.rings:
        e = G._close(r) if g.geom_type in ("POLYGON", "MULTIPOLYGON") else r
        if len(e) > 1:
            total += float(
                G.vincenty_m(e[:-1, 0], e[:-1, 1], e[1:, 0], e[1:, 1]).sum()
            )
    return total


st_lengthSpheroid = _unary(_length_spheroid, T.DoubleType())
st_closestPoint = _binary(
    lambda a, b: (lambda c: f"POINT ({c[0]} {c[1]})")(
        G.closest_point_on(_parse(a), *G.geom_centroid(_parse(b)))
        if _parse(b).geom_type != "POINT"
        else G.closest_point_on(_parse(a), float(_parse(b).rings[0][0, 0]), float(_parse(b).rings[0][0, 1]))
    ),
    T.StringType(),
)


# --- registry ------------------------------------------------------------

ST_FUNCTIONS: dict = {
    # constructors / casts (column tier — registered via wrappers below)
    "st_point": st_point,
    "st_makePoint": st_makePoint,
    "st_makeBBOX": st_makeBBOX,
    "st_makeBox2D": st_makeBox2D,
    "st_makeLine": st_makeLine,
    "st_makePolygon": st_makePolygon,
    "st_geomFromWKT": st_geomFromWKT,
    "st_geometryFromText": st_geometryFromText,
    "st_pointFromText": st_pointFromText,
    "st_lineFromText": st_lineFromText,
    "st_polygonFromText": st_polygonFromText,
    "st_polygon": st_polygon,
    "st_mLineFromText": st_mLineFromText,
    "st_mPointFromText": st_mPointFromText,
    "st_mPolyFromText": st_mPolyFromText,
    "st_castToPoint": st_castToPoint,
    "st_castToPolygon": st_castToPolygon,
    "st_castToLineString": st_castToLineString,
    "st_castToGeometry": st_castToGeometry,
    "st_byteArray": st_byteArray,
    # accessors
    "st_x": st_x,
    "st_y": st_y,
    "st_geometryType": st_geometryType,
    "st_coordDim": st_coordDim,
    "st_dimension": st_dimension,
    "st_isCollection": st_isCollection,
    "st_isEmpty": st_isEmpty,
    "st_envelope": st_envelope,
    "st_exteriorRing": st_exteriorRing,
    "st_interiorRingN": st_interiorRingN,
    "st_numPoints": st_numPoints,
    "st_numGeometries": st_numGeometries,
    "st_pointN": st_pointN,
    "st_isClosed": st_isClosed,
    "st_isRing": st_isRing,
    "st_isValid": st_isValid,
    "st_isSimple": st_isSimple,
    "st_boundary": st_boundary,
    "st_xmin": st_xmin,
    "st_ymin": st_ymin,
    "st_xmax": st_xmax,
    "st_ymax": st_ymax,
    # outputs
    "st_asText": st_asText,
    "st_asBinary": st_asBinary,
    "st_asGeoJSON": st_asGeoJSON,
    "st_asLatLonText": st_asLatLonText,
    "st_geoHash": st_geoHash,
    "st_geomFromWKB": st_geomFromWKB,
    "st_pointFromWKB": st_pointFromWKB,
    "st_geomFromGeoHash": st_geomFromGeoHash,
    "st_pointFromGeoHash": st_pointFromGeoHash,
    # processing
    "st_translate": st_translate,
    "st_simplify": st_simplify,
    "st_bufferPoint": st_bufferPoint,
    "st_antimeridianSafeGeom": st_antimeridianSafeGeom,
    # upstream catalog ships both names for the same function
    # (GeometricProcessingFunctions: st_idlSafeGeom alias)
    "st_idlSafeGeom": st_antimeridianSafeGeom,
    "st_intersection": st_intersection,
    "st_difference": st_difference,
    "st_convexHull": st_convexHull,
    "st_geometryN": st_geometryN,
    # relations + measures
    "st_intersects": st_intersects,
    "st_disjoint": st_disjoint,
    "st_contains": st_contains,
    "st_covers": st_covers,
    "st_within": st_within,
    "st_equals": st_equals,
    "st_crosses": st_crosses,
    "st_overlaps": st_overlaps,
    "st_touches": st_touches,
    "st_relate": st_relate,
    "st_relateBool": st_relateBool,
    "st_distance": st_distance,
    "st_distanceSphere": st_distanceSphere,
    "st_distanceSpheroid": st_distanceSpheroid,
    "st_dwithin": st_dwithin,
    "st_area": st_area,
    "st_length": st_length,
    "st_lengthSphere": st_lengthSphere,
    "st_lengthSpheroid": st_lengthSpheroid,
    "st_centroid": st_centroid,
    "st_closestPoint": st_closestPoint,
}


# pandas-UDF fallbacks for the column-expression tier, so every catalog
# name also works inside spark.sql("...") text queries
def _sql_fallbacks() -> dict:
    import re as _re

    pt = _re.compile(_POINT_RE)

    @F.pandas_udf(T.StringType())
    def sql_point(x: pd.Series, y: pd.Series) -> pd.Series:
        return "POINT (" + x.astype(str) + " " + y.astype(str) + ")"

    @F.pandas_udf(T.DoubleType())
    def sql_x(g: pd.Series) -> pd.Series:
        return pd.to_numeric(g.str.extract(pt)[0], errors="coerce")

    @F.pandas_udf(T.DoubleType())
    def sql_y(g: pd.Series) -> pd.Series:
        return pd.to_numeric(g.str.extract(pt)[1], errors="coerce")

    @F.pandas_udf(T.StringType())
    def sql_bbox(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series) -> pd.Series:
        a, b, c, d = x0.astype(str), y0.astype(str), x1.astype(str), y1.astype(str)
        return ("POLYGON ((" + a + " " + b + ", " + c + " " + b + ", " + c + " " + d
                + ", " + a + " " + d + ", " + a + " " + b + "))")

    @F.pandas_udf(T.StringType())
    def sql_make_line(pts: pd.Series) -> pd.Series:
        def mk(arr):
            if arr is None:
                return None
            xy = [pt.search(p) for p in arr]
            return "LINESTRING (" + ", ".join(f"{m.group(1)} {m.group(2)}" for m in xy if m) + ")"

        return pts.map(mk)

    @F.pandas_udf(T.StringType())
    def sql_make_polygon(line: pd.Series) -> pd.Series:
        return line.str.replace(r"^\s*LINESTRING\s*\((.*)\)\s*$", r"POLYGON ((\1))", regex=True)

    @F.pandas_udf(T.StringType())
    def sql_identity(g: pd.Series) -> pd.Series:
        return g

    @F.pandas_udf(T.StringType())
    def sql_geom_type(g: pd.Series) -> pd.Series:
        tag = g.str.extract(r"^\s*([A-Za-z]+)")[0].str.upper()
        return "ST_" + tag.str.title()

    @F.pandas_udf(T.IntegerType())
    def sql_dimension(g: pd.Series) -> pd.Series:
        tag = g.str.extract(r"^\s*([A-Za-z]+)")[0].str.upper()
        return tag.map(
            {"POINT": 0, "MULTIPOINT": 0, "LINESTRING": 1, "MULTILINESTRING": 1,
             "POLYGON": 2, "MULTIPOLYGON": 2}
        ).astype("Int32")

    @F.pandas_udf(T.BooleanType())
    def sql_is_collection(g: pd.Series) -> pd.Series:
        return g.str.strip().str.upper().str.startswith("MULTI")

    @F.pandas_udf(T.BooleanType())
    def sql_is_empty(g: pd.Series) -> pd.Series:
        return g.str.upper().str.contains("EMPTY")

    def sql_cast_to(tag: str):
        @F.pandas_udf(T.StringType())
        def cast_udf(g: pd.Series) -> pd.Series:
            t = g.str.extract(r"^\s*([A-Za-z]+)")[0].str.upper()
            return g.where(t == tag)

        return cast_udf

    @F.pandas_udf(T.BinaryType())
    def sql_byte_array(s: pd.Series) -> pd.Series:
        return s.map(lambda v: v.encode("utf-8") if v is not None else None)

    @F.pandas_udf(T.IntegerType())
    def sql_coord_dim(g: pd.Series) -> pd.Series:
        return pd.Series(np.where(g.notna(), 2, None), dtype="Int32")

    ident_names = [
        "st_geomFromWKT", "st_geometryFromText", "st_pointFromText", "st_lineFromText",
        "st_polygonFromText", "st_polygon", "st_mLineFromText", "st_mPointFromText",
        "st_mPolyFromText", "st_castToGeometry", "st_asText",
    ]
    out = {n: sql_identity for n in ident_names}
    out.update({
        "st_point": sql_point, "st_makePoint": sql_point,
        "st_x": sql_x, "st_y": sql_y,
        "st_makeBBOX": sql_bbox, "st_makeBox2D": sql_bbox,
        "st_makeLine": sql_make_line, "st_makePolygon": sql_make_polygon,
        "st_geometryType": sql_geom_type, "st_dimension": sql_dimension,
        "st_isCollection": sql_is_collection, "st_isEmpty": sql_is_empty,
        "st_castToPoint": sql_cast_to("POINT"), "st_castToPolygon": sql_cast_to("POLYGON"),
        "st_castToLineString": sql_cast_to("LINESTRING"),
        "st_byteArray": sql_byte_array, "st_coordDim": sql_coord_dim,
    })
    return out


def register_st_functions(spark: SparkSession) -> list[str]:
    """Register the full catalog for SQL text queries (reference:
    jts/package.scala::initJTS). UDF-tier functions register directly;
    column-tier ones register vectorized pandas fallbacks so
    ``spark.sql("SELECT st_x(g) ...")`` works like the Python API."""
    registered = []
    for name, fn in ST_FUNCTIONS.items():
        if fn is not None and hasattr(fn, "returnType"):
            spark.udf.register(name, fn)
            registered.append(name)
    for name, udf in _sql_fallbacks().items():
        spark.udf.register(name, udf)
        registered.append(name)
    return sorted(set(registered))
