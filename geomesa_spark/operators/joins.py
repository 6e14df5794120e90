"""Spatial joins: point-in-polygon join and distance (DWITHIN) join.

This is the engine's core (reference:
geomesa-spark/geomesa-spark-sql/.../spark/GeoMesaRelation.scala::
GeoMesaJoinRelation — grid-partitioned spatial join — and
geomesa-process/.../query/ProximitySearchProcess.scala). Spark-first
design, two phases:

1. COARSE: both sides get a fixed-resolution grid-cell key (pure
   built-in arithmetic, whole-stage codegen). The polygon side explodes
   its envelope's cell cover (sequence × explode — built-ins). The join
   is a plain equi-join on ``cell`` — Catalyst/AQE picks broadcast vs
   shuffle; callers can force broadcast for small layers or salt for
   hot-cell skew.
2. EXACT: point candidates are refined by a keep-mask filter — a scalar
   pandas UDF over (lon, lat, wkt, exact) only, so the rest of each row
   never crosses the Arrow boundary; each polygon WKT parses once per
   Python worker via a cache and a batch's pairs are tested in one
   NumPy pass. Distance candidates are refined by haversine built-ins.

Each point has exactly ONE cell at the join resolution and a polygon's
cover cells are distinct, so the equi-join produces no duplicate pairs —
the XZ-style one-key-per-geometry property; no post-join dedup needed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_spark.geom import EARTH_RADIUS_M, parse_wkt, pip_pack, points_in_polygons
from geomesa_spark.operators.extract import grid_cell

__all__ = [
    "cover_cells_for_polys",
    "spatial_join_points_in_polys",
    "spatial_join_geoms",
    "distance_join",
    "distance_join_bbox",
    "pair_correlation",
    "knox_test",
    "refine_pip",
    "haversine_m_col",
    "tube_select",
    "densify_track",
    "attribute_join",
    "envelope_anti_join",
    "envelope_semi_join",
    "band_join",
    "explode_envelope_cover",
]

METERS_PER_DEG_LAT = 111_195.0  # spherical: pi/180 * R


def haversine_m_col(lon1, lat1, lon2, lat2):
    """Great-circle distance in meters as a pure built-in Column
    expression — stays in whole-stage codegen and mirrors the DuckDB
    oracle SQL term for term (same IEEE double operations)."""
    dlat = F.radians(lat2) - F.radians(lat1)
    dlon = F.radians(lon2) - F.radians(lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon / 2), 2)
    )
    return 2.0 * EARTH_RADIUS_M * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def _grid_index(col, lo: float, extent: float, n: int):
    return F.least(
        F.greatest(F.floor((col - lo) / extent * n), F.lit(0)), F.lit(n - 1)
    ).cast("long")


def cover_cells_for_polys(polys: DataFrame, bits: int) -> DataFrame:
    """Explode each polygon's envelope into its grid-cell cover.

    Pure built-ins: floor → sequence → explode. Over-approximates the
    polygon by its bbox (exact refine follows). Output: polys columns +
    ``cell``.

    Antimeridian: the x index is NOT clamped at the ±180 column — raw
    floor indices (possibly < 0 or ≥ n, e.g. from a DWITHIN circle whose
    bbox pokes past the dateline) wrap via pmod, so a probe at lon
    179.9° covers cells on the −180° side too. The span is capped at n
    columns, so a full wrap covers each column exactly once (no
    duplicate candidate pairs).
    """
    n = 1 << bits
    x0 = F.floor((F.col("min_lon") + 180.0) / 360.0 * n).cast("long")
    x1 = F.least(
        F.floor((F.col("max_lon") + 180.0) / 360.0 * n).cast("long"),
        x0 + F.lit(n - 1),
    )
    y0 = _grid_index(F.col("min_lat"), -90.0, 180.0, n)
    y1 = _grid_index(F.col("max_lat"), -90.0, 180.0, n)
    return (
        polys.withColumn("__yi", F.explode(F.sequence(y0, y1)))
        .withColumn("__xi", F.explode(F.sequence(x0, x1)))
        .withColumn("cell", F.col("__yi") * n + F.pmod(F.col("__xi"), F.lit(n)))
        .drop("__yi", "__xi")
    )


#: per Python worker: polygon WKT -> pip_pack edges. Module-level, so a
#: reused worker parses each polygon once across tasks; cleared when full.
_PIP_PACKS: dict = {}
_PIP_PACKS_MAX = 10_000


def _pip_packed(w: str) -> tuple:
    p = _PIP_PACKS.get(w)
    if p is None:
        if len(_PIP_PACKS) >= _PIP_PACKS_MAX:
            _PIP_PACKS.clear()
        p = _PIP_PACKS[w] = pip_pack(parse_wkt(w))
    return p


def _pip_keep(lon: pd.Series, lat: pd.Series, wkt: pd.Series, exact: pd.Series) -> pd.Series:
    """Keep mask of one Arrow batch: exact rows are kept as they are, the
    rest take the half-open PIP test against their own polygon; a NULL
    WKT is not kept."""
    keep = exact.to_numpy(dtype=bool, na_value=False, copy=True)
    todo = ~keep
    if todo.any():
        codes, uniques = pd.factorize(wkt[todo])
        keep[todo] = points_in_polygons(
            lon[todo].to_numpy(), lat[todo].to_numpy(), codes, [_pip_packed(w) for w in uniques]
        )
    return pd.Series(keep)


#: ``pip_mask(lon, lat, wkt, exact)``: scalar pandas UDF; Spark sends only
#: these four columns to Python and gets one bool per row back
pip_mask = F.pandas_udf(_pip_keep, T.BooleanType())


def refine_pip(
    candidates: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    wkt: str = "wkt",
    skip_col: str | None = None,
) -> DataFrame:
    """Exact point-in-polygon refinement over candidate pairs.

    A Catalyst filter, ``where(pip_mask(lon, lat, wkt, exact))``, planned
    as an ArrowEvalPython node (no shuffle): only those four columns cross
    the Arrow boundary and one bool per row comes back; the rest of each
    row stays in the JVM, so column pruning still reaches the join below.
    Per batch the WKTs are factorized, each distinct polygon is parsed
    once per worker (cached), and all (point, polygon) pairs are tested in
    one edge-flattened NumPy pass (geom.points_in_polygons).

    ``skip_col``: optional boolean column — rows where it is true are
    exact already and kept without the kernel (single-pass alternative to
    splitting the DataFrame into exact/refine branches, which would
    recompute the whole upstream once per branch).
    """
    exact = F.col(skip_col) if skip_col is not None else F.lit(False)
    return candidates.where(pip_mask(F.col(lon), F.col(lat), F.col(wkt), exact))


def spatial_join_points_in_polys(
    points: DataFrame,
    polys: DataFrame,
    bits: int = 6,
    broadcast: bool | None = None,
    salt_buckets: int | None = None,
    refine: str = "auto",
    point_salt_key: str = "doc_id",
    keep_geom: bool = False,
    strategy: str | None = None,
    layer_manifest: dict | None = None,
) -> DataFrame:
    """Join points (lon/lat columns) with polygons (poly_id, wkt, envelope
    columns min_lon/min_lat/max_lon/max_lat): one output row per
    (point, containing polygon).

    The polygon payload (wkt + envelope, ~hundreds of bytes/row) exists
    only to drive the refine kernel; the pair output drops it unless
    ``keep_geom`` — at 10^12-doc scale those columns would dominate the
    shuffle/write volume of every downstream stage.

    - ``broadcast``: force/forbid broadcasting the exploded polygon cover
      (None → Catalyst/AQE decides; small layers auto-broadcast anyway).
    - ``salt_buckets``: shuffle-join skew mitigation — the point side
      derives ``salt = pmod(xxhash64(key), S)`` and the cover side
      explodes all S salts, so one hot cell spreads over S reducers
      (reference analogue: ShardStrategy's leading shard byte).
    - ``refine='auto'``: polygons whose ``kind`` column equals 'bbox' are
      exact after the envelope filter and skip the PIP kernel;
      'always' refines everything; 'never' returns envelope-filtered
      candidates (loose-bbox mode, reference QueryProperties.LooseBBox).
    - ``strategy='auto'``: broadcast/salt chosen by the stats-driven
      decider (plans/decider.py, reference StrategyDecider analogue)
      from the polygon side's plan-statistics size and the optional
      ``layer_manifest`` skew metrics — instead of caller flags.
    """
    if strategy == "auto":
        from geomesa_spark.plans.decider import auto_join_kwargs

        kw = auto_join_kwargs(polys, bits, manifest=layer_manifest)
        broadcast, salt_buckets = kw["broadcast"], kw["salt_buckets"]

    pts = points.withColumn("cell", grid_cell(F.col("lon"), F.col("lat"), bits))
    cover = cover_cells_for_polys(polys, bits)

    if salt_buckets and not broadcast:
        s = salt_buckets
        pts = pts.withColumn("__salt", F.pmod(F.xxhash64(F.col(point_salt_key)), F.lit(s)))
        cover = cover.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))).withColumn(
            "__salt", F.col("__salt").cast("bigint")
        )
        join_keys = ["cell", "__salt"]
    else:
        join_keys = ["cell"]

    if broadcast:
        cover = F.broadcast(cover)

    cand = pts.join(cover, on=join_keys, how="inner")
    # envelope filter: cheap, codegen'd, removes bbox-only false candidates
    cand = cand.where(
        (F.col("lon") >= F.col("min_lon"))
        & (F.col("lon") <= F.col("max_lon"))
        & (F.col("lat") >= F.col("min_lat"))
        & (F.col("lat") <= F.col("max_lat"))
    )
    drop_cols = ["cell"] + (["__salt"] if "__salt" in cand.columns else [])
    if not keep_geom:
        drop_cols += ["wkt", "min_lon", "min_lat", "max_lon", "max_lat"]

    if refine == "never":
        return cand.drop(*drop_cols)
    if refine == "auto" and "kind" in cand.columns:
        # single pass: bbox-kind rows are exact after the closed envelope
        # filter and bypass the kernel via the flag column (no branch
        # union — that would recompute the upstream scan per branch)
        cand = cand.withColumn("__exact", F.col("kind") == "bbox")
        return refine_pip(cand, skip_col="__exact").drop(*drop_cols, "__exact")
    return refine_pip(cand).drop(*drop_cols)


def spatial_join_geoms(
    left: DataFrame,
    right: DataFrame,
    bits: int = 6,
    left_id: str = "left_id",
    right_id: str = "right_id",
    broadcast: bool | None = None,
    predicate: str = "intersects",
) -> DataFrame:
    """Geometry×geometry spatial join (layer-to-layer): one row per
    (left geometry, right geometry) pair satisfying ``predicate``
    ('intersects' | 'contains' — left as the container).

    Reference: GeoMesaJoinRelation handles arbitrary geometry pairs via
    its grid partitioner + JTS refine. Spark shape: BOTH sides explode
    their envelope cover (a geometry spans several cells, unlike the
    point join), equi-join on cell, then REFERENCE-POINT dedup: a pair
    sharing k cover cells must refine once, not k times, and instead of
    a dropDuplicates (a full shuffle of the candidate pairs — the round-2
    shape) a codegen'd filter keeps the pair only in the cell containing
    the lower-left corner of the two envelopes' intersection (standard
    PBSM/SpatialHadoop dedup; that corner lies in both envelopes, so its
    cell is in both covers — exactly one surviving row per pair, zero
    extra shuffles). Refine = the BATCHED pair-predicate kernel
    (geom.batch_predicate): the Arrow batch is grouped by left geometry
    and evaluated with NumPy reduceat passes — zero per-pair Python.

    Both sides need (id, wkt, min_lon/min_lat/max_lon/max_lat).
    ``broadcast=None`` → stats decider on the right side's exploded
    cover; an oversized right layer falls back to a shuffle hash join.
    """
    if broadcast is None:
        from geomesa_spark.plans.decider import auto_broadcast, cover_explode_factor

        broadcast = auto_broadcast(right, cover_explode_factor(bits))
    n = 1 << bits
    lc = cover_cells_for_polys(
        left.select(
            F.col(left_id), F.col("wkt").alias("__lwkt"),
            "min_lon", "min_lat", "max_lon", "max_lat",
        ),
        bits,
    ).select(
        left_id, "__lwkt", "cell",
        F.col("min_lon").alias("__lx0"), F.col("min_lat").alias("__ly0"),
        F.col("max_lon").alias("__lx1"), F.col("max_lat").alias("__ly1"),
    )
    rc = cover_cells_for_polys(
        right.select(
            F.col(right_id), F.col("wkt").alias("__rwkt"),
            "min_lon", "min_lat", "max_lon", "max_lat",
        ),
        bits,
    ).select(
        right_id, "__rwkt", "cell",
        F.col("min_lon").alias("__rx0"), F.col("min_lat").alias("__ry0"),
        F.col("max_lon").alias("__rx1"), F.col("max_lat").alias("__ry1"),
    )
    if broadcast:
        rc = F.broadcast(rc)
    cand = lc.join(rc, on="cell", how="inner")
    # canonical cell of the envelope-intersection corner — the same IEEE
    # floor expressions as cover_cells_for_polys, applied to greatest(),
    # which returns one side's exact double, so the index is bit-equal
    # to that side's own cover index
    gx = F.greatest(F.col("__lx0"), F.col("__rx0"))
    gy = F.greatest(F.col("__ly0"), F.col("__ry0"))
    canon = (
        _grid_index(gy, -90.0, 180.0, n) * n
        + F.pmod(F.floor((gx + 180.0) / 360.0 * n).cast("long"), F.lit(n))
    )
    env_overlap = (
        (F.col("__lx0") <= F.col("__rx1")) & (F.col("__rx0") <= F.col("__lx1"))
        & (F.col("__ly0") <= F.col("__ry1")) & (F.col("__ry0") <= F.col("__ly1"))
    )
    cand = cand.where(env_overlap & (F.col("cell") == canon)).drop(
        "cell", "__lx0", "__ly0", "__lx1", "__ly1", "__rx0", "__ry0", "__rx1", "__ry1"
    )

    schema = cand.schema

    def _refine(batches):
        from geomesa_spark.geom import batch_predicate

        cache: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            keep = batch_predicate(
                pdf["__lwkt"].to_numpy(), pdf["__rwkt"].to_numpy(), predicate, cache
            )
            yield pdf[keep]

    out = cand.mapInPandas(_refine, schema=schema)
    return out.drop("__lwkt", "__rwkt")


def distance_join(
    points: DataFrame,
    probes: DataFrame,
    bits: int = 6,
    radius_col: str = "radius_m",
    broadcast: bool | None = None,
) -> DataFrame:
    """DWITHIN join: points within ``radius_m`` meters of each probe
    (reference: ProximitySearchProcess / ECQL DWITHIN).

    The probe side expands to the cell cover of its circle's bbox
    (lat-dependent lon scaling), equi-joins on cell, then refines with
    exact haversine — returned as column ``dist_m``.

    ``broadcast=None`` (default) routes through the stats decider
    (plans/decider.py::auto_broadcast): the exploded probe cover is
    broadcast only when its plan-statistics size fits — a huge probe
    table falls back to a shuffle hash join instead of OOMing the
    broadcast build.
    """
    if broadcast is None:
        from geomesa_spark.plans.decider import auto_broadcast, cover_explode_factor

        broadcast = auto_broadcast(probes, cover_explode_factor(bits))
    n = 1 << bits
    r_deg_lat = F.col(radius_col) / METERS_PER_DEG_LAT
    # lon half-width: the widest longitude offset of a distance circle
    # occurs POLEWARD of the center (asin(sin r / cos lat)), so using
    # cos(center_lat) under-covers by O(r^2 tan lat). cos at the circle's
    # farthest latitude over-covers safely; near the pole it clamps to a
    # full-longitude sweep (the circle encloses the pole).
    coslat = F.greatest(
        F.cos(F.radians(F.least(F.abs(F.col("lat")) + r_deg_lat, F.lit(90.0)))), F.lit(1e-6)
    )
    r_deg_lon = r_deg_lat / coslat

    probe_boxes = probes.select(
        *probes.columns,
        (F.col("lon") - r_deg_lon).alias("min_lon"),
        (F.col("lon") + r_deg_lon).alias("max_lon"),
        (F.col("lat") - r_deg_lat).alias("min_lat"),
        (F.col("lat") + r_deg_lat).alias("max_lat"),
    )
    probe_boxes = (
        probe_boxes.withColumnRenamed("lon", "q_lon").withColumnRenamed("lat", "q_lat")
    )
    cover = cover_cells_for_polys(probe_boxes, bits).drop(
        "min_lon", "max_lon", "min_lat", "max_lat"
    )
    if broadcast:
        cover = F.broadcast(cover)

    pts = points.withColumn("cell", grid_cell(F.col("lon"), F.col("lat"), bits))
    cand = pts.join(cover, on="cell", how="inner").drop("cell")
    cand = cand.withColumn(
        "dist_m",
        haversine_m_col(F.col("lon"), F.col("lat"), F.col("q_lon"), F.col("q_lat")),
    )
    return cand.where(F.col("dist_m") <= F.col(radius_col))


def pair_correlation(
    points: DataFrame,
    id_col,
    radii: tuple,
    bits: int = 4,
) -> DataFrame:
    """Ripley's K-style pair counts: the number of unordered point
    pairs within each radius of ``radii`` (the cumulative distance
    histogram behind K/L-function clustering analyses).

    ONE cover self-join at max(radii) (distance_join: cell-cover
    equi-join + exact haversine refine, id-order pair dedup), then each
    pair explodes the tiny radius list and a hash aggregate counts the
    cumulative membership — no per-radius re-join. ``id_col`` is a
    Column producing a unique point id (the dedup order). Output:
    (radius_m, n_pairs), ascending.
    """
    rmax = float(max(radii))
    pts = points.withColumn("__pid", id_col)
    probes = pts.select(
        F.col("__pid").alias("q_id"), "lon", "lat", F.lit(rmax).alias("radius_m")
    )
    pairs = distance_join(pts, probes, bits=bits).where(
        F.col("__pid") < F.col("q_id")
    )
    r = F.explode(F.array(*[F.lit(float(x)) for x in sorted(radii)])).alias("radius_m")
    return (
        pairs.select("dist_m", r)
        .where(F.col("dist_m") <= F.col("radius_m"))
        .groupBy("radius_m")
        .agg(F.count("*").alias("n_pairs"))
    )


def knox_test(
    points: DataFrame,
    id_col,
    delta_s_m: float,
    delta_t_s: int,
    ts_col: str = "dtg",
    bits: int = 5,
) -> DataFrame:
    """Knox space-time interaction test: counts of point pairs close in
    space (≤ delta_s_m), close in time (≤ delta_t_s), and close in BOTH
    (the Knox statistic X), plus the independence expectation
    Ns·Nt/total. Pure integer pair counts — bit-exact; the expectation
    is one double multiply + divide from exact integers.

    Shape: the space-close pairs come from ONE cell-cover self-join at
    delta_s (distance_join) with the space-time count as a conditional
    aggregate of the SAME join — no second spatial pass. The time-close
    pairs use a 1-D time-bin equi-join (bin width = delta_t, earlier
    point explodes bins {b, b+1}) so each unordered pair is matched
    exactly once under the (earlier-first, id tie-break) order — never
    an all-pairs product. Output is a single row.
    """
    dt = int(delta_t_s)
    pts = points.select(
        id_col.alias("__pid"),
        "lon",
        "lat",
        F.unix_seconds(F.col(ts_col).cast("timestamp")).alias("__t"),
    )
    probes = pts.select(
        F.col("__pid").alias("q_id"),
        "lon",
        "lat",
        F.col("__t").alias("q_t"),
        F.lit(float(delta_s_m)).alias("radius_m"),
    )
    sp = distance_join(pts, probes, bits=bits).where(F.col("__pid") < F.col("q_id"))
    close_t = (F.abs(F.col("__t") - F.col("q_t")) <= F.lit(dt)).cast("long")
    sp_agg = sp.agg(
        F.count("*").alias("pairs_space"),
        F.coalesce(F.sum(close_t), F.lit(0).cast("long")).alias("pairs_spacetime"),
    )
    # a pair with 0 <= t_b - t_a <= dt has floor(t_b/dt) in
    # {floor(t_a/dt), floor(t_a/dt)+1}: exploding the EARLIER point into
    # those two bins makes the equi-join a complete, once-only cover
    tbin = F.expr(f"__t DIV {dt}")  # exact integer division (epochs >= 0)
    left = pts.select(
        F.col("__pid").alias("a_id"),
        F.col("__t").alias("a_t"),
        F.explode(F.array(tbin, tbin + 1)).alias("__bin"),
    )
    right = pts.select(
        F.col("__pid").alias("b_id"),
        F.col("__t").alias("b_t"),
        tbin.alias("__bin"),
    )
    tp = left.join(right, "__bin").where(
        (F.col("b_t") - F.col("a_t") <= dt)
        & (
            (F.col("a_t") < F.col("b_t"))
            | ((F.col("a_t") == F.col("b_t")) & (F.col("a_id") < F.col("b_id")))
        )
    )
    tp_agg = tp.agg(F.count("*").alias("pairs_time"))
    n_agg = pts.agg(F.count("*").alias("n_points"))
    return (
        n_agg.crossJoin(sp_agg)
        .crossJoin(tp_agg)
        .select(
            "n_points",
            F.expr("n_points * (n_points - 1) DIV 2").alias("pairs_total"),
            "pairs_space",
            "pairs_time",
            "pairs_spacetime",
            F.round(
                F.col("pairs_space").cast("double")
                * F.col("pairs_time")
                / F.expr("n_points * (n_points - 1) DIV 2"),
                6,
            ).alias("expected_st"),
        )
    )


def distance_join_bbox(
    points: DataFrame,
    boxes: DataFrame,
    radius_m: float,
    bits: int = 6,
    box_id: str = "box_id",
    broadcast: bool | None = None,
) -> DataFrame:
    """DWITHIN against EXTENDED geometries (envelope layers): points
    within ``radius_m`` meters of each box (reference
    ProximitySearchProcess accepts arbitrary input geometries; the
    envelope is the reference's own coarse shape for extended geoms).

    Distance semantics: haversine from the point to its coordinate-space
    clamp into the box — the nearest box point in lon/lat space (exact
    for the closed box; near-polar wide boxes inherit the usual
    lon/lat-rectangle caveat). Everything is built-ins: the box cover
    expands by the radius (farthest-latitude lon scaling, like
    distance_join), equi-join on cell, clamp + haversine refine in
    codegen — mirrorable term-for-term by an ANSI oracle.
    """
    if broadcast is None:
        from geomesa_spark.plans.decider import auto_broadcast, cover_explode_factor

        broadcast = auto_broadcast(boxes, cover_explode_factor(bits))
    r_deg_lat = radius_m / METERS_PER_DEG_LAT
    far_lat = F.least(
        F.greatest(F.abs(F.col("min_lat")), F.abs(F.col("max_lat"))) + F.lit(r_deg_lat),
        F.lit(90.0),
    )
    coslat = F.greatest(F.cos(F.radians(far_lat)), F.lit(1e-6))
    r_deg_lon = F.lit(r_deg_lat) / coslat
    expanded = boxes.select(
        F.col(box_id),
        F.col("min_lon").alias("__bx0"), F.col("min_lat").alias("__by0"),
        F.col("max_lon").alias("__bx1"), F.col("max_lat").alias("__by1"),
        (F.col("min_lon") - r_deg_lon).alias("min_lon"),
        (F.col("max_lon") + r_deg_lon).alias("max_lon"),
        (F.col("min_lat") - F.lit(r_deg_lat)).alias("min_lat"),
        (F.col("max_lat") + F.lit(r_deg_lat)).alias("max_lat"),
    )
    cover = cover_cells_for_polys(expanded, bits).drop(
        "min_lon", "max_lon", "min_lat", "max_lat"
    )
    if broadcast:
        cover = F.broadcast(cover)
    pts = points.withColumn("cell", grid_cell(F.col("lon"), F.col("lat"), bits))
    cand = pts.join(cover, on="cell", how="inner").drop("cell")
    cx = F.least(F.greatest(F.col("lon"), F.col("__bx0")), F.col("__bx1"))
    cy = F.least(F.greatest(F.col("lat"), F.col("__by0")), F.col("__by1"))
    cand = cand.withColumn(
        "dist_m", haversine_m_col(F.col("lon"), F.col("lat"), cx, cy)
    )
    return cand.where(F.col("dist_m") <= radius_m).drop(
        "__bx0", "__by0", "__bx1", "__by1"
    )


def tube_select(
    points: DataFrame,
    tube: DataFrame,
    radius_m: float,
    time_window_s: int,
    bits: int = 6,
    dtg: str = "dtg",
    broadcast: bool | None = None,
) -> DataFrame:
    """J5 spatio-temporal corridor join (reference: geomesa-process/
    .../process/tube/TubeSelectProcess.scala): features within
    ``radius_m`` of the tube's track AND within ``time_window_s`` of the
    matching tube vertex's time.

    Spark shape: the tube's vertices expand to their (cell, time-bin)
    cover and equi-join against the cell+bin-keyed point table, then the
    exact haversine + time refine runs as a codegen'd filter. The tube
    is sampled at its vertices (the reference interpolates between
    them; callers densify the track upstream for the same effect — a
    transform(sequence) expression, no extra operator needed).

    points must carry lon/lat + ``dtg``; tube carries tube_id, lon/lat,
    ``dtg``. One output row per (point, matching tube vertex), dedup to
    per-point with dropDuplicates on the point key if desired.

    ``broadcast=None`` → stats decider on the tube cover (cells × 3
    time bins); a tube is normally tiny, but a densified multi-track
    corridor table can outgrow a broadcast build.
    """
    if broadcast is None:
        from geomesa_spark.plans.decider import auto_broadcast, cover_explode_factor

        broadcast = auto_broadcast(tube, cover_explode_factor(bits) * 3.0)
    bin_s = time_window_s
    r_deg_lat = radius_m / METERS_PER_DEG_LAT

    def bins(df, tag):
        b = (F.unix_timestamp(F.col(dtg)) / bin_s).cast("long")
        return df.withColumn(f"__bin{tag}", b)

    pts = bins(points.withColumn("cell", grid_cell(F.col("lon"), F.col("lat"), bits)), "")
    # tube side: cover = spatial bbox of the buffered vertex × the bin
    # and its two neighbors (a point within window can land in ±1 bin);
    # all other tube columns (ids, labels) ride along
    t = (
        tube.withColumnRenamed("lon", "t_lon")
        .withColumnRenamed("lat", "t_lat")
        .withColumnRenamed(dtg, "t_dtg")
    )
    # farthest-latitude cosine: see distance_join for why center-lat
    # under-covers
    coslat = F.greatest(
        F.cos(F.radians(F.least(F.abs(F.col("t_lat")) + F.lit(r_deg_lat), F.lit(90.0)))),
        F.lit(1e-6),
    )
    t = t.select(
        "*",
        (F.col("t_lon") - r_deg_lat / coslat).alias("min_lon"),
        (F.col("t_lon") + r_deg_lat / coslat).alias("max_lon"),
        (F.col("t_lat") - F.lit(r_deg_lat)).alias("min_lat"),
        (F.col("t_lat") + F.lit(r_deg_lat)).alias("max_lat"),
    )
    cover = cover_cells_for_polys(t, bits).drop("min_lon", "max_lon", "min_lat", "max_lat")
    cover = cover.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                (F.unix_timestamp("t_dtg") / bin_s).cast("long") - 1,
                (F.unix_timestamp("t_dtg") / bin_s).cast("long") + 1,
            )
        ),
    )
    if broadcast:
        cover = F.broadcast(cover)
    cand = pts.join(cover, on=["cell", "__bin"], how="inner")
    cand = cand.withColumn(
        "dist_m", haversine_m_col(F.col("lon"), F.col("lat"), F.col("t_lon"), F.col("t_lat"))
    ).withColumn(
        "dt_s", F.abs(F.unix_timestamp(F.col(dtg)) - F.unix_timestamp("t_dtg"))
    )
    return (
        cand.where((F.col("dist_m") <= radius_m) & (F.col("dt_s") <= time_window_s))
        .drop("cell", "__bin", "min_lon", "max_lon", "min_lat", "max_lat")
    )


def densify_track(
    tube: DataFrame,
    max_seg_s: int,
    lon: str = "lon",
    lat: str = "lat",
    dtg: str = "dtg",
    order_col: str = "vertex_id",
    track_col: str = "tube_id",
) -> DataFrame:
    """Interpolate extra vertices along a track so consecutive points
    are at most ``max_seg_s`` seconds apart (the reference's
    TubeBuilder interpolation — TubeSelectProcess samples between input
    points). Pure built-ins: lead() window + transform(sequence) over
    the interpolation fractions + explode; feeds tube_select so the
    corridor has no gaps between sparse vertices."""
    from pyspark.sql import Window

    w = Window.partitionBy(track_col).orderBy(F.col(order_col).asc())
    t = (
        tube.withColumn("__nlon", F.lead(lon).over(w))
        .withColumn("__nlat", F.lead(lat).over(w))
        .withColumn("__ndtg", F.lead(dtg).over(w))
    )
    secs = F.unix_timestamp(F.col(dtg))
    nsecs = F.unix_timestamp(F.col("__ndtg"))
    n_seg = F.when(
        F.col("__ndtg").isNotNull(),
        F.greatest(F.ceil((nsecs - secs) / F.lit(max_seg_s)), F.lit(1)),
    ).otherwise(F.lit(1))
    t = t.withColumn("__k", F.explode(F.sequence(F.lit(0), n_seg - 1)))
    frac = F.col("__k") / n_seg.cast("double")
    interp = lambda a, b: F.when(  # noqa: E731
        F.col("__ndtg").isNotNull(), a + (b - a) * frac
    ).otherwise(a)
    return (
        t.withColumn(lon, interp(F.col(lon), F.col("__nlon")))
        .withColumn(lat, interp(F.col(lat), F.col("__nlat")))
        .withColumn(dtg, F.timestamp_seconds(interp(secs, nsecs)))
        .drop("__nlon", "__nlat", "__ndtg", "__k")
    )


def attribute_join(
    attr_index: DataFrame,
    records: DataFrame,
    fid_col: str = "__fid__",
    broadcast: bool | None = None,
) -> DataFrame:
    """J1 attribute-index join (reference: geomesa-accumulo/.../index/
    JoinIndex.scala): a filtered attribute-index projection yields fids;
    the full rows come from the record table by fid — an index-nested-
    loop in the reference, a broadcast (small fid set) or shuffle hash
    join here; Catalyst/AQE picks when ``broadcast`` is None."""
    keys = attr_index.select(fid_col).distinct()
    if broadcast:
        keys = F.broadcast(keys)
    return records.join(keys, on=fid_col, how="inner")


def explode_envelope_cover(
    df: DataFrame,
    cell_deg: float,
    x0: str = "min_lon",
    y0: str = "min_lat",
    x1: str = "max_lon",
    y1: str = "max_lat",
    cx: str = "__cx",
    cy: str = "__cy",
) -> DataFrame:
    """Explode each envelope row into the grid cells it spans on a
    ``cell_deg`` grid — the shared candidate-pair fence behind
    envelope_anti_join / tiles.dissolve_envelopes (floor(min/cell) ..
    floor(max/cell) per axis, two sequence explodes). Envelopes must
    satisfy min <= max on both axes (Spark's sequence() would silently
    DESCEND on an inverted envelope while DuckDB's generate_series
    returns empty — keep the contract)."""
    return df.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col(x0) / cell_deg).cast("long"),
                F.floor(F.col(x1) / cell_deg).cast("long"),
            )
        ).alias(cx),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col(y0) / cell_deg).cast("long"),
                F.floor(F.col(y1) / cell_deg).cast("long"),
            )
        ).alias(cy),
    )


def envelope_anti_join(
    points: DataFrame,
    rects: DataFrame,
    cell_deg: float = 5.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spatial ANTI join: points contained by NO rectangle envelope
    (boundary-inclusive) — the negative-space complement of the
    points-in-polys join (ECQL `NOT (bbox OR bbox …)` / DISJOINT-from-
    layer), e.g. "events outside every service area".

    One LEFT ANTI hash join: the rect side explodes its cell cover on
    a ``cell_deg`` grid (bounded fan-out like dissolve_envelopes), the
    point side computes its single cell, and the exact containment
    test rides as the join residual — a point survives only if no
    (cell-colocated) rect contains it. Containment implies the rect's
    cover includes the point's cell, so no false survivors; no
    distinct, no second pass, and the anti join shuffles only on the
    integer cell key. Output: the point rows unchanged.
    """
    cover = explode_envelope_cover(
        rects.select(
            F.col("min_lon").alias("__x0"), F.col("min_lat").alias("__y0"),
            F.col("max_lon").alias("__x1"), F.col("max_lat").alias("__y1"),
        ),
        cell_deg, x0="__x0", y0="__y0", x1="__x1", y1="__y1",
    )
    px = F.floor(F.col(lon) / cell_deg).cast("long")
    py = F.floor(F.col(lat) / cell_deg).cast("long")
    p = points.withColumn("__cx", px).withColumn("__cy", py)
    cond = (
        (p["__cx"] == cover["__cx"])
        & (p["__cy"] == cover["__cy"])
        & (p[lon] >= cover["__x0"])
        & (p[lon] <= cover["__x1"])
        & (p[lat] >= cover["__y0"])
        & (p[lat] <= cover["__y1"])
    )
    return p.join(cover, cond, "left_anti").drop("__cx", "__cy")


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    value_col: str = "value",
    eps: float = 1.0,
) -> DataFrame:
    """1-D band (inequality) join: pairs with |left.value - right.value|
    <= eps — the numeric sibling of DWITHIN and the knox_test time leg,
    exposed as its own operator (Catalyst would plan the raw theta join
    as a nested loop).

    Bucketing fence: bucket = floor(v / eps); the right side explodes
    to {b-1, b, b+1}, the join is an EQUI join on the bucket (hash,
    scalable), the exact |diff| <= eps test is the residual. A left row
    has ONE bucket and the right explode's three buckets are distinct,
    so each qualifying pair appears exactly once - no dedup. Output:
    (left_id, right_id, v_l, v_r, diff round 6).
    """
    lb = F.floor(F.col("v_l") / eps).cast("long")
    l = left.select(F.col(left_id), F.col(value_col).alias("v_l")).withColumn(
        "__b", lb
    )
    rb = F.floor(F.col("v_r") / eps).cast("long")
    r = right.select(F.col(right_id), F.col(value_col).alias("v_r")).withColumn(
        "__b", F.explode(F.array(rb - 1, rb, rb + 1))
    )
    return (
        l.join(r, "__b")
        .where(F.abs(F.col("v_l") - F.col("v_r")) <= eps)
        .select(
            left_id,
            right_id,
            "v_l",
            "v_r",
            F.round(F.abs(F.col("v_l") - F.col("v_r")), 6).alias("diff"),
        )
    )


def envelope_semi_join(
    points: DataFrame,
    rects: DataFrame,
    cell_deg: float = 5.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Spatial SEMI join: points contained by AT LEAST ONE rectangle
    envelope, each point emitted once no matter how many envelopes
    cover it — the existence filter ("inside any service area")
    complementing envelope_anti_join's negative space; a plain inner
    cover join would duplicate a point per covering rect and need a
    dedup exchange.

    One LEFT SEMI hash join on the cell key with the exact containment
    residual, sharing explode_envelope_cover with the anti join.
    Output: the point rows unchanged.
    """
    cover = explode_envelope_cover(
        rects.select(
            F.col("min_lon").alias("__x0"), F.col("min_lat").alias("__y0"),
            F.col("max_lon").alias("__x1"), F.col("max_lat").alias("__y1"),
        ),
        cell_deg, x0="__x0", y0="__y0", x1="__x1", y1="__y1",
    )
    p = points.withColumn(
        "__cx", F.floor(F.col(lon) / cell_deg).cast("long")
    ).withColumn("__cy", F.floor(F.col(lat) / cell_deg).cast("long"))
    cond = (
        (p["__cx"] == cover["__cx"])
        & (p["__cy"] == cover["__cy"])
        & (p[lon] >= cover["__x0"])
        & (p[lon] <= cover["__x1"])
        & (p[lat] >= cover["__y0"])
        & (p[lat] <= cover["__y1"])
    )
    return p.join(cover, cond, "left_semi").drop("__cx", "__cy")
