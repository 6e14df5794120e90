"""Strategy selection: which index predicate and which join shape.

Reference: geomesa-index-api/.../index/planning/StrategyDecider.scala
(:~60) picks the cheapest index (attribute / z2 / z3 / xz2 / xz3 /
full-table) for a query's filter shape, consulting GeoMesaStats
(geomesa-index-api/.../stats/GeoMesaStats.scala :~100) for
cardinalities. Here the same two decisions exist:

1. ``choose_index`` — which cell predicate the planner should emit for
   a (bbox?, interval?, extended-geoms?, attribute-equality?) shape.
   Pure shape→index mapping, mirroring the reference's preference
   order (attribute when selective, then spatio-temporal, then
   spatial, then temporal, else full scan).
2. ``choose_join`` — broadcast vs shuffle vs salted-shuffle for the
   cell join, from byte-size estimates and a hot-cell skew ratio. The
   estimates come free from Catalyst plan statistics
   (``estimated_size_bytes``) or from table-manifest metrics — no extra
   scan is spent deciding.

``auto_join_kwargs`` wires the decision into
``spatial_join_points_in_polys(**kwargs)``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame

__all__ = [
    "QueryShape",
    "choose_index",
    "choose_join",
    "estimated_size_bytes",
    "manifest_skew_ratio",
    "stats_skew_ratio",
    "auto_join_kwargs",
    "auto_broadcast",
    "cover_explode_factor",
]

BROADCAST_BYTES_DEFAULT = 32 * 1024 * 1024
SKEW_SALT_THRESHOLD = 4.0
MAX_SALT = 16


@dataclass(frozen=True)
class QueryShape:
    has_bbox: bool = False
    has_interval: bool = False
    extended_geoms: bool = False  # non-point geometries in the layer
    attr_equality: bool = False
    attr_selectivity: float | None = None  # est. fraction matched, None = unknown


def choose_index(shape: QueryShape) -> str:
    """'attr' | 'z2' | 'z3' | 'xz2' | 'xz3' | 'full' — the reference's
    preference order: a selective attribute index beats cell scans;
    spatio-temporal beats spatial-only when an interval exists; XZ
    variants when geometries are extended (one key per geometry)."""
    if shape.attr_equality and (
        shape.attr_selectivity is None or shape.attr_selectivity <= 0.01
    ):
        return "attr"
    if shape.has_bbox and shape.has_interval:
        return "xz3" if shape.extended_geoms else "z3"
    if shape.has_bbox:
        return "xz2" if shape.extended_geoms else "z2"
    if shape.has_interval:
        return "z3"
    if shape.attr_equality:
        return "attr"
    return "full"


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst plan-statistics size estimate (no job)."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return 1 << 62  # unknown → assume large


def manifest_skew_ratio(manifest: dict | None) -> float | None:
    """max/mean partition rows from a table manifest's metrics."""
    if not manifest:
        return None
    rows = [p.get("rows", 0) for p in manifest.get("partitions", []) if p.get("rows", 0) > 0]
    if not rows:
        return None
    return max(rows) / (sum(rows) / len(rows))


def stats_skew_ratio(stats: dict | None) -> float | None:
    """Hot-cell skew from ``analyze_table`` stats: hottest cell rows
    over the mean rows per distinct cell."""
    if not stats:
        return None
    cells = stats.get("cells") or {}
    top = cells.get("top") or []
    mean = cells.get("mean_rows") or 0
    if not top or not mean:
        return None
    return top[0]["rows"] / mean


def choose_join(
    cover_bytes: int,
    skew_ratio: float | None = None,
    broadcast_threshold: int = BROADCAST_BYTES_DEFAULT,
) -> dict:
    """→ {'broadcast': bool, 'salt_buckets': int | None}.

    Broadcast the (exploded) cover when it fits; otherwise shuffle, and
    salt when the hot-cell skew ratio warrants spreading a hot key over
    2^ceil(log2(skew)) reducers (reference ShardStrategy analogue)."""
    if cover_bytes <= broadcast_threshold:
        return {"broadcast": True, "salt_buckets": None}
    if skew_ratio is not None and skew_ratio > SKEW_SALT_THRESHOLD:
        salt = min(1 << math.ceil(math.log2(skew_ratio)), MAX_SALT)
        return {"broadcast": False, "salt_buckets": salt}
    return {"broadcast": False, "salt_buckets": None}


def cover_explode_factor(bits: int, base: float = 4.0) -> float:
    """Cell-cover explosion estimate: cells per envelope quadruple per
    extra grid bit (cell edge halves in both dimensions); anchored at a
    conservative ×base for the default 6-bit grid and clamped so a
    pathological bits choice can't zero out or explode the estimate."""
    return min(max(base * 4.0 ** (bits - 6), 1.0), 64.0)


def auto_broadcast(
    df: DataFrame,
    explode_factor: float = 1.0,
    threshold: int = BROADCAST_BYTES_DEFAULT,
) -> bool:
    """Broadcast-or-not for a join side from Catalyst plan-statistics
    size (no job), scaled by how much the side is about to explode
    (cell cover, salt, ring window). The decider shape behind
    distance_join / tube_select / knn when the caller doesn't force a
    side — mirroring the reference's StrategyDecider cost check rather
    than a hardcoded hint."""
    from geomesa_spark.plans.audit import audit_event

    est = estimated_size_bytes(df)
    decision = est * explode_factor <= threshold
    audit_event(
        event="join.broadcast_decide",
        est_bytes=est,
        explode_factor=explode_factor,
        threshold=threshold,
        broadcast=decision,
    )
    return decision


def auto_join_kwargs(
    polys: DataFrame,
    bits: int,
    manifest: dict | None = None,
    table_stats: dict | None = None,
    broadcast_threshold: int = BROADCAST_BYTES_DEFAULT,
) -> dict:
    """Join-strategy kwargs for spatial_join_points_in_polys, derived
    from the polygon side's plan-statistics size (scaled by the
    envelope cover explosion factor) and persisted skew metrics —
    either a write manifest's per-partition rows or an analyze
    snapshot's hot-cell histogram (catalog.analyze_table)."""
    cover_bytes = int(estimated_size_bytes(polys) * cover_explode_factor(bits))
    skew = stats_skew_ratio(table_stats)
    if skew is None:
        skew = manifest_skew_ratio(manifest)
    decision = choose_join(cover_bytes, skew, broadcast_threshold)

    from geomesa_spark.plans.audit import audit_event

    audit_event(
        event="join.decide",
        cover_bytes=cover_bytes,
        skew_ratio=skew,
        **decision,
    )
    return decision
