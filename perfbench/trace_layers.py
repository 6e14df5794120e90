"""Traced run: per-layer spans and counts on one workload's inputs.

The engine's operators are lazy, so a span around a call would time
plan building only. Each layer boundary is therefore forced with a
prefix of the same plan and a ``noop`` sink, and a layer's self time is
the difference between consecutive prefixes:
scan -> +extract -> +cell -> +join(refine='never') -> +refine -> +write.
Spark's SQL metrics are read from the AQE final plan after ``collect()``
(``count()`` would run a different plan). Driver-side public functions
are timed directly. Every probe runs on every workload's own inputs, so
each workload reports every per-layer metric.

Spans (name, start, end, parent, operation id) are kept in memory and
written to ``perfbench/traces/<workload>-seed<seed>.json`` at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

import gen
import host
import oracle
from workloads import TILE_SPEC

CHAIN = ("scan", "extract", "cell", "join_never", "refine", "write")
CHAIN_REPS = 1
READ_BOXES = 3


class Tracer:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.ops = 0

    @contextmanager
    def span(self, name: str, new_op: bool = False):
        parent = self.stack[-1] if self.stack else None
        if new_op or parent is None:
            self.ops += 1
            op = self.ops
        else:
            op = parent["op"]
        rec = {
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "parent": parent["id"] if parent else None,
            "op": op,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self.stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self.stack.pop()

    def timed(self, name: str, fn, new_op: bool = False):
        with self.span(name, new_op) as s:
            out = fn()
        return out, s["end"] - s["start"]


def plan_nodes(df) -> list[dict]:
    """Nodes of the executed (AQE final) plan with their SQL metrics,
    query-stage children included. Call after an action on ``df``."""
    jvm = df.sparkSession.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out = []

    def walk(node, parent):
        ms = conv.asJava(node.metrics())
        rec = {"name": node.nodeName(), "parent": parent, "m": {k: ms[k].value() for k in ms.keySet()}}
        out.append(rec)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif cls == "ReusedExchangeExec":
            kids = [node.child()]
        else:
            kids = list(conv.asJava(node.children()))
        for k in kids:
            walk(k, rec)

    walk(df._jdf.queryExecution().executedPlan(), None)
    return out


def metric(nodes, pred, key: str) -> float:
    return float(sum(n["m"].get(key, 0) for n in nodes if pred(n["name"])))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def jobs_in(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def run(wl, args):
    from geomesa_spark.curves import Z2SFC
    from geomesa_spark.geom import batch_predicate, parse_wkt, points_in_polygon
    from geomesa_spark.operators.extract import extract_geo_points, with_z2_cell
    from geomesa_spark.operators.joins import cover_cells_for_polys, distance_join, spatial_join_geoms
    from geomesa_spark.operators.knn import knn
    from geomesa_spark.operators.tiles import read_tiles, write_tiles
    from geomesa_spark.plans.audit import disable_audit, enable_audit, read_audit
    from geomesa_spark.plans.ecql import plan_ecql
    from geomesa_spark.sources.catalog import latest_manifest, partition_footer_stats, write_manifest

    spark, sc, tr = wl.spark, wl.spark.sparkContext, Tracer()
    join_kw = wl.join_kwargs
    m: dict[str, tuple[float, str]] = {}
    rng = np.random.default_rng([wl.seed, 999])

    def prefixes(docs):
        ext = extract_geo_points(docs)
        cell = with_z2_cell(ext)
        return {
            "scan": docs,
            "extract": ext,
            "cell": cell,
            "join_never": wl.pip_join(cell, **{**join_kw, "refine": "never"}),
            "refine": wl.pip_join(cell, **join_kw),
        }

    # -- layer chain: self time by differences of forced prefixes --------
    tiles = wl.path("trace_tiles")
    times = {s: [] for s in CHAIN}
    for rep in range(CHAIN_REPS):
        pre = prefixes(wl.docs_df)
        with tr.span(f"chain[{rep}]", new_op=True):
            for stage in CHAIN:
                if stage == "write":
                    fn = lambda: write_tiles(pre["refine"], tiles, cell_col="cell_z2", **TILE_SPEC)  # noqa: E731
                else:
                    fn = lambda s=stage: noop(pre[s])  # noqa: E731
                times[stage].append(tr.timed(stage, fn)[1])
    t = {s: statistics.median(v) for s, v in times.items()}
    m["sources.scan_s"] = (t["scan"], "s")
    m["extract.self_s"] = (t["extract"] - t["scan"], "s")
    m["extract.cell_self_s"] = (t["cell"] - t["extract"], "s")
    m["joins.probe_self_s"] = (t["join_never"] - t["cell"], "s")
    m["refine.self_s"] = (t["refine"] - t["join_never"], "s")
    m["tiles.write_self_s"] = (t["write"] - t["refine"], "s")

    # -- SQL metrics of the refine plan, read after collect() ------------
    df = prefixes(wl.docs_df)["refine"]
    kept, _ = tr.timed("refine.collect", lambda: len(df.collect()), new_op=True)
    nodes = plan_nodes(df)
    # extracted points: rows out of the geo-kind filter above the span explode
    above_generate = {id(n["parent"]) for n in nodes if n["name"] == "Generate"}
    points = max(
        (n["m"].get("numOutputRows", 0) for n in nodes if n["name"] == "Filter" and id(n) in above_generate),
        default=0,
    )
    candidates = metric(nodes, lambda n: n.endswith("Join"), "numOutputRows")
    docs_scan = max((n for n in nodes if n["name"].startswith("Scan parquet")),
                    key=lambda n: n["m"].get("filesSize", 0))
    m["sources.scan_bytes"] = (float(docs_scan["m"].get("filesSize", 0)), "bytes")
    m["extract.points"] = (float(points), "count")
    m["joins.candidates"] = (candidates, "count")
    m["joins.broadcast_bytes"] = (metric(nodes, lambda n: n == "BroadcastExchange", "dataSize"), "bytes")
    m["joins.broadcast_build_s"] = (
        sum(metric(nodes, lambda n: n == "BroadcastExchange", k) for k in ("collectTime", "buildTime", "broadcastTime")) / 1e3,
        "s",
    )
    m["joins.shuffle_bytes"] = (metric(nodes, lambda n: n == "Exchange", "dataSize"), "bytes")
    py = lambda k: metric(nodes, lambda n: n == "MapInPandas", k)  # noqa: E731
    m["refine.arrow_bytes_sent"] = (py("pythonDataSent"), "bytes")
    m["refine.arrow_bytes_received"] = (py("pythonDataReceived"), "bytes")
    m["refine.python_s"] = (py("pythonTotalTime") / 1e3, "s")
    m["refine.python_init_s"] = (py("pythonInitTime") / 1e3, "s")
    m["refine.candidates"] = (candidates, "count")
    m["refine.kept"] = (float(kept), "count")
    m["refine.kept_ratio"] = (kept / max(candidates, 1.0), "ratio")

    # -- cover and skew ---------------------------------------------------
    cover = cover_cells_for_polys(wl.polys_df, 6)
    m["joins.cover_rows"] = (float(tr.timed("cover.count", cover.count, new_op=True)[0]), "count")
    never = prefixes(wl.docs_df)["join_never"]
    per_part, _ = tr.timed(
        "joins.partition_rows",
        lambda: [r["count"] for r in never.select(F.spark_partition_id().alias("p")).groupBy("p").count().collect()],
        new_op=True,
    )
    m["joins.partition_skew"] = (max(per_part) / statistics.median(per_part), "ratio")

    # -- decider estimate against the broadcast cover it sizes ------------
    enable_audit(None)
    try:
        wl.pip_join(with_z2_cell(extract_geo_points(wl.docs_df)), strategy="auto")
        est = next(e["cover_bytes"] for e in read_audit() if e["event"] == "join.decide")
    finally:
        disable_audit()
    probe = spark.range(1).withColumnRenamed("id", "cell").join(F.broadcast(cover), "cell")
    tr.timed("decider.actual", probe.collect, new_op=True)
    actual = metric(plan_nodes(probe), lambda n: n == "BroadcastExchange", "dataSize")
    m["decider.estimate_ratio"] = (est / max(actual, 1.0), "ratio")

    # -- geom kernels called directly on the same candidates -------------
    p = wl.pts
    index = oracle.PointIndex(p.lon, p.lat)
    todo = [q for q in range(len(wl.polys.ids)) if wl.polys.kind[q] != "bbox"]
    parsed = {q: parse_wkt(gen.wkt(wl.polys.rings[q])) for q in todo}
    cand = {q: index.in_envelope(*wl.polys.env[q]) for q in todo}
    with tr.span("geom.points_in_polygon", new_op=True) as s:
        for q in todo:
            points_in_polygon(p.lon[cand[q]], p.lat[cand[q]], parsed[q])
    m["geom.pip_kernel_s"] = (s["end"] - s["start"], "s")
    rects = wl.rect_layer()
    li, ri = oracle.envelope_pairs(wl.polys.env, rects.env)
    lw = np.array([gen.wkt(r) for r in wl.polys.rings], dtype=object)
    rw = np.array([gen.wkt(r) for r in rects.rings], dtype=object)
    with tr.span("geom.batch_predicate", new_op=True) as s:
        cache: dict = {}
        for i in range(0, len(li), 10_000):
            batch_predicate(lw[li[i:i + 10_000]], rw[ri[i:i + 10_000]], "intersects", cache)
    m["geom.batch_predicate_s"] = (s["end"] - s["start"], "s")
    left = wl.polys_df.withColumnRenamed("poly_id", "left_id")
    m["joins.geom_join_s"] = (
        tr.timed("joins.geom_join", lambda: spatial_join_geoms(left, wl.rects_frame(rects), bits=6).count(),
                 new_op=True)[1],
        "s",
    )

    # -- tile table: files, bytes, footers, manifest ----------------------
    files = [os.path.join(d, f) for d, _, fs in os.walk(tiles) for f in fs if f.endswith(".parquet")]
    m["tiles.files"] = (float(len(files)), "count")
    m["tiles.bytes"] = (
        float(sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(tiles) for f in fs)),
        "bytes",
    )
    footer, dt = tr.timed(
        "catalog.partition_footer_stats",
        lambda: partition_footer_stats(tiles, "bucket", stat_col="tile_prefix"),
        new_op=True,
    )
    m["catalog.footer_stats_s"] = (dt, "s")
    last = latest_manifest(tiles)
    m["catalog.manifest_s"] = (
        tr.timed(
            "catalog.write_manifest",
            lambda: write_manifest(tiles, last["partition_spec"], last["partitions"], last["lineage"]),
            new_op=True,
        )[1],
        "s",
    )

    # -- read path on the same tile table ---------------------------------
    z2 = Z2SFC()
    prune, execs, ratio, scanned, returned, ranges = [], [], [], 0.0, 0, []
    for i in range(READ_BOXES):
        j = int(rng.integers(0, len(p.lon)))
        b = (float(np.clip(p.lon[j] - 1, -180, 178)), float(np.clip(p.lat[j] - 1, -85, 83)))
        b = (b[0], b[1], b[0] + 2.0, b[1] + 2.0)
        with tr.span("tiles.bbox_read", new_op=True):
            ranges.append(tr.timed("curves.z2_ranges", lambda: z2.ranges([b], max_ranges=64))[1])
            d, dt = tr.timed("tiles.read_tiles", lambda: read_tiles(spark, tiles, bbox=b))
            prune.append(dt)
            d = d.where(F.col("lon").between(b[0], b[2]) & F.col("lat").between(b[1], b[3]))
            rows, dt = tr.timed("tiles.read_exec", d.collect)
            execs.append(dt)
        ratio.append(len(d.inputFiles()) / max(len(files), 1))
        scanned += metric(plan_nodes(d), lambda n: n.startswith("Scan parquet"), "numOutputRows")
        returned += len(rows)
    m["tiles.read_prune_s"] = (statistics.median(prune), "s")
    m["tiles.read_exec_s"] = (statistics.median(execs), "s")
    m["tiles.files_read_ratio"] = (statistics.mean(ratio), "ratio")
    m["tiles.rows_scanned_per_row_returned"] = (scanned / max(returned, 1), "ratio")
    m["curves.z2_ranges_s"] = (statistics.median(ranges), "s")

    # -- ECQL plan, knn cold/held, dwithin ---------------------------------
    pts_df = wl.point_frame()
    x0, y0 = float(p.lon[0]), float(p.lat[0])
    f = "BBOX(geom, %r, %r, %r, %r)" % (x0 - 2, y0 - 2, x0 + 2, y0 + 2)
    m["plans.ecql_plan_s"] = (
        tr.timed("plans.plan_ecql", lambda: plan_ecql(pts_df, f, z2_col="cell_z2"), new_op=True)[1],
        "s",
    )
    probes = gen.probes(rng, 8, p)
    pdf = spark.createDataFrame(
        [(q, float(a), float(b), int(k)) for q, a, b, k in zip(probes["q_id"], probes["lon"], probes["lat"], probes["k"])],
        "q_id string, lon double, lat double, k int",
    )
    sel = pts_df.select("doc_id", "span_offset", "lon", "lat")
    res = knn(sel, pdf)
    with tr.span("knn", new_op=True):
        sc.setJobGroup("perfbench-knn", "knn cold")
        m["knn.cold_s"] = (tr.timed("knn.cold", res.collect)[1], "s")
        m["knn.jobs"] = (float(jobs_in(sc, "perfbench-knn")), "count")
        sc.setJobGroup("perfbench-knn-held", "knn held")
        m["knn.held_s"] = (tr.timed("knn.held", res.collect)[1], "s")
    ddf = spark.createDataFrame(
        [(q, float(a), float(b), float(r)) for q, a, b, r in
         zip(probes["q_id"], probes["lon"], probes["lat"], probes["radius_m"])],
        "q_id string, lon double, lat double, radius_m double",
    )
    m["joins.dwithin_batch_s"] = (
        tr.timed("joins.distance_join", lambda: distance_join(sel, ddf).collect(), new_op=True)[1], "s"
    )

    # -- one round of the workload's own operations: jobs per operation ---
    samples, jobs = [], 0
    for i, (name, op) in enumerate(wl.round(0)):
        group = f"perfbench-op-{i}"
        sc.setJobGroup(group, name)
        _, dt = tr.timed(f"op.{name}", op, new_op=True)
        jobs += jobs_in(sc, group)
        samples.append((name, dt, True))
    sc.setJobGroup("perfbench-idle", "idle")
    m["spark.jobs_per_op"] = (jobs / len(samples), "count")

    # -- fixed and per-document pipeline cost from two input sizes --------
    small_docs = wl.small_df.count()
    small_t = [tr.timed("pipeline.small", lambda: wl.pipeline(wl.small_df, wl.path("trace_small")), new_op=True)[1]
               for _ in range(CHAIN_REPS)]
    ts, tl = statistics.median(small_t), t["write"]
    per_doc = (tl - ts) / (wl.n_docs - small_docs)
    m["ingest.per_mdoc_s"] = (per_doc * 1e6, "s")
    m["ingest.fixed_s"] = (tl - per_doc * wl.n_docs, "s")

    m["host.peak_rss_mb"] = (host.tree_peak_rss_mb(), "MB")
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{wl.name}-seed{args.seed}.json"), "w") as fh:
        json.dump({"workload": wl.name, "seed": args.seed, "metrics": metrics, "spans": tr.spans}, fh, indent=1)
    return samples, metrics
