"""Dump physical plans of the engine's key operators to PLANS.md —
evidence that filters push to the parquet scan, joins broadcast, and
the hot path stays inside whole-stage codegen.

Usage: python tools/dump_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    import tempfile

    from pyspark.sql import functions as F

    from geomesa_spark.operators.extract import extract_geo_points, with_z2_cell
    from geomesa_spark.operators.joins import distance_join, spatial_join_points_in_polys
    from geomesa_spark.operators.tiles import density_grid
    from geomesa_spark.plans.planner import bbox_predicate, z2_range_predicate
    from geomesa_spark.session import build_session
    from geomesa_spark.tables import poly_layers, query_points, synthesize_documents

    spark = build_session(cores=8, app="plans")
    sections: list[tuple[str, str, str]] = []

    with tempfile.TemporaryDirectory() as td:
        docs_path = os.path.join(td, "docs")
        synthesize_documents(spark, 10000).write.parquet(docs_path)
        docs = spark.read.parquet(docs_path)
        pts_path = os.path.join(td, "pts")
        with_z2_cell(extract_geo_points(docs)).write.parquet(pts_path)
        pts_tbl = spark.read.parquet(pts_path)
        polys = poly_layers(spark, 500)

        bbox = (-150.0, -40.0, -50.0, 40.0)
        pruned = pts_tbl.where(
            z2_range_predicate([bbox]) & bbox_predicate(bbox)
        ).select("doc_id", "lon", "lat")
        sections.append((
            "Z2 range scan (P3/S1)",
            "cell_z2 BETWEEN terms + exact bbox refine reach the parquet scan "
            "as PushedFilters; only 4 columns read (ReadSchema pruning).",
            plan_str(pruned),
        ))

        from geomesa_spark.plans.ecql import plan_ecql

        ecql_df = plan_ecql(
            pts_tbl,
            f"BBOX(geom, {bbox[0]}, {bbox[1]}, {bbox[2]}, {bbox[3]}) "
            "AND doc_id LIKE 'doc-%' AND span_offset BETWEEN 0 AND 3",
            z2_col="cell_z2",
        ).select("doc_id", "lon", "lat")
        sections.append((
            "ECQL filter through the planner",
            "parse → FilterSplitter primary → coarse Z2 ranges + compiled "
            "residual, all in ONE codegen filter stage pushed to the scan; "
            "LIKE 'doc-%' folds to StartsWith. The text surface costs "
            "nothing at runtime.",
            plan_str(ecql_df),
        ))

        j = spatial_join_points_in_polys(extract_geo_points(docs), polys, bits=6, broadcast=True)
        sections.append((
            "Broadcast two-phase spatial join (J2)",
            "scan → extract (regexp, codegen) → BroadcastHashJoin on cell with the "
            "envelope conjunct as the join condition → exact refine as a keep-mask "
            "filter: ArrowEvalPython over (lon, lat, wkt, kind = bbox) only, then "
            "Filter on the returned bool; the rest of each row stays in the JVM. "
            "(The MapInPandas under the broadcast is the polygon fixture's WKT "
            "generator, not the refine.) One stage on the probe side, no shuffle.",
            plan_str(j),
        ))

        js = spatial_join_points_in_polys(
            extract_geo_points(docs), polys, bits=6, broadcast=False, salt_buckets=8
        )
        sections.append((
            "Salted shuffle spatial join (J2, skew path)",
            "both sides exchange on (cell, salt) — a hot cell spreads across 8 "
            "reducers; AQE may still convert to broadcast at this test size. The "
            "refine is the same ArrowEvalPython keep-mask filter as above.",
            plan_str(js),
        ))

        d = distance_join(extract_geo_points(docs), query_points(spark, 100), bits=6)
        sections.append((
            "DWITHIN distance join (J4/P5)",
            "probe circles explode to cell cover, equi-join, haversine refine as a "
            "codegen'd filter — no UDF anywhere.",
            plan_str(d),
        ))

        dg = density_grid(extract_geo_points(docs), (-180.0, -85.0, 180.0, 85.0), 72, 34)
        sections.append((
            "Density grid (A9)",
            "floor-binned partial/final hash aggregation; map-side combine before "
            "the single shuffle.",
            plan_str(dg),
        ))

        # round 2: SQL-text surface through the spatial rewriter
        from geomesa_spark.plans.sql_rewrite import spatial_sql

        polys_path = os.path.join(td, "polys")
        polys.write.parquet(polys_path)
        spark.read.parquet(polys_path).createOrReplaceTempView("plans_polys")
        pts_tbl.createOrReplaceTempView("plans_pts")
        sq = spatial_sql(
            spark,
            """
            SELECT p.doc_id, q.poly_id FROM plans_pts p JOIN plans_polys q
              ON st_contains(q.wkt, st_point(p.lon, p.lat))
            """,
        )
        sections.append((
            "SQL-text spatial join through the rewriter (round 2)",
            "the same st_contains join condition that round 1 planned as a "
            "BroadcastNestedLoopJoin cartesian now plans as a cell-cover "
            "BroadcastHashJoin with the envelope conjuncts in the join "
            "condition and the st_contains kernel as a residual "
            "ArrowEvalPython filter over candidates only.",
            plan_str(sq),
        ))

        # round 3: layer×layer geometry join, Python API + SQL rewrite
        from geomesa_spark.operators.joins import spatial_join_geoms
        from geomesa_spark.tables import rect_layer

        layer_a_path = os.path.join(td, "layer_a")
        polys.withColumnRenamed("poly_id", "left_id").write.parquet(layer_a_path)
        layer_a = spark.read.parquet(layer_a_path)
        layer_b_path = os.path.join(td, "layer_b")
        rect_layer(spark, 300).withColumnRenamed("rect_id", "right_id").write.parquet(
            layer_b_path
        )
        layer_b = spark.read.parquet(layer_b_path)
        gg = spatial_join_geoms(layer_a, layer_b, bits=6)
        sections.append((
            "Geometry×geometry layer join (J2 general form, round 3)",
            "both sides explode their envelope cell cover (codegen sequence/"
            "explode), BroadcastHashJoin on cell with the reference-point "
            "dedup + envelope-overlap conjuncts as codegen'd filters (NO "
            "dropDuplicates shuffle) feeding the single MapInPandas "
            "batched-kernel refine — no per-pair Python, no nested-loop "
            "join, no extra exchange.",
            plan_str(gg),
        ))

        layer_a.createOrReplaceTempView("plans_layer_a")
        layer_b.createOrReplaceTempView("plans_layer_b")
        ggs = spatial_sql(
            spark,
            """
            SELECT a.left_id, b.right_id FROM plans_layer_a a JOIN plans_layer_b b
              ON st_intersects(a.wkt, b.wkt)
            """,
        )
        sections.append((
            "SQL-text layer×layer join through the rewriter (round 3)",
            "ON st_intersects(a.wkt, b.wkt) between two geometry columns "
            "rewrites to a both-sides cell-cover BroadcastHashJoin with a "
            "reference-point dedup conjunct (one row per pair, no DISTINCT) "
            "and the batched st_intersects kernel as the residual — the raw "
            "UDF condition would have planned a BroadcastNestedLoopJoin "
            "cartesian.",
            plan_str(ggs),
        ))

        # round 3 continuation: corpus-construction layer
        from geomesa_spark.operators.corpus import contamination, shard_assign

        docs_tbl_path = os.path.join(td, "docs_tbl")
        docs.selectExpr(
            "doc_id",
            "concat_ws(' ', transform(filter(spans, s -> s.kind = 'text'), s -> s.text)) AS text",
        ).write.parquet(docs_tbl_path)
        docs_tbl = spark.read.parquet(docs_tbl_path)
        sh = shard_assign(docs_tbl.select("doc_id", "text"), 8)
        sections.append((
            "Trainer shard assignment (corpus layer, round 3)",
            "rolling-hash shard + in-shard rank: ONE Exchange (the window's "
            "hashpartitioning on shard) and a codegen'd integer fold — the "
            "plan a partitioned training-shard write consumes with no "
            "further shuffle.",
            plan_str(sh),
        ))

        cont = contamination(
            docs_tbl.where(F.col("doc_id") % 97 != 0),
            docs_tbl.where(F.col("doc_id") % 97 == 0),
            n=3,
        )
        sections.append((
            "Benchmark contamination check (corpus layer, round 3)",
            "benchmark n-grams distinct then BroadcastHashJoin against the "
            "exploded corpus n-grams (codegen transform/slice, no Python); "
            "re-aggregation groups on the doc id — one shuffle total on the "
            "corpus side.",
            plan_str(cont),
        ))

        # relational plan features (TPC-H shapes over the sf0.001 tables)
        sf = "/root/testdata/sf0.001"
        if os.path.isdir(sf):
            import __spark_entry__ as entry

            sections.append((
                "EXISTS as left-semi hash join (tpch_q4)",
                "the correlated EXISTS probe plans as a left-semi join on "
                "the order key with the date conjunct in the condition — "
                "no subquery re-execution per row.",
                plan_str(entry.q_tpch_q4(spark, sf)),
            ))
            sections.append((
                "Scalar-subquery threshold + anti join (tpch_q22)",
                "the average-balance threshold evaluates once (scalar "
                "aggregate, broadcast), the NOT EXISTS plans as a left-anti "
                "join — lapsed-customer shape with two scans total.",
                plan_str(entry.q_tpch_q22(spark, sf)),
            ))
            sections.append((
                "OR-of-conjuncts predicate pushdown (tpch_q19)",
                "the three-branch brand/size/quantity disjunction reaches "
                "BOTH parquet scans as PushedFilters (Or(And(...))) — the "
                "scan prunes row groups before the join.",
                plan_str(entry.q_tpch_q19(spark, sf)),
            ))

        # round 4: kNN three-pass expanding search with lineage truncation
        from geomesa_spark.operators.knn import knn

        probes = query_points(spark, 50).drop("radius_m").limit(20)
        kd = knn(extract_geo_points(docs), probes, bits=6, ring_cells=2)
        sections.append((
            "kNN three-pass expanding search (J3, round 4)",
            "pass 1: probes explode a (2R+1)^2 ring, BroadcastHashJoin on "
            "cell, ONE q_id window shuffle carries rank AND the resolution "
            "stats (max-rank / k-th-distance window columns — no separate "
            "groupBy+join). Pass 2 re-runs the ring at 2R for unresolved "
            "probes; pass 3 is the exact crossJoin for probes still "
            "unresolved after 2R. Each pass's <= |probes|*k ranked rows are "
            "lazily PERSISTED (InMemoryTableScan below), so the point table "
            "is scanned at most ONCE PER PASS — without the shared "
            "materialization the nested anti-joins re-derived earlier passes "
            "per consumer (measured 14 parquet scans for this plan; 3 "
            "after). knn() stays plan-only (persist is lazy) and the cached "
            "pass blocks recompute on executor loss. Empty pending sides "
            "are pruned by AQE.",
            plan_str(kd),
        ))

        # round 5: zonal statistics (raster density x zone envelopes)
        from geomesa_spark.operators.tiles import web_mercator_tiles, zonal_stats
        from geomesa_spark.tables import rect_layer

        dens = density_grid(
            extract_geo_points(docs), (-180.0, -85.0, 180.0, 85.0), 72, 34
        )
        dens = dens.withColumn(
            "lon_c", -180.0 + (F.col("ix") + 0.5) * 5.0
        ).withColumn("lat_c", -85.0 + (F.col("iy") + 0.5) * 5.0)
        zones = rect_layer(spark, 500).select(
            "rect_id", "min_lon", "min_lat", "max_lon", "max_lat"
        )
        zs = zonal_stats(dens, zones, zone_id="rect_id", value_col="cnt")
        sections.append((
            "Zonal statistics (A9 raster→vector, round 5)",
            "the raster side reduces FIRST (map-side partial HashAggregate "
            "into the sparse density grid), then a BroadcastNestedLoopJoin "
            "against the broadcast zone envelopes and one final hash "
            "aggregate on zone_id — the big side never shuffles; only "
            "|zones| result rows move.",
            plan_str(zs),
        ))

        # round 5: web-mercator tiling — pure codegen agg, no join
        wt = (
            web_mercator_tiles(extract_geo_points(docs), zoom=6)
            .groupBy("zx", "zy", "quadkey")
            .agg(F.count("*").alias("n"))
        )
        sections.append((
            "Web-mercator XYZ tiles + quadkey (A9, round 5)",
            "floor/ln/tan tile math and the quadkey digit concat all sit "
            "inside ONE WholeStageCodegen span feeding a partial/final hash "
            "aggregate — zero UDFs, one shuffle of |tiles| rows.",
            plan_str(wt),
        ))

        # round 5: TF-IDF top-k — corpus-size as broadcast scalar
        from geomesa_spark.operators.text import tfidf_topk

        tfidf = tfidf_topk(docs.select(
            F.col("doc_id"),
            F.concat_ws(" ", F.transform(F.col("spans"), lambda s: s["text"])).alias("text"),
        ), k=3)
        sections.append((
            "TF-IDF top-k terms (round 5)",
            "tokenize/explode -> (doc,term) count -> term df riding the "
            "same term-hash partitioning -> join back on term -> per-doc "
            "top-k window. The corpus size joins in as a BROADCAST 1-row "
            "aggregate (no driver count(): the operator stays plan-only); "
            "score = tf*N/df is one exact integer division, no ln().",
            plan_str(tfidf),
        ))

        # round 5: PQ ADC search — codes-only scoring, literal codebooks
        from geomesa_spark.operators.ann import (
            pq_adc_topk, pq_codebooks_from_rows, pq_encode,
        )

        emb = spark.createDataFrame(
            [(i, [float((i * 13 + j * 5) % 17 - 8) for j in range(16)]) for i in range(200)],
            "vec_id long, embedding array<float>",
        )
        cbs = pq_codebooks_from_rows(emb, m=4, k=8)
        adc = pq_adc_topk(pq_encode(emb, cbs), emb.where("vec_id < 3"), cbs, k=5)
        sections.append((
            "PQ encode + ADC top-k (round 5)",
            "pq_encode is ONE projection (the m x k x d codebook is a "
            "nested array literal inside codegen — no join, no shuffle, "
            "nothing collected); ADC scores the corpus through its codes "
            "with a block-ordered lookup fold against broadcast probes; "
            "the only Exchange is the final q_id rank window.",
            plan_str(adc),
        ))

        # round 5: raster map algebra — full outer join on the cell key
        from geomesa_spark.operators.tiles import raster_algebra

        g1 = density_grid(extract_geo_points(docs).where("span_offset = 1"),
                          (-180.0, -85.0, 180.0, 85.0), 72, 34)
        g2 = density_grid(extract_geo_points(docs).where("span_offset = 4"),
                          (-180.0, -85.0, 180.0, 85.0), 72, 34)
        sections.append((
            "Raster map algebra (A9, round 5)",
            "both sparse grids reduce map-side first, then ONE full-outer "
            "SortMergeJoin on the (ix, iy) cell key; bucketed-by-cell "
            "rasters plan it Exchange-free.",
            plan_str(raster_algebra(g1, g2, op="add")),
        ))

    out = ["# PLANS — physical-plan evidence\n",
           "Generated by tools/dump_plans.py; re-run after operator changes.\n"]
    for title, why, plan in sections:
        out.append(f"\n## {title}\n\n{why}\n\n```\n{plan}```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
