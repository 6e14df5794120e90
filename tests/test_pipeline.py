"""End-to-end pipeline tests on the deterministic fixture tables:
extraction, cell assignment, range-planner pruning, spatial join vs a
brute-force oracle, span-sequence invariant, kNN vs brute force, and
density tiling vs a pandas oracle.

Mirrors the reference's golden end-to-end store-query suites
(AccumuloDataStoreQueryTest pattern): exact ID-set assertions on small
fixtures.
"""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark import tables
from geomesa_spark.geom import haversine_m, parse_wkt, points_in_polygon
from geomesa_spark.operators import (
    density_grid,
    distance_join,
    extract_geo_points,
    knn,
    spatial_join_points_in_polys,
    with_z2_cell,
)
from geomesa_spark.plans import bbox_predicate, z2_range_predicate

N_DOCS = 3000
N_POLYS = 120


@pytest.fixture(scope="module")
def docs(spark):
    return tables.synthesize_documents(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def points(spark, docs):
    return with_z2_cell(extract_geo_points(docs)).cache()


@pytest.fixture(scope="module")
def polys(spark):
    return tables.poly_layers(spark, N_POLYS).cache()


def expected_points_pdf():
    """Independent recomputation of doc geo-points from the F1 spec."""
    rows = []
    for i in range(N_DOCS):
        n_spans = 1 + (i * 2654435761) % 7
        for j in (1, 4):
            if j < n_spans:
                rows.append(
                    (
                        f"doc-{i:012d}",
                        j,
                        -180 + ((i * 31 + j * 17) % 36000) / 100,
                        -85 + ((i * 53 + j * 29) % 17000) / 100,
                    )
                )
    return pd.DataFrame(rows, columns=["doc_id", "span_offset", "lon", "lat"])


class TestExtraction:
    def test_extracted_points_match_spec(self, points):
        got = points.select("doc_id", "span_offset", "lon", "lat").toPandas()
        want = expected_points_pdf()
        got = got.sort_values(["doc_id", "span_offset"]).reset_index(drop=True)
        want = want.sort_values(["doc_id", "span_offset"]).reset_index(drop=True)
        assert len(got) == len(want)
        assert (got["doc_id"] == want["doc_id"]).all()
        assert np.allclose(got["lon"], want["lon"], atol=0)
        assert np.allclose(got["lat"], want["lat"], atol=0)

    def test_span_invariant_untouched_by_extraction(self, spark, docs, points):
        """Joining extraction output back to docs preserves the exact
        span sequence (kind, text, media_ref, order-by-offset)."""
        before = docs.select("doc_id", "spans")
        after = (
            points.groupBy("doc_id")
            .count()
            .join(docs, "doc_id", "right")
            .select("doc_id", "spans")
        )
        diff = before.exceptAll(after)
        assert diff.count() == 0


class TestPlannerPruning:
    def test_z2_predicate_equals_exact_bbox_filter(self, points):
        bbox = (-30.0, -20.0, 40.0, 35.0)
        coarse = points.where(z2_range_predicate([bbox]))
        exact_after_coarse = coarse.where(bbox_predicate(bbox))
        exact_direct = points.where(bbox_predicate(bbox))
        assert exact_after_coarse.count() == exact_direct.count()
        # and the coarse filter actually prunes
        assert coarse.count() < points.count()


class TestSpatialJoin:
    def _oracle_pairs(self, points, polys, refine="auto"):
        pts = points.select("doc_id", "span_offset", "lon", "lat").toPandas()
        pls = polys.select("poly_id", "kind", "wkt", "min_lon", "min_lat", "max_lon", "max_lat").toPandas()
        pairs = set()
        for _, p in pls.iterrows():
            g = parse_wkt(p["wkt"])
            if refine == "never" or (refine == "auto" and p["kind"] == "bbox"):
                # the closed envelope columns (a hexagon's are wider than its WKT)
                x0, y0, x1, y1 = p["min_lon"], p["min_lat"], p["max_lon"], p["max_lat"]
                m = (
                    (pts.lon >= x0) & (pts.lon <= x1) & (pts.lat >= y0) & (pts.lat <= y1)
                ).to_numpy()
            else:
                m = points_in_polygon(pts.lon.to_numpy(), pts.lat.to_numpy(), g)
            for di, so in zip(pts.doc_id[m], pts.span_offset[m]):
                pairs.add((di, so, p["poly_id"]))
        return pairs

    def test_broadcast_join_matches_oracle(self, points, polys):
        got = (
            spatial_join_points_in_polys(points, polys, bits=6, broadcast=True)
            .select("doc_id", "span_offset", "poly_id")
            .toPandas()
        )
        got_pairs = set(map(tuple, got.itertuples(index=False)))
        want = self._oracle_pairs(points, polys)
        assert got_pairs == want
        assert len(want) > 0  # fixture actually produces matches

    def test_salted_shuffle_join_equals_broadcast(self, points, polys):
        a = (
            spatial_join_points_in_polys(points, polys, bits=6, broadcast=True)
            .select("doc_id", "span_offset", "poly_id")
            .toPandas()
        )
        b = (
            spatial_join_points_in_polys(
                points, polys, bits=6, broadcast=False, salt_buckets=4
            )
            .select("doc_id", "span_offset", "poly_id")
            .toPandas()
        )
        sa = set(map(tuple, a.itertuples(index=False)))
        sb = set(map(tuple, b.itertuples(index=False)))
        assert sa == sb

    def test_no_duplicate_pairs(self, points, polys):
        got = spatial_join_points_in_polys(points, polys, bits=6, broadcast=True).select(
            "doc_id", "span_offset", "poly_id"
        )
        assert got.count() == got.distinct().count()

    @pytest.mark.parametrize("refine", ["auto", "always", "never"])
    def test_refine_modes_broadcast_and_salted_match_oracle(self, spark, points, polys, refine):
        want = self._oracle_pairs(points, polys, refine)
        # without this, Catalyst broadcasts the small salted cover anyway
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            for kw in ({"broadcast": True}, {"broadcast": False, "salt_buckets": 4}):
                df = spatial_join_points_in_polys(points, polys, bits=6, refine=refine, **kw)
                got = df.select("doc_id", "span_offset", "poly_id").toPandas()
                assert set(map(tuple, got.itertuples(index=False))) == want, kw
                if not kw["broadcast"]:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
                    assert df.count() == len(got)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert len(want) > 0

    def test_refine_is_keep_mask_filter_not_map_in_pandas(self, spark, polys, points, tmp_path):
        # polygons from parquet: the fixture's WKT generator is itself a
        # MapInPandas, and this test is about the refine only
        polys.write.parquet(str(tmp_path / "polys"))
        layer = spark.read.parquet(str(tmp_path / "polys"))
        for refine in ("auto", "always"):
            df = spatial_join_points_in_polys(points, layer, bits=6, refine=refine, broadcast=True)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "MapInPandas" not in plan
            exact = r"\(kind#\d+ = bbox\)" if refine == "auto" else "false"
            assert re.search(
                rf"ArrowEvalPython \[_pip_keep\(lon#\d+, lat#\d+, wkt#\d+, {exact}\)#\d+\]", plan
            ), plan
            # count() prunes the join's unused columns below the refine
            counted = df.groupBy().count()
            cplan = counted._jdf.queryExecution().executedPlan().toString()
            assert "MapInPandas" not in cplan and "ArrowEvalPython" in cplan
            assert counted.collect()[0][0] == len(df.collect())

    def test_on_edge_boundary_contract(self, spark):
        """Pins the join's on-edge behaviour: the bbox kind takes the closed
        envelope under refine='auto'; every other kind, and every kind under
        'always', takes the half-open crossing rule (left and bottom edges
        in, right and top edges out)."""
        sq = "POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"
        layer = spark.createDataFrame(
            [(pid, kind, sq, 10.0, 10.0, 11.0, 11.0) for pid, kind in (("p-box", "bbox"), ("p-other", "convex"))],
            "poly_id string, kind string, wkt string, min_lon double, min_lat double, max_lon double, max_lat double",
        )
        named = {
            "center": (10.5, 10.5), "left": (10.0, 10.5), "bottom": (10.5, 10.0),
            "right": (11.0, 10.5), "top": (10.5, 11.0), "ll": (10.0, 10.0),
            "lr": (11.0, 10.0), "ul": (10.0, 11.0), "ur": (11.0, 11.0),
        }
        pts = spark.createDataFrame(
            [(k, 0, x, y) for k, (x, y) in named.items()],
            "doc_id string, span_offset int, lon double, lat double",
        )
        half_open = {"center", "left", "bottom", "ll"}

        def kept(refine):
            rows = spatial_join_points_in_polys(pts, layer, bits=6, refine=refine, broadcast=True).collect()
            return {p: {r.doc_id for r in rows if r.poly_id == p} for p in ("p-box", "p-other")}

        assert kept("auto") == {"p-box": set(named), "p-other": half_open}
        assert kept("always") == {"p-box": half_open, "p-other": half_open}
        assert kept("never") == {"p-box": set(named), "p-other": set(named)}


class TestDistanceJoinAndKnn:
    def test_distance_join_matches_bruteforce(self, spark, points):
        probes = tables.query_points(spark, 15)
        got = (
            distance_join(points, probes, bits=6)
            .select("q_id", "doc_id", "span_offset", "dist_m")
            .toPandas()
        )
        pts = points.select("doc_id", "span_offset", "lon", "lat").toPandas()
        prb = probes.toPandas()
        want = set()
        for _, q in prb.iterrows():
            d = haversine_m(pts.lon.to_numpy(), pts.lat.to_numpy(), q.lon, q.lat)
            for di, so in zip(pts.doc_id[d <= q.radius_m], pts.span_offset[d <= q.radius_m]):
                want.add((q.q_id, di, int(so)))
        got_set = set(zip(got.q_id, got.doc_id, got.span_offset.astype(int)))
        assert got_set == want

    def test_knn_matches_bruteforce(self, spark, points):
        probes = tables.query_points(spark, 10)
        got = knn(points, probes, bits=6).select("q_id", "doc_id", "span_offset", "dist_m", "rank").toPandas()
        pts = points.select("doc_id", "span_offset", "lon", "lat").toPandas()
        prb = probes.toPandas()
        for _, q in prb.iterrows():
            d = haversine_m(pts.lon.to_numpy(), pts.lat.to_numpy(), q.lon, q.lat)
            order = np.lexsort((pts.span_offset.to_numpy(), pts.doc_id.to_numpy(), d))
            want_ids = [
                (pts.doc_id.iloc[o], int(pts.span_offset.iloc[o])) for o in order[: q.k]
            ]
            g = got[got.q_id == q.q_id].sort_values("rank")
            got_ids = list(zip(g.doc_id, g.span_offset.astype(int)))
            assert got_ids == want_ids, q.q_id


class TestDensity:
    def test_density_grid_matches_pandas(self, points):
        bbox = (-180.0, -90.0, 180.0, 90.0)
        got = density_grid(points, bbox, 64, 32).toPandas().set_index(["ix", "iy"])
        pts = points.select("lon", "lat").toPandas()
        ix = np.floor((pts.lon + 180) / (360 / 64)).astype(int)
        iy = np.floor((pts.lat + 90) / (180 / 32)).astype(int)
        want = pd.DataFrame({"ix": ix, "iy": iy}).groupby(["ix", "iy"]).size()
        assert len(got) == len(want)
        assert (got["cnt"].sort_index() == want.sort_index()).all()
        assert got["cnt"].sum() == len(pts)

    def test_vectorize_density_regions(self, spark):
        """Raster→vector: an L-shaped blob, a separate blob, and a
        singleton cell must become three regions with exact envelopes."""
        from geomesa_spark.operators.tiles import vectorize_density

        def cell_pts(ix, iy, n):
            # n points inside 10-degree cell (ix, iy) of a 36x18 grid
            return [(f"d{ix}-{iy}-{k}", 0, -180.0 + ix * 10 + 5.0, -90.0 + iy * 10 + 5.0)
                    for k in range(n)]

        rows = (
            cell_pts(2, 2, 3) + cell_pts(3, 2, 3) + cell_pts(3, 3, 3)  # L blob
            + cell_pts(10, 10, 4) + cell_pts(11, 10, 2)               # pair blob
            + cell_pts(20, 5, 5)                                      # singleton
            + cell_pts(30, 8, 1)                                      # below threshold
        )
        pts = spark.createDataFrame(rows, "doc_id string, span_offset int, lon double, lat double")
        out = vectorize_density(pts, (-180.0, -90.0, 180.0, 90.0), 36, 18, min_weight=2.0)
        regions = {r["region_id"]: r for r in out.collect()}
        assert len(regions) == 3
        by_cells = sorted((r["n_cells"], r["cnt"]) for r in regions.values())
        assert by_cells == [(1, 5), (2, 6), (3, 9)]
        l_blob = next(r for r in regions.values() if r["n_cells"] == 3)
        assert (l_blob["x0"], l_blob["y0"], l_blob["x1"], l_blob["y1"]) == (
            -160.0, -70.0, -140.0, -50.0
        )
