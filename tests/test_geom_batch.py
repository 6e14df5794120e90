"""Property tests: geom.batch_predicate ≡ the scalar pair predicates.

The batched kernel must agree with geoms_intersect / geom_contains on
EVERY pair of a randomized geometry soup — rects (incl. exact-touching
lattice rects that exercise the collinear paths), convex polygons,
holed polygons, multipolygons, lines, points and multipoints. This is
the same property-test discipline that caught the Greiner–Hormann
orientation bug in round 2: goldens alone miss symmetric mistakes.
"""

import numpy as np
import pandas as pd
import pytest

from geomesa_spark.geom import (
    batch_predicate,
    geom_contains,
    geoms_intersect,
    parse_wkt,
    pip_pack,
    points_in_polygon,
    points_in_polygons,
    points_on_boundary,
)


def _rect(x0, y0, x1, y1):
    return f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


def _soup(rng: np.random.RandomState) -> list[str]:
    geoms: list[str] = []
    # lattice rects: exact shared edges / corner touches (collinear paths)
    for _ in range(8):
        x0, y0 = rng.randint(-5, 5), rng.randint(-5, 5)
        geoms.append(_rect(x0, y0, x0 + rng.randint(1, 4), y0 + rng.randint(1, 4)))
    # float rects
    for _ in range(6):
        x0, y0 = rng.uniform(-10, 8), rng.uniform(-10, 8)
        geoms.append(_rect(x0, y0, x0 + rng.uniform(0.5, 5), y0 + rng.uniform(0.5, 5)))
    # convex polygons (random hexagons)
    for _ in range(5):
        cx, cy, rr = rng.uniform(-8, 8), rng.uniform(-8, 8), rng.uniform(0.5, 4)
        ang = np.sort(rng.uniform(0, 2 * np.pi, 6))
        pts = ", ".join(
            f"{cx + rr * np.cos(a)} {cy + rr * np.sin(a)}" for a in ang
        )
        first = f"{cx + rr * np.cos(ang[0])} {cy + rr * np.sin(ang[0])}"
        geoms.append(f"POLYGON (({pts}, {first}))")
    # holed rects
    for _ in range(4):
        x0, y0 = rng.uniform(-9, 5), rng.uniform(-9, 5)
        w = rng.uniform(2, 5)
        q = w / 4
        geoms.append(
            f"POLYGON (({x0} {y0}, {x0+w} {y0}, {x0+w} {y0+w}, {x0} {y0+w}, {x0} {y0}), "
            f"({x0+q} {y0+q}, {x0+w-q} {y0+q}, {x0+w-q} {y0+w-q}, {x0+q} {y0+w-q}, {x0+q} {y0+q}))"
        )
    # multipolygons (two disjoint rects)
    for _ in range(3):
        x0, y0 = rng.uniform(-9, 2), rng.uniform(-9, 2)
        r1 = f"(({x0} {y0}, {x0+2} {y0}, {x0+2} {y0+2}, {x0} {y0+2}, {x0} {y0}))"
        r2 = f"(({x0+4} {y0}, {x0+6} {y0}, {x0+6} {y0+2}, {x0+4} {y0+2}, {x0+4} {y0}))"
        geoms.append(f"MULTIPOLYGON ({r1}, {r2})")
    # lines
    for _ in range(5):
        pts = ", ".join(
            f"{rng.uniform(-10, 10)} {rng.uniform(-10, 10)}" for _ in range(4)
        )
        geoms.append(f"LINESTRING ({pts})")
    # points / multipoints, some exactly on lattice corners
    for _ in range(4):
        geoms.append(f"POINT ({rng.randint(-5, 5)} {rng.randint(-5, 5)})")
    for _ in range(3):
        geoms.append(f"POINT ({rng.uniform(-10, 10)} {rng.uniform(-10, 10)})")
    for _ in range(2):
        pts = ", ".join(f"{rng.randint(-5, 5)} {rng.randint(-5, 5)}" for _ in range(3))
        geoms.append(f"MULTIPOINT ({pts})")
    return geoms


def _all_pairs(geoms):
    lws, rws = [], []
    for a in geoms:
        for b in geoms:
            lws.append(a)
            rws.append(b)
    return lws, rws


class TestBatchPredicateParity:
    def test_intersects_matches_scalar(self):
        for seed in (0, 1, 2, 3):
            rng = np.random.RandomState(seed)
            geoms = _soup(rng)
            lws, rws = _all_pairs(geoms)
            got = batch_predicate(lws, rws, "intersects")
            want = np.array(
                [geoms_intersect(parse_wkt(a), parse_wkt(b)) for a, b in zip(lws, rws)]
            )
            bad = np.flatnonzero(got != want)
            assert len(bad) == 0, (
                f"seed={seed}: {len(bad)} mismatches, first: "
                f"{lws[bad[0]]} vs {rws[bad[0]]} got={got[bad[0]]} want={want[bad[0]]}"
            )

    def test_contains_matches_scalar(self):
        for seed in (0, 1, 2):
            rng = np.random.RandomState(seed)
            geoms = _soup(rng)
            lws, rws = _all_pairs(geoms)
            got = batch_predicate(lws, rws, "contains")
            want = np.array(
                [geom_contains(parse_wkt(a), parse_wkt(b)) for a, b in zip(lws, rws)]
            )
            bad = np.flatnonzero(got != want)
            assert len(bad) == 0, (
                f"seed={seed}: {len(bad)} mismatches, first: "
                f"{lws[bad[0]]} contains {rws[bad[0]]} got={got[bad[0]]} want={want[bad[0]]}"
            )

    def test_symmetry_of_intersects(self):
        rng = np.random.RandomState(7)
        geoms = _soup(rng)
        lws, rws = _all_pairs(geoms)
        fwd = batch_predicate(lws, rws, "intersects")
        rev = batch_predicate(rws, lws, "intersects")
        assert (fwd == rev).all()

    def test_rect_rect_is_closed_bbox_overlap(self):
        """For axis-aligned rect pairs the kernel's verdict equals the
        CLOSED bbox-overlap test — the ANSI-expressible form the
        geom_join driver oracle relies on."""
        rng = np.random.RandomState(11)
        rects, boxes = [], []
        for _ in range(30):
            x0, y0 = rng.randint(-6, 6), rng.randint(-6, 6)
            x1, y1 = x0 + rng.randint(1, 5), y0 + rng.randint(1, 5)
            rects.append(_rect(x0, y0, x1, y1))
            boxes.append((x0, y0, x1, y1))
        lws, rws = _all_pairs(rects)
        got = batch_predicate(lws, rws, "intersects")
        k = 0
        for a in boxes:
            for b in boxes:
                want = a[0] <= b[2] and b[0] <= a[2] and a[1] <= b[3] and b[1] <= a[3]
                assert got[k] == want, (a, b)
                k += 1

    def test_rect_rect_contains_is_strict_inside(self):
        rng = np.random.RandomState(13)
        rects, boxes = [], []
        for _ in range(30):
            x0, y0 = rng.randint(-6, 6), rng.randint(-6, 6)
            x1, y1 = x0 + rng.randint(1, 6), y0 + rng.randint(1, 6)
            rects.append(_rect(x0, y0, x1, y1))
            boxes.append((x0, y0, x1, y1))
        lws, rws = _all_pairs(rects)
        got = batch_predicate(lws, rws, "contains")
        k = 0
        for a in boxes:
            for b in boxes:
                want = a[0] < b[0] and b[2] < a[2] and a[1] < b[1] and b[3] < a[3]
                assert got[k] == want, (a, b)
                k += 1

    def test_empty_and_cache_reuse(self):
        assert len(batch_predicate([], [], "intersects")) == 0
        cache: dict = {}
        a = [_rect(0, 0, 2, 2)] * 3
        b = [_rect(1, 1, 3, 3), _rect(5, 5, 6, 6), "POINT (1 1)"]
        r1 = batch_predicate(a, b, "intersects", cache)
        r2 = batch_predicate(a, b, "intersects", cache)
        assert (r1 == r2).all()
        assert list(r1) == [True, False, True]


class TestBatchCovers:
    def test_covers_matches_scalar(self):
        from geomesa_spark.geom import geom_covers

        for seed in (0, 5):
            rng = np.random.RandomState(seed)
            geoms = _soup(rng)
            lws, rws = _all_pairs(geoms)
            got = batch_predicate(lws, rws, "covers")
            want = np.array(
                [geom_covers(parse_wkt(a), parse_wkt(b)) for a, b in zip(lws, rws)]
            )
            bad = np.flatnonzero(got != want)
            assert len(bad) == 0, (
                f"seed={seed}: {len(bad)} mismatches, first: "
                f"{lws[bad[0]]} covers {rws[bad[0]]} got={got[bad[0]]} want={want[bad[0]]}"
            )

    def test_covers_boundary_inclusive(self):
        big = _rect(0, 0, 4, 4)
        # shares the left edge → covered (boundary allowed), not contained
        edge = _rect(0, 1, 2, 3)
        assert batch_predicate([big], [edge], "covers")[0]
        assert not batch_predicate([big], [edge], "contains")[0]


def _pip_polys(rng: np.random.RandomState) -> list[str]:
    """Lattice-aligned holed POLYGONs and MULTIPOLYGONs (one part holed),
    plus hexagons: every vertex and every horizontal edge sits on the
    0.25 lattice the test points are drawn from."""
    out = []
    for _ in range(6):
        x0, y0 = rng.randint(-8, 8) / 2, rng.randint(-8, 8) / 2
        w = rng.randint(2, 6) / 2
        q = w / 4
        out.append(
            f"POLYGON (({x0} {y0}, {x0+w} {y0}, {x0+w} {y0+w}, {x0} {y0+w}, {x0} {y0}), "
            f"({x0+q} {y0+q}, {x0+w-q} {y0+q}, {x0+w-q} {y0+w-q}, {x0+q} {y0+w-q}, {x0+q} {y0+q}))"
        )
    for _ in range(6):
        x0, y0 = rng.randint(-8, 8) / 2, rng.randint(-8, 8) / 2
        out.append(
            f"MULTIPOLYGON ((({x0} {y0}, {x0+1} {y0}, {x0+1} {y0+1}, {x0} {y0+1}, {x0} {y0})), "
            f"(({x0+1} {y0}, {x0+3} {y0}, {x0+3} {y0+2}, {x0+1} {y0}), "
            f"({x0+2} {y0+0.25}, {x0+2.5} {y0+0.25}, {x0+2.5} {y0+0.75}, {x0+2} {y0+0.25})))"
        )
    for _ in range(4):
        cx, cy = rng.randint(-8, 8) / 2, rng.randint(-8, 8) / 2
        out.append(
            f"POLYGON (({cx-1} {cy}, {cx-0.5} {cy-1}, {cx+0.5} {cy-1}, {cx+1} {cy}, "
            f"{cx+0.5} {cy+1}, {cx-0.5} {cy+1}, {cx-1} {cy}))"
        )
    return out


class TestBatchedPip:
    """geom.points_in_polygons (the join refine kernel) ≡ points_in_polygon
    row by row, on-edge points included."""

    def test_matches_points_in_polygon_bit_for_bit(self, monkeypatch):
        import geomesa_spark.geom as G

        for seed in (0, 3):
            rng = np.random.RandomState(seed)
            wkts = _pip_polys(rng)
            geoms = [parse_wkt(w) for w in wkts]
            n = 6000
            codes = rng.randint(-1, len(wkts), n)  # -1: no polygon
            # points on the 0.25 lattice around each polygon's envelope:
            # many lie exactly on edges, vertices and horizontal edges
            bb = np.array([geoms[c].bbox for c in np.maximum(codes, 0)])
            px = np.floor(rng.uniform(bb[:, 0] - 0.5, bb[:, 2] + 0.75) * 4) / 4
            py = np.floor(rng.uniform(bb[:, 1] - 0.5, bb[:, 3] + 0.75) * 4) / 4
            want = np.array([
                c >= 0 and bool(points_in_polygon(px[i:i + 1], py[i:i + 1], geoms[c])[0])
                for i, c in enumerate(codes)
            ])
            packed = [pip_pack(g) for g in geoms]
            got = points_in_polygons(px, py, codes, packed)
            assert got.dtype == bool and (got == want).all()
            assert 0 < want.sum() < (codes >= 0).sum()
            # chunking over rows changes nothing
            monkeypatch.setattr(G, "_PIP_PAIRS_PER_PASS", 64)
            assert (points_in_polygons(px, py, codes, packed) == want).all()
            monkeypatch.undo()
            # the inputs do exercise the boundary: lattice points on an edge
            on_edge = np.array([
                c >= 0 and bool(points_on_boundary(px[i:i + 1], py[i:i + 1], geoms[c])[0])
                for i, c in enumerate(codes)
            ])
            assert on_edge.sum() > 100
            assert 0 < (want & on_edge).sum() < on_edge.sum()

    def test_horizontal_edges_and_vertices(self):
        sq = parse_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0), (0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))")
        px = np.array([0.0, 1.0, 2.0, 1.0, 0.0, 2.0, 1.0, 0.5, 1.5, 1.0, 0.25])
        py = np.array([0.0, 0.0, 0.0, 2.0, 2.0, 2.0, 0.5, 0.5, 1.5, 1.0, 1.0])
        codes = np.zeros(len(px), dtype=np.int64)
        got = points_in_polygons(px, py, codes, [pip_pack(sq)])
        assert got.tolist() == points_in_polygon(px, py, sq).tolist()

    def test_empty_inputs(self):
        sq = pip_pack(parse_wkt(_rect(0, 0, 1, 1)))
        assert points_in_polygons([], [], [], [sq]).tolist() == []
        assert points_in_polygons([0.5], [0.5], [-1], [sq]).tolist() == [False]
        assert points_in_polygons([0.5], [0.5], [-1], []).tolist() == [False]

    def test_non_polygon_raises_like_points_in_polygon(self):
        line = parse_wkt("LINESTRING (0 0, 1 1)")
        with pytest.raises(ValueError, match="not a polygon"):
            points_in_polygon(np.array([0.5]), np.array([0.5]), line)
        with pytest.raises(ValueError, match="not a polygon"):
            pip_pack(line)


class TestPipKeepMask:
    """The batch function behind refine_pip's pip_mask UDF."""

    def test_null_wkt_not_kept_and_exact_rows_kept(self):
        from geomesa_spark.operators.joins import _pip_keep

        sq = _rect(0, 0, 1, 1)
        keep = _pip_keep(
            pd.Series([0.5, 0.5, 0.5, 5.0, 5.0, 0.5]),
            pd.Series([0.5, 0.5, 0.5, 5.0, 5.0, 0.5]),
            pd.Series([sq, None, None, sq, sq, sq], dtype=object),
            pd.Series([False, False, True, False, True, None], dtype=object),
        )
        # in, NULL wkt, exact with NULL wkt, outside, exact outside, NULL exact
        assert keep.tolist() == [True, False, True, False, True, True]

    def test_non_polygon_wkt_raises(self):
        from geomesa_spark.operators.joins import _pip_keep

        with pytest.raises(ValueError, match="not a polygon"):
            _pip_keep(
                pd.Series([0.5]), pd.Series([0.5]),
                pd.Series(["LINESTRING (0 0, 1 1)"]), pd.Series([False]),
            )
