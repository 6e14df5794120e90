"""The three workloads: inputs, timed operations and output checks.

Each workload generates its inputs from the seed in ``setup``, then the
runner calls ``round(r)`` until the run's time is up; every round is the
same list of operations, so each run attempts whole rounds. Operations
return what they produced; ``verify`` checks all of it against the
oracle after the timed window.

Only the engine's public functions are called: ``operators.extract``,
``operators.joins``, ``operators.tiles``, ``operators.knn``,
``plans.query`` and ``sources.catalog``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

import gen
import host
import oracle

TILE_SPEC = dict(prefix_bits=8, n_buckets=16, salt_buckets=4)
CELL_SHIFT = 2 * (31 - TILE_SPEC["prefix_bits"])
MIXED_KINDS = [1 / 3, 1 / 3, 1 / 3]  # bbox, convex, holed


def _ids_to_int(arr, skip: int) -> np.ndarray:
    """'doc-000000000042' -> 42 (the prefix is ``skip`` characters)."""
    return pc.cast(pc.utf8_slice_codeunits(arr, skip), "int64").to_numpy()


def pair_keys(doc, offset, poly, n_polys: int) -> np.ndarray:
    return (np.asarray(doc, np.int64) * 8 + np.asarray(offset, np.int64)) * n_polys + np.asarray(
        poly, np.int64
    )


class Workload:
    name = ""
    n_docs = 0
    doc_files = 16
    join_kwargs: dict = {"broadcast": True}
    spark_conf: dict = {}

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.rng = np.random.default_rng(seed)
        self.errors: list[str] = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def mark(self, what: str) -> None:
        """Log a set-up phase with the process age, to standard error."""
        print(f"perfbench: {host.process_age_s():7.2f}s {what}", file=sys.stderr, flush=True)

    def coords(self, rng, n):
        return gen.uniform_lattice(rng, n)

    def write_inputs(self, polys: gen.Polys) -> None:
        self.mark("session up")
        table, self.pts = gen.documents(self.rng, self.n_docs, self.coords)
        gen.write_parquet(table, self.path("docs"), self.doc_files)
        self.mark(f"inputs written: {self.n_docs} docs, {len(self.pts.lon)} points, {len(polys.ids)} polygons")
        gen.write_parquet(gen.poly_table(polys), self.path("polys"))
        self.polys = polys
        self.docs_df = self.spark.read.parquet(self.path("docs"))
        self.polys_df = self.spark.read.parquet(self.path("polys"))
        # a one-file slice of the same documents, the traced run's second
        # input size
        self.small_df = self.spark.read.parquet(os.path.join(self.path("docs"), "part-00000.parquet"))

    # -- oracle ----------------------------------------------------------
    def oracle_pairs(self):
        """PIP join over all points: (pair keys, point index, on-edge flag)."""
        if not hasattr(self, "_pairs"):
            p = self.pts
            pi, qi, edge = oracle.pip_pairs(oracle.PointIndex(p.lon, p.lat), p.lon, p.lat, self.polys)
            self._pairs = (pair_keys(p.doc[pi], p.offset[pi], qi, len(self.polys.ids)), pi, edge)
        return self._pairs

    def check_pip(self, what: str, got: np.ndarray, mask=None) -> None:
        """Engine pair keys against the oracle's pairs (restricted to
        ``mask``): strict pairs all present, nothing beyond strict + edge.
        Logs how many on-edge pairs the engine kept, by polygon kind."""
        keys, _, edge = self.oracle_pairs()
        if mask is not None:
            keys, edge = keys[mask], edge[mask]
        self.check_pairs(what, got, keys[~edge], keys[edge])
        on_edge = keys[edge]
        kept = np.isin(on_edge, got)
        box = self.polys.kind[on_edge % len(self.polys.ids)] == "bbox"
        self.mark(
            f"{what}: {int((~edge).sum())} strict pairs; on-edge pairs kept: "
            f"bbox kind {int(kept[box].sum())}/{int(box.sum())}, "
            f"other kinds {int(kept[~box].sum())}/{int((~box).sum())}"
        )

    def check_pairs(self, what: str, got: np.ndarray, strict, edge) -> None:
        res = oracle.compare_pairs(set(got.tolist()), set(strict.tolist()), set(edge.tolist()))
        if len(got) != len(set(got.tolist())):
            self.errors.append(f"{what}: duplicate pairs")
        if not res["ok"]:
            self.errors.append(f"{what}: pair set differs from oracle {res}")

    def pip_join(self, points, **kw):
        from geomesa_spark.operators.joins import spatial_join_points_in_polys

        return spatial_join_points_in_polys(points, self.polys_df, bits=6, **{"refine": "auto", **kw})

    def point_frame(self):
        """Cell-keyed points for the read-side probes of the traced run."""
        from geomesa_spark.operators.extract import extract_geo_points, with_z2_cell

        return with_z2_cell(extract_geo_points(self.docs_df))

    def rect_layer(self) -> gen.Polys:
        """Rectangle layer for the layer x layer join of the traced run."""
        rng = np.random.default_rng([self.seed, 7])
        return gen.polygons(rng, 2000, [1.0, 0.0, 0.0], size_range=(0.2, 3.0), giant_share=0.0, prefix="rect")

    def rects_frame(self, rects: gen.Polys):
        gen.write_parquet(gen.poly_table(rects, "right_id", with_kind=False), self.path("trace_rects"))
        return self.spark.read.parquet(self.path("trace_rects"))

    def pipeline(self, docs, path: str) -> dict:
        """The north-star batch pipeline; returns the tile manifest."""
        from geomesa_spark.operators.extract import extract_geo_points, with_z2_cell
        from geomesa_spark.operators.tiles import write_tiles

        pairs = self.pip_join(with_z2_cell(extract_geo_points(docs)), **self.join_kwargs)
        return write_tiles(pairs, path, cell_col="cell_z2", lineage={"job": "perfbench"}, **TILE_SPEC)


class Ingest(Workload):
    """Documents -> extract -> Z2 cell -> broadcast cover join with
    refine='auto' -> bucketed tile write + manifest, re-run on one input."""

    name = "ingest"
    n_docs = 600_000

    def setup(self) -> None:
        self.write_inputs(gen.polygons(self.rng, 2000, MIXED_KINDS))
        self.totals: list[int] = []
        # warm-up: two passes over the whole input, the first one cold
        # (the JIT keeps compiling for many passes after them; the
        # per-pass compile time is logged with each timed pass)
        for _ in range(2):
            self.pipeline(self.docs_df, self.path("tiles"))
            self.mark("warm-up pipeline done")

    def round(self, r: int):
        def op():
            self.manifest = self.pipeline(self.docs_df, self.path("tiles"))
            self.totals.append(self.manifest["total_rows"])

        return [("pipeline", op)]

    def verify(self) -> None:
        _, _, edge = self.oracle_pairs()
        lo, hi = int((~edge).sum()), len(edge)
        bad = [t for t in self.totals if not lo <= t <= hi]
        if bad:
            self.errors.append(f"pipeline total_rows {bad[:3]} outside oracle [{lo}, {hi}]")
        check_tile_table(self, self.path("tiles"), self.manifest)


def read_tile_table(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "span_offset", "lon", "lat", "poly_id", "cell_z2", "tile_prefix"]
    )


def check_tile_table(wl: Workload, path: str, manifest: dict) -> None:
    """The tile table against the oracle: pair set, Morton cell and
    parent tile, coordinates of every row, and the manifest's row count."""
    t = read_tile_table(path)
    doc = _ids_to_int(t["doc_id"], 4)
    off = t["span_offset"].to_numpy()
    poly = _ids_to_int(t["poly_id"], 5)
    wl.check_pip("tile table", pair_keys(doc, off, poly, len(wl.polys.ids)))
    lon, lat = t["lon"].to_numpy(), t["lat"].to_numpy()
    cell = t["cell_z2"].to_numpy()
    if not np.array_equal(cell, oracle.morton_z2(lon, lat)):
        wl.errors.append("tile table: cell_z2 differs from the oracle's Morton code")
    if not np.array_equal(t["tile_prefix"].to_numpy(), cell >> CELL_SHIFT):
        wl.errors.append("tile table: tile_prefix is not the parent cell")
    keys = wl.pts.key()
    row_keys = doc * 8 + off
    i = np.clip(np.searchsorted(keys, row_keys), 0, len(keys) - 1)
    if not (
        np.array_equal(keys[i], row_keys)
        and np.array_equal(wl.pts.lon[i], lon)
        and np.array_equal(wl.pts.lat[i], lat)
    ):
        wl.errors.append("tile table: lon/lat differ from the generated spans")
    spark_rows = wl.spark.read.parquet(path).count()
    if spark_rows != manifest["total_rows"] or t.num_rows != spark_rows:
        wl.errors.append(
            f"tile table: spark rows {spark_rows}, footer rows {t.num_rows}, "
            f"manifest total_rows {manifest['total_rows']}"
        )


class Query(Workload):
    """Interactive reads against a tile table and a cell-keyed point
    table, both written in set-up by the engine from the seed's input."""

    name = "query"
    n_docs = 200_000
    BBOX_DEG = (0.5, 2.0, 8.0)
    DENSITY_DEG, DENSITY_CELLS = 10.0, 32
    PROBES = 8

    def setup(self) -> None:
        from geomesa_spark.operators.extract import extract_geo_points, with_z2_cell
        from geomesa_spark.operators.tiles import write_tiles

        self.write_inputs(gen.polygons(self.rng, 2000, MIXED_KINDS))
        with_z2_cell(extract_geo_points(self.docs_df)).orderBy("cell_z2").write.parquet(
            self.path("points")
        )
        self.points_df = self.spark.read.parquet(self.path("points"))
        self.mark("point table written")
        write_tiles(
            self.pip_join(self.points_df, refine="never", **self.join_kwargs),
            self.path("tiles"), cell_col="cell_z2", lineage={"job": "perfbench"}, **TILE_SPEC,
        )
        self.mark("tile table written")
        self.outputs: list = []
        warm = {}
        for name, fn in self.round(-1):  # one of each operation; outputs checked too
            warm.setdefault(name, fn)
        for fn in warm.values():
            fn()
        self.mark("warm-up round done")

    def point_frame(self):
        return self.points_df

    def _box(self, rng, deg: float):
        i = int(rng.integers(0, len(self.pts.lon)))
        x0 = float(np.clip(self.pts.lon[i] - deg / 2, -180.0, 180.0 - deg))
        y0 = float(np.clip(self.pts.lat[i] - deg / 2, -85.0, 85.0 - deg))
        return (x0, y0, x0 + deg, y0 + deg)

    def _probes(self, rng):
        return gen.probes(rng, self.PROBES, self.pts)

    def round(self, r: int):
        from geomesa_spark.operators.joins import distance_join
        from geomesa_spark.operators.knn import knn
        from geomesa_spark.operators.tiles import read_tiles
        from geomesa_spark.plans.query import run_query

        rng = np.random.default_rng([self.seed, r + 1])
        boxes = [self._box(rng, d) for d in self.BBOX_DEG for _ in range(2)]
        dbox = self._box(rng, self.DENSITY_DEG)
        kprobes, dprobes = self._probes(rng), self._probes(rng)
        pts = self.points_df.select("doc_id", "span_offset", "lon", "lat")
        spark, out = self.spark, self.outputs

        def bbox_read(b):
            def op():
                x0, y0, x1, y1 = b
                rows = (
                    read_tiles(spark, self.path("tiles"), bbox=b)
                    .where(F.col("lon").between(x0, x1) & F.col("lat").between(y0, y1))
                    .select("doc_id", "span_offset", "poly_id")
                    .collect()
                )
                out.append(("bbox", b, rows))

            return op

        def ecql(b):
            def op():
                f = "BBOX(geom, %r, %r, %r, %r)" % b
                out.append(("ecql", b, run_query(self.points_df, f, z2_col="cell_z2").count()))

            return op

        def density():
            hints = {
                "density_bbox": dbox,
                "density_width": self.DENSITY_CELLS,
                "density_height": self.DENSITY_CELLS,
            }
            f = "BBOX(geom, %r, %r, %r, %r)" % dbox
            rows = run_query(self.points_df, f, hints=hints, z2_col="cell_z2").collect()
            out.append(("density", dbox, rows))

        def knn_batch():
            p = spark.createDataFrame(
                [(q, float(x), float(y), int(k)) for q, x, y, k in
                 zip(kprobes["q_id"], kprobes["lon"], kprobes["lat"], kprobes["k"])],
                "q_id string, lon double, lat double, k int",
            )
            rows = knn(pts, p).select("q_id", "doc_id", "span_offset", "dist_m").collect()
            out.append(("knn", kprobes, rows))

        def dwithin_batch():
            p = spark.createDataFrame(
                [(q, float(x), float(y), float(m)) for q, x, y, m in
                 zip(dprobes["q_id"], dprobes["lon"], dprobes["lat"], dprobes["radius_m"])],
                "q_id string, lon double, lat double, radius_m double",
            )
            rows = distance_join(pts, p).select("q_id", "doc_id", "span_offset").collect()
            out.append(("dwithin", dprobes, rows))

        ops = [("bbox_read", bbox_read(b)) for b in boxes]
        ops += [("ecql_count", ecql(boxes[2])), ("ecql_count", ecql(boxes[3]))]
        ops += [("density", density), ("knn_batch", knn_batch), ("dwithin_batch", dwithin_batch)]
        return ops

    def verify(self) -> None:
        p = self.pts
        # the tile table holds the envelope candidates (refine='never')
        pi, qi = oracle.envelope_candidates(oracle.PointIndex(p.lon, p.lat), self.polys.env)
        plon, plat = p.lon[pi], p.lat[pi]
        cand = pair_keys(p.doc[pi], p.offset[pi], qi, len(self.polys.ids))
        keys = p.key()
        reads = {}
        for kind, arg, res in self.outputs:
            if kind == "bbox":
                x0, y0, x1, y1 = arg
                inb = (plon >= x0) & (plon <= x1) & (plat >= y0) & (plat <= y1)
                got = pair_keys(
                    [int(r.doc_id[4:]) for r in res], [r.span_offset for r in res],
                    [int(r.poly_id[5:]) for r in res], len(self.polys.ids),
                )
                self.check_pairs(f"bbox read {arg}", got, cand[inb], cand[:0])
                reads[arg] = len({(r.doc_id, r.span_offset) for r in res})
            elif kind == "ecql":
                x0, y0, x1, y1 = arg
                want = int(((p.lon >= x0) & (p.lon <= x1) & (p.lat >= y0) & (p.lat <= y1)).sum())
                if res != want:
                    self.errors.append(f"ecql count {arg}: {res} != oracle {want}")
                if arg in reads and reads[arg] > res:
                    self.errors.append(f"ecql count {arg} below the bbox read's points")
            elif kind == "density":
                x0, y0, x1, y1 = arg
                want = oracle.density(p.lon, p.lat, arg, self.DENSITY_CELLS, self.DENSITY_CELLS)
                got = {(r.ix, r.iy): r.cnt for r in res}
                inside = int(((p.lon >= x0) & (p.lon < x1) & (p.lat >= y0) & (p.lat < y1)).sum())
                if got != want or sum(got.values()) != inside:
                    self.errors.append(f"density {arg}: cells differ from the oracle histogram")
            elif kind == "knn":
                by_q: dict = {}
                for r in res:
                    by_q.setdefault(r.q_id, []).append((int(r.doc_id[4:]) * 8 + r.span_offset, r.dist_m))
                for i, q in enumerate(arg["q_id"]):
                    probe = {k: arg[k][i] for k in arg}
                    err = oracle.check_knn(p.lon, p.lat, keys, probe, by_q.get(q, []))
                    if err:
                        self.errors.append("knn " + err)
            elif kind == "dwithin":
                by_q = {}
                for r in res:
                    by_q.setdefault(r.q_id, set()).add(int(r.doc_id[4:]) * 8 + r.span_offset)
                for i, q in enumerate(arg["q_id"]):
                    probe = {k: arg[k][i] for k in arg}
                    sure, band = oracle.radius_pairs(p.lon, p.lat, keys, probe)
                    got = by_q.get(q, set())
                    if not sure <= got or not got <= sure | band:
                        self.errors.append(f"dwithin {q}: pair set differs from oracle")


class SkewedJoin(Workload):
    """Clustered points joined to a mostly convex/holed polygon layer
    through the salted shuffle path, plus the polygon x rectangle
    layer join."""

    name = "skewed_join"
    n_docs = 300_000
    N_POLYS, N_RECTS, SALT, HOT = 4000, 3000, 8, 4
    join_kwargs = {"broadcast": False, "salt_buckets": SALT}
    # broadcast=False does not forbid a broadcast: without this, Catalyst
    # broadcasts the salted cover (~36 MB) and the shuffle path never runs
    spark_conf = {"spark.sql.autoBroadcastJoinThreshold": "-1"}

    def coords(self, rng, n):
        return gen.clustered_lattice(rng, n, self.centers, 0.7, 2.0)

    def setup(self) -> None:
        # one hot spot per 90-degree band of longitude, so clusters never merge
        self.centers = np.column_stack(
            [-165.0 + 90.0 * np.arange(self.HOT) + self.rng.uniform(0, 60, self.HOT),
             self.rng.uniform(-50, 50, self.HOT)]
        )
        self.write_inputs(
            gen.polygons(
                self.rng, self.N_POLYS, [0.1, 0.45, 0.45], size_range=(0.8, 1.4), giant_share=0.0,
                centers=lambda rng, n: gen.tiled_centers(rng, n, self.centers, 1.0, 6),
            )
        )
        self.rects = gen.polygons(
            self.rng, self.N_RECTS, [1.0, 0.0, 0.0], size_range=(0.2, 3.0), giant_share=0.0,
            prefix="rect", centers=lambda rng, n: gen.tiled_centers(rng, n, self.centers, 1.5, 4),
        )
        gen.write_parquet(gen.poly_table(self.rects, "right_id", with_kind=False), self.path("rects"))
        self.rects_df = self.spark.read.parquet(self.path("rects"))
        self.counts: list[tuple[str, int]] = []
        # warm-up: three salted joins over the whole input, the first one
        # cold, and a layer join; salted joins keep getting faster for
        # several rounds after these as the JIT compiles
        for _ in range(3):
            self.salted(self.docs_df).count()
        self.geom_join().count()
        self.mark("warm-up joins done")

    def salted(self, docs):
        from geomesa_spark.operators.extract import extract_geo_points

        return self.pip_join(extract_geo_points(docs), **self.join_kwargs)

    def rect_layer(self) -> gen.Polys:
        return self.rects

    def rects_frame(self, rects: gen.Polys):
        return self.rects_df

    def geom_join(self):
        from geomesa_spark.operators.joins import spatial_join_geoms

        left = self.polys_df.withColumnRenamed("poly_id", "left_id")
        return spatial_join_geoms(left, self.rects_df, bits=6)

    def round(self, r: int):
        def salted():
            self.counts.append(("salted", self.salted(self.docs_df).count()))

        def geom():
            self.counts.append(("geom", self.geom_join().count()))

        return [("salted_join", salted), ("salted_join", salted), ("geom_join", geom)]

    def verify(self) -> None:
        keys, _, edge = self.oracle_pairs()
        lo, hi = int((~edge).sum()), len(edge)
        t = self.salted(self.docs_df).select("doc_id", "span_offset", "poly_id").toArrow()
        got = pair_keys(
            _ids_to_int(t["doc_id"], 4), t["span_offset"].to_numpy(),
            _ids_to_int(t["poly_id"], 5), len(self.polys.ids),
        )
        self.check_pip("salted join", got)
        g = self.geom_join().select("left_id", "right_id").toArrow()
        li, ri = _ids_to_int(g["left_id"], 5), _ids_to_int(g["right_id"], 5)
        overlap = oracle.envelope_pairs(self.polys.env, self.rects.env)
        for name, n in self.counts:
            want = (lo, hi) if name == "salted" else None
            if want and not want[0] <= n <= want[1]:
                self.errors.append(f"salted join count {n} outside oracle [{lo}, {hi}]")
            if name == "geom" and n != len(li):
                self.errors.append(f"geom join count {n} != {len(li)} pairs read back")
        nr = len(self.rects.ids)
        pairs = set((li * nr + ri).tolist())
        if len(pairs) != len(li):
            self.errors.append("geom join: duplicate pairs")
        ok = oracle.envelopes_overlap(self.polys.env[li], self.rects.env[ri])
        if not ok.all():
            self.errors.append(f"geom join: {int((~ok).sum())} pairs without overlapping envelopes")
        ol, orr = overlap
        is_box = self.polys.kind[ol] == "bbox"
        box_want = set((ol[is_box] * nr + orr[is_box]).tolist())
        box_got = {k for k in pairs if self.polys.kind[k // nr] == "bbox"}
        if box_got != box_want:
            self.errors.append(
                f"geom join: bbox x rect pairs {len(box_got)} != envelope overlaps {len(box_want)}"
            )
        e, r = self.polys.env[ol], self.rects.env[orr]
        contained = (r[:, 0] <= e[:, 0]) & (r[:, 1] <= e[:, 1]) & (e[:, 2] <= r[:, 2]) & (e[:, 3] <= r[:, 3])
        missing = set((ol[contained] * nr + orr[contained]).tolist()) - pairs
        if missing:
            self.errors.append(f"geom join: {len(missing)} rectangle-contains-polygon pairs missing")


WORKLOADS = {w.name: w for w in (Ingest, Query, SkewedJoin)}
