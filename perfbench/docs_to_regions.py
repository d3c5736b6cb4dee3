"""Workload ``docs_to_regions``: the read path.

A join job reads the stored docs corpus, extracts media coordinates
(parsing ``media_ref``), adds the zoom-10 tile id, runs one spatial
join kind (broadcast box containment, salted tiled containment,
point-in-polygon, kNN) and counts per region.  Checks: the ``bcast``
and ``salted`` per-region counts and tile sums equal a numpy count
over the point table; ``polygon`` equals a numpy even-odd ray cast;
``knn`` per-centre counts and tile sums equal a numpy haversine
argmin.  Each rotation also runs the kernel-path jobs of
raster_kernels.py (TIN pandas UDF over the same corpus, tiled raster
warp).
"""

from __future__ import annotations

import time

import numpy as np

import harness
import raster_kernels
from transformio_spark.sources import synthspec

KINDS = ("bcast", "salted", "polygon", "knn")
# rotations run before timing, so no timed job pays the JVM's first-run
# compilation of the planner and generated code: the first rotation
# takes about 2x a warm one, the second still about 1.2x (a third would
# not fit the time a comparison's runs are given)
WARMUP_ROUNDS = 2


def _grid_key(df):
    """Coarse 5x5 region-grid cell of a point (integer e5 lattice)."""
    from pyspark.sql import functions as F

    lon_e5 = F.round(F.col("lon") * 100000.0, 0).cast("long")
    lat_e5 = F.round(F.col("lat") * 100000.0, 0).cast("long")
    return (
        F.floor((lat_e5 + 8_500_000) / 3_400_000) * 5
        + F.floor((lon_e5 + 18_000_000) / 7_200_000)
    ).cast("long")


def _box_key(df):
    from pyspark.sql import functions as F

    return (
        F.floor((F.col("lat_min") + 85.0) / 34.0) * 5
        + F.floor((F.col("lon_min") + 180.0) / 72.0)
    ).cast("long")


def _region_key(df):
    from pyspark.sql import functions as F

    return F.col("region_id").cast("long")


def _numpy_reference(lon, lat):
    """Per-region (count, tile sum) for boxes and polygons, and
    per-centre (count, tile sum) for kNN, computed on the driver from
    the point table with the engine's integer lattice conventions and
    its haversine formulation."""
    from transformio_spark.functions.geo import EARTH_RADIUS_KM

    e5x = np.round(lon * 1e5).astype(np.int64)
    e5y = np.round(lat * 1e5).astype(np.int64)
    region = ((e5y + 8_500_000) // 3_400_000) * 5 + (e5x + 18_000_000) // 7_200_000
    n = 1 << harness.TILE_ZOOM
    e4x = np.round(lon * 1e4).astype(np.int64)
    e4y = np.round(lat * 1e4).astype(np.int64)
    tx = np.floor((e4x + 1_800_000) * n / 3_600_000.0).astype(np.int64)
    ty = np.floor((e4y + 850_000) * n / 1_700_000.0).astype(np.int64)
    tile = ty * n + tx

    def per_key(key, mask):
        return {
            int(r): (int((key[mask] == r).sum()), int(tile[mask][key[mask] == r].sum()))
            for r in np.unique(key[mask])
        }

    # even-odd ray cast against the concave polygon inside each box
    x0 = -18_000_000 + (region % 5) * 7_200_000
    y0 = -8_500_000 + (region // 5) * 3_400_000
    ring = synthspec.POLYGON_OFFSETS
    crossings = np.zeros(len(lon), dtype=np.int64)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        x1, y1 = x0 + ax * 100_000, y0 + ay * 100_000
        x2, y2 = x0 + bx * 100_000, y0 + by * 100_000
        straddle = (y1 > e5y) != (y2 > e5y)
        t = (x2 - x1) * (e5y - y1) - (e5x - x1) * (y2 - y1)
        cross = straddle & (((y2 > y1) & (t > 0)) | ((y2 < y1) & (t < 0)))
        crossings += cross
    inside = crossings % 2 == 1

    # nearest centre; argmin keeps the lowest centre id on a tie, as the
    # engine's array_sort over (dist, center_id) does
    rlon, rlat = np.radians(lon), np.radians(lat)
    dist = np.empty((len(synthspec.CITIES), len(lon)))
    for i, (clon, clat) in enumerate(synthspec.CITIES):
        rclon, rclat = np.radians(clon), np.radians(clat)
        a = (
            np.power(np.sin((rclat - rlat) / 2), 2)
            + np.cos(rlat) * np.cos(rclat) * np.power(np.sin((rclon - rlon) / 2), 2)
        )
        dist[i] = 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))
    nearest = np.argmin(dist, axis=0)
    everywhere = np.ones(len(lon), bool)
    return per_key(region, everywhere), per_key(region, inside), per_key(nearest, everywhere)


class Workload:
    name = "docs_to_regions"

    def setup(self, ctx) -> None:
        from transformio_spark.sources import synth

        self.spark = spark = ctx.spark
        self.sf_dir, self.docs_dir = harness.write_corpus(ctx)
        self.boxes = synth.region_boxes(spark, self.sf_dir)
        self.polys = synth.region_polygons(spark, self.sf_dir)
        self.centers = synth.knn_centers(spark)
        lon, lat = harness.points_table(spark, self.docs_dir)
        self.n_points = len(lon)
        self.ref_boxes, self.ref_polys, self.ref_knn = _numpy_reference(lon, lat)
        self.raster = raster_kernels.RasterJobs()
        self.raster.setup(ctx, self.docs_dir, lon, lat)
        for _ in range(WARMUP_ROUNDS):
            for kind in KINDS:
                self._job(kind)()
            for kind in raster_kernels.KINDS:
                self.raster.job(kind)()

    # -- pipeline stages -----------------------------------------------------

    def _scan(self):
        return self.spark.read.parquet(self.docs_dir)

    def _points(self):
        return harness.points(self.spark, self.docs_dir)

    def _tiled(self):
        return harness.tiled(self.spark, self.docs_dir)

    def _join(self, kind, pts):
        from transformio_spark.operators import spatial_join as sj

        if kind == "bcast":
            return sj.broadcast_contains_join(
                pts, self.boxes, point_key=_grid_key, box_key=_box_key
            )
        if kind == "salted":
            return sj.tiled_contains_join(pts, self.boxes, zoom=4, n_salt=8)
        if kind == "polygon":
            return sj.point_in_polygon_join(
                pts, self.polys, point_key=_grid_key, poly_key=_region_key
            )
        return sj.knn_join(pts, self.centers, k=1)

    def _count(self, kind, joined):
        from pyspark.sql import functions as F

        key = "center_id" if kind == "knn" else "region_id"
        return joined.groupBy(key).agg(
            F.count(F.lit(1)).alias("n"), F.sum(harness.TILE_COL).alias("tiles")
        )

    def _job(self, kind):
        def run():
            joined = self._join(kind, self._tiled())
            return self._count(kind, joined).collect()

        return run

    # -- checks --------------------------------------------------------------

    def _verify(self, ctx, kind, rows) -> None:
        if rows is None:
            return
        got = {int(r[0]): (int(r["n"]), int(r["tiles"])) for r in rows}
        if kind in ("bcast", "salted"):
            ctx.check(got == self.ref_boxes, f"{kind} per-region counts != numpy")
        elif kind == "polygon":
            ctx.check(got == self.ref_polys, "polygon per-region counts != numpy")
        else:
            ctx.check(got == self.ref_knn, "knn per-centre counts != numpy haversine argmin")

    # -- runs ----------------------------------------------------------------

    def measure(self, ctx, seconds: float) -> None:
        """The six job kinds in a fixed cycle (four joins, udf, warp)
        until ``seconds`` have passed and every kind ran at least once;
        the run stops after any job, so it overshoots by one job, not
        one rotation.  Every metric is built from each kind's median
        wall, so a kind that ran once more than another weighs no more:
        docs_per_s is the docs of one pass of the five corpus-reading
        kinds (4 joins + udf) over the sum of their median walls;
        job_p50_s is the mean of the middle four of the six kind
        medians (the median of six is the mean of the middle two) and
        job_tail_s the mean of the slowest three.  The kinds' walls
        form separate clusters, and a median or 90th percentile pooled
        over the 6-12 jobs of a run jumps between them, as does a
        statistic that rests on one or two kinds."""
        kinds = KINDS + raster_kernels.KINDS
        walls = {kind: [] for kind in kinds}
        t_end = time.perf_counter() + seconds
        i = 0
        while i < len(kinds) or time.perf_counter() < t_end:
            kind = kinds[i % len(kinds)]
            if kind == kinds[0]:
                ctx.canary.append(harness.canary_s())
            if kind in KINDS:
                rows, w = ctx.timed_job(self._job(kind))
                self._verify(ctx, kind, rows)
            else:
                res, w = ctx.timed_job(self.raster.job(kind))
                self.raster.verify(ctx, kind, res)
            walls[kind].append(w)
            i += 1
        kind_p50 = {kind: harness.median(w) for kind, w in walls.items()}
        print("# kind median walls: " + " ".join(
            f"{k}={v:.3f}({len(walls[k])})" for k, v in kind_p50.items()), flush=True)
        reading = KINDS + ("udf",)
        ctx.e2e["docs_per_s"] = ctx.sizes["docs"] * len(reading) / sum(kind_p50[k] for k in reading)
        ranked = sorted(kind_p50.values())
        middle, slowest = ranked[1:-1], ranked[len(ranked) // 2:]
        ctx.e2e["job_p50_s"] = sum(middle) / len(middle)
        ctx.e2e["job_tail_s"] = sum(slowest) / len(slowest)

    def trace(self, ctx, seconds: float) -> None:
        """Half the time on the join path, half on the kernel path."""
        t, u = self._trace_joins(ctx, seconds / 2)
        rt, ru = self.raster.trace(ctx, seconds / 2)
        ctx.layer["trace.overhead_frac"] = (t + rt) / (u + ru) - 1.0

    def _trace_joins(self, ctx, seconds: float) -> tuple[float, float]:
        tr = ctx.tracer
        steps = {"scan": [], "extract": [], "tile": []}
        join_self = {k: [] for k in KINDS}
        plan_s = {k: [] for k in KINDS}
        tasks = {k: [] for k in KINDS}
        traced = {k: [] for k in KINDS}
        untraced = {k: [] for k in KINDS}
        refine = {}
        first = True
        for _ in ctx.rounds(seconds):
            prefix = {}
            for step, build in (("scan", self._scan), ("extract", self._points), ("tile", self._tiled)):
                with tr.span(f"prefix.{step}") as counts, ctx.job_group() as jg:
                    t0 = time.perf_counter()
                    harness.noop_write(build())
                    prefix[step] = time.perf_counter() - t0
                counts.update(jg)
            steps["scan"].append(prefix["scan"])
            steps["extract"].append(prefix["extract"] - prefix["scan"])
            steps["tile"].append(prefix["tile"] - prefix["extract"])
            for kind in KINDS:
                with tr.span(f"prefix.join.{kind}"):
                    t0 = time.perf_counter()
                    harness.noop_write(self._join(kind, self._tiled()))
                    join_self[kind].append(time.perf_counter() - t0 - prefix["tile"])
                rows, w = ctx.timed_job(self._job(kind))
                self._verify(ctx, kind, rows)
                untraced[kind].append(w)

                def traced_job(kind=kind):
                    with tr.span(f"job.{kind}"):
                        with tr.span(f"operators.spatial_join.{kind}.call"):
                            joined = self._join(kind, self._tiled())
                        with tr.span("action") as counts, ctx.job_group() as jg:
                            rows = self._count(kind, joined).collect()
                        counts.update(jg)
                    return rows

                rows, w = ctx.timed_job(traced_job)
                self._verify(ctx, kind, rows)
                traced[kind].append(w)
                plan_s[kind].append(tr.durations(f"operators.spatial_join.{kind}.call")[-1])
                tasks[kind].append(tr.named("action")[-1]["counts"].get("tasks", 0))
                if first:
                    with tr.span(f"probe.refine.{kind}"):
                        rows_out, cand = harness.join_rows(ctx.spark, self._join(kind, self._tiled()))
                    if cand is None:  # inline kNN: every (point, centre) pair is evaluated
                        cand = self.n_points * len(synthspec.CITIES)
                    refine[kind] = rows_out / cand if cand else 0.0
            first = False
        L = ctx.layer
        L["sources.scan.self_s"] = harness.median(steps["scan"])
        L["operators.extract.self_s"] = harness.median(steps["extract"])
        L["functions.tiles.self_s"] = harness.median(steps["tile"])
        L["operators.extract.points_per_doc"] = self.n_points / ctx.sizes["docs"]
        for kind in KINDS:
            p = f"operators.spatial_join.{kind}"
            L[f"{p}.self_s"] = harness.median(join_self[kind])
            L[f"{p}.refine_yield"] = refine[kind]
            L[f"{p}.tasks"] = harness.median(tasks[kind])
            L[f"{p}.plan_s"] = harness.median(plan_s[kind])
        return (
            sum(harness.median(traced[k]) for k in KINDS),
            sum(harness.median(untraced[k]) for k in KINDS),
        )
