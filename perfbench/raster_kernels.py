"""Raster/kernel jobs of the ``docs_to_regions`` workload: the
Python/Arrow kernel path.

Two job kinds, no joins and no catalog:
- ``udf``: the corpus's media points, snapped to the TIN gate lattice,
  go through ``udfs.transform_xy`` (the TIN model as a pandas UDF over
  Arrow batches) and are aggregated per integer bucket of the
  predicted x.  Check: equal to the driver ``TIN.predict`` on the same
  lattice points.
- ``warp``: ``raster.image_to_tiles`` + ``raster.warp_tiled`` warp a
  seed-patterned RGBA raster through an affine chain with hash-join
  source-tile pruning.  Check: the assembled tiles are byte-equal to
  ``kernels.warp.warp``.
"""

from __future__ import annotations

import json
import math
import time

import numpy as np

import harness

KINDS = ("udf", "warp")


def _lattice(pts):
    """Snap lon/lat onto the integer input lattice of the TIN gate
    model (plans.queries TIN_* constants: inside the model's hull)."""
    from pyspark.sql import functions as F
    from transformio_spark.plans import queries as q

    ix = F.floor(F.lit(q.TIN_XLO) + (F.col("lon") + F.lit(180.0)) * F.lit(q.TIN_SX))
    iy = F.floor(F.lit(q.TIN_YLO) + (F.col("lat") + F.lit(85.0)) * F.lit(q.TIN_SY))
    return pts.select(ix.cast("double").alias("ix"), iy.cast("double").alias("iy"))


def _lattice_np(lon, lat):
    """:func:`_lattice` on the driver, same operations in the same order."""
    from transformio_spark.plans import queries as q

    return (
        np.floor(q.TIN_XLO + (lon + 180.0) * q.TIN_SX),
        np.floor(q.TIN_YLO + (lat + 85.0) * q.TIN_SY),
    )


def _bucket_sums(px, py) -> dict:
    """Per floor(px) bucket: (count, sum floor(px*1e6), sum floor(py*1e6))
    over the in-hull predictions."""
    ok = ~(np.isnan(px) | np.isnan(py))
    px, py = px[ok], py[ok]
    b = np.floor(px).astype(np.int64)
    ex = np.floor(px * 1e6).astype(np.int64)
    ey = np.floor(py * 1e6).astype(np.int64)
    return {
        int(k): (int((b == k).sum()), int(ex[b == k].sum()), int(ey[b == k].sum()))
        for k in np.unique(b)
    }


def _image(size: int, phase: int) -> np.ndarray:
    """(size, size, 4) uint8 gradient + checker pattern shifted by the
    seed's phase."""
    y, x = np.mgrid[0:size, 0:size]
    xs = x + phase
    return np.stack(
        [
            (xs * 255 // (size + phase)).astype(np.uint8),
            (y * 255 // size).astype(np.uint8),
            (((xs // 32 + y // 32) % 2) * 255).astype(np.uint8),
            np.full((size, size), 255, np.uint8),
        ],
        axis=-1,
    )


class RasterJobs:
    """The udf and warp jobs over an existing docs corpus."""

    def setup(self, ctx, docs_dir: str, lon, lat) -> None:
        """References for both job kinds; ``lon``/``lat`` are the
        corpus's extracted media points."""
        from transformio_spark import kernels
        from transformio_spark.kernels import warp as kwarp
        from transformio_spark.plans import queries as q

        self.spark = spark = ctx.spark
        self.tracer = ctx.tracer
        self.tile = ctx.sizes["raster_tile"]
        self.docs_dir = docs_dir
        self.tin_json, _ = q.tin_gate_model()

        ix, iy = _lattice_np(lon, lat)
        self.n_points = len(ix)
        tin = kernels.from_json(json.loads(self.tin_json))
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            px, py = tin.predict(ix, iy)
            walls.append(time.perf_counter() - t0)
        self.tin_predict_s = harness.median(walls)
        self.ref_udf = _bucket_sums(px, py)

        size = ctx.sizes["raster"]
        self.im = _image(size, ctx.seed % 97)
        self.chain = kernels.Chain([
            kernels.Affine(A=[[0.9, 0, 5], [0, 1.1, -3], [0, 0, 1]]),
            kernels.Affine(rotate=math.radians(10)),
        ])
        self.chain_json = json.dumps(self.chain.to_json())
        t0 = time.perf_counter()
        self.ref_warp, self.warp_affine = kwarp.warp(self.im, self.chain)
        self.warp_s = time.perf_counter() - t0
        self.out_h, self.out_w = self.ref_warp.shape[:2]

    # -- jobs ----------------------------------------------------------------

    def _points(self):
        return _lattice(harness.points(self.spark, self.docs_dir))

    def _transformed(self):
        from pyspark.sql import functions as F
        from transformio_spark.operators import udfs

        return self._points().select(
            udfs.transform_xy(self.tin_json, F.col("ix"), F.col("iy")).alias("o")
        ).select(F.col("o.px").alias("px"), F.col("o.py").alias("py"))

    def _udf_job(self):
        from pyspark.sql import functions as F

        out = self._transformed().where(F.col("px").isNotNull() & F.col("py").isNotNull())
        return out.groupBy(F.floor("px").alias("b")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("px") * 1e6)).alias("ex"),
            F.sum(F.floor(F.col("py") * 1e6)).alias("ey"),
        ).collect()

    def _warp_df(self):
        from transformio_spark.operators import raster

        tile = self.tile
        with self.tracer.span("operators.raster.image_to_tiles"):
            tiles_df = raster.image_to_tiles(self.spark, self.im, tile=tile)
        with self.tracer.span("operators.raster.warp_tiled"):
            out, _ = raster.warp_tiled(
                self.spark, tiles_df, self.im.shape[1::-1], self.chain_json,
                self.warp_affine, (self.out_w, self.out_h),
                out_tile=tile, src_tile=tile,
            )
        return tiles_df, out

    def _warp_job(self):
        from transformio_spark.operators import raster

        _, out = self._warp_df()
        return raster.tiles_to_image(out.collect(), self.out_w, self.out_h)

    def job(self, kind):
        return self._udf_job if kind == "udf" else self._warp_job

    def verify(self, ctx, kind, res) -> None:
        if res is None:
            return
        if kind == "udf":
            got = {int(r["b"]): (int(r["n"]), int(r["ex"]), int(r["ey"])) for r in res}
            ctx.check(got == self.ref_udf, "transform_xy buckets != driver TIN.predict")
        else:
            ctx.check(np.array_equal(res, self.ref_warp), "warp_tiled tiles != kernels.warp")

    # -- traced run ------------------------------------------------------------

    def trace(self, ctx, seconds: float) -> tuple[float, float]:
        """Per-layer metrics of the udf and warp paths into ctx.layer;
        returns (traced, untraced) summed median job walls."""
        tr = ctx.tracer
        untraced = {"udf": [], "warp": []}
        traced = {"udf": [], "warp": []}
        udf_self, udf_tasks, warp_self = [], [], []
        pruning = None
        for _ in ctx.rounds(seconds):
            for kind in KINDS:
                # each job twice, untraced then traced, so warm-up drift
                # cannot masquerade as tracing overhead
                tr.enabled = False
                res, w = ctx.timed_job(self.job(kind))
                self.verify(ctx, kind, res)
                untraced[kind].append(w)
                tr.enabled = True

                def traced_job(kind=kind):
                    with tr.span(f"job.{kind}") as counts, ctx.job_group() as jg:
                        res = self.job(kind)()
                    counts.update(jg)
                    return res

                res, w = ctx.timed_job(traced_job)
                self.verify(ctx, kind, res)
                traced[kind].append(w)
            with tr.span("prefix.lattice"):
                t0 = time.perf_counter()
                harness.noop_write(self._points())
                base = time.perf_counter() - t0
            with tr.span("prefix.transform_xy") as counts, ctx.job_group() as jg:
                t0 = time.perf_counter()
                harness.noop_write(self._transformed())
                udf_self.append(time.perf_counter() - t0 - base)
            counts.update(jg)
            udf_tasks.append(jg["tasks"])
            tiles_df, out = self._warp_df()
            with tr.span("prefix.src_tiles"):
                t0 = time.perf_counter()
                harness.noop_write(tiles_df)
                base = time.perf_counter() - t0
            with tr.span("prefix.warp"):
                t0 = time.perf_counter()
                harness.noop_write(out)
                warp_self.append(time.perf_counter() - t0 - base)
            if pruning is None:
                with tr.span("probe.pruning"):
                    n_out, matched = harness.join_rows(ctx.spark, out)
                pruning = (matched or 0) / n_out
        L = ctx.layer
        L["operators.udfs.self_s"] = harness.median(udf_self)
        L["operators.udfs.tasks"] = harness.median(udf_tasks)
        L["operators.udfs.points_per_s"] = self.n_points / harness.median(untraced["udf"])
        L["operators.raster.image_to_tiles_s"] = harness.median(tr.durations("operators.raster.image_to_tiles"))
        L["operators.raster.warp_tiled_call_s"] = harness.median(tr.durations("operators.raster.warp_tiled"))
        L["operators.raster.warp.self_s"] = harness.median(warp_self)
        L["operators.raster.src_tiles_per_out_tile"] = pruning
        L["operators.raster.pixels_per_s"] = self.out_w * self.out_h / harness.median(untraced["warp"])
        L["kernels.transforms.tin_predict_s"] = self.tin_predict_s
        L["kernels.warp.warp_s"] = self.warp_s
        return (
            sum(harness.median(traced[k]) for k in KINDS),
            sum(harness.median(untraced[k]) for k in KINDS),
        )
