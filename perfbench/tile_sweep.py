"""Workload ``tile_sweep``: the checkpoint write and resume path.

``TileSweepPipeline.run_stage`` sweeps the corpus's media points,
keyed by zoom-10 tile id, in tile-range units; the stage computes
per-tile aggregates.  Each round sweeps once uninterrupted, then
sweeps again with an injected kill halfway and resumes under the same
run id, and reads both outputs back through the catalog.  Check: both
outputs equal a single ``groupBy`` over the same source.  Every sweep
gets a fresh catalog/lineage root, removed afterwards, so the lineage
scan on resume never grows run over run.
"""

from __future__ import annotations

import os
import shutil
import time

import harness

N_UNITS = 8
FAIL_AFTER = 4
STAGE = "tileagg"
# set-up sweeps of both kinds over fewer units first (the JVM's cold
# first pass is the slowest), then at full size: with only the short
# sweeps, a second timed round still ran about 20 % faster than the first
WARMUP_UNITS = 4


def _stage(df):
    from pyspark.sql import functions as F

    return df.groupBy(harness.TILE_COL).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("lon") * 10000.0, 0).cast("long")).alias("lon_e4"),
        F.sum(F.round(F.col("lat") * 10000.0, 0).cast("long")).alias("lat_e4"),
        F.min("doc_num").alias("first_doc"),
    )


def _checksum(df) -> tuple:
    """Order-independent digest of a per-tile table: (rows, sum of row
    hashes, sum of counts)."""
    from pyspark.sql import functions as F

    cols = [harness.TILE_COL, "n", "lon_e4", "lat_e4", "first_doc"]
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.sum("n").alias("points"),
    ).collect()[0]
    return (int(r["rows"]), int(r["h"] or 0), int(r["points"] or 0))


class _Catalog:
    """Wraps the pipeline's catalog: times each snapshot commit as one
    user-visible job and records its span.  When tracing, every other
    commit also counts its Spark jobs/tasks, so counted and uncounted
    units of the same sweep give the tracing overhead.  ``writes``
    collects (wall, counted) per commit."""

    def __init__(self, inner, ctx, writes: list):
        self._inner, self._ctx, self._writes = inner, ctx, writes

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def write(self, df, name, mode="overwrite"):
        ctx = self._ctx
        counted = ctx.trace and len(self._writes) % 2 == 0
        with ctx.tracer.span("sources.catalog.write") as counts:
            if counted:
                with ctx.job_group() as jg:
                    out, wall = self._timed(df, name, mode)
                counts.update(jg)
            else:
                out, wall = self._timed(df, name, mode)
        self._writes.append((wall, counted))
        return out

    def _timed(self, df, name, mode):
        t0 = time.perf_counter()
        out = self._inner.write(df, name, mode=mode)
        wall = time.perf_counter() - t0
        self._ctx.jobs.append(wall)
        self._ctx.attempted += 1
        return out, wall


class _Lineage:
    """Wraps the lineage log to mark unit boundaries (each unit ends
    with its lineage record) and time the resume index read."""

    def __init__(self, inner, ctx, marks: list):
        self._inner, self._ctx, self._marks = inner, ctx, marks

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def record(self, **row):
        with self._ctx.tracer.span("plans.pipeline.lineage.record"):
            self._inner.record(**row)
        self._marks.append(time.perf_counter())

    def completed_units(self, spark, run_id, stage):
        with self._ctx.tracer.span("plans.pipeline.lineage.completed_units"):
            done = self._inner.completed_units(spark, run_id, stage)
        self._marks.append(time.perf_counter())
        return done


class Workload:
    name = "tile_sweep"

    def setup(self, ctx) -> None:
        from transformio_spark.plans.pipeline import TileSweepPipeline

        self.spark = ctx.spark
        _, self.docs_dir = harness.write_corpus(ctx)
        self.units = TileSweepPipeline.tile_ranges(zoom=harness.TILE_ZOOM, n_units=N_UNITS)
        self.reference = _checksum(_stage(self._source()))
        self.iteration = 0
        warm = TileSweepPipeline.tile_ranges(zoom=harness.TILE_ZOOM, n_units=WARMUP_UNITS)
        self._uninterrupted(ctx, warm)
        self._killed_resumed(ctx, warm, fail_after=WARMUP_UNITS // 2)
        self._uninterrupted(ctx, self.units)
        self._killed_resumed(ctx, self.units, FAIL_AFTER)

    def _scan(self):
        return self.spark.read.parquet(self.docs_dir)

    def _points(self):
        return harness.points(self.spark, self.docs_dir)

    def _source(self):
        return harness.tiled(self.spark, self.docs_dir)

    def _pipeline(self, ctx, root, run_id, stats):
        from transformio_spark.plans.pipeline import TileSweepPipeline

        pipe = TileSweepPipeline(self.spark, root, run_id=run_id)
        pipe.catalog = _Catalog(pipe.catalog, ctx, stats["writes"])
        pipe.lineage = _Lineage(pipe.lineage, ctx, stats["marks"])
        return pipe

    def _sweep(self, ctx, pipe, stats, units, fail_after=None):
        """One run_stage call; returns (table, wall, [(unit wall,
        counted)]).  A unit ends with its lineage record."""
        stats["marks"].clear()
        n0 = len(stats["writes"])
        t0 = time.perf_counter()
        table = None
        with ctx.tracer.span("plans.pipeline.run_stage"):
            try:
                table = pipe.run_stage(
                    STAGE, self._source(), harness.TILE_COL, units, _stage,
                    fail_after=fail_after,
                )
            except RuntimeError as exc:
                if fail_after is None or "injected failure" not in str(exc):
                    raise
        wall = time.perf_counter() - t0
        marks = stats["marks"]
        counted = [c for _, c in stats["writes"][n0:]]
        return table, wall, [(b - a, c) for a, b, c in zip(marks, marks[1:], counted)]

    def _read_back(self, ctx, pipe, table):
        def job():
            with ctx.tracer.span("sources.catalog.read"):
                return _checksum(pipe.catalog.read(self.spark, table))

        got, _ = ctx.timed_job(job)
        ctx.check(got == self.reference, f"sweep output {got} != groupBy {self.reference}")

    def _uninterrupted(self, ctx, units):
        """One sweep on a fresh root (removed afterwards) and its read-back."""
        self.iteration += 1
        i = self.iteration
        stats = {"writes": [], "marks": []}
        root = ctx.fresh_dir(f"sweep-{i}")
        try:
            pipe = self._pipeline(ctx, root, f"u{i}", stats)
            table, wall, unit_walls = self._sweep(ctx, pipe, stats, units)
            self._read_back(ctx, pipe, table)
            out = {
                "sweep_s": wall,
                "units": unit_walls,
                "bytes": harness.dir_bytes(root),
                "table_bytes": harness.dir_bytes(os.path.join(root, "tables")),
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return out

    def _killed_resumed(self, ctx, units, fail_after):
        """A sweep killed after ``fail_after`` units, restarted under the
        same run id on the same fresh root, then read back."""
        self.iteration += 1
        i = self.iteration
        stats = {"writes": [], "marks": []}
        root = ctx.fresh_dir(f"sweep-{i}")
        try:
            pipe = self._pipeline(ctx, root, f"k{i}", stats)
            _, crash_s, before = self._sweep(ctx, pipe, stats, units, fail_after=fail_after)
            t0 = time.perf_counter()
            pipe = self._pipeline(ctx, root, f"k{i}", stats)
            table, _, after = self._sweep(ctx, pipe, stats, units)
            resume_s = time.perf_counter() - t0
            out = {
                "sweep_s": crash_s + resume_s,
                "resume_s": resume_s,
                "units": before + after,
                "skipped": len(units) - len(after),
            }
            self._read_back(ctx, pipe, table)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return out

    def measure(self, ctx, seconds: float) -> None:
        """Uninterrupted and kill + resume sweeps in turn until
        ``seconds`` have passed and each kind ran once; the run stops
        after any sweep, so it overshoots by one sweep, not a round.
        docs_per_s is the docs of one sweep of each kind over the sum
        of the two kinds' median sweep walls, so a kind that ran once
        more weighs no more."""
        walls = {"uninterrupted": [], "killed": []}
        t_end = time.perf_counter() + seconds
        i = 0
        while i < 2 or time.perf_counter() < t_end:
            if i % 2 == 0:
                ctx.canary.append(harness.canary_s())
                walls["uninterrupted"].append(self._uninterrupted(ctx, self.units)["sweep_s"])
            else:
                walls["killed"].append(self._killed_resumed(ctx, self.units, FAIL_AFTER)["sweep_s"])
            i += 1
        ctx.e2e["docs_per_s"] = ctx.sizes["docs"] * len(walls) / sum(
            harness.median(w) for w in walls.values()
        )

    def trace(self, ctx, seconds: float) -> None:
        """Rounds of: prefix actions for the extract self time, then an
        uninterrupted and a kill + resume sweep, every other unit counted."""
        tr = ctx.tracer
        plain, killed, extract_self = [], [], []
        for _ in ctx.rounds(seconds):
            with tr.span("prefix.scan"):
                t0 = time.perf_counter()
                harness.noop_write(self._scan())
                scan = time.perf_counter() - t0
            with tr.span("prefix.extract"):
                t0 = time.perf_counter()
                harness.noop_write(self._points())
                extract_self.append(time.perf_counter() - t0 - scan)
            plain.append(self._uninterrupted(ctx, self.units))
            killed.append(self._killed_resumed(ctx, self.units, FAIL_AFTER))
        writes = [w for w in tr.named("sources.catalog.write") if "jobs" in w["counts"]]
        units = [u for sw in plain + killed for u in sw["units"]]
        unit_s = harness.median(w for w, _ in units)
        L = ctx.layer
        L["operators.extract.self_s"] = harness.median(extract_self)
        L["plans.pipeline.unit_s"] = unit_s
        L["plans.pipeline.jobs_per_unit"] = harness.median(w["counts"]["jobs"] for w in writes)
        L["plans.pipeline.tasks_per_unit"] = harness.median(w["counts"]["tasks"] for w in writes)
        L["plans.pipeline.lineage_record_s"] = harness.median(tr.durations("plans.pipeline.lineage.record"))
        # each round runs run_stage three times (uninterrupted, killed,
        # resumed): the resume index read is the third completed_units call
        reads = tr.durations("plans.pipeline.lineage.completed_units")
        L["plans.pipeline.lineage_read_s"] = harness.median(reads[2::3])
        L["plans.pipeline.units_skipped_on_resume"] = harness.median(sw["skipped"] for sw in killed)
        L["plans.pipeline.resume_s"] = harness.median(sw["resume_s"] for sw in killed)
        L["plans.pipeline.run_stage.self_s"] = harness.median(tr.self_times("plans.pipeline.run_stage"))
        L["sources.catalog.write_s"] = harness.median(tr.durations("sources.catalog.write"))
        L["sources.catalog.commits"] = len(units) / len(plain + killed)
        L["sources.catalog.bytes_written"] = harness.median(sw["table_bytes"] for sw in plain)
        L["sources.catalog.bytes_per_doc"] = harness.median(sw["bytes"] for sw in plain) / ctx.sizes["docs"]
        L["sources.catalog.read_s"] = harness.median(tr.durations("sources.catalog.read"))
        counted = harness.median(w for w, c in units if c)
        uncounted = harness.median(w for w, c in units if not c)
        L["trace.overhead_frac"] = counted / uncounted - 1.0
