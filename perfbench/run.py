"""Engine benchmark: spatial joins + raster kernels, and the tile sweep.

    python3 perfbench/run.py --workload docs_to_regions --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root.  One process builds one Spark session at
local[<usable cores>], sets up the workload's inputs from the seed,
warms the JVM, then submits jobs closed-loop (each job starts when the
previous one returned) for ``--seconds``, checking every output.  The
last stdout line is one JSON object {correct, attempted, failed,
metrics}: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1`` (the spans are also written
to ``.perfbench_out/``).  ``--smoke`` runs every workload once at a
tiny size, untraced and traced, and fails if a check fails or a metric
is missing.  Everything a run writes besides the spans lives under
``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time

import harness

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("docs_to_regions", "tile_sweep")

# docs: corpus rows; raster: source raster side (px); setup_repeats:
# corpus writes whose median counts toward setup_s.  docs_to_regions
# reads a corpus large enough that row work is about half of each join
# job, the rest being Spark's fixed cost per job (spec.json
# row_work_share); tile_sweep's cost is per unit, not per row, so it
# keeps a small corpus.
SIZES = {
    "docs_to_regions": {"docs": 100_000, "raster": 1024, "raster_tile": 256, "setup_repeats": 3},
    "tile_sweep": {"docs": 20_000, "setup_repeats": 3},
}
SMOKE_SIZES = {"docs": 6_000, "raster": 256, "raster_tile": 64, "setup_repeats": 1}


def _units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _spark_conf(work: str) -> dict:
    # a fixed 1 GB heap (-Xms = -Xmx) keeps the JVM's resident size, and
    # so peak_rss_mb, from following the collector's growth decisions
    return {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": (
            f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


class Bench:
    """One benchmark process: the session and its scratch root."""

    def __init__(self, work: str):
        from transformio_spark.plans.session import build_session, ensure_shipped

        self.work = work
        self.canary = [harness.canary_s()]
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="perfbench",
            cores=len(os.sched_getaffinity(0)),
            extra_conf=_spark_conf(work),
        )
        self.build_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        ensure_shipped(self.spark)
        self.ship_s = time.perf_counter() - t0
        self._session_s = self.build_s + self.ship_s
        self.e2e_units, self.layer_units = _units()

    def run(self, workload: str, seed: int, seconds: float, trace: bool, sizes: dict):
        """Set up and measure one workload; returns its Context."""
        ctx = harness.Context(self.spark, os.path.join(self.work, workload), seed, sizes)
        os.makedirs(ctx.work, exist_ok=True)
        wl = importlib.import_module(workload).Workload()
        t0 = time.perf_counter()
        wl.setup(ctx)
        setup_wall = time.perf_counter() - t0
        walls = ctx.corpus_walls
        setup_s = self._session_s + setup_wall - (sum(walls) - harness.median(walls))
        self._session_s = 0.0  # a later workload in this process reuses the session
        ctx.jobs.clear()  # warm-up jobs are set-up, not measurement
        ctx.trace = ctx.tracer.enabled = trace
        if trace:
            wl.trace(ctx, seconds)
        else:
            wl.measure(ctx, seconds)
        self.canary.append(harness.canary_s())
        canary = harness.median(self.canary + ctx.canary)
        if trace:
            ctx.layer.update({
                "plans.session.build_s": self.build_s,
                "plans.session.ensure_shipped_s": self.ship_s,
                "sources.synth.corpus_write_s": harness.median(walls),
                "host.canary_s": canary,
                "host.load_1m": os.getloadavg()[0],
            })
            for name in self.layer_units:
                ctx.layer.setdefault(name, 0.0)  # a layer this workload leaves idle did no work
        else:
            ctx.e2e.setdefault("job_p50_s", harness.median(ctx.jobs))
            ctx.e2e.setdefault("job_tail_s", harness.tail(ctx.jobs))
            ctx.e2e.update(setup_s=setup_s, peak_rss_mb=harness.peak_rss_mb(self.spark))
            print(
                f"# {workload} seed={seed} jobs={len(ctx.jobs)} "
                f"session={self.build_s + self.ship_s:.2f}s workload_setup={setup_wall:.2f}s "
                f"corpus_writes={[round(w, 2) for w in walls]} "
                f"host.canary_s={canary:.4f} host.load_1m={os.getloadavg()[0]:.2f}",
                flush=True,
            )
        shutil.rmtree(ctx.work, ignore_errors=True)
        return ctx

    def result(self, ctx, trace: bool) -> dict:
        metrics, units = (ctx.layer, self.layer_units) if trace else (ctx.e2e, self.e2e_units)
        return {
            "correct": ctx.failed == 0,
            "attempted": max(ctx.attempted, 1),
            "failed": ctx.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _smoke(bench: Bench) -> int:
    bad = []
    for name in WORKLOADS:
        for trace in (False, True):
            ctx = bench.run(name, 0, 1.0, trace, SMOKE_SIZES)
            got = set(ctx.layer if trace else ctx.e2e)
            want = set(bench.layer_units if trace else bench.e2e_units)
            ok = got == want and ctx.failed == 0
            if not ok:
                bad.append(f"{name} trace={int(trace)}: missing={sorted(want - got)} "
                           f"extra={sorted(got - want)} failed={ctx.failed}")
            print(f"# smoke {name} trace={int(trace)} ok={ok}", flush=True)
    for b in bad:
        print(f"SMOKE FAILED: {b}", flush=True)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")

    if not os.path.isfile(os.path.join(ROOT, "transformio_spark", "__init__.py")):
        print("perfbench: no transformio_spark/ next to perfbench/; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    bench = None
    try:
        bench = Bench(work)
        if args.smoke:
            return _smoke(bench)
        ctx = bench.run(args.workload, args.seed, args.seconds, bool(args.trace), SIZES[args.workload])
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
            ctx.tracer.dump(out)
            print(f"# spans written to {os.path.relpath(out, ROOT)}", flush=True)
        result = bench.result(ctx, bool(args.trace))
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
