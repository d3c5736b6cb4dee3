"""Shared machinery for the engine benchmark: the run context, span
tracing, Spark job/task counting, plan-metric probes, input generation
and the statistics every workload reports.

Nothing here edits or monkey-patches the engine: spans are recorded
around the benchmark's own calls into each layer, and the pipeline's
catalog/lineage objects are wrapped (not modified) where the sweep
needs per-unit boundaries.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time

import numpy as np

# The seed offsets doc_num by (seed mod SEED_MOD) * 1e8.  Every
# coordinate is an integer hash of doc_num, so this moves every point
# while the 20 % Zipf hotspot mix keeps its shape.
DOC_NUM_SEED_STRIDE = 100_000_000
SEED_MOD = 1000  # keeps doc_num * 86_028_121 (synthspec) inside int64
# every workload keys its points by this zoom-10 tile id column
TILE_ZOOM = 10
TILE_COL = "tile10"


class Tracer:
    """In-memory spans (trace id, span id, parent, name, start, end,
    counts), written once by :meth:`dump`.  A span's self time is its
    duration minus the part of it covered by its children."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_trace = 0

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_trace += 1
        sp = {
            "trace_id": self._next_trace,
            "span_id": len(self.spans) + 1,
            "parent": parent["span_id"] if parent else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "counts": dict(counts),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp["counts"]
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def self_time(self, sp: dict) -> float:
        kids = sorted(
            (c["start"], c["end"])
            for c in self.spans
            if c["parent"] == sp["span_id"] and c["end"] is not None
        )
        covered, reach = 0.0, sp["start"]
        for s, e in kids:
            s, e = max(s, reach), min(e, sp["end"])
            if e > s:
                covered += e - s
                reach = e
        return (sp["end"] - sp["start"]) - covered

    def self_times(self, name: str) -> list[float]:
        return [self.self_time(s) for s in self.named(name)]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Context:
    """Everything one benchmark run shares: the session, its scratch
    root, the seed, the tracer, and the job/failure ledger."""

    def __init__(self, spark, work: str, seed: int, sizes: dict):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.trace = False  # set-up runs untraced
        self.tracer = Tracer(False)
        self.jobs: list[float] = []  # wall per user-visible job (one action)
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}  # end-to-end metrics by name
        self.layer: dict[str, float] = {}  # per-layer metrics by name
        self.corpus_walls: list[float] = []
        self.canary: list[float] = []  # host.canary_s samples, one per round
        self._group = 0

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def check(self, ok: bool, what: str) -> bool:
        """Record one output check; a mismatch counts as a failed op."""
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", flush=True)
        return ok

    @contextlib.contextmanager
    def job_group(self):
        """Tag every Spark job started inside the block with a fresh
        job group; yields a dict filled with the jobs/tasks it ran."""
        self._group += 1
        gid = f"perfbench-{self._group}"
        self.sc.setJobGroup(gid, gid)
        out: dict = {}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(gid)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = st.getStageInfo(s)
                    tasks += stage.numTasks if stage else 0
            out.update(jobs=len(jobs), tasks=tasks)

    def rounds(self, seconds: float):
        """Yield once per measurement round until ``seconds`` have passed
        (at least once; the last round may run past the mark).  Each
        round first samples the host canary."""
        t_end = time.perf_counter() + seconds
        while True:
            self.canary.append(canary_s())
            yield
            if time.perf_counter() >= t_end:
                return

    def timed_job(self, fn):
        """Run one user-visible job closed-loop; returns (result, wall).
        An exception counts as a failed op and yields (None, wall)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as exc:  # a failing job is counted, not fatal
            self.failed += 1
            print(f"JOB FAILED: {type(exc).__name__}: {exc}", flush=True)
            res = None
        wall = time.perf_counter() - t0
        self.jobs.append(wall)
        return res, wall


def noop_write(df) -> None:
    """Materialise a DataFrame without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> float:
    """90th percentile of the job walls, interpolated between order
    statistics.  A tile_sweep run holds 18-36 jobs, too few for the
    highest percentile with ten samples beyond it: that rule lands below
    the median and jumps with the sample count."""
    xs = list(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


# ---------------------------------------------------------------------------
# executed-plan probes
# ---------------------------------------------------------------------------

_PUSHDOWN_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates,"
    "org.apache.spark.sql.catalyst.optimizer.PushPredicateThroughJoin"
)


def _plan_nodes(node, out):
    out.append(node)
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _plan_nodes(node.executedPlan(), out)
        return
    if cls.endswith("QueryStageExec"):
        _plan_nodes(node.plan(), out)
        return
    kids = node.children()
    for i in range(kids.size()):
        _plan_nodes(kids.apply(i), out)


def join_rows(spark, df) -> tuple[int, int | None]:
    """Count ``df`` and read the output rows of its topmost join
    operator from the executed plan.  Predicate pushdown is switched
    off for this one probe so that a refine filter stays above the key
    join: the join's output is then the candidate set.  Returns
    (rows, candidate rows or None when the plan has no join)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.optimizer.excludedRules", _PUSHDOWN_RULES)
    try:
        counted = df.select(F.count(F.lit(1)).alias("n"))
        rows = counted.collect()[0]["n"]
        nodes: list = []
        _plan_nodes(counted._jdf.queryExecution().executedPlan(), nodes)
    finally:
        spark.conf.unset("spark.sql.optimizer.excludedRules")
    for node in nodes:
        if "Join" in node.nodeName():
            m = node.metrics().get("numOutputRows")
            if m.isDefined():
                return rows, int(m.get().value())
    return rows, None


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def write_raw_tables(sf_dir: str, seed: int, n_docs: int) -> None:
    """The raw tables ``sources.synth.docs_spans`` reads: a
    lineitem-shaped (l_orderkey, l_linenumber) key table with 1-7 lines
    per order, so doc_num = 8 * l_orderkey + l_linenumber lands at
    seed * 1e8 + ..., and the 25-row nation table the region layers
    key on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, size=n_docs)
    order = np.repeat(np.arange(n_docs, dtype=np.int64), lines)[:n_docs]
    starts = np.repeat(np.cumsum(lines) - lines, lines)[:n_docs]
    linenumber = (np.arange(n_docs) - starts + 1).astype(np.int32)
    base_order = (seed % SEED_MOD) * (DOC_NUM_SEED_STRIDE // 8)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({"l_orderkey": base_order + order, "l_linenumber": linenumber}),
        os.path.join(sf_dir, "lineitem.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int64),
                "n_name": [f"NATION{i:02d}" for i in range(25)],
            }
        ),
        os.path.join(sf_dir, "nation.parquet"),
    )


def write_corpus(ctx: Context) -> tuple[str, str]:
    """Generate the raw tables and write the interleaved-docs corpus
    through ``sources.synth.docs_spans`` several times into fresh
    directories; the walls go to ``ctx.corpus_walls`` so set-up time
    counts the median write once.  Returns (sf_dir, docs_dir)."""
    from transformio_spark.sources import synth

    sf_dir = ctx.fresh_dir("sf")
    write_raw_tables(sf_dir, ctx.seed, ctx.sizes["docs"])
    for r in range(ctx.sizes["setup_repeats"]):
        docs_dir = os.path.join(ctx.work, f"docs-{r}")
        t0 = time.perf_counter()
        synth.docs_spans(ctx.spark, sf_dir).write.parquet(docs_dir)
        ctx.corpus_walls.append(time.perf_counter() - t0)
        if r:
            shutil.rmtree(os.path.join(ctx.work, f"docs-{r - 1}"))
    return sf_dir, docs_dir


def points(spark, docs_dir: str):
    """Stored docs -> ``operators.extract.extract_coordinates`` (parses
    ``media_ref``): one row per media point."""
    from transformio_spark.operators import extract

    return extract.extract_coordinates(spark.read.parquet(docs_dir), extract.px2geo_affine())


def tiled(spark, docs_dir: str):
    """:func:`points` plus the zoom-10 ``functions.tiles.tile_id`` as TILE_COL."""
    from pyspark.sql import functions as F
    from transformio_spark.functions import tiles

    return points(spark, docs_dir).withColumn(
        TILE_COL, tiles.tile_id(F.col("lon"), F.col("lat"), TILE_ZOOM)
    )


def points_table(spark, docs_dir: str):
    """The extracted media points of the corpus as numpy (lon, lat)."""
    pdf = points(spark, docs_dir).select("lon", "lat").toPandas()
    return pdf["lon"].to_numpy(np.float64), pdf["lat"].to_numpy(np.float64)


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for f in fns:
            total += os.path.getsize(os.path.join(dp, f))
    return total


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------

def canary_s() -> float:
    """Wall of a fixed pure-Python loop: rises when the host is
    contended, moves with no code change."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc += i * i
    return time.perf_counter() - t0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this driver process plus its JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm)) / 1024.0
