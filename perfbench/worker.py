"""The benchmark's Spark process: set up a Spark session and a workload's
inputs, then run a cold pass, one untimed warm-up pass whose outputs are saved
for the oracle check, then warm passes for the requested seconds.  A traced
run then runs the workload's traced-only operations once.

Started by ``run.py`` with the repository root on ``PYTHONPATH`` (the Python
workers Spark forks import the package from there) and with every scratch
directory inside the run's work directory.  The result is one JSON file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import layers
import proctree

from osm_processing_pipeline_spark import registry
from osm_processing_pipeline_spark.datagen import world
from osm_processing_pipeline_spark.session import get_spark

# The benchmark's workloads (BENCHMARK.json), each on a world of scale
# factor ``sf`` (inputs.py).  ``ops`` run in every pass.
# ``traced`` ops run only in a ``--trace 1`` run, once, after the warm
# passes: with them in every pass, one run would take about twice as long
# (a warm q21 alone takes about 7 s, a checkpoint cycle 12-22 s).
WORKLOADS: dict[str, dict] = {
    "join_tiling": {
        "sf": 0.01, "ops": ["q01_road_grid_classification", "q02_tile_assignment"],
        "traced": ["checkpoint"]},
    "udf_kernels": {
        "sf": 0.001, "ops": ["q08_curvature", "q32_vector_tiles", "q50_streaming_first_seen"],
        "traced": ["q10_zonal_stats", "q21_embedding_topk", "q49_media_features"]},
}
RASTER_QUERY = "q10_zonal_stats"
STREAM_QUERY = "q50_streaming_first_seen"
# the second warm pass is still a few per cent faster than the first (JIT), so
# a pass count that varied with the host's speed would widen the spread
MIN_PASSES = 2


class RssSampler:
    """Peak summed RSS of this driver process and every process under it."""

    def __init__(self, period_s: float = 0.2):
        self.peak_mb = 0.0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self.peak_mb = max(self.peak_mb, proctree.tree_rss_mb())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ tracing
@dataclass
class Call:
    """One timed call into a layer and the SQL executions it started."""
    start: float
    end: float
    execs: list[dict] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def self_s(self) -> float:
        """Call time not covered by its SQL executions (driver-side work)."""
        return self.seconds - layers.covered_s(
            self.start, self.end, [(x["start"], x["end"]) for x in self.execs if x["end"]])


class Tracer:
    """Spans around layer calls plus child spans for every SQL execution the
    call started, read back from Spark's SQL status store.  Disabled, it only
    times the call."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id = "setup"
        if enabled:
            jvm = spark._jvm
            scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper() \
                .registerModule(scala.__getattr__("MODULE$"))
            self._store = spark._jsparkSession.sharedState().statusStore()
            self._seen = -1
            self.set_enabled(True)

    def set_enabled(self, on: bool) -> None:
        """Turn span recording on or off; executions started while it was
        off are never attributed to a later traced call."""
        if on:
            ids = self._new_ids(self._seen)
            self._seen = ids[-1] if ids else self._seen
        self.enabled = on

    def _new_ids(self, after: int) -> list[int]:
        lst = self._store.executionsList()
        ids = []
        for i in range(lst.size() - 1, -1, -1):
            eid = lst.apply(i).executionId()
            if eid <= after:
                break
            ids.append(eid)
        return ids[::-1]

    def _snapshot(self, eid: int) -> dict:
        deadline = time.time() + 10
        while True:   # the listener bus finishes the record asynchronously
            e = self._store.execution(eid).get()
            if e.completionTime().isDefined() or time.time() > deadline:
                break
            time.sleep(0.01)
        end = e.completionTime()
        return {
            "id": eid,
            "desc": e.description()[:120],
            "start": e.submissionTime() / 1e3,
            "end": end.get().getTime() / 1e3 if end.isDefined() else None,
            "graph": json.loads(self._json.writeValueAsString(self._store.planGraph(eid))),
            "values": json.loads(self._json.writeValueAsString(
                self._store.executionMetrics(eid))),
        }

    def call(self, name: str, fn: Callable):
        start = time.time()
        result = fn()
        end = time.time()
        call = Call(start, end)
        if self.enabled:
            ids = self._new_ids(self._seen)
            call.execs = [self._snapshot(eid) for eid in ids]
            if ids:
                self._seen = ids[-1]
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": None, "pass": self.pass_id})
            for x in call.execs:
                self.spans.append({"name": f"sql.{x['id']}:{x['desc']}", "start": x["start"],
                                   "end": x["end"], "parent": name, "pass": self.pass_id})
        return result, call


class StreamProgress:
    """StreamingQueryListener that keeps every progress event."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.events: list = []
        self.started: set = set()
        self.ended: set = set()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.started.add(str(event.id))

            def onQueryProgress(self, event):
                outer.events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.ended.add(str(event.id))

        spark.streams.addListener(_Listener())

    def reset(self) -> None:
        self.events, self.started, self.ended = [], set(), set()

    def take(self) -> dict[str, float]:
        """Progress of the streaming queries run since the last reset; waits
        for the listener bus to deliver their termination."""
        deadline = time.time() + 5
        while (not self.started or self.started - self.ended) and time.time() < deadline:
            time.sleep(0.01)
        ev, self.events = self.events, []
        self.started, self.ended = set(), set()
        last_rows = sum(s.numRowsTotal for s in ev[-1].stateOperators) if ev else 0
        return {
            "streaming.batches": float(len(ev)),
            "streaming.batch_ms": float(sum(p.batchDuration for p in ev)),
            "streaming.state_rows": float(last_rows),
            "streaming.state_mem_bytes": float(max(
                (sum(s.memoryUsedBytes for s in p.stateOperators) for p in ev), default=0)),
        }


# --------------------------------------------------------------- workloads
@dataclass
class Ctx:
    spark: object
    sf_dir: str
    work: str
    tracer: Tracer
    stream: StreamProgress | None
    collect: bool = False
    outputs: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)   # per-query layer metrics
    checks: list = field(default_factory=list)  # (op, failure message)
    op_seconds: dict = field(default_factory=dict)  # op -> wall time per pass


def _materialize(ctx: Ctx, df):
    if ctx.collect:
        return df.toPandas()
    df.write.format("noop").mode("overwrite").save()
    return None


def run_query(ctx: Ctx, name: str) -> int:
    q = name.split("_", 1)[0]
    if ctx.stream is not None and ctx.tracer.enabled:
        ctx.stream.reset()
    df, build = ctx.tracer.call(f"{q}.registry", lambda: registry.QUERIES[name](ctx.spark, ctx.sf_dir))
    out, action = ctx.tracer.call(f"{q}.action", lambda: _materialize(ctx, df))
    if ctx.collect:
        ctx.outputs[name] = out
    if ctx.tracer.enabled:
        m = {"registry.build_s": build.seconds,
             "registry.build_jobs": float(len(build.execs)),
             "registry.driver_s": build.self_s(),
             "exec.action_s": action.seconds}
        _add_folded(m, build.execs + action.execs)
        if ctx.stream is not None and "_streaming_" in name:
            m.update(ctx.stream.take())
        ctx.layer[q] = m
    return 1


def _add_folded(m: dict, execs: list[dict]) -> None:
    for x in execs:
        for k, v in layers.fold(x["graph"], x["values"]).items():
            m[k] = max(m.get(k, 0.0), v) if k.startswith("skew.") else m.get(k, 0.0) + v
    m["spatial_join.amplification"] = layers.amplification(
        m.get("spatial_join.cover_rows", 0.0), m.get("spatial_join.refined_rows", 0.0))


def _pieces_stage(ctx: Ctx):
    """q38's checkpointed stage: the flagship cover-join pieces rollup."""
    from pyspark.sql import functions as F

    from osm_processing_pipeline_spark.operators import spatial_join

    r = world.roads_materialized(ctx.spark, ctx.sf_dir)
    s = world.segments(ctx.spark, ctx.sf_dir, r)
    return (spatial_join.segment_cell_pieces(s, world.grids(ctx.spark))
            .groupBy("osm_id", "grid_id")
            .agg(F.sum("piece_um").alias("piece_um"), F.count("*").alias("n_segs")))


def run_checkpoint(ctx: Ctx) -> int:
    """q38's stage through plans.checkpoint: into a fresh store, crash after
    half the ranges, resume, resume again (no-op), then load.  When
    collecting, only load (and read the manifest of) the store the last cycle
    wrote.  Returns the number of checkpoint calls made."""
    from pyspark.sql import functions as F

    from osm_processing_pipeline_spark.plans import checkpoint as CP

    _, lineage, ranges = registry._q38_store(ctx.sf_dir)
    stage = registry._Q38_STAGE
    store = os.path.join(ctx.work, "ckpt")
    loaded = lambda: CP.load_stage(ctx.spark, store, stage, lineage).select(  # noqa: E731
        "osm_id", "grid_id", F.col("piece_um").cast("long").alias("piece_um"),
        F.col("n_segs").cast("long").alias("n_segs"))
    if ctx.collect:
        out, _ = ctx.tracer.call("checkpoint.load", lambda: _materialize(ctx, loaded()))
        ctx.outputs["q38_checkpointed_pieces"] = out
        ctx.outputs["q41_checkpoint_metrics"] = _manifest_counts(
            CP.read_manifest(store), stage, lineage)
        return 1

    shutil.rmtree(store, ignore_errors=True)
    half = len(ranges) // 2

    def step(name: str, rs: list, want_computed: int):
        res, call = ctx.tracer.call(
            f"checkpoint.{name}",
            lambda: CP.run_stage(ctx.spark, stage, lambda: _pieces_stage(ctx), "grid_id",
                                 rs, store, lineage))
        if len(res["computed"]) != want_computed:
            ctx.checks.append((f"checkpoint.{name}",
                               f"computed {len(res['computed'])} ranges, expected {want_computed}"))
        return res, call

    crash, c1 = step("crash", ranges[:half], half)
    resume, c2 = step("resume", ranges, len(ranges) - half)
    noop, c3 = step("noop_resume", ranges, 0)
    _, c4 = ctx.tracer.call("checkpoint.load", lambda: _materialize(ctx, loaded()))
    if ctx.tracer.enabled:
        m = {"crash_s": c1.seconds, "resume_s": c2.seconds,
             "noop_resume_s": c3.seconds, "load_s": c4.seconds,
             "ranges_computed": float(sum(len(r["computed"]) for r in (crash, resume, noop))),
             "ranges_skipped": float(sum(len(r["skipped"]) for r in (crash, resume, noop))),
             "manifest_bytes": float(os.path.getsize(os.path.join(store, "_manifest.jsonl"))),
             "scan_rows": sum(layers.scan_rows(x["graph"], x["values"])
                              for c in (c1, c2, c3) for x in c.execs)}
        _add_folded(m, c1.execs + c2.execs + c3.execs + c4.execs)
        ctx.layer["checkpoint"] = m
    return 4


def _manifest_counts(recs: list[dict], stage: str, lineage: str):
    """Per-range output rows of the latest manifest record (q41's shape)."""
    import pandas as pd

    latest = {r["range_id"]: r for r in recs if r["stage"] == stage and r["lineage"] == lineage}
    rows = [(int(r["range_id"]), int(r["output_rows"])) for r in latest.values()
            if r["output_rows"] > 0]
    return pd.DataFrame(rows, columns=["range_id", "output_rows"]).astype("int64")


def run_pass(ctx: Ctx, ops: list[str], pass_id: str) -> tuple[int, list[str]]:
    """One pass over ``ops`` (query names or "checkpoint"); returns
    (operations attempted, failures)."""
    ctx.tracer.pass_id = pass_id
    attempted, failures = 0, []
    for name in ops:
        t = time.time()
        try:
            attempted += run_checkpoint(ctx) if name == "checkpoint" else run_query(ctx, name)
        except Exception:   # an operation that raises is counted, not fatal
            traceback.print_exc()
            attempted += 1
            failures.append(name)
        ctx.op_seconds.setdefault(name, []).append(time.time() - t)
    failures += [f"{op}: {msg}" for op, msg in ctx.checks]
    ctx.checks = []
    return attempted, failures


# -------------------------------------------------------------------- main
def _stage_stream(spark, sf_dir: str) -> None:
    """q50's input: the events table split into one file per micro-batch,
    written where ``registry.q50_streaming_first_seen`` looks for it."""
    key = sf_dir.strip("/").replace("/", "_")
    d = f"{world.CACHE_DIR}/{key}/events_stream.parquet"
    (spark.read.parquet(f"{sf_dir}/events.parquet")
     .repartition(4, "user_id")
     .write.mode("overwrite").parquet(d))


def setup(args) -> tuple[object, dict]:
    """Session up, then the run's inputs: world cache, raster tiles and
    staged stream batches (the last two only if an operation reads them)."""
    from osm_processing_pipeline_spark.sources.raster import raster_tiles

    wl = WORKLOADS[args.workload]
    ops = wl["ops"] + (wl["traced"] if args.trace else [])
    t0 = time.time()
    spark = get_spark(cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    steps = [("world.materialize", lambda: world.roads_materialized(spark, args.sf_dir))]
    if RASTER_QUERY in ops:
        steps.append(("raster.materialize", lambda: raster_tiles(spark)))
    if STREAM_QUERY in ops:
        steps.append(("stream.stage", lambda: _stage_stream(spark, args.sf_dir)))
    spans = [{"name": "session.start", "start": t0, "end": time.time(),
              "parent": None, "pass": "setup"}]
    for name, step in steps:
        t = time.time()
        step()
        spans.append({"name": name, "start": t, "end": time.time(), "parent": None,
                      "pass": "setup"})
    confs = {k: v for k, v in spark.sparkContext.getConf().getAll()
             if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory"))}
    res = {"setup_s": spans[-1]["end"] - args.t0, "confs": confs, "spans": spans}
    res.update({f"{x['name']}_s": x["end"] - x["start"] for x in spans})
    return spark, res


def _median_layers(samples: list[dict]) -> dict:
    keys = sorted({k for s in samples for k in s})
    return {k: statistics.median(s.get(k, 0.0) for s in samples) for k in keys}


def main_mode(args, spark, res: dict, rss: RssSampler) -> None:
    wl = WORKLOADS[args.workload]
    tracer = Tracer(spark, bool(args.trace))
    stream = StreamProgress(spark) if args.trace else None
    ctx = Ctx(spark, args.sf_dir, args.work, tracer, stream)

    # cold pass: the first pass in a fresh session, through the noop sink
    # like every timed pass
    t = time.time()
    attempted, failures = run_pass(ctx, wl["ops"], "cold")
    res["cold_pass_s"] = time.time() - t
    # one untimed warm-up pass (the JIT is still compiling the driver-side
    # planner paths a pass after the cold one); its outputs are collected
    # through Arrow for the oracle check
    tracer.set_enabled(False)
    a, f = collect_pass(ctx, wl["ops"], "warmup")
    attempted, failures = attempted + a, failures + f

    passes, cpu, traced_passes, layer_samples = [], [], [], []
    deadline = time.time() + args.seconds
    i = 0
    while time.time() < deadline or len(passes) < MIN_PASSES:
        traced = bool(args.trace) and i % 2 == 0
        tracer.set_enabled(traced)
        ctx.layer = {}
        c0, t = proctree.children_cpu_s(), time.time()
        a, f = run_pass(ctx, wl["ops"], f"warm{i}")
        wall = time.time() - t
        attempted, failures = attempted + a, failures + f
        if traced:
            traced_passes.append(wall)
            layer_samples.append(_prefixed(ctx.layer))
        else:
            passes.append(wall)
            cpu.append(proctree.children_cpu_s() - c0)
        i += 1
        if time.time() + wall > args.hard_deadline:   # the next pass would not fit
            break

    if args.trace:
        res["layers"] = _median_layers(layer_samples)
        # the traced-only ops: one traced pass, then one collected for the oracles
        tracer.set_enabled(True)
        ctx.layer = {}
        a, f = run_pass(ctx, wl["traced"], "traced")
        res["traced_layers"] = _prefixed(ctx.layer)
        if "checkpoint" in wl["traced"]:
            # rows one un-checkpointed stage run scans, the recompute base
            _, call = tracer.call("checkpoint.baseline", lambda: _pieces_stage(ctx)
                                  .write.format("noop").mode("overwrite").save())
            res["checkpoint_baseline_scan_rows"] = sum(
                layers.scan_rows(x["graph"], x["values"]) for x in call.execs)
        tracer.set_enabled(False)
        a2, f2 = collect_pass(ctx, wl["traced"], "traced-collect")
        attempted, failures = attempted + a + a2, failures + f + f2
        res["spans"] += tracer.spans

    # the orchestrator compares these with the oracles after this process exits
    out_dir = os.path.join(args.work, "outputs")
    os.makedirs(out_dir, exist_ok=True)
    res["outputs"] = {}
    for name, df in ctx.outputs.items():
        res["outputs"][name] = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(res["outputs"][name])
    res.update({"passes": passes, "cpu_s": cpu, "traced_passes": traced_passes,
                "op_seconds": ctx.op_seconds, "attempted": attempted, "failures": failures,
                "peak_rss_mb": rss.peak_mb})


def collect_pass(ctx: Ctx, ops: list[str], pass_id: str) -> tuple[int, list[str]]:
    """A pass whose outputs are collected into ``ctx.outputs``."""
    ctx.collect = True
    try:
        return run_pass(ctx, ops, pass_id)
    finally:
        ctx.collect = False


def _prefixed(layer: dict) -> dict:
    return {f"{op}.{k}": v for op, m in layer.items() for k, v in m.items()}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--t0", type=float, required=True, help="spawn time (epoch s)")
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--hard-deadline", type=float, default=float("inf"))
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()

    with RssSampler() as rss:
        spark, res = setup(args)
        try:
            main_mode(args, spark, res, rss)
        finally:
            t = time.time()
            spark.stop()
            res["stop_s"] = time.time() - t
    with open(args.result + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(args.result + ".tmp", args.result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
