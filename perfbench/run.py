"""Seeded, oracle-checked benchmark of the spatial-join + tiling engine.

    python3 perfbench/run.py --workload join_tiling --seed 1 --seconds 5 --trace 0

Run from the repository root.  One run:

1. writes seeded input tables (``inputs.py``) into a fresh work directory
   under ``.perfbench/``;
2. starts the Spark process (``worker.py``), which times process start ->
   Spark session up -> workload inputs materialized (``setup_s``), then a
   cold pass (``cold_pass_s``), then one untimed warm-up pass whose outputs
   it saves, then warm passes (every output through a noop sink) for
   ``--seconds``, at least two;
3. compares the saved outputs with their DuckDB oracle twins
   (``registry.ORACLES``) exactly, after the Spark process has exited;
4. prints one line per metric (name, value, unit, samples) and, last, one
   JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced warm passes, then runs the workload's traced-only
operations once (join_tiling: q38's checkpoint cycle -- crash, resume, no-op
resume, load; udf_kernels: q10, q21, q49), reports the per-layer metrics and
writes the spans and per-query layer metrics to ``.perfbench/traces/``.

Every file the run writes stays under ``.perfbench/`` in the current
directory; every process it starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

import inputs
import layers
import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "2g"
LIMIT_S = 170         # the whole run, set-up and oracle check included
E2E_UNITS = {"pass_s": "s", "cold_pass_s": "s", "setup_s": "s", "docs_per_s": "1/s",
             "cpu_s": "s"}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _source_digest(root: str) -> str:
    """Content hash of the engine package (the checkout may not be a git repo)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "osm_processing_pipeline_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _git_rev(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _spawn(work: str, env: dict, args: list[str], log, limit_s: float) -> dict:
    result = os.path.join(work, f"result-{time.time_ns()}.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--result", result,
           "--t0", repr(time.time())] + args
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log)
    try:
        proc.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        proctree.reap(0)           # kills the worker and everything under it
    # the JVM and the PySpark daemon outlive the worker for a moment
    proctree.reap(15)
    if proc.returncode != 0 or not os.path.exists(result):
        raise RuntimeError(f"worker exited with code {proc.returncode}")
    with open(result) as f:
        return json.load(f)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    root = os.getcwd()
    t_start = time.time()
    steal0, total0 = proctree.host_cpu_ticks()
    if not os.path.isdir(os.path.join(root, "osm_processing_pipeline_spark")):
        return _fail("run from the repository root: osm_processing_pipeline_spark/ not found")
    sys.path.insert(0, root)
    import oracle
    from worker import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sf_dir = os.path.join(work, "input")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    sf = WORKLOADS[args.workload]["sf"]
    counts = inputs.generate(sf_dir, args.seed, sf)
    docs = inputs.road_docs(sf_dir)
    cores = len(os.sched_getaffinity(0))

    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_TMPFS": "0",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            + " --conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    env["SPARK_GRAFT_WORLD_CACHE"] = os.path.join(work, "world")
    log_path = os.path.join(work, "worker.log")
    hard_deadline = t_start + LIMIT_S
    proctree.become_subreaper()
    # a SIGTERM from outside still stops the Spark process tree (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_spawn = time.time()
    try:
        with open(log_path, "w") as log:
            main_res = _spawn(work, env, [
                "--workload", args.workload, "--sf-dir", sf_dir, "--cores", str(cores),
                "--work", work, "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--hard-deadline", str(hard_deadline - 30)], log, hard_deadline - time.time())
        t_oracle = time.time()
        failures = main_res["failures"] + oracle.verify(
            main_res["outputs"], sf_dir, os.path.join(base, "cache", "oracle"))
    except RuntimeError as e:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        return _fail(str(e))
    finally:
        proctree.reap(0)
    shutil.rmtree(work, ignore_errors=True)

    passes = main_res["passes"]
    if not passes:
        return _fail(f"no untraced warm pass fitted in {LIMIT_S} s")
    pass_s = statistics.median(passes)
    metrics = {
        "pass_s": pass_s,
        "cold_pass_s": main_res["cold_pass_s"],
        "setup_s": main_res["setup_s"],
        "docs_per_s": docs / pass_s,
        "cpu_s": statistics.median(main_res["cpu_s"]),
    }
    samples = {"pass_s": len(passes), "cold_pass_s": 1, "setup_s": 1,
               "docs_per_s": len(passes), "cpu_s": len(passes)}
    attempted = main_res["attempted"]
    steal1, total1 = proctree.host_cpu_ticks()
    context = {
        "git_rev": _git_rev(root), "source_digest": _source_digest(root),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cores": cores, "loadavg": os.getloadavg(), "python": platform.python_version(),
        "confs": main_res["confs"],
        "scale_factor": sf, "input_rows": counts, "road_docs": docs,
        "passes": passes, "peak_rss_mb": main_res["peak_rss_mb"],
        "failures": failures, "op_seconds": main_res["op_seconds"],
        "run_s": time.time() - t_start, "inputs_s": t_spawn - t_start,
        "worker_s": t_oracle - t_spawn, "spark_stop_s": main_res["stop_s"],
        "oracle_s": time.time() - t_oracle,
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
    }

    if args.trace:
        per_op = {**main_res["layers"], **main_res["traced_layers"]}
        metrics = _workload_layers(main_res)
        metrics["trace.overhead_s"] = statistics.median(main_res["traced_passes"]) - pass_s
        metrics["proc.peak_rss_mb"] = main_res["peak_rss_mb"]
        unit_of = _layer_unit
        samples = {k: len(main_res["traced_passes"]) for k in metrics}
        samples.update({k: 1 for k in SETUP_LAYERS + TRACED_ONLY + ["proc.peak_rss_mb"]})
        for k in sorted(per_op):
            print(f"{k} = {per_op[k]:.6g} {_layer_unit(k)}")
        for q, name in _dominant_layers(main_res["spans"]).items():
            print(f"dominant layer {q}: {name}")
        context["per_op_layers"] = per_op
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        trace_path = os.path.join(base, "traces", f"{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"context": context, "spans": main_res["spans"]}, f)
        print(f"trace: {len(main_res['spans'])} spans -> {os.path.relpath(trace_path, root)}")
    else:
        unit_of = E2E_UNITS.get
        print(f"failed_frac = {len(failures)}/{attempted} = {len(failures) / attempted:.4f}")
        print(f"peak_rss_mb = {main_res['peak_rss_mb']:.1f} MB (driver + JVM + Python workers)")

    for k in sorted(metrics):
        n = samples.get(k, len(main_res["traced_passes"]))
        print(f"{k} = {metrics[k]:.6g} {unit_of(k)} (samples={n})")
    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps(context, default=str))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())},
    }))
    return 0


# ---------------------------------------------------------------- per-layer
# reported with --trace 1.  WORKLOAD_SUMS: summed over the operations of a
# warm pass (skew: the worst operation), medians over the traced warm passes.
# TRACED_ONLY: the operations a traced run runs once (worker.WORKLOADS), 0 on
# the workload that does not run them.
WORKLOAD_SUMS = [
    "registry.build_s", "registry.build_jobs", "registry.driver_s",
    "exec.action_s", "exec.codegen_ms", "exec.shuffle_bytes", "exec.spill_bytes",
    "spatial_join.cover_rows", "spatial_join.refined_rows", "spatial_join.amplification",
    "skew.task_max_over_p50",
    "python.run_ms", "python.start_ms", "python.bytes_sent", "python.bytes_returned",
    "python.rows_out",
    "streaming.batches", "streaming.batch_ms", "streaming.state_rows",
    "streaming.state_mem_bytes",
]
TRACED_ONLY = [
    "checkpoint.crash_s", "checkpoint.resume_s", "checkpoint.noop_resume_s",
    "checkpoint.load_s", "checkpoint.ranges_computed", "checkpoint.ranges_skipped",
    "checkpoint.manifest_bytes", "checkpoint.recompute_amplification",
    "checkpoint.spatial_join.cover_rows",
    "q10.exec.action_s", "q10.python.run_ms",
    "q21.exec.action_s", "q21.python.run_ms", "q21.python.start_ms",
    "q49.exec.action_s", "q49.python.run_ms",
]
SETUP_LAYERS = ["session.start_s", "world.materialize_s", "raster.materialize_s",
                "stream.stage_s"]
PER_LAYER = (SETUP_LAYERS + WORKLOAD_SUMS + TRACED_ONLY
             + ["trace.overhead_s", "proc.peak_rss_mb"])


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "B"
    if name.endswith(("amplification", "max_over_p50")):
        return "ratio"
    return "count"


def _workload_layers(res: dict) -> dict:
    """Workload totals of the warm passes' per-operation layer metrics, plus
    the metrics of the traced-only operations."""
    per_op, once = res["layers"], res["traced_layers"]
    ops = {k.split(".", 1)[0] for k in per_op}
    out = {k: res.get(k, 0.0) for k in SETUP_LAYERS}
    for key in WORKLOAD_SUMS:
        out[key] = sum(per_op.get(f"{op}.{key}", 0.0) for op in ops)
    out["skew.task_max_over_p50"] = max(
        [per_op.get(f"{op}.skew.task_max_over_p50", 0.0) for op in ops], default=0.0)
    out["spatial_join.amplification"] = layers.amplification(
        out["spatial_join.cover_rows"], out["spatial_join.refined_rows"])
    for key in TRACED_ONLY:
        out[key] = once.get(key, 0.0)
    base = res.get("checkpoint_baseline_scan_rows", 0.0)
    out["checkpoint.recompute_amplification"] = (
        once.get("checkpoint.scan_rows", 0.0) / base if base else 0.0)
    return out


def _dominant_layers(spans: list[dict]) -> dict[str, str]:
    """Per operation: the layer with the largest median self time over the
    traced warm passes -- registry driver-side analysis (build span minus its
    SQL executions), registry eager jobs, or Spark execution of the action."""
    kids: dict[tuple, list] = {}
    for s in spans:
        if s["parent"] is not None and s["end"]:
            kids.setdefault((s["parent"], s["pass"]), []).append((s["start"], s["end"]))
    shares: dict[str, dict[str, list[float]]] = {}
    for s in spans:
        if not s["pass"].startswith("warm") or s["parent"] is not None:
            continue
        op, layer = s["name"].split(".", 1)
        d = shares.setdefault(op, {})
        if layer == "registry":
            jobs = layers.covered_s(s["start"], s["end"], kids.get((s["name"], s["pass"]), []))
            d.setdefault("registry (driver-side analysis)", []).append(s["end"] - s["start"] - jobs)
            d.setdefault("registry (eager jobs in build)", []).append(jobs)
        else:
            d.setdefault(f"{layer} (Spark execution)", []).append(s["end"] - s["start"])
    return {op: max(d, key=lambda k: statistics.median(d[k])) + "; " + ", ".join(
        f"{k}={statistics.median(v):.2f}s" for k, v in sorted(d.items())) for op, d in shares.items()}


if __name__ == "__main__":
    sys.exit(main())
