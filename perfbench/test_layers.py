"""Self-test of the per-layer metric extraction on a tiny fixed plan.

    python3 -m pytest perfbench/test_layers.py -q

The plan mirrors the shape of q01's final AQE plan: a segment explode, the
cell-cover explode and a broadcast join whose condition holds the exact
refine, all in one whole-stage-codegen cluster, plus a pandas UDF node.
"""

import layers

TOTAL = "total (min, med, max (stageId: taskId))\n"


def _node(nid, name, desc, *metrics):
    return {"id": nid, "name": name, "desc": desc,
            "metrics": [{"name": m, "accumulatorId": acc, "metricType": t}
                        for m, acc, t in metrics]}


PLAN = {
    "nodes": [
        _node(0, "OverwriteByExpression", "OverwriteByExpression NoopWrite"),
        _node(1, "MapInPandas", "MapInPandas kernel(osm_id#1)",
              ("time to run Python workers", 10, "timing"),
              ("time to start Python workers", 11, "timing"),
              ("time to initialize Python workers", 12, "timing"),
              ("data sent to Python workers", 13, "size"),
              ("data returned from Python workers", 14, "size"),
              ("number of output rows", 15, "sum")),
        dict(_node(2, "WholeStageCodegen (4)", "WholeStageCodegen (4)",
                   ("duration", 20, "timing")),
             nodes=[
                 _node(3, "BroadcastHashJoin",
                       "BroadcastHashJoin [grid_id#33L], [grid_id#24L], Inner, BuildRight, (x < y)",
                       ("number of output rows", 30, "sum")),
                 _node(4, "Filter", "Filter isnotnull(grid_id#33L)",
                       ("number of output rows", 40, "sum")),
                 _node(5, "Generate",
                       "Generate explode(flatten(transform(sequence(greatest(0, 1), 2))))",
                       ("number of output rows", 50, "sum")),
                 _node(6, "Generate", "Generate explode(vertices#176), [osm_id#167L]",
                       ("number of output rows", 60, "sum")),
             ]),
        _node(7, "Exchange", "Exchange hashpartitioning(osm_id#0L, 8)",
              ("shuffle bytes written", 70, "size")),
        _node(8, "HashAggregate", "HashAggregate(keys=[osm_id#66L])",
              ("spill size", 80, "size")),
        _node(9, "Scan parquet ", "FileScan parquet [osm_id#0L]",
              ("number of output rows", 90, "sum")),
    ],
    "edges": [{"fromId": 1, "toId": 0}, {"fromId": 3, "toId": 1}, {"fromId": 4, "toId": 3},
              {"fromId": 5, "toId": 4}, {"fromId": 6, "toId": 5}, {"fromId": 9, "toId": 6},
              {"fromId": 8, "toId": 7}],
}
VALUES = {
    "10": TOTAL + "12.0 s (2.9 s, 3.1 s, 3.1 s (stage 12.0: task 18))",
    "11": "1.5 s", "12": "500 ms",
    "13": TOTAL + "640.9 KiB (140.1 KiB, 163.5 KiB, 183.1 KiB (stage 12.0: task 17))",
    "14": "336.0 KiB", "15": "4,599",
    "20": TOTAL + "4.8 s (1.2 s, 1.2 s, 2.4 s (stage 3.0: task 9))",
    "30": "30,518", "40": "32,323", "50": "32,323", "60": "18,348",
    "70": TOTAL + "97.5 KiB (21.8 KiB, 24.7 KiB, 27.2 KiB (stage 1.0: task 1))",
    "80": "0.0 B", "90": "4,599",
}


def test_metric_strings():
    assert layers.metric_total("4,599") == 4599
    assert layers.metric_total("244 ms") == 244
    assert layers.metric_total("2.0 s") == 2000
    assert layers.metric_total("1.1 m") == 66000
    assert layers.metric_total(VALUES["70"]) == 97.5 * 1024
    assert layers.metric_max_over_med(VALUES["20"]) == 2.0
    assert layers.metric_max_over_med("148 ms") == 1.0


def test_fold_cover_join_and_python_nodes():
    m = layers.fold(PLAN, VALUES)
    # only the cell-cover explode counts; the vertex explode does not, and
    # the null-check Filter passes through to the refining join
    assert m["spatial_join.cover_rows"] == 32323
    assert m["spatial_join.refined_rows"] == 30518
    assert layers.amplification(m["spatial_join.cover_rows"],
                                m["spatial_join.refined_rows"]) == 32323 / 30518
    assert m["skew.task_max_over_p50"] == 2.0
    assert m["exec.codegen_ms"] == 4800
    assert m["exec.shuffle_bytes"] == 97.5 * 1024
    assert m["exec.spill_bytes"] == 0
    assert m["python.run_ms"] == 12000
    assert m["python.start_ms"] == 2000
    assert m["python.bytes_sent"] == 640.9 * 1024
    assert m["python.bytes_returned"] == 336.0 * 1024
    assert m["python.rows_out"] == 4599
    assert layers.scan_rows(PLAN, VALUES) == 4599


def test_no_cover_join():
    assert layers.amplification(0.0, 0.0) == 0.0
    plan = {"nodes": [PLAN["nodes"][1]], "edges": []}
    m = layers.fold(plan, VALUES)
    assert m["spatial_join.cover_rows"] == 0
    assert m["skew.task_max_over_p50"] == 0


def test_covered_counts_overlapping_children_once():
    # a streaming start execution with its micro-batches nested inside
    assert layers.covered_s(0.0, 10.0, [(1.0, 9.0), (2.0, 3.0), (4.0, 5.0)]) == 8.0
    assert layers.covered_s(0.0, 10.0, [(-1.0, 2.0), (8.0, 12.0)]) == 4.0
    assert layers.covered_s(0.0, 10.0, []) == 0.0


def test_workload_layers_keep_traced_only_ops_out_of_the_sums():
    import run

    res = {"session.start_s": 7.0, "world.materialize_s": 9.0,
           "layers": {"q01.spatial_join.cover_rows": 32.0, "q01.spatial_join.refined_rows": 30.0,
                      "q02.spatial_join.cover_rows": 32.0, "q02.spatial_join.refined_rows": 30.0,
                      "q01.skew.task_max_over_p50": 1.5, "q02.skew.task_max_over_p50": 2.0},
           "traced_layers": {"checkpoint.spatial_join.cover_rows": 512.0,
                             "checkpoint.scan_rows": 180.0, "checkpoint.crash_s": 4.0},
           "checkpoint_baseline_scan_rows": 10.0}
    m = run._workload_layers(res)
    assert m["spatial_join.cover_rows"] == 64
    assert m["spatial_join.amplification"] == 64 / 60
    assert m["skew.task_max_over_p50"] == 2.0
    assert m["checkpoint.spatial_join.cover_rows"] == 512
    assert m["checkpoint.crash_s"] == 4.0
    assert m["checkpoint.recompute_amplification"] == 18.0
    assert m["q21.exec.action_s"] == 0.0     # not run by this workload
    assert m["raster.materialize_s"] == 0.0
    assert set(m) | {"trace.overhead_s", "proc.peak_rss_mb"} == set(run.PER_LAYER)


def test_benchmark_json_matches_reported_metrics():
    import json
    import os

    import run

    with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert all(m["unit"] == run._layer_unit(m["name"]) for m in spec["per_layer"])
