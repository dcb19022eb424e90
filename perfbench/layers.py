"""Per-layer metrics folded from Spark's SQL status store.

After each action the traced run exports the finished execution's plan graph
(``SQLAppStatusStore.planGraph``) and its aggregated metric strings
(``executionMetrics``) as JSON.  The functions here are pure: they take that
JSON and return numbers, so ``test_layers.py`` can check them on a fixed plan.

Metric strings are Spark's UI formatting: ``"4,599"`` for sums,
``"97.5 KiB"`` / ``"2.0 s"`` for single-task sizes and timings, and
``"total (min, med, max (stageId: taskId))\\n4.9 s (1.2 s, 1.2 s, 1.3 s (...))"``
when more than one task reported.
"""

from __future__ import annotations

import re

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_QUANTITY = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?")
# the cell-cover explode of functions.cells (segment_cover / bbox_cover);
# the vertex, media and kNN-ring explodes do not start this way
_COVER = re.compile(r"^Generate explode\(flatten\(transform\(sequence\(")
_PASS_THROUGH = ("Project", "Exchange", "AQEShuffleRead", "BroadcastExchange",
                 "ShuffleQueryStage", "BroadcastQueryStage", "InputAdapter",
                 "ColumnarToRow", "Sort")


def _quantities(text: str) -> list[float]:
    """Every number in a metric string, converted to bytes or milliseconds."""
    out = []
    for num, unit in _QUANTITY.findall(text):
        v = float(num.replace(",", ""))
        if unit in _SIZE:
            v *= _SIZE[unit]
        elif unit in _TIME_MS:
            v *= _TIME_MS[unit]
        out.append(v)
    return out


def metric_total(text: str) -> float:
    """Total of a metric string (bytes for sizes, ms for timings)."""
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    q = _quantities(body)
    return q[0] if q else 0.0


def metric_max_over_med(text: str) -> float:
    """max / median per-task value of a timing or size metric; 1.0 when a
    single task reported (no min/med/max breakdown)."""
    if not text.startswith("total"):
        return 1.0
    q = _quantities(text.split("\n", 1)[1])
    # total, min, med, max, then the stage/task ids of the max
    med, mx = q[2], q[3]
    return mx / med if med > 0 else 1.0


def flatten(graph: dict) -> tuple[dict[int, dict], dict[int, int], dict[int, int]]:
    """(nodes by id, parent id by child id, codegen cluster id by node id)."""
    nodes, cluster = {}, {}
    for n in graph["nodes"]:
        nodes[n["id"]] = n
        for inner in n.get("nodes", []):
            nodes[inner["id"]] = inner
            cluster[inner["id"]] = n["id"]
    parent = {e["fromId"]: e["toId"] for e in graph["edges"]}
    return nodes, parent, cluster


def _values(node: dict, values: dict[str, str], name: str) -> list[str]:
    return [values[str(m["accumulatorId"])] for m in node["metrics"]
            if m["name"] == name and str(m["accumulatorId"]) in values]


def _sum(nodes, values, name: str, node_pred=lambda n: True) -> float:
    return sum(metric_total(v) for n in nodes.values() if node_pred(n)
               for v in _values(n, values, name))


def _refine_node(nid: int, nodes: dict, parent: dict) -> dict | None:
    """First ancestor of a cover explode that drops candidates: a join (the
    exact predicate is often folded into its condition) or a real Filter."""
    cur = parent.get(nid)
    while cur is not None:
        n = nodes[cur]
        name = n["name"]
        if name.endswith("Join"):
            return n
        if name == "Filter":
            if not re.fullmatch(r"Filter isnotnull\([^()]*\)", n["desc"]):
                return n
        elif not name.startswith(_PASS_THROUGH + ("WholeStageCodegen",)):
            return None
        cur = parent.get(cur)
    return None


def fold(graph: dict, values: dict[str, str]) -> dict[str, float]:
    """Layer metrics of one SQL execution."""
    nodes, parent, cluster = flatten(graph)
    out = {
        "exec.shuffle_bytes": _sum(nodes, values, "shuffle bytes written"),
        "exec.spill_bytes": _sum(nodes, values, "spill size"),
        "exec.codegen_ms": _sum(nodes, values, "duration",
                                lambda n: n["name"].startswith("WholeStageCodegen")),
        "python.run_ms": _sum(nodes, values, "time to run Python workers"),
        "python.start_ms": (_sum(nodes, values, "time to start Python workers")
                            + _sum(nodes, values, "time to initialize Python workers")),
        "python.bytes_sent": _sum(nodes, values, "data sent to Python workers"),
        "python.bytes_returned": _sum(nodes, values, "data returned from Python workers"),
        "python.rows_out": _sum(nodes, values, "number of output rows",
                                lambda n: any(m["name"] == "time to run Python workers"
                                              for m in n["metrics"])),
        "spatial_join.cover_rows": 0.0,
        "spatial_join.refined_rows": 0.0,
        "skew.task_max_over_p50": 0.0,
    }
    for nid, n in nodes.items():
        if n["name"] != "Generate" or not _COVER.match(n["desc"]):
            continue
        refine = _refine_node(nid, nodes, parent)
        rows = _values(n, values, "number of output rows")
        if refine is None or not rows:
            continue
        out["spatial_join.cover_rows"] += metric_total(rows[0])
        out["spatial_join.refined_rows"] += sum(
            metric_total(v) for v in _values(refine, values, "number of output rows"))
        # task skew of the stage that consumes the exploded candidates
        wscg = nodes.get(cluster.get(refine["id"], -1))
        durations = _values(wscg, values, "duration") if wscg else []
        if durations:
            out["skew.task_max_over_p50"] = max(out["skew.task_max_over_p50"],
                                                metric_max_over_med(durations[0]))
    return out


def scan_rows(graph: dict, values: dict[str, str]) -> float:
    """Rows produced by parquet scans in one execution."""
    nodes, _, _ = flatten(graph)
    return _sum(nodes, values, "number of output rows",
                lambda n: n["name"].startswith("Scan parquet"))


def covered_s(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Seconds of [start, end] covered by the union of ``intervals`` (child
    spans overlap: a streaming query's micro-batch executions run inside the
    execution that started it)."""
    total, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            total += b - a
            reach = b
    return total


def amplification(cover_rows: float, refined_rows: float) -> float:
    """Exploded cover candidates per refined output row (0 when no cover)."""
    return cover_rows / refined_rows if refined_rows else 0.0
