"""Per-layer numbers from Spark's own event log.

The benchmark enables ``spark.eventLog`` only in its traced session and
reads the log after the session stops. Nothing here reaches into the
engine: executions, jobs, stages and tasks come from the listener events
Spark writes, and operator time from the SQL metrics those events carry.

Operator time is task time (summed over executor threads), not wall time.
A whole-stage-codegen stage counts as ``op.join_s`` when a join runs
inside it (sort-merge and broadcast joins carry no timer of their own) and
as ``op.codegen_s`` otherwise, minus the timed operators (and nested codegen
stages) that run inside it in the same task, so the operator layers do not
overlap. ``op.python_s`` is the exception: Python workers run
beside the task thread, so their time overlaps the stage that waits on them
and is listed apart from the task-time table's sum.
"""

from __future__ import annotations

import json
import os
import statistics

EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
EXEC_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

OP_LAYERS = ("op.scan_s", "op.exchange_s", "op.join_s", "op.agg_s",
             "op.sort_s", "op.python_s", "op.codegen_s")
SECONDS_PER_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}
SHUFFLE_TIMERS = {"shuffle write time", "fetch wait time"}
# nodes below which a different task (stage) does the work
STAGE_BOUNDARIES = ("Exchange", "BroadcastExchange", "ShuffleQueryStage",
                    "BroadcastQueryStage", "ReusedExchange")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session confs that write one plain-JSON event log into ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _op_layer(node: str) -> str | None:
    n = node.lower()
    if "python" in n or "pandas" in n or "arrow" in n:
        return "op.python_s"
    if "scan" in n:
        return "op.scan_s"
    if "join" in n:
        return "op.join_s"
    if "exchange" in n or "shuffle" in n or "broadcast" in n:
        return "op.exchange_s"
    if "aggregate" in n:
        return "op.agg_s"
    if "sort" in n or "takeordered" in n:
        return "op.sort_s"
    return None


def _is_codegen(node: str) -> bool:
    return node.startswith("WholeStageCodegen")


def _joins_inside(plan: dict) -> bool:
    """True when a join runs inside the codegen stage ``plan`` itself (not
    in a nested stage or below a stage boundary)."""
    for child in plan.get("children", []):
        name = child["nodeName"]
        if name.startswith(STAGE_BOUNDARIES) or _is_codegen(name):
            continue
        if "join" in name.lower() or _joins_inside(child):
            return True
    return False


def _timing_metrics(plan: dict, out: dict[int, tuple], enclosing: str | None = None) -> None:
    """accumulator id -> (op layer, seconds per unit, layer of the enclosing
    codegen stage whose time already includes it, or None) for every timing
    metric in ``plan`` (a sparkPlanInfo tree)."""
    name = plan["nodeName"]
    if name.startswith(STAGE_BOUNDARIES):
        enclosing = None
    if _is_codegen(name):
        layer = "op.join_s" if _joins_inside(plan) else "op.codegen_s"
    else:
        layer = _op_layer(name)
    for m in plan.get("metrics", []):
        scale = SECONDS_PER_UNIT.get(m["metricType"])
        metric_layer = "op.exchange_s" if m["name"] in SHUFFLE_TIMERS else layer
        if scale is not None and metric_layer is not None:
            out[m["accumulatorId"]] = (
                metric_layer, scale, None if metric_layer == "op.python_s" else enclosing)
    if _is_codegen(name):
        enclosing = layer
    for child in plan.get("children", []):
        _timing_metrics(child, out, enclosing)


def _new_exec(start_ms: int) -> dict:
    return {"start": start_ms / 1e3, "end": None, "jobs": 0, "stages": 0,
            "tasks": 0, "empty_tasks": 0, "aqe_replans": 0,
            "sched_delay_s": 0.0, "task_s": 0.0, "task_overhead_s": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "peak_exec_mem_bytes": 0,
            "stage_task_s": {}, **{k: 0.0 for k in OP_LAYERS}}


def read_event_log(log_dir: str) -> list[dict]:
    """One record per SQL execution in the (single) log under ``log_dir``."""
    files = [os.path.join(log_dir, f) for f in sorted(os.listdir(log_dir))
             if not f.startswith(".")]
    execs: dict[int, dict] = {}
    timing: dict[int, tuple] = {}
    job_exec: dict[int, int] = {}
    stage_exec: dict[int, int] = {}

    def add_accum(ex: dict, acc_id: int, value) -> None:
        # task-side SQL metric updates are logged as decimal strings
        hit = timing.get(acc_id)
        if hit is not None and value is not None:
            layer, scale, enclosing = hit
            seconds = float(value) * scale
            ex[layer] += seconds
            if enclosing is not None:
                ex[enclosing] -= seconds

    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == EXEC_START:
                    execs[e["executionId"]] = _new_exec(e["time"])
                    _timing_metrics(e["sparkPlanInfo"], timing)
                elif kind == AQE_UPDATE:
                    ex = execs.get(e["executionId"])
                    if ex is not None:
                        ex["aqe_replans"] += 1
                    _timing_metrics(e["sparkPlanInfo"], timing)
                elif kind == EXEC_END:
                    if e["executionId"] in execs:
                        execs[e["executionId"]]["end"] = e["time"] / 1e3
                elif kind == "SparkListenerJobStart":
                    exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
                    if exec_id is not None and int(exec_id) in execs:
                        ex_id = int(exec_id)
                        job_exec[e["Job ID"]] = ex_id
                        execs[ex_id]["jobs"] += 1
                        execs[ex_id]["stages"] += len(e["Stage IDs"])
                        for sid in e["Stage IDs"]:
                            stage_exec[sid] = ex_id
                elif kind == "SparkListenerTaskEnd":
                    ex = execs.get(stage_exec.get(e["Stage ID"], -1))
                    if ex is None or "Task Metrics" not in e:
                        continue
                    info, m = e["Task Info"], e["Task Metrics"]
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
                    run = m["Executor Run Time"] / 1e3
                    overhead = (m["Executor Deserialize Time"]
                                + m["Result Serialization Time"]) / 1e3
                    ex["tasks"] += 1
                    ex["task_s"] += dur
                    ex["task_overhead_s"] += overhead
                    ex["sched_delay_s"] += max(0.0, dur - run - overhead)
                    read = (m["Input Metrics"]["Records Read"]
                            + m["Shuffle Read Metrics"]["Total Records Read"])
                    ex["empty_tasks"] += read == 0
                    ex["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    ex["spill_bytes"] += m["Disk Bytes Spilled"]
                    ex["peak_exec_mem_bytes"] = max(
                        ex["peak_exec_mem_bytes"], m["Peak Execution Memory"])
                    ex["stage_task_s"].setdefault(e["Stage ID"], []).append(dur)
                    for acc in info.get("Accumulables", []):
                        add_accum(ex, acc["ID"], acc.get("Update"))
    return [dict(ex, id=k) for k, ex in sorted(execs.items())]


def stage_skew(execs: list[dict]) -> float:
    """Mean over multi-task stages of max / median task time."""
    ratios = []
    for ex in execs:
        for durs in ex["stage_task_s"].values():
            med = statistics.median(durs)
            if len(durs) > 1 and med > 0:
                ratios.append(max(durs) / med)
    return statistics.fmean(ratios) if ratios else 1.0


def spark_layers(execs: list[dict], per: int) -> dict[str, float]:
    """Spark-side per-layer metrics over ``execs``, averaged over ``per``
    operations (queries or micro-batches)."""
    per = max(per, 1)

    def total(key: str) -> float:
        return sum(ex[key] for ex in execs)

    tasks = total("tasks")
    out = {
        "spark.exec_s": sum(ex["end"] - ex["start"] for ex in execs
                            if ex["end"] is not None) / per,
        "spark.jobs": total("jobs") / per,
        "spark.stages": total("stages") / per,
        "spark.tasks": tasks / per,
        "spark.aqe_replans": total("aqe_replans") / per,
        "spark.sched_delay_s": total("sched_delay_s") / per,
        "spark.empty_task_ratio": total("empty_tasks") / tasks if tasks else 0.0,
        "spark.task_s": total("task_s") / per,
        "spark.task_overhead_s": total("task_overhead_s") / per,
        "spark.shuffle_bytes": total("shuffle_bytes") / per,
        "spark.spill_bytes": total("spill_bytes") / per,
        "spark.peak_exec_mem_bytes": float(
            max((ex["peak_exec_mem_bytes"] for ex in execs), default=0)),
        "spark.task_skew": stage_skew(execs),
    }
    for k in OP_LAYERS:
        out[k] = total(k) / per
    return out


def task_time_table(layers: dict[str, float]) -> list[tuple[str, float]]:
    """Task-time self-time table: operator time, scheduler delay and task
    start/finish overhead, plus the residual they leave unexplained."""
    rows = [(k, layers[k]) for k in OP_LAYERS if k != "op.python_s"]
    rows.append(("spark.sched_delay_s", layers["spark.sched_delay_s"]))
    rows.append(("spark.task_overhead_s", layers["spark.task_overhead_s"]))
    rows.append(("residual", layers["spark.task_s"] - sum(v for _, v in rows)))
    rows.append(("(op.python_s, overlaps)", layers["op.python_s"]))
    return rows


def format_table(title: str, rows: list[tuple[str, float]], total: float) -> str:
    lines = [title, f"  {'layer':<26}{'seconds':>10}{'share':>8}"]
    for name, v in rows:
        share = v / total if total else 0.0
        lines.append(f"  {name:<26}{v:>10.4f}{share:>8.1%}")
    lines.append(f"  {'total':<26}{total:>10.4f}")
    return "\n".join(lines)


def format_columns(title: str, keys: tuple[str, ...], columns: dict[str, dict]) -> str:
    """One row per metric in ``keys``, one column per named run."""
    lines = [title, f"  {'metric':<26}" + "".join(f"{c:>16}" for c in columns)]
    for k in keys:
        lines.append(f"  {k:<26}" + "".join(f"{col[k]:>16.4g}" for col in columns.values()))
    return "\n".join(lines)
