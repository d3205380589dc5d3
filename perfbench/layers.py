"""Per-layer metric catalogue and the offline Spark event-log parser.

A layer is a module of ``jena_spark``. The benchmark calls each layer's
public functions under a Spark job group named after the layer (see
``GROUP_OF``); with ``--trace 1`` the session writes an uncompressed,
unrolled event log, and :func:`parse_event_log` folds its task-end
events into per-group engine counters after the session stops.

Run standalone to print the engine counters of any event log::

    python3 perfbench/layers.py <event-log-file>
"""

from __future__ import annotations

import json
import statistics
import sys

#: engine counters taken from the event log, per job group
ENGINE = {
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "off_jvm_s": "s",  # run minus JVM CPU: Python workers, Arrow, waiting
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "tasks": "count",
    "tasks_failed": "count",
    "task_skew": "ratio",  # max / median task run time
}

#: layer name (metric prefix) -> the job groups its engine counters sum
ENGINE_GROUPS = {
    "pipeline.extract": ("pipeline.extract",),
    "pipeline.encoded": ("pipeline.encoded",),
    "pipeline.encoded.fold": ("pipeline.encoded.fold",),
    "pipeline.encode": ("pipeline.encode.node_dict",),
    "pipeline.materialize": ("pipeline.materialize",),
    "queries.algebra": ("queries.algebra.bgp_star", "queries.algebra.bgp_triangle"),
    "queries.paths": ("queries.paths.path_closure",),
}

#: query shape -> the layer module that evaluates it
SHAPE_LAYER = {
    "find": "queries.graph",
    "subjects": "queries.graph",
    "set_ops": "queries.graph",
    "bgp_star": "queries.algebra",
    "bgp_triangle": "queries.algebra",
    "sparql_select": "queries.sparql",
    "sparql_path": "queries.sparql",
    "path_closure": "queries.paths",
}

#: timed layer metrics (from spans and counts the benchmark records)
TIMED = {
    "pipeline.extract.busy_s": "s",
    "pipeline.extract.rows": "count",
    "pipeline.canonicalize.busy_s": "s",
    "pipeline.canonicalize.surfaces": "count",
    "pipeline.encoded.busy_s": "s",
    "pipeline.encoded.rows": "count",
    "pipeline.encoded.fold_call_s": "s",
    "pipeline.encoded.write_amplification": "ratio",
    "pipeline.encode.node_dict_s": "s",
    "pipeline.encode.node_rows_in": "count",
    "pipeline.encode.node_rows_out": "count",
    "pipeline.encode.dedup_ratio": "ratio",
    "pipeline.encode.find_encoded_s": "s",
    "pipeline.encode.decode_s": "s",
    "pipeline.materialize.write_s": "s",
    "pipeline.materialize.bytes_written": "bytes",
    "pipeline.materialize.files_written": "count",
    "sources.iceberg.read_s": "s",
    "queries.sparql.plan_s": "s",
    "queries.sparql.exec_s": "s",
    **{f"{SHAPE_LAYER[s]}.{s}.exec_s_p50": "s" for s in SHAPE_LAYER},
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = dict(TIMED)
    for layer in ENGINE_GROUPS:
        for counter, unit in ENGINE.items():
            out.setdefault(f"{layer}.{counter}", unit)
    return out


def parse_event_log(path: str) -> dict[str, dict]:
    """job group -> raw task totals, from one uncompressed event log."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "")
                tasks.setdefault(group, []).append(ev)
    return {g: _totals(evs) for g, evs in tasks.items()}


def _totals(evs: list[dict]) -> dict:
    run_ms, cpu_ns, gc_ms, shuffle, spill, failed = [], 0, 0, 0, 0, 0
    for ev in evs:
        m = ev.get("Task Metrics") or {}
        run_ms.append(m.get("Executor Run Time", 0))
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        if (ev.get("Task Info") or {}).get("Failed") or \
                (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
            failed += 1
    return {"run_ms": run_ms, "cpu_ns": cpu_ns, "gc_ms": gc_ms,
            "shuffle": shuffle, "spill": spill, "failed": failed}


def engine_counters(groups: dict[str, dict]) -> dict[str, float]:
    """``<layer>.<counter>`` for every layer of ``ENGINE_GROUPS``; a
    layer whose groups ran no task reports zeros."""
    out: dict[str, float] = {}
    for layer, names in ENGINE_GROUPS.items():
        run_ms: list[int] = []
        cpu_ns = gc_ms = shuffle = spill = failed = 0
        for g in names:
            t = groups.get(g)
            if t is None:
                continue
            run_ms += t["run_ms"]
            cpu_ns += t["cpu_ns"]
            gc_ms += t["gc_ms"]
            shuffle += t["shuffle"]
            spill += t["spill"]
            failed += t["failed"]
        run_s, cpu_s = sum(run_ms) / 1e3, cpu_ns / 1e9
        med = statistics.median(run_ms) if run_ms else 0
        out.update({
            f"{layer}.executor_run_s": run_s,
            f"{layer}.executor_cpu_s": cpu_s,
            f"{layer}.off_jvm_s": max(run_s - cpu_s, 0.0),
            f"{layer}.gc_s": gc_ms / 1e3,
            f"{layer}.shuffle_write_bytes": shuffle,
            f"{layer}.spill_bytes": spill,
            f"{layer}.tasks": len(run_ms),
            f"{layer}.tasks_failed": failed,
            f"{layer}.task_skew": (max(run_ms) / med) if med else 0.0,
        })
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/layers.py <event-log-file>")
    print(json.dumps(engine_counters(parse_event_log(sys.argv[1])), indent=1))
