"""Metrics of one run, computed from the raw records ``worker.py`` writes.

End-to-end metrics use the untraced steady passes (every steady pass when
the run is untraced); per-layer metrics are per traced pass, as the median
over the traced passes of the run.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

# Bounded in BENCHMARK.json: every workload reports them.  Their ten-seed
# quartile spreads are in README.md; on a busy host they come near the
# bound, because whole runs slow down with it.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cold_wall_s": "s",
    "peak_rss_mb": "MB",
}
# Reported but not bounded: a tail needs 20 samples (so it lies above the
# median) and the batch metrics need micro-batches, so they do not apply
# to every workload; query_p50_s and the shuffle rates rest on one
# operation or on short stages, so on query_mix they spread more than
# wall_s.
# first_setup_s is one sample per run (the JVM launches once), and on a
# shared host its spread over ten runs reached the 0.25 bound; setup_s is
# the bounded set-up time, and session.first_start_s and
# session.first_warmup_s split the first set-up per layer.
# cpu_probe_ms and stolen_cpu_s are the host's speed and contention during
# the run, for telling a slow host from slow code.
REPORTED = {
    "first_setup_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "shuffle_write_mb_s": "MB/s",
    "shuffle_read_mb_s": "MB/s",
    "batch_p50_ms": "ms",
    "batch_tail_ms": "ms",
    "stream_rows_per_s": "1/s",
    "cpu_probe_ms": "ms",
    "stolen_cpu_s": "s",
}
LAYERS = ("benchmark", "session", "queries", "plans", "operators", "streaming")
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.first_start_s": "s",
    "session.first_warmup_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.task_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.busy_frac": "ratio",
    "operators.failed_tasks": "count",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.records": "count",
    "shuffle.write_time_s": "s",
    "shuffle.fetch_wait_s": "s",
    "shuffle.stored_per_raw": "ratio",
    "shuffle.spill_mem_bytes": "B",
    "shuffle.spill_disk_bytes": "B",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_mem_bytes": "B",
    "streaming.empty_batch_frac": "ratio",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.overhead": "ratio",
}


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest percentile with at least ten
    samples beyond it; None below twenty samples."""
    n = len(samples)
    if n < 20:
        return None
    return sorted(samples)[n - 11], 100.0 * (n - 10) / n, n


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _passes(records: list[dict], traced: bool) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = defaultdict(list)
    for r in records:
        if r["pass"] > 0 and r["traced"] == traced:
            out[r["pass"]].append(r)
    return out


def _wall(recs: list[dict]) -> float:
    return sum(r["latency_s"] or 0.0 for r in recs)


def _rate_mb_s(steady: list[dict], key: str) -> float:
    """Shuffle bytes over the wall time of the stages that moved them (the
    map stages for writes, the reduce stages for reads), each operation
    contributing the median of its steady executions."""
    by_op: dict[str, list[tuple[int, float]]] = defaultdict(list)
    for r in steady:
        moved = [s for s in r["stages"] if s[key] > 0 and s["completed"] >= s["submitted"] > 0]
        by_op[r["op"]].append(
            (sum(s[key] for s in moved), sum(s["completed"] - s["submitted"] for s in moved))
        )
    moved_bytes = sum(statistics.median(b for b, _ in v) for v in by_op.values())
    wall = sum(statistics.median(w for _, w in v) for v in by_op.values())
    return moved_bytes / wall / 1e6 if wall > 0 else 0.0


def failures(result: dict) -> tuple[int, int]:
    """(failed, attempted) operations: an execution fails when it raised,
    or when its operation's checked output was wrong."""
    wrong = {op for op, err in result["checks"].items() if err}
    records = result["records"]
    failed = sum(1 for r in records if r["error"] or r["op"] in wrong)
    return failed, len(records)


def steady_pass_s(steady: list[dict]) -> float:
    """Completion time of a steady pass, estimated as the sum over its
    operations of each one's median steady latency: on a shared host one
    pass's wall time varies by about a tenth, a per-operation median much
    less."""
    by_op: dict[str, list[float]] = defaultdict(list)
    for r in steady:
        if r["latency_s"] is not None:
            by_op[r["op"]].append(r["latency_s"])
    return sum(statistics.median(v) for v in by_op.values())


def end_to_end(result: dict) -> dict[str, float | None]:
    records = result["records"]
    steady = [r for rs in _passes(records, traced=False).values() for r in rs]
    batches = [b for r in steady for b in r["batches"]]
    trigger_ms = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    latencies = [r["latency_s"] for r in steady if r["latency_s"] is not None]
    failed, attempted = failures(result)
    q_tail, b_tail = tail(latencies), tail(trigger_ms)
    return {
        "setup_s": _median([s["start_s"] + s["warmup_s"] for s in result["setups"]]),
        "first_setup_s": result["setups"][0]["start_s"] + result["setups"][0]["warmup_s"],
        "wall_s": steady_pass_s(steady),
        "steady_passes": len(_passes(records, traced=False)),
        "cold_wall_s": _wall([r for r in records if r["pass"] == 0]),
        "query_p50_s": _median(latencies),
        "shuffle_write_mb_s": _rate_mb_s(steady, "write_bytes"),
        "shuffle_read_mb_s": _rate_mb_s(steady, "read_bytes"),
        "peak_rss_mb": result["peak_rss_mb"],
        "query_tail_s": q_tail[0] if q_tail else None,
        "query_tail_pct": q_tail[1] if q_tail else None,
        "query_samples": len(latencies),
        "batch_p50_ms": _median(trigger_ms) if batches else None,
        "batch_tail_ms": b_tail[0] if b_tail else None,
        "batch_tail_pct": b_tail[1] if b_tail else None,
        "batch_samples": len(batches),
        "stream_rows_per_s": (
            sum(b["input_rows"] for b in batches) / (sum(trigger_ms) / 1000.0) if sum(trigger_ms) else None
        ),
        "cpu_probe_ms": 1000.0 * _median([r["cpu_probe_s"] for r in records]),
        "stolen_cpu_s": result["stolen_cpu_s"],
        "error_rate": failed / attempted if attempted else 0.0,
        "failed": failed,
        "attempted": attempted,
    }


def _layer_counts(recs: list[dict], cpus: int) -> dict[str, float]:
    """Per-layer numbers of one pass (or of one operation's executions)."""
    stages = [s for r in recs for s in r["stages"]]
    batches = [b for r in recs for b in r["batches"]]
    last_batch = {b["run_id"]: b for b in batches}
    wall = _wall(recs)
    task_s = sum(s["run_ms"] for s in stages) / 1000.0
    raw = sum(r.get("raw_exchange_bytes", 0) for r in recs)
    write_bytes = sum(s["write_bytes"] for s in stages)
    return {
        "queries.build_s": sum(r.get("build_s", 0.0) for r in recs),
        "queries.build_jobs": sum(r.get("build_jobs", 0) for r in recs),
        "plans.plan_s": sum(r.get("plan_s", 0.0) for r in recs),
        "plans.exchanges": sum(r.get("exchanges", 0) for r in recs),
        "plans.broadcasts": sum(r.get("broadcasts", 0) for r in recs),
        "operators.jobs": sum(len(r["jobs"]) for r in recs),
        "operators.stages": len(stages),
        "operators.tasks": sum(s["tasks"] for s in stages),
        "operators.task_s": task_s,
        "operators.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "operators.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "operators.busy_frac": task_s / (wall * cpus) if wall else 0.0,
        "operators.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "shuffle.write_bytes": write_bytes,
        "shuffle.read_bytes": sum(s["read_bytes"] for s in stages),
        "shuffle.records": sum(s["write_records"] for s in stages),
        "shuffle.write_time_s": sum(s["write_ns"] for s in stages) / 1e9,
        "shuffle.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1000.0,
        "shuffle.stored_per_raw": write_bytes / raw if raw else 0.0,
        "shuffle.spill_mem_bytes": sum(s["spill_mem"] for s in stages),
        "shuffle.spill_disk_bytes": sum(s["spill_disk"] for s in stages),
        "streaming.batches": len(batches),
        "streaming.input_rows": sum(b["input_rows"] for b in batches),
        "streaming.add_batch_ms": sum(b["duration_ms"].get("addBatch", 0) for b in batches),
        "streaming.planning_ms": sum(b["duration_ms"].get("queryPlanning", 0) for b in batches),
        "streaming.commit_ms": sum(
            b["duration_ms"].get("walCommit", 0) + b["duration_ms"].get("commitOffsets", 0) for b in batches
        ),
        "streaming.state_rows": sum(b["state_rows"] for b in last_batch.values()),
        "streaming.state_rows_updated": sum(b["state_rows_updated"] for b in batches),
        "streaming.state_mem_bytes": sum(b["state_mem_bytes"] for b in last_batch.values()),
        "streaming.empty_batch_frac": (
            sum(b["input_rows"] == 0 for b in batches) / len(batches) if batches else 0.0
        ),
    }


def per_layer(result: dict) -> dict[str, float]:
    records, cpus = result["records"], result["regime"]["cpus"]
    traced = _passes(records, traced=True)
    per_pass = [_layer_counts(rs, cpus) for rs in traced.values()]
    out = {name: _median([p[name] for p in per_pass]) for name in per_pass[0]}
    out["session.start_s"] = _median([s["start_s"] for s in result["setups"]])
    out["session.warmup_s"] = _median([s["warmup_s"] for s in result["setups"]])
    out["session.first_start_s"] = result["setups"][0]["start_s"]
    out["session.first_warmup_s"] = result["setups"][0]["warmup_s"]
    self_s = result["self_s"]
    for layer in LAYERS:
        share = len(result["setups"]) if layer == "session" else len(traced)
        out[f"self_s.{layer}"] = self_s.get(layer, 0.0) / share
    untraced = [r for rs in _passes(records, traced=False).values() for r in rs]
    out["trace.overhead"] = steady_pass_s([r for rs in traced.values() for r in rs]) / steady_pass_s(untraced)
    return {name: out[name] for name in PER_LAYER}


def per_operation(result: dict) -> dict[str, dict[str, float]]:
    """Latency and shuffle counters of each operation, as medians over its
    steady executions (traced ones too: the counters do not depend on it)."""
    cpus = result["regime"]["cpus"]
    by_op: dict[str, list[dict]] = defaultdict(list)
    for r in result["records"]:
        if r["pass"] > 0:
            by_op[r["op"]].append(r)
    out = {}
    for op, recs in by_op.items():
        counts = [_layer_counts([r], cpus) for r in recs]
        out[op] = {
            "latency_s": _median([r["latency_s"] for r in recs if r["latency_s"] is not None]),
            **{
                k: _median([c[k] for c in counts])
                for k in (
                    "operators.jobs",
                    "shuffle.write_bytes",
                    "shuffle.read_bytes",
                    "shuffle.spill_mem_bytes",
                    "shuffle.spill_disk_bytes",
                    "streaming.batches",
                )
            },
        }
    return out


def flags(result: dict) -> list[str]:
    """Ways the run did not exercise what its workload is meant to: on
    shuffle_exchange the sort must spill to disk (so spill and merge are
    measured) and the repartition must not (so the in-memory write and
    read phases are)."""
    if result["workload"] != "shuffle_exchange":
        return []
    ops = result["per_operation"]
    out = []
    if not ops.get("sort", {}).get("shuffle.spill_disk_bytes"):
        out.append("the sort did not spill to disk: spill and merge were not measured")
    if ops.get("repartition", {}).get("shuffle.spill_disk_bytes"):
        out.append("the repartition spilled to disk: its phases are not in-memory")
    return out
