"""One benchmark run, in a fresh driver process started by ``run.py``.

Sets up the engine's session, which launches the JVM, and runs the
workload's operations in a closed loop with one client (one operation at
a time): a cold pass right after the set-up, one warm-up pass, then
steady passes for ``--seconds``.  With ``--trace 1`` the steady passes
alternate between untraced and traced; per-layer numbers come from the
traced ones.
Outputs are checked after the loop, outside timing.  Last, it sets up
four more times, each stopping the SparkContext and starting a new one in
the same JVM, for the median set-up time.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import time
import traceback

import datagen
import observe
import workloads

# Fixture scale per workload; shuffle_exchange reads the tables only for
# the warm-up query.
DATA_SF = {"shuffle_exchange": 0.01, "query_mix": 0.1}

SETUPS = 5
# peak_rss_mb covers the set-up, the cold pass and this many passes after
# it (the warm-up pass and the first steady one): a fixed amount of work,
# so a faster run (more passes) does not grow it
RSS_PASSES = 2
WARMUP_QUERY = "q01_scan_filter_agg"


def driver_java_options() -> str:
    """Options of the driver JVM.  Its scratch (native libraries it unpacks)
    stays in the run root, it writes no /tmp/hsperfdata_* files, and its
    heap starts at the maximum the engine gives it (``spark.driver.memory``,
    1g by default).  Left to grow on its own, the heap reached different
    sizes in different runs, and the runs whose heap grew less spent more
    time in GC: over ten runs, steady pass time and peak RSS correlated at
    -0.7."""
    from remote_shuffle_spark.session import EngineConfig

    heap = EngineConfig().to_conf().get("spark.driver.memory", "1g")
    return f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xms{heap}"


def set_up(data_dir: str, tracer: observe.Tracer):
    """``get_session`` plus one warm-up query until its result."""
    from remote_shuffle_spark import get_session

    import __spark_entry__ as entry

    t0 = time.perf_counter()
    with tracer.span("get_session", "session"):
        spark = get_session()
    t1 = time.perf_counter()
    with tracer.span("warm-up", "session"):
        entry.queries()[WARMUP_QUERY](spark, data_dir).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def cpu_probe_s() -> float:
    """Seconds a fixed single-threaded loop takes.  The host's CPU speed
    drifts (other tenants, frequency); this tracks it between operations."""
    t0 = time.perf_counter()
    total = 0
    for i in range(300_000):
        total += i
    return time.perf_counter() - t0


def stolen_cpu_s() -> float:
    """CPU seconds the hypervisor has given to other guests while this
    machine's CPUs had work (``steal`` in ``/proc/stat``), since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Runner:
    def __init__(self, spark, ops: list[workloads.Op], tracer: observe.Tracer):
        self.spark = spark
        self.ops = ops
        self.tracer = tracer
        self.status = observe.StatusReader(spark)
        self.probe = observe.StreamProbe()
        self.probe.attach(spark)
        self.records: list[dict] = []
        self.last_frame: dict[str, object] = {}

    def run_pass(self, pass_no: int, traced: bool, order: list[workloads.Op]) -> None:
        for op in order:
            rec = {"op": op.name, "pass": pass_no, "traced": traced, "error": None}
            stolen_before = stolen_cpu_s()
            try:
                if traced:
                    df = self._traced(op, rec)
                else:
                    t0 = time.perf_counter()
                    df = op.build(self.spark)
                    df.write.format("noop").mode("overwrite").save()
                    rec["latency_s"] = time.perf_counter() - t0
                self.last_frame[op.name] = df
            except Exception:  # noqa: BLE001 — a failing operation is counted, not fatal
                rec["error"] = traceback.format_exc(limit=3)
                rec["latency_s"] = None
            rec["stolen_s"] = stolen_cpu_s() - stolen_before
            self._observe(rec)
            rec["cpu_probe_s"] = cpu_probe_s()
            if op.streams and not rec["error"] and not rec["batches"]:
                rec["error"] = "stream query reported no micro-batch"
            self.records.append(rec)

    def _traced(self, op: workloads.Op, rec: dict):
        t = self.tracer
        t0 = time.perf_counter()
        with t.span(op.name, "benchmark") as root:
            with t.span("registry call", "queries", root.id) as build:
                df = op.build(self.spark)
            with t.span("plan", "plans", root.id) as plan:
                plan_text = df._jdf.queryExecution().executedPlan().toString()
            with t.span("execute", "operators", root.id) as execute:
                df.write.format("noop").mode("overwrite").save()
        rec["latency_s"] = time.perf_counter() - t0
        rec["build_s"] = build.end - build.start
        rec["plan_s"] = plan.end - plan.start
        rec["exchanges"], rec["broadcasts"] = observe.count_exchanges(plan_text)
        rec["spans"] = (root, build, plan, execute)
        return df

    def _observe(self, rec: dict) -> None:
        rec["stages"], rec["jobs"], executions = self.status.drain()
        rec["batches"] = batches = self.probe.take()
        spans = rec.pop("spans", None)
        if not spans:
            return
        root, build, plan, execute = spans
        rec["build_jobs"] = sum(build.start <= j["submitted"] <= build.end for j in rec["jobs"])
        rec["raw_exchange_bytes"] = sum(self.status.exchange_data_size(e) for e in executions)
        under = [root, build, plan, execute]
        for b in batches:
            end = b["start"] + b["duration_ms"].get("triggerExecution", 0) / 1000.0
            under.append(self.tracer.place(f"batch {b['batch_id']}", "streaming", b["start"], end, under[:4], b))
        for s in rec["stages"]:
            if s["submitted"] and s["completed"]:
                self.tracer.place(f"stage {s['id']}", "operators", s["submitted"], s["completed"], under, s)

    def check_outputs(self) -> dict[str, str | None]:
        out = {}
        for op in self.ops:
            df = self.last_frame.get(op.name)
            if df is None:
                out[op.name] = "no output to check"
                continue
            try:
                out[op.name] = op.check(self.spark, df)
            except Exception:  # noqa: BLE001
                out[op.name] = "check raised: " + traceback.format_exc(limit=2)
        return out


def versions(spark, sf: float) -> dict:
    import pyspark

    system = spark.sparkContext._jvm.System
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "1g (default)"),
        "spark": pyspark.__version__,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "python": platform.python_version(),
        "sf": sf,
        "data_seed": datagen.FIXTURE_SEED,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    java_options = driver_java_options()
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{java_options}' pyspark-shell"
    phases = {"start": time.perf_counter()}
    stolen_at_start = stolen_cpu_s()
    sf = DATA_SF[args.workload]
    data_dir = datagen.write_tables(os.path.abspath("data"), sf, datagen.FIXTURE_SEED)
    phases["data"] = time.perf_counter()
    tracer = observe.Tracer()
    spark, start_s, warmup_s = set_up(data_dir, tracer)
    setups = [{"start_s": start_s, "warmup_s": warmup_s}]
    phases["setup"] = time.perf_counter()

    if args.workload == "shuffle_exchange":
        ops = workloads.shuffle_ops(args.seed)
    elif args.workload == "query_mix":
        ops = workloads.query_mix_ops(data_dir)
    else:
        raise SystemExit(f"unknown workload {args.workload!r}")

    # the cold pass runs the operations in their declared order, so it
    # measures the same first uses on every seed; each steady pass runs
    # them in an order drawn from the seed
    runner = Runner(spark, ops, tracer)
    runner.run_pass(0, traced=False, order=ops)
    peaks = [observe.jvm_peak_rss_mb(spark)]  # after each pass
    phases["cold"] = time.perf_counter()

    # one warm-up pass (numbered -1), not measured: the JIT is still
    # compiling during the first pass after the cold one, which ran 4-15%
    # slower than later passes, so a run that fits fewer passes in the
    # window would otherwise report a slower steady pass
    rng = random.Random(args.seed)
    orders = [rng.sample(ops, len(ops))]
    runner.run_pass(-1, traced=False, order=orders[0])
    peaks.append(observe.jvm_peak_rss_mb(spark))
    phases["warmup"] = time.perf_counter()

    # steady passes for --seconds: another pass starts only if a pass as
    # long as the slowest so far still ends inside the window
    modes = (False, True) if args.trace else (False,)
    t0 = time.perf_counter()
    pass_s = [0.0]
    while len(pass_s) <= len(modes) or time.perf_counter() - t0 + max(pass_s) <= args.seconds:
        start = time.perf_counter()
        orders.append(rng.sample(ops, len(ops)))
        runner.run_pass(len(pass_s), traced=modes[(len(pass_s) - 1) % len(modes)], order=orders[-1])
        pass_s.append(time.perf_counter() - start)
        peaks.append(observe.jvm_peak_rss_mb(spark))
    window_s = time.perf_counter() - t0
    stolen_s = stolen_cpu_s() - stolen_at_start
    phases["window"] = time.perf_counter()
    checks = runner.check_outputs()
    phases["checks"] = time.perf_counter()
    regime = {**versions(spark, sf), "driver_java_options": java_options}
    for _ in range(SETUPS - 1):
        spark.stop()
        spark, start_s, warmup_s = set_up(data_dir, tracer)
        setups.append({"start_s": start_s, "warmup_s": warmup_s})
    phases["setups"] = time.perf_counter()

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "window_s": window_s,
        "regime": regime,
        "setups": setups,
        "stolen_cpu_s": stolen_s,
        "peak_rss_mb": peaks[min(RSS_PASSES, len(peaks) - 1)],
        "peak_rss_mb_by_pass": peaks,
        "checks": checks,
        "records": runner.records,
        "phases_s": {k: phases[k] - phases["start"] for k in phases},
        "orders": [[op.name for op in order] for order in [ops, *orders]],
    }
    if args.trace:
        spans_path = os.path.splitext(args.out)[0] + ".spans.json"
        tracer.dump(spans_path)
        result["spans_file"] = spans_path
        result["self_s"] = tracer.self_time_by_layer()
    with open(args.out, "w") as fh:
        json.dump(result, fh, default=str)
    spark.stop()


if __name__ == "__main__":
    main()
