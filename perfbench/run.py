"""Benchmark entry point.

    python3 perfbench/run.py --workload shuffle_exchange|query_mix
                             --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Each run gets a fresh driver process
(``worker.py``) on ``local[nproc]`` with fresh ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and working directory under ``.perfbench/runs/``, so
no fixture cached by one run is seen by the next.  Prints a readable report
and, as its last line, one JSON object: the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``).  The full result,
and with ``--trace 1`` the span file, stay in ``.perfbench/results/``;
``compare.py`` diffs two of them.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("shuffle_exchange", "query_mix")
DEADLINE_S = 160.0  # the stop below may take 10 s more; a run must end within 180 s
PR_SET_CHILD_SUBREAPER = 36


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources: names the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, _, files in os.walk(os.path.join(root, "remote_shuffle_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def run_worker(args, root: str, run_dir: str, out: str) -> int:
    """Run ``worker.py`` in its own process group; return its exit code
    after it and every process it started have ended."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "work")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ)
    env.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYSPARK_PYTHON=sys.executable,
        # the launcher JVM writes no /tmp/hsperfdata_* files (worker.py
        # sets the driver JVM's options)
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        # the UDF and transformWithState Python workers import the engine
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload]
    cmd += ["--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    cmd += ["--out", out]
    # orphaned grandchildren (the JVM, its Python workers) are re-parented
    # here, so they can be waited for
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)
    proc = subprocess.Popen(cmd, cwd=dirs["work"], env=env, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=DEADLINE_S - (time.monotonic() - START))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its deadline; stopping it", file=sys.stderr)
        return -1
    finally:
        stop_group(proc.pid)


def stop_group(pgid: int) -> None:
    """Stop whatever is left of the worker's process group and reap every
    child, waiting until none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        end = time.monotonic() + grace
        while time.monotonic() < end:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                time.sleep(0.05)


def report(result: dict) -> None:
    reg = result["regime"]
    print(
        f"perfbench {result['workload']} seed={result['seed']} trace={result['trace']} "
        f"window={result['window_s']:.1f}s cpus={reg['cpus']} driver_memory={reg['driver_memory']} "
        f"spark={reg['spark']} python={reg['python']} sf={reg['sf']} commit={reg['commit']}"
    )
    print(f"  {reg['java']}")
    e2e = result["end_to_end"]
    print("end-to-end:")
    for name, unit in {**metrics.END_TO_END, **metrics.REPORTED}.items():
        value = e2e[name]
        shown = "n/a (does not apply)" if value is None else f"{value:.4f} {unit}"
        extra = ""
        if name == "query_tail_s" and value is not None:
            extra = f"  (p{e2e['query_tail_pct']:.1f} of {e2e['query_samples']} operations)"
        if name == "batch_tail_ms" and value is not None:
            extra = f"  (p{e2e['batch_tail_pct']:.1f} of {e2e['batch_samples']} micro-batches)"
        print(f"  {name:20s} {shown}{extra}")
    print(f"  {'error_rate':20s} {e2e['error_rate']:.4f} ({e2e['failed']} failed of {e2e['attempted']} attempted)")
    for op, err in result["checks"].items():
        if err:
            print(f"  output check FAILED {op}: {err.strip().splitlines()[-1]}")
    for flag in result["flags"]:
        print(f"  FLAG: {flag}")
    print("per operation (median over steady executions):")
    for op, m in result["per_operation"].items():
        cols = " ".join(f"{k.split('.')[-1]}={v:.4g}" for k, v in m.items())
        print(f"  {op:34s} {cols}")
    if result["trace"]:
        print(f"per layer (per traced pass), spans in {result['spans_file']}:")
        for name, unit in metrics.PER_LAYER.items():
            print(f"  {name:30s} {result['per_layer'][name]:.6g} {unit}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops and reaps the worker group (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("__spark_entry__.py", "remote_shuffle_spark"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the root of a checkout", file=sys.stderr)
            return 2

    base = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base, "runs", uuid.uuid4().hex[:12])
    out = os.path.join(run_dir, "result.json")
    try:
        code = run_worker(args, root, run_dir, out)
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as fh:
            result = json.load(fh)
        result["regime"]["commit"] = git_commit(root) or f"src-{source_digest(root)}"
        result["end_to_end"] = metrics.end_to_end(result)
        result["per_operation"] = metrics.per_operation(result)
        result["flags"] = metrics.flags(result)
        if args.trace:
            result["per_layer"] = metrics.per_layer(result)
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        stem = os.path.join(
            base, "results", f"{args.workload}-c{result['regime']['cpus']}-s{args.seed}-t{args.trace}"
        )
        if args.trace:
            shutil.move(result["spans_file"], stem + ".spans.json")
            result["spans_file"] = os.path.relpath(stem + ".spans.json", root)
        with open(stem + ".json", "w") as fh:
            json.dump(result, fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report(result)
    if args.trace:
        shown = {n: {"value": result["per_layer"][n], "unit": u} for n, u in metrics.PER_LAYER.items()}
    else:
        shown = {n: {"value": result["end_to_end"][n], "unit": u} for n, u in metrics.END_TO_END.items()}
    e2e = result["end_to_end"]
    print(
        json.dumps(
            {"correct": e2e["failed"] == 0, "attempted": e2e["attempted"], "failed": e2e["failed"], "metrics": shown}
        )
    )
    return 0


START = time.monotonic()

if __name__ == "__main__":
    sys.exit(main())
