"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see BENCHMARK.json and perfbench/NOTES.md) in a child
process with a fresh TMPDIR inside the checkout, removes everything the
run wrote, and prints the metrics: first one line per metric, then, as
the last line, one JSON object.  With ``--trace 0`` the JSON holds the
end-to-end metrics; with ``--trace 1`` an untraced and a traced child
run back to back, and the JSON holds the per-layer metrics of the traced
one plus ``trace.overhead_s``; the traced child's spans are kept in
``.perfbench_spans/<workload>.jsonl``.  Exits non-zero, without a result,
if a child fails.
"""
from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics_batch", "stream_cdc_sink")
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "ops_per_s": "1/s"}
TIMEOUT_S = 170             # for the whole invocation, all children
SPANS_DIR = os.path.join(ROOT, ".perfbench_spans")
PR_SET_CHILD_SUBREAPER = 36


def _reap_group(pgid: int) -> None:
    """Kill what is left of a child's process group (the JVM and Python
    workers it started) and wait until every member has ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + 5
    while time.monotonic() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"processes of group {pgid} did not end")


def run_child(a, traced: bool, tmp_root: str, deadline: float) -> dict:
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=tmp_root)
    try:
        out = os.path.join(run_dir, "result.json")
        env = dict(os.environ, TMPDIR=run_dir, PYTHONPATH=ROOT,
                   PYTHONHASHSEED="0",
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(int(traced)),
               "--run-dir", run_dir,
               "--cache-dir", os.path.join(ROOT, ".perfbench_cache"),
               "--out", out]
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                stdout=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            _reap_group(proc.pid)
            proc.wait()
        if rc != 0:
            raise RuntimeError(f"{a.workload} run failed: exit {rc}")
        if traced:
            os.makedirs(SPANS_DIR, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(SPANS_DIR, f"{a.workload}.jsonl"))
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": os.cpu_count(), "mem_mb": mem_kb // 1024}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # orphans of the child (the JVM outlives its Python parent briefly)
    # are re-parented here, so they can be waited for
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)
    deadline = time.monotonic() + TIMEOUT_S
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    try:
        res = run_child(a, False, tmp_root, deadline)
        traced = run_child(a, True, tmp_root, deadline) if a.trace else None
    except (RuntimeError, OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass

    h = host()
    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"nproc={h['nproc']} mem_mb={h['mem_mb']} "
          f"host.steal_share={res['steal_share']:.4f}")
    n = res["n"]
    print(f"setup_s {res['setup_s']:.4f} s")
    print(f"op_p50_s {res['op_p50_s']:.4f} s (n={n})")
    print(f"op_tail_s {res['op_tail_s']:.4f} s "
          f"(p{res['tail_pct']:.1f}, n={n})")
    print(f"ops_per_s {res['ops_per_s']:.4f} 1/s "
          f"({n} ops in {res['wall_s']:.2f} s)")
    print(f"ops_failed_ratio {res['failed'] / res['attempted']:.4f} "
          f"({res['failed']}/{res['attempted']})")
    print("op_latencies_s", " ".join(f"{x:.3f}" for x in res["latencies_s"]))
    if res.get("notes"):
        print("notes", json.dumps(res["notes"]))

    if traced is None:
        metrics = {k: {"value": res[k], "unit": u}
                   for k, u in END_TO_END.items()}
        result = res
    else:
        from workloads import PER_LAYER
        layer = dict(traced["per_layer"])
        layer["trace.overhead_s"] = traced["op_p50_s"] - res["op_p50_s"]
        units = dict(PER_LAYER, **{"trace.overhead_s": "s"})
        for k in sorted(layer):
            print(f"{k} {layer[k]:.6g} {units[k]}")
        for k, v in sorted(traced["self_times"].items()):
            print(f"self_time {k} {v:.4f} s")
        print("spans", os.path.relpath(
            os.path.join(SPANS_DIR, f"{a.workload}.jsonl"), ROOT))
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in layer.items()}
        result = traced
    print(json.dumps({
        "correct": bool(res["correct"] and result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
