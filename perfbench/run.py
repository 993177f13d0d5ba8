#!/usr/bin/env python3
"""Benchmark entry point: one workload per call, in a fresh process.

    python3 perfbench/run.py --workload web-head --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload in turn

Run from the repository root. The measured run happens in a child process
(perfbench/worker.py) with a fixed PYTHONHASHSEED, its scratch data under
perfbench/.work/ and at most 4 Spark task slots. This parent waits for the
child and every process it started (the Spark JVM and its Python workers),
then prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (Spark event log + wrappers around public functions); a traced run
also writes perfbench/out/<workload>-trace.json with both tables and the
tracing overhead against an untraced run of the same workload and seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spec import END_TO_END, PER_LAYER, WORKLOAD_NAMES  # noqa: E402

CHILD_TIMEOUT_S = 170


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _pgrp_alive(pgid: int) -> list[int]:
    alive = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(name))
    return alive


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the child's group; wait for all."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _pgrp_alive(pgid):
                return
            time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict | None:
    work = os.path.join(HERE, ".work", workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    result = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        PYTHONHASHSEED="0",
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM (launcher and driver): temp files in the work dir, and no
        # hsperfdata file, which HotSpot would put in the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
        "--work", work, "--result", result,
    ]
    child = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"{workload}: timed out after {CHILD_TIMEOUT_S}s")
        code = None
    _stop_group(child.pid)
    child.wait()
    out = None
    if code == 0 and os.path.exists(result):
        with open(result) as f:
            out = json.load(f)
        if trace:
            import layers

            out["layer"].update(layers.per_layer(out, os.path.join(work, "events")))
    else:
        log(f"{workload}: worker exited with {code}")
    shutil.rmtree(work, ignore_errors=True)
    return out


def report(out: dict, trace: bool) -> dict:
    table, source = (PER_LAYER, out["layer"]) if trace else (END_TO_END, out["e2e"])
    missing = [m["name"] for m in table if m["name"] not in source]
    if missing:
        raise SystemExit(f"metrics missing from the run: {missing}")
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {
            m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in table
        },
    }


def save(out: dict, trace: bool) -> None:
    """Keep the run's full record; a traced run also gets the tracing overhead
    against the untraced run of the same workload and seed, if there is one."""
    d = os.path.join(HERE, "out")
    os.makedirs(d, exist_ok=True)
    untraced = os.path.join(d, f"{out['workload']}-seed{out['seed']}-e2e.json")
    if trace and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["e2e"]
        out["overhead"] = {k: out["e2e"][k] / base[k] - 1.0 for k in out["e2e"] if base.get(k)}
    path = os.path.join(d, f"{out['workload']}-trace.json") if trace else untraced
    with open(path, "w") as f:
        json.dump(out, f, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(os.getcwd(), "splade_spark")):
        log("run from the repository root: no splade_spark/ package here")
        return 2
    names = WORKLOAD_NAMES if a.workload == "all" else [a.workload]
    results = {}
    for name in names:
        out = run_one(name, a.seed, a.seconds, bool(a.trace))
        if out is None:
            return 1
        save(out, bool(a.trace))
        results[name] = report(out, bool(a.trace))
        if a.workload == "all":
            r = results[name]
            print(f"{name}: attempted {r['attempted']} failed {r['failed']}")
            for k, v in r["metrics"].items():
                print(f"  {k:32s} {v['value']:14.4f} {v['unit']}")
    if a.workload == "all":
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "workloads": results,
        }))
    else:
        print(json.dumps(results[a.workload]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
