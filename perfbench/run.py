#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run:

1. makes a per-run directory under ``.perfbench_run/`` (removed at the end);
2. starts the Spark driver process (worker.py), which reads the fixed input
   tables in ``perfbench/data/``, starts the session, then runs the
   workload's entries closed-loop (one client, one entry at a time, each
   into a ``noop`` sink): one cold pass, then warm passes for ``--seconds``
   in an order permuted by ``--seed``, then the oracle check of every entry
   outside the timed passes;
3. counts the files the run left in its TMPDIR, removes the run directory
   and prints one JSON line: ``correct``, ``attempted``, ``failed``,
   ``metrics`` (end-to-end metrics untraced, per-layer metrics traced).

Every child runs in its own process group with cwd, TMPDIR,
SPARK_LOCAL_DIRS and the Spark warehouse inside the run directory, and
PYTHONPATH set to the checkout so Python workers import the package from
any working directory. Exits non-zero without a result line if the checkout
does not hold the package, or if any process fails.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import DATA_DIR, WORKLOADS  # noqa: E402

DEADLINE_S = 170.0


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _wait_group(pgid: int, timeout: float) -> None:
    """Kill what is left of a child's process group and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"process group {pgid} still alive")


def _worker(argv: list[str], env: dict, cwd: str, deadline: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--t0", repr(time.time())]
    started = time.monotonic()
    proc = subprocess.Popen(
        cmd + argv, cwd=cwd, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise
    finally:
        _wait_group(proc.pid, 30.0)
    print(f"perfbench: Spark driver process {time.monotonic() - started:.1f} s", file=sys.stderr)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"worker exited {proc.returncode}")
    return json.loads(lines[-1])


def main() -> int:
    args = _args()
    deadline = time.monotonic() + DEADLINE_S
    if not os.path.isfile(os.path.join(ROOT, "data_engineer_development_spark", "queries", "__init__.py")):
        print("perfbench: the package is not in this checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "jvmtmp", "local", "warehouse", "cwd")}
    try:
        for d in dirs.values():
            os.makedirs(d)
        env = dict(os.environ)
        env.update(
            TMPDIR=dirs["tmp"],
            SPARK_LOCAL_DIRS=dirs["local"],
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            # the session's own memory and JVM options stay in force; this
            # only keeps the JVMs' temp files (native libraries) in the run
            # directory and stops them writing a perf-data file to /tmp
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['jvmtmp']} -XX:-UsePerfData",
        )
        common = ["--root", ROOT, "--data", os.path.join(HERE, DATA_DIR), "--warehouse", dirs["warehouse"]]
        res = _worker(
            common
            + ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)],
            env, dirs["cwd"], deadline,
        )
        leftover = sum(len(files) for _, _, files in os.walk(dirs["tmp"]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    if args.trace:
        metrics = dict(res["per_layer"], **{"host.tmp_leftover_files": leftover})
    else:
        metrics = dict(res["end_to_end"], setup_s=res["setup_s"])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}")
    for msg in res["failures"]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} warm_passes={res['warm_passes']} "
        f"entry_samples={res['entry_samples']} tmp_leftover_files={leftover}"
    )
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
