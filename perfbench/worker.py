"""One Spark driver process of a benchmark run (started by run.py).

Imports the registry and starts the session once, runs one cold pass that
also checks every entry against its DuckDB oracle (untimed), one dropped
warm-up pass and measured warm passes for --seconds. With --trace 1 it
also records layer spans and JVM counters per pass.

Prints one JSON object as its last stdout line.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

WARMUP_PASSES = 1


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, required=True)
    return p.parse_args()


def _finish(result: dict) -> None:
    """Print the result and exit at once. The Spark driver JVM and its Python
    workers share this process group; run.py kills the group and waits for
    it, which is faster than a graceful shutdown and leaves nothing behind
    outside the run directory it removes."""
    print(json.dumps(result), flush=True)
    os._exit(0)


def _session(args, trace: bool):
    from data_engineer_development_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": args.warehouse}
    if trace:
        # keep every job, stage and SQL execution of the run in the status
        # store so per-pass diffs never read an evicted range
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    args = _args()
    sys.path.insert(0, args.root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    trace = bool(args.trace)

    from workloads import FLAGSHIP, WORKLOADS

    from data_engineer_development_spark.cache import release_tracked
    from data_engineer_development_spark.queries import all_oracles, all_queries

    from spans import Jvm, Tracer

    entries = WORKLOADS[args.workload]
    queries = all_queries()
    oracles = all_oracles()
    imports_s = time.time() - args.t0
    t0 = time.perf_counter()
    spark = _session(args, trace)
    launch_s = time.perf_counter() - t0
    # process start -> registry imported -> JVM and session ready
    setup_s = imports_s + launch_s

    jvm = Jvm(spark)
    tracer = None
    if trace:
        tracer = Tracer(jobs=jvm.jobs)
        tracer.install()
    rng = random.Random(args.seed)
    failures: list[str] = []
    attempted = 0
    per_entry: dict[tuple, dict[str, float]] = {}

    sys.path.insert(0, os.path.join(args.root, "tests"))
    from oracle_harness import compare

    def run_entry(name: str, tag: tuple, check: bool = False) -> float | None:
        """Build the entry and write it to the noop sink; return the seconds
        both took. With ``check``, then compare the same DataFrame's rows
        with the entry's DuckDB oracle (exact, order insensitive), untimed;
        a mismatch or an exception counts as a failure."""
        nonlocal attempted
        attempted += 1
        if tracer is not None:
            tracer.tag = tag
            j0 = jvm.jobs()
        try:
            t0 = time.perf_counter()
            df = queries[name](spark, args.data)
            t1 = time.perf_counter()
            if tracer is not None:
                j1 = jvm.jobs()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            if tracer is not None:
                j2 = jvm.jobs()
            if check:
                ok, msg = compare(spark, args.data, name, lambda *_: df, oracles[name])
                if not ok:
                    failures.append(msg)
        except Exception as exc:  # noqa: BLE001 — one failing entry is counted, not fatal
            failures.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
            return None
        finally:
            # free operator-internal persists outside the timed region
            release_tracked()
            spark.catalog.clearCache()
        if tracer is not None:
            per_entry[tag] = {
                "build_s": t1 - t0,
                "action_s": t2 - t1,
                "build_jobs": j1 - j0,
                "action_jobs": j2 - j1,
            }
        return t2 - t0

    def calibrate() -> float:
        return min(run_entry(FLAGSHIP, ("calibration", 0)) or float("inf") for _ in range(3))

    cal_pre = calibrate() if trace else None

    def run_pass(k: int, order: list[str], check: bool = False) -> dict:
        before = jvm.snapshot() if trace else None
        times = {}
        for name in order:
            t = run_entry(name, (name, k), check)
            if t is not None:
                times[name] = t
        rec = {"index": k, "times": times, "total": sum(times.values())}
        if trace:
            after = jvm.snapshot()
            rec["jvm"] = {m: after[m] - before[m] for m in after}
            rec["exec"] = jvm.exec_totals(before, after)
        return rec

    # The cold pass keeps the listed order, so the JVM's first-query cost
    # lands on the same entry in every run; it also checks every output.
    # The JIT is still compiling through the second pass (README.md), so
    # WARMUP_PASSES passes are run and dropped. Then passes are measured,
    # in seeded order, until --seconds of them are done (at least two).
    cold = run_pass(0, list(entries), check=True)
    for k in range(1, 1 + WARMUP_PASSES):
        run_pass(-k, rng.sample(entries, len(entries)))
    warm: list[dict] = []
    while len(warm) < 2 or sum(p["total"] for p in warm) < args.seconds:
        warm.append(run_pass(len(warm) + 1, rng.sample(entries, len(entries))))
    peak_rss_mb = jvm.peak_rss_mb()
    cal_post = calibrate() if trace else None

    print(f"perfbench: setup imports {imports_s:.2f} s, launch {launch_s:.2f} s", file=sys.stderr)
    print(f"perfbench: passes {[round(p['total'], 3) for p in [cold] + warm]}", file=sys.stderr)
    samples = [t for p in warm for t in p["times"].values()]
    for name in entries:
        ts = [p["times"][name] for p in warm if name in p["times"]]
        c = cold["times"].get(name, float("nan"))
        med = statistics.median(ts) if ts else float("nan")
        print(f"perfbench: {name} cold {c:.3f} s, warm median {med:.3f} s", file=sys.stderr)
    out: dict = {
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "setup_s": setup_s,
        "entry_samples": len(samples),
        "warm_passes": len(warm),
    }
    if not trace:
        out["end_to_end"] = {
            "cold_pass_s": cold["total"],
            "pass_s": statistics.median(p["total"] for p in warm),
            "entry_p50_s": statistics.median(samples),
            "ok_frac": 1.0 - len(failures) / attempted,
        }
    else:
        out["per_layer"] = _layer_metrics(tracer, warm, per_entry, cal_pre, cal_post)
        out["per_layer"]["jvm.peak_rss_mb"] = peak_rss_mb
    _finish(out)


def _layer_metrics(tracer, warm, per_entry, cal_pre, cal_post) -> dict[str, float]:
    """Per-pass sums of every layer metric, reported as the median over the
    warm passes (the cold pass is excluded like in the end-to-end run)."""
    layers = tracer.layer_totals()
    rows = []
    for p in warm:
        k = p["index"]
        ent = [v for (name, kk), v in per_entry.items() if kk == k]
        lay: dict[str, dict[str, float]] = {}
        for tag, per_layer in layers.items():
            if len(tag) == 2 and tag[1] == k:
                for layer, d in per_layer.items():
                    acc = lay.setdefault(layer, {"s": 0.0, "jobs": 0, "calls": 0})
                    for m in acc:
                        acc[m] += d[m]

        def L(layer: str, m: str) -> float:
            return lay.get(layer, {}).get(m, 0)

        j, e = p["jvm"], p["exec"]
        rows.append(
            {
                "trace.pass_s": p["total"],
                "queries.build_s": sum(v["build_s"] for v in ent),
                "queries.build_jobs": sum(v["build_jobs"] for v in ent),
                "queries.action_s": sum(v["action_s"] for v in ent),
                "queries.action_jobs": sum(v["action_jobs"] for v in ent),
                "queries.stages": j["stages"],
                "queries.tasks": j["tasks"],
                "sources.load_s": L("sources", "s"),
                "sources.load_jobs": L("sources", "jobs"),
                "exec.shuffle_bytes": e["shuffle_bytes"],
                "exec.shuffle_records": e["shuffle_records"],
                "exec.scan_bytes": e["scan_bytes"],
                "exec.sort_s": e["sort_s"],
                "exec.spill_bytes": e["spill_bytes"],
                "exec.python_worker_s": e["python_worker_s"],
                "exec.python_bytes_sent": e["python_bytes_sent"],
                "exec.gc_s": j["gc_s"],
                "snapshots.commit_s": L("snapshots.commit", "s"),
                "snapshots.commits": L("snapshots.commit", "calls"),
                "snapshots.read_s": L("snapshots.read", "s"),
                "snapshots.jobs": L("snapshots.commit", "jobs") + L("snapshots.read", "jobs"),
                "streaming.run_s": L("streaming", "s"),
                "streaming.jobs": L("streaming", "jobs"),
                "similarity.s": L("similarity", "s"),
                "similarity.jobs": L("similarity", "jobs"),
                "dedup.s": L("dedup", "s"),
                "dedup.jobs": L("dedup", "jobs"),
                "graph.s": L("graph", "s"),
                "graph.jobs": L("graph", "jobs"),
                "bpe.s": L("bpe", "s"),
                "bpe.jobs": L("bpe", "jobs"),
                "cache.checkpoints": L("cache", "calls"),
                "cache.checkpoint_s": L("cache", "s"),
                "medallion.s": L("medallion", "s"),
                "catalog.s": L("catalog", "s"),
                "kv.s": L("kv", "s"),
                "io.jvm_write_bytes": j["write_bytes"],
                "io.jvm_read_bytes": j["read_bytes"],
            }
        )
    med = {m: statistics.median(r[m] for r in rows) for m in rows[0]}
    jobs = [r["queries.build_jobs"] + r["queries.action_jobs"] for r in rows]
    med["queries.jobs_spread"] = max(jobs) - min(jobs)
    med["host.calibration_s"] = max(cal_pre, cal_post)
    return med


if __name__ == "__main__":
    sys.exit(main())
