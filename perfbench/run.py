#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload crawl_gated --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` they are its per-layer ones, and the
spans are written to ``perfbench/.traces/``.  The line before it holds
the run's details: host facts, sample counts and failure names.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("registry_queries", "crawl_gated")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stop(spark) -> None:
    """Stop Spark, then wait for the JVM it launched and the JVM's
    Python workers to exit."""
    from pyspark import SparkContext

    from perfbench.env import descendants, wait_gone

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    wait_gone(started)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help="tiny inputs, for the benchmark's own tests; figures mean nothing",
    )
    args = ap.parse_args(argv)

    try:
        import newscrawl  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    spec = _spec()

    from perfbench import crawl, env, registry
    from perfbench.metrics import failed_ratio

    env.prepare_dirs()
    with env.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = env.build_spark(env.nproc())
        session_s = time.perf_counter() - t0
        try:
            facts = env.host_facts(spark)
            if args.workload == "crawl_gated":
                out = crawl.run(
                    spark, args.seed, args.seconds, bool(args.trace),
                    scale=500 if args.smoke else crawl.SCALE,
                )
            else:
                out = registry.run(
                    spark, args.seed, args.seconds, bool(args.trace),
                    names=registry.REGISTRY_QUERIES[-3:] if args.smoke else None,
                )
        finally:
            t_stop = time.perf_counter()
            _stop(spark)
            stop_s = time.perf_counter() - t_stop
            shutil.rmtree(env.WORK_DIR, ignore_errors=True)
    if "e2e" not in out:
        print(f"perfbench: no operation succeeded: {out['failures']}", file=sys.stderr)
        return 1

    if args.trace:
        wanted, values = spec["per_layer"], out["layers"]
        d = os.path.join(env.BENCH_DIR, ".traces")
        os.makedirs(d, exist_ok=True)
        stem = os.path.join(d, f"{args.workload}-seed{args.seed}")
        out.pop("tracer").dump(stem + ".spans.jsonl")
        if "per_query_jobs" in out:
            with open(stem + ".queries.json", "w") as f:
                json.dump(out.pop("per_query_jobs"), f, indent=1)
    else:
        wanted = spec["end_to_end"]
        values = dict(out["e2e"], setup_s=session_s + out["setup_s"], peak_rss_mb=rss.peak_mb)
    metrics = {
        # a layer the workload does not exercise reads 0
        m["name"]: {"value": values.get(m["name"], 0.0) if args.trace else values[m["name"]], "unit": m["unit"]}
        for m in wanted
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": facts,
        "session_start_s": session_s,
        "stop_s": stop_s,
        "run_s": time.perf_counter() - t0,
        "setup_after_session_s": out["setup_s"],
        "samples": out.get("samples"),
        "failed_ratio": failed_ratio(out["failed"], out["attempted"]),
        "failures": out["failures"],
        "config": out.get("config"),
    }
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
