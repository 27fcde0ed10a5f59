"""perfbench entry point: one seeded run of one workload.

    python3 perfbench/run.py --workload stats_stream --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints an info record (environment, sample
counts, time spent in each phase) and, as the last stdout line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer ones. Exits 2, without a result line, when the program cannot be
imported or the run measured too few independent samples; exits 1 after
printing the result when any output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import harness

WORKLOADS = ("stats_stream", "bot_serving")

# per-layer counters that report their largest sample; every other
# per-layer metric of BENCHMARK.json reports the median of its samples
MAX_REDUCED = {
    "sources.files_pending_max",
    "streaming.state_rows_total",
    "streaming.state_memory_bytes",
    "streaming.generator_late_s",
    "serving.dispatch_late_s",
    "trace.self_ms",
}


def per_layer_metrics() -> dict[str, str]:
    """Name -> unit of every per-layer metric, as BENCHMARK.json lists them."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _reduce(name: str, samples: list[float]) -> float:
    if not samples:
        return 0.0  # the workload does not exercise this layer
    return max(samples) if name in MAX_REDUCED else harness.median(samples)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    info = harness.prepare_env()
    try:
        import covid19_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {harness.ROOT}: {e}", file=sys.stderr)
        return 2

    tracer = harness.Tracer() if args.trace else harness.NullTracer()
    wall0 = time.time()
    steal0 = harness.cpu_steal_s()
    rss = harness.PeakRss()
    rss.start()
    t0 = time.time()
    spark = harness.start_session(f"perfbench-{args.workload}")
    session_s = time.time() - t0
    rss.jvm_pid = harness.jvm_pid()
    tracer.add("session.start_s", session_s)
    try:
        if args.workload == "stats_stream":
            import stream

            out = stream.run(args.seed, args.seconds, tracer, spark)
        else:
            import bot

            out = bot.run(args.seed, args.seconds, tracer, spark)
    except harness.TooShort as e:
        print(f"perfbench: {e}; run longer", file=sys.stderr)
        return 2
    finally:
        harness.stop_session(spark)
    peak_mb = rss.stop()

    lat = out["latencies_s"]
    wall_s = time.time() - wall0
    steal = harness.cpu_steal_s() - steal0
    info.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        window_s=out.get("window_s", args.seconds),
        phases_s=out.get("phases_s", {}),
        samples=len(lat),
        units=len(set(out.get("latency_units", range(len(lat))))),
        setup_reps_s=out["prep_s"],
        session_start_s=session_s,
        generator_late_max_s=max(out["late_s"], default=0.0),
        peak_rss_by_process_mb=rss.by_name(),
        cpu_steal_s=steal,
        cpu_steal_share=steal / (wall_s * (os.cpu_count() or 1)),
        wall_s=wall_s,
    )
    try:
        pct, tail, _ = harness.tail_percentile(lat, out.get("latency_units"))
        info.update(tail_percentile=round(pct, 3), tail_ms=1000.0 * tail)
    except ValueError:  # too few independent samples for a tail
        info.update(tail_percentile=None, tail_ms=None)
    p50_ms = 1000.0 * harness.median(lat)
    if args.trace:
        tracer.add("trace.latency_p50_ms", p50_ms)
        tracer.add("trace.self_ms", 1000.0 * tracer.self_s)
        metrics = {
            name: harness.metric(_reduce(name, tracer.values.get(name, [])), unit)
            for name, unit in per_layer_metrics().items()
        }
        tracer.dump(os.path.join(harness.WORK_DIR, f"trace-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": harness.metric(session_s + harness.median(out["prep_s"]) + out.get("warm_s", 0.0), "s"),
            "latency_p50_ms": harness.metric(p50_ms, "ms"),
            "peak_rss_mb": harness.metric(peak_mb, "MB"),
        }
    correct = out["failed"] == 0
    harness.emit(correct, out["attempted"], out["failed"], metrics, info)
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
