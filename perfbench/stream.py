"""``stats_stream`` workload: a live feed of cumulative snapshots through the
stats topology, timed from each snapshot's due time to its commit in the
serving table.

Topology (two streaming queries over one file source, as the reference runs
them as two stream applications):

* serving: ``stats_delta_stream`` → ``foreachBatch`` →
  ``upsert_batch_partitioned`` into the bucketed serving table, then
  ``alert_fanout`` against generated subscriber preferences, appended to an
  alerts table;
* rollup: ``stats_delta_stream`` → ``daily_states_count`` →
  ``doubling_rate_stream`` → ``foreachBatch`` upsert keyed (date, state).

Set-up starts the serving query and drains a history backlog through it. A
separate generator process (``gen.py``) then writes the live feed at a
fixed rate whether or not the query keeps up, for a warm-up second and then
``--seconds``. The rollup query runs once the feed has ended, over every
file, with ``availableNow``: run live beside the serving query, its
batches, unsynchronised with the serving query's on the same cores, made
serving batch times swing by a factor of two. Outputs are checked against
the batch operators' semantics recomputed in pandas over the same events.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
import harness

RATE = 200.0  # snapshots per second, the rate of the prototype the workload was sized on
TICK = 0.2  # the feed writes one file per tick
WARMUP = 1.0  # live seconds before the measured window
MIN_BATCHES = 2  # serving batches that must read the window, or the run is too short to report
HISTORY_EVENTS = 3_000
N_BUCKETS = 8  # the serving table holds ~790 keys
CHECKS = 3  # serving table, doubling rates, alert count


def _schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("state", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("confirmed", T.DoubleType()),
            T.StructField("recovered", T.DoubleType()),
            T.StructField("deaths", T.DoubleType()),
        ]
    )


class Topology:
    """The serving query, running, and the rollup query, run on demand, with
    their own checkpoints and tables."""

    def __init__(self, spark, src: str, prefs, out: str, tracer: harness.Tracer):
        from pyspark.sql import functions as F

        from covid19_spark.streaming.pipelines import (
            alert_fanout,
            daily_states_count,
            doubling_rate_stream,
            stats_delta_stream,
        )
        from covid19_spark.streaming.table import upsert_batch_partitioned

        shutil.rmtree(out, ignore_errors=True)
        self.table = os.path.join(out, "statewise_delta")
        self.doubling = os.path.join(out, "doubling_rate")
        self.alerts = os.path.join(out, "alerts")
        self.batches: dict[int, dict] = {}  # serving batch id -> sink record

        def serving_sink(batch, batch_id: int) -> None:
            start = time.time()
            with tracer.span("streaming.upsert", trace=f"b{batch_id}", parent="streaming.batch"):
                touched = upsert_batch_partitioned(batch, self.table, ["state"], "ts", N_BUCKETS)
            committed = time.time()
            with tracer.span("streaming.alert", trace=f"b{batch_id}", parent="streaming.batch"):
                alert_fanout(batch, prefs).write.mode("append").parquet(self.alerts)
            self.batches[batch_id] = {
                "start": start, "committed": committed, "alerted": time.time(), "buckets": len(touched),
            }

        def rollup_sink(batch, batch_id: int) -> None:
            upsert_batch_partitioned(
                batch.withColumn("batch_id", F.lit(batch_id)),
                self.doubling, ["date", "state"], "batch_id", N_BUCKETS,
            )

        def source():
            return spark.readStream.schema(_schema()).parquet(src)

        self.serving_ck = os.path.join(out, "ck_serving")
        self.serving = (
            stats_delta_stream(source())
            .writeStream.foreachBatch(serving_sink)
            .option("checkpointLocation", self.serving_ck)
            .queryName("serving")
            .start()
        )
        self._rollup = lambda: (
            doubling_rate_stream(daily_states_count(stats_delta_stream(source())))
            .writeStream.outputMode("update")
            .foreachBatch(rollup_sink)
            .option("checkpointLocation", os.path.join(out, "ck_rollup"))
            .trigger(availableNow=True)
            .queryName("rollup")
        )

    def run_rollup(self) -> None:
        """Roll up every file the source holds, then stop."""
        self._rollup().start().awaitTermination()

    def file_batches(self) -> dict[str, int]:
        """Feed file name -> serving batch that read it, from the file
        source's log in the checkpoint (read after the run, so recording it
        costs the timed path nothing)."""
        log = os.path.join(self.serving_ck, "sources", "0")
        out = {}
        for name in os.listdir(log):
            if name.startswith("."):  # checksum files
                continue
            with open(os.path.join(log, name)) as f:
                for line in f.read().splitlines()[1:]:
                    entry = json.loads(line)
                    out[_basename(entry["path"])] = entry["batchId"]
        return out

    def stop(self) -> None:
        self.serving.stop()
        self.serving.awaitTermination(30)


def _file_events(path: str) -> np.ndarray:
    """Due times (epoch seconds) of the snapshots in one feed file."""
    ts = pq.read_table(path, columns=["ts"]).column("ts").cast("int64").to_numpy()
    return ts / 1e6


def _basename(uri: str) -> str:
    return uri.rsplit("/", 1)[-1]


def _iso_epoch(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def run(seed: int, seconds: float, tracer: harness.Tracer, spark) -> dict:
    work = os.path.join(harness.WORK_DIR, "stream")
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "src")
    os.makedirs(src)
    ks = gen.keyspace(seed)
    _, hist = gen.history(seed, HISTORY_EVENTS, ks)
    gen.write_parquet_atomic(hist, os.path.join(src, "history-000.parquet"))
    prefs_pd = gen.user_prefs(seed, ks)
    prefs_path = os.path.join(work, "user_prefs.parquet")
    prefs_pd.to_parquet(prefs_path, index=False)
    prefs = spark.read.parquet(prefs_path)

    t0 = time.time()
    topo = Topology(spark, src, prefs, os.path.join(work, "run"), tracer)
    topo.serving.processAllAvailable()
    prep = [time.time() - t0]
    setup_batches = set(topo.batches)

    # live feed: a separate process on a fixed schedule, for the warm-up
    # and then the measured window
    start = time.time() + 1.0
    t_lo = start + WARMUP
    report = os.path.join(work, "feed.json")
    feed = subprocess.Popen(
        [sys.executable, os.path.join(harness.BENCH_DIR, "gen.py"), "--seed", str(seed), "--out", src,
         "--start", repr(start), "--seconds", repr(WARMUP + seconds), "--rate", repr(RATE), "--tick", repr(TICK),
         "--history", str(HISTORY_EVENTS), "--report", report],
    )
    try:
        feed.wait(timeout=WARMUP + seconds + 60)
    finally:
        if feed.poll() is None:
            feed.kill()
            feed.wait()
    if feed.returncode != 0:
        raise RuntimeError(f"feed generator exited with {feed.returncode}")
    with open(report) as f:
        fed = json.load(f)
    t0 = time.time()
    topo.serving.processAllAvailable()  # the feed has ended: wait for its last files
    progress = {p["batchId"]: p for p in topo.serving.recentProgress if p["numInputRows"] > 0}
    run_id = str(topo.serving.runId)
    topo.stop()
    phases = {"setup": prep[0], "feed": t0 - start, "drain": time.time() - t0}
    t0 = time.time()
    topo.run_rollup()
    phases["rollup"] = time.time() - t0
    tracer.add("streaming.rollup_catchup_s", phases["rollup"])
    live = sorted(n for n in os.listdir(src) if n.startswith("live-"))
    file_batch = topo.file_batches()

    # latency of each measured snapshot: due time -> its batch committed
    t_hi = start + fed["ticks"] * TICK
    lat, groups, waits, accounted = [], [], [], []
    missing = 0
    for name in live:
        due = _file_events(os.path.join(src, name))
        due = due[(due >= t_lo) & (due < t_hi)]
        if not len(due):
            continue
        b = file_batch.get(name)
        if b is None:
            missing += len(due)
            continue
        rec = topo.batches[b]
        lat.extend(rec["committed"] - due)
        groups.extend([b] * len(due))
        p = progress.get(b)
        if tracer.enabled and p is not None:
            trig = _iso_epoch(p["timestamp"])
            d = p["durationMs"]
            pre = sum(d.get(k, 0) for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning")) / 1000.0
            waits.extend(trig - due)
            accounted.extend((trig - due) + pre + (rec["committed"] - rec["start"]))
    if len(set(groups)) < MIN_BATCHES:
        raise harness.TooShort(f"{len(set(groups))} serving batches read the window, {MIN_BATCHES} are needed")
    measured = [b for b in topo.batches if b not in setup_batches]
    if tracer.enabled:
        _trace_batches(tracer, spark, run_id, progress, measured, topo, fed, src, file_batch)
        for w in waits:
            tracer.add("streaming.wait_s", w)
        if accounted:
            tracer.add("streaming.latency_accounted", harness.median(accounted) / harness.median(lat))

    t0 = time.time()
    failed = _check(topo, src, prefs_pd, ks)
    phases["check"] = time.time() - t0
    if tracer.enabled:
        for name, secs, jobs, tasks in _time_reference_queries(spark, src):
            tracer.add("plans.reference_s", secs)
            tracer.add("plans.reference_jobs", jobs)
            tracer.add("plans.reference_tasks", tasks)
    return {
        "prep_s": prep,
        "latencies_s": lat,
        # snapshots one batch commits share its commit time: the batch, not
        # the snapshot, is the independent measurement
        "latency_units": groups,
        # each measured snapshot and each output check is one attempt; a
        # snapshot never committed is a failure
        "attempted": len(lat) + missing + CHECKS,
        "failed": missing + failed,
        "late_s": fed["late_s"],
        "window_s": t_hi - t_lo,
        "phases_s": phases,
    }


def _trace_batches(tracer, spark, run_id, progress, measured, topo, fed, src, file_batch):
    jobs, _ = harness.JobCounter(spark.sparkContext).count(run_id)
    tracer.add("streaming.jobs_per_batch", jobs / max(1, len(topo.batches)))
    tracer.add("streaming.generator_late_s", max(fed["late_s"]))
    for b in measured:
        p = progress.get(b)
        if p is None:
            continue
        d = p["durationMs"]
        rec = topo.batches[b]
        trig = _iso_epoch(p["timestamp"])
        tracer.spans.append(
            harness.Span("streaming.batch", f"b{b}", None, trig, trig + d.get("triggerExecution", 0) / 1000.0,
                         {"durationMs": d, "rows": p["numInputRows"]})
        )
        tracer.add("sources.latest_offset_s", (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000.0)
        tracer.add("streaming.trigger_s", d.get("triggerExecution", 0) / 1000.0)
        tracer.add("streaming.add_batch_s", d.get("addBatch", 0) / 1000.0)
        tracer.add("streaming.planning_s", d.get("queryPlanning", 0) / 1000.0)
        tracer.add("streaming.commit_s", (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0)
        tracer.add("streaming.upsert_s", rec["committed"] - rec["start"])
        tracer.add("streaming.alert_s", rec["alerted"] - rec["committed"])
        tracer.add("streaming.upsert_buckets_touched", rec["buckets"])
        tracer.add("streaming.rows_per_batch", p["numInputRows"])
        for op in p.get("stateOperators", []):
            tracer.add("streaming.state_rows_total", op.get("numRowsTotal", 0))
            tracer.add("streaming.state_commit_s", op.get("commitTimeMs", 0) / 1000.0)
            tracer.add("streaming.state_memory_bytes", op.get("memoryUsedBytes", 0))
        # feed files already written but not yet read when this batch started
        pending = sum(
            1 for n, bb in file_batch.items()
            if bb >= b and n.startswith("live-") and os.path.getmtime(os.path.join(src, n)) <= trig
        )
        tracer.add("sources.files_pending_max", pending)


# --------------------------------------------------------------------------
# output checks (outside the timed region)


def _expected_frames(src: str) -> pd.DataFrame:
    events = pd.concat(
        [pq.read_table(os.path.join(src, n)).to_pandas() for n in sorted(os.listdir(src)) if n.endswith(".parquet")],
        ignore_index=True,
    )
    events = events.sort_values(["state", "ts"], kind="mergesort").reset_index(drop=True)
    for c in ("confirmed", "recovered", "deaths"):
        events[f"delta_{c}"] = events[c] - events.groupby("state")[c].shift(1).fillna(0.0)
    return events


def _check(topo: Topology, src: str, prefs: pd.DataFrame, ks) -> int:
    """Compare the three outputs with the batch semantics over every event
    the feed produced; return the number of failed checks."""
    events = _expected_frames(src)
    failed = 0
    cols = ["state", "ts", "confirmed", "recovered", "deaths", "delta_confirmed", "delta_recovered", "delta_deaths"]

    # serving table: newest row per key, with its running delta
    want = events.groupby("state").tail(1)[cols].sort_values("state").reset_index(drop=True)
    got = pd.read_parquet(topo.table)[cols].sort_values("state").reset_index(drop=True)
    want["ts"] = want["ts"].astype("int64")
    got["ts"] = pd.to_datetime(got["ts"], utc=True).astype("datetime64[us, UTC]").astype("int64")
    if not want.equals(got):
        print("perfbench: serving table differs from the batch running delta", file=sys.stderr)
        failed += 1

    # doubling rate per (date, state): batch daily rollup of the same deltas
    ev = events.assign(date=events["ts"].dt.date).sort_values("ts", kind="mergesort")
    daily = ev.groupby(["date", "state"]).agg(
        s=("delta_confirmed", "sum"), last=("confirmed", "last")
    ).reset_index()
    growth = 100.0 * daily["s"] / daily["last"]
    rate = np.floor(70.0 / growth + 0.5)
    daily["doubling_days"] = np.where((daily["last"] > 0) & (daily["s"] > 0), rate, np.nan)
    want_d = daily[["date", "state", "doubling_days"]].sort_values(["date", "state"]).reset_index(drop=True)
    got_d = pd.read_parquet(topo.doubling, columns=["date", "state", "doubling_days"])
    got_d["date"] = pd.to_datetime(got_d["date"]).dt.date
    got_d = got_d.sort_values(["date", "state"]).reset_index(drop=True)
    if not want_d.equals(got_d):
        print("perfbench: doubling rates differ from the batch rollup", file=sys.stderr)
        failed += 1

    # alerts: one per (nonzero delta event, subscribed user following its state)
    subs = prefs[prefs["subscribed"]]
    followers = {s: 0 for s in ks.states}
    for states in subs["myStates"]:
        for s in states:
            followers[s] += 1
    nz = events[(events["delta_confirmed"] > 0) | (events["delta_recovered"] > 0) | (events["delta_deaths"] > 0)]
    want_alerts = int(nz["state"].map(followers).fillna(0).sum())
    got_alerts = len(pd.read_parquet(topo.alerts, columns=["userId"]))
    if want_alerts != got_alerts:
        print(f"perfbench: {got_alerts} alerts, expected {want_alerts}", file=sys.stderr)
        failed += 1
    return failed


def _time_reference_queries(spark, src: str) -> list:
    """Time the batch operators the stream is checked against (the
    ``operators``/``plans`` layer), each under its own job group."""
    from pyspark.sql import functions as F

    from covid19_spark.operators.delta import running_delta
    from covid19_spark.operators.rates import doubling_rate
    from covid19_spark.operators.rollup import daily_rollup

    sc = spark.sparkContext
    counter = harness.JobCounter(sc)
    events = spark.read.schema(_schema()).parquet(src)
    vals = ["confirmed", "recovered", "deaths"]
    deltas = running_delta(events, ["state"], ["ts"], vals)
    daily = daily_rollup(deltas, "ts", ["state"], sum_cols=[f"delta_{c}" for c in vals], last_cols=["confirmed"])
    rates = daily.select(
        "date", "state", doubling_rate(F.col("sum_delta_confirmed"), F.col("last_confirmed")).alias("d")
    )
    out = []
    for name, df in (("running_delta", deltas), ("daily_rollup", daily), ("doubling_rate", rates)):
        group = f"plans-{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        secs = time.time() - t0
        out.append((name, secs, *counter.count(group)))
    sc.setJobGroup("", "")
    return out
