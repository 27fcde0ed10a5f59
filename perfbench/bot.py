"""``bot_serving`` workload: open-loop user requests against serving tables.

Set-up builds the bot's serving tables from generated history with
``serving.stores.Materializer``. Then a dispatcher thread releases
open-loop arrivals (``gen.request_schedule``) on their schedule to at most
``THREADS`` client threads, for ``WARMUP`` seconds and then the measured
window; each
request goes through ``serving.requests.handle_user_request`` (per-state,
Summary, Today, Yesterday) or, for a small share, a visualizer chart job
(``serving.analytics.daily_history_chart`` + ``serving.charts``). Latency
runs from when a request was due, so it includes queue wait. Replies are
checked afterwards against text built by ``serving.format`` from values the
generator knows.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import sys
import time

import pandas as pd

import gen
import harness

RATE = 2.0  # requests per second
THREADS = 4
HISTORY_EVENTS = 30_000
CHART_DAYS = 14
SETUP_REPS = 3
# seconds of the same open-loop traffic before the measured window: without
# it, per-state requests early in the window took up to twice as long as
# late ones, while the JVM was still compiling their path
WARMUP = 5.0
TODAY = (gen.HISTORY_START + dt.timedelta(days=gen.HISTORY_DAYS - 1)).date()


class Inputs:
    """Generated feeds, written as parquet for the program to read."""

    def __init__(self, seed: int, work: str):
        self.ks = gen.keyspace(seed)
        _, hist = gen.history(seed, HISTORY_EVENTS, self.ks)
        self.statewise, self.districtwise = gen.split_keys(hist)
        self.news = gen.news_sources(seed, self.ks)
        self.tests = gen.test_data(seed, self.ks, TODAY)
        self.last_updated = hist["ts"].max().strftime("%d/%m/%Y %H:%M:%S")
        self.paths = {}
        for name, df in (
            ("statewise", self.statewise.rename(columns={"ts": "last_updated"})),
            ("districtwise", self.districtwise),
            ("news_sources", self.news),
            ("statewise_test_data", self.tests),
        ):
            path = os.path.join(work, f"in_{name}.parquet")
            df.to_parquet(path, index=False)
            self.paths[name] = path


def materialize(spark, inputs: Inputs, out_dir: str) -> None:
    from covid19_spark.serving.stores import Materializer

    shutil.rmtree(out_dir, ignore_errors=True)
    m = Materializer(spark, out_dir)
    read = spark.read.parquet
    m.refresh_statewise(read(inputs.paths["statewise"]))
    m.refresh_districtwise(read(inputs.paths["districtwise"]))
    m.refresh_dimension(read(inputs.paths["news_sources"]), "news_sources")
    m.refresh_dimension(read(inputs.paths["statewise_test_data"]), "statewise_test_data")


def make_handler(reader):
    from pyspark.sql import functions as F

    from covid19_spark.serving.analytics import daily_history_chart
    from covid19_spark.serving.charts import history_chart_request
    from covid19_spark.serving.requests import handle_user_request

    def handle(kind: str, state: str, last_updated: str) -> str:
        if kind == "chart":
            chart = daily_history_chart(reader.daily_count_for(), state, CHART_DAYS, TODAY)
            return history_chart_request(chart).select(F.col("request_json")).collect()[0][0]
        return handle_user_request(reader, state, TODAY, last_updated)

    return handle


# --------------------------------------------------------------------------
# expected replies, from generator-known values (pandas, no Spark)


def _deltas(df: pd.DataFrame, keys: list[str], values: list[str]) -> pd.DataFrame:
    df = df.sort_values([*keys, "ts"], kind="mergesort").reset_index(drop=True)
    for c in values:
        df[f"delta_{c}"] = df[c] - df.groupby(keys)[c].shift(1).fillna(0.0)
    return df


def _daily(deltas: pd.DataFrame, keys: list[str], sums: list[str], lasts: list[str]) -> pd.DataFrame:
    d = deltas.assign(date=deltas["ts"].dt.date).sort_values("ts", kind="mergesort")
    g = d.groupby(["date", *keys], sort=False)
    out = g[[f"delta_{c}" for c in sums]].sum()
    out.columns = [f"sum_delta_{c}" for c in sums]
    last = g[lasts].last()
    last.columns = [f"last_{c}" for c in lasts]
    return out.join(last).reset_index()


def _row(state, dc, dr, dd, cc, cr, cd) -> dict:
    return {
        "state": state, "delta_confirmed": dc, "delta_recovered": dr, "delta_deaths": dd,
        "current_confirmed": cc, "current_recovered": cr, "current_deaths": cd,
    }


class Expected:
    """Reference replies for every (kind, state) the schedule asks for."""

    def __init__(self, inputs: Inputs):
        from covid19_spark.serving import format as fmt

        self.fmt = fmt
        self.inputs = inputs
        vals = ["confirmed", "recovered", "deaths"]
        sd = _deltas(inputs.statewise.copy(), ["state"], vals)
        self.latest = sd.groupby("state").tail(1).set_index("state")
        self.daily = _daily(sd, ["state"], vals, vals)
        dd = _deltas(inputs.districtwise.copy(), ["state", "district"], ["confirmed", "recovered", "deceased"])
        self.district_daily = _daily(dd, ["state", "district"], ["confirmed", "recovered", "deceased"], ["confirmed"])

    def _summary_rows(self, daily: bool, date=None) -> list[dict]:
        if not daily:
            return [
                _row(s, r.delta_confirmed, r.delta_recovered, r.delta_deaths, r.confirmed, r.recovered, r.deaths)
                for s, r in self.latest.iterrows()
            ]
        day = self.daily[self.daily["date"] == date]
        return [
            _row(r.state, r.sum_delta_confirmed, r.sum_delta_recovered, r.sum_delta_deaths,
                 r.last_confirmed, r.last_recovered, r.last_deaths)
            for r in day.itertuples()
        ]

    @staticmethod
    def _doubling(delta: float, current: float) -> str:
        if current > 0 and delta > 0:
            growth = 100.0 * delta / current
            return str(int(math.floor(70.0 / growth + 0.5)))
        return "0"

    def reply(self, kind: str, state: str) -> str:
        fmt, lu = self.fmt, self.inputs.last_updated
        if kind == "summary":
            return fmt.build_state_summary_alert_text(self._summary_rows(False), lu, daily=False)
        if kind in ("today", "yesterday"):
            date = TODAY if kind == "today" else TODAY - dt.timedelta(days=1)
            return fmt.build_state_summary_alert_text(self._summary_rows(True, date), lu, daily=True)
        if kind == "chart":
            return self._chart(state)
        if state not in self.latest.index:
            return f"No data for {state}"
        r = self.latest.loc[state]
        delta = _row(state, r.delta_confirmed, r.delta_recovered, r.delta_deaths, r.confirmed, r.recovered, r.deaths)
        day = self.daily[(self.daily["date"] == TODAY) & (self.daily["state"] == state)]
        daily = (
            _row(state, *day[["sum_delta_confirmed", "sum_delta_recovered", "sum_delta_deaths",
                              "last_confirmed", "last_recovered", "last_deaths"]].iloc[0])
            if len(day) else {"state": state, "delta_confirmed": 0, "delta_recovered": 0, "delta_deaths": 0}
        )
        tests = self.inputs.tests
        window = tests[(tests["state"] == state) & (tests["date"] >= TODAY - dt.timedelta(days=13))
                       & (tests["date"] <= TODAY)]
        testing = {}
        if len(window):
            testing[state] = window.sort_values("date").iloc[-1].to_dict()
        yday = self.daily[(self.daily["date"] == TODAY - dt.timedelta(days=1)) & (self.daily["state"] == state)]
        rates = {state: self._doubling(*yday[["sum_delta_confirmed", "last_confirmed"]].iloc[0]) if len(yday) else "0"}
        dist = self.district_daily[self.district_daily["state"] == state]
        districts = [
            {"district": r.district, "delta_confirmed": r.sum_delta_confirmed,
             "delta_recovered": r.sum_delta_recovered, "delta_deceased": r.sum_delta_deceased}
            for r in dist.itertuples()
        ]
        text = fmt.build_summary_alert_block([delta], [daily], testing, rates, {state: districts})
        news = self.inputs.news[self.inputs.news["state"] == state]
        if state.lower() != "total" and len(news):
            text += f"\nSource: {news['url'].iloc[0]}"
        return text

    def _chart(self, state: str) -> str:
        days = [TODAY - dt.timedelta(days=k) for k in range(CHART_DAYS - 1, -1, -1)]
        d = self.daily[self.daily["state"] == state].set_index("date")
        series = {"confirmed": [], "recovered": [], "deceased": [], "active": []}
        for day in days:
            c, r, x = (
                (float(d.at[day, "sum_delta_confirmed"]), float(d.at[day, "sum_delta_recovered"]),
                 float(d.at[day, "sum_delta_deaths"])) if day in d.index else (0.0, 0.0, 0.0)
            )
            for k, v in (("confirmed", c), ("recovered", r), ("deceased", x), ("active", max(0.0, c - r - x))):
                series[k].append(v)
        return json.dumps({"labels": [day.strftime("%d-%b") for day in days],
                           "Active": series["active"], "Deaths": series["deceased"],
                           "Recovered": series["recovered"]}, sort_keys=True)

    def matches(self, kind: str, state: str, got: str) -> bool:
        if kind == "chart":
            doc = json.loads(got)["chart"]["data"]
            summary = {"labels": doc["labels"]}
            summary.update({ds["label"]: [float(v) for v in ds["data"]] for ds in doc["datasets"]})
            return json.dumps(summary, sort_keys=True) == self.reply(kind, state)
        # row order among equal sort keys is not defined by the queries, so
        # compare replies as multisets of lines
        return sorted(got.split("\n")) == sorted(self.reply(kind, state).split("\n"))


# --------------------------------------------------------------------------
# run


def run(seed: int, seconds: float, tracer: harness.Tracer, spark) -> dict:
    from covid19_spark.serving.stores import StoreReader

    work = os.path.join(harness.WORK_DIR, "bot")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = Inputs(seed, work)
    prep = []
    for rep in range(SETUP_REPS):
        t0 = time.time()
        out_dir = os.path.join(work, f"serving{rep}")
        materialize(spark, inputs, out_dir)
        prep.append(time.time() - t0)
        tracer.add("serving.materialize_s", prep[-1])
    t0 = time.time()
    reader = StoreReader(spark, out_dir)
    handle = make_handler(reader)
    # one request of each kind warms the read path before it is timed
    for kind in gen.REQUEST_KINDS:
        handle(kind, inputs.ks.states[0] if kind in ("state", "chart") else kind.capitalize(), inputs.last_updated)
    warm_s = time.time() - t0

    # the window's schedule keeps its exact request mix; the warm-up's is
    # drawn on its own
    schedule = gen.request_schedule(seed, inputs.ks, RATE, WARMUP) + [
        (WARMUP + offset, kind, state) for offset, kind, state in gen.request_schedule(seed, inputs.ks, RATE, seconds)
    ]
    sc = spark.sparkContext
    jobs = harness.JobCounter(sc) if tracer.enabled else None

    def client(i: int, kind: str, state: str) -> str:
        if jobs:
            sc.setJobGroup(f"req{i}", kind)
        with tracer.span("serving.request", trace=f"req{i}", kind=kind):
            return handle(kind, state, inputs.last_updated)

    ops = harness.run_open_loop([offset for offset, _, _ in schedule], lambda i: client(i, *schedule[i][1:]), THREADS)

    expected = Expected(inputs)
    failed, lat, waits = 0, [], []
    for i, (op, (offset, kind, state)) in enumerate(zip(ops, schedule)):
        ok = op.error is None and expected.matches(kind, state, op.result)
        if not ok:
            failed += 1
            print(f"perfbench: wrong reply to {kind} {state!r}: {op.error or 'text differs'}", file=sys.stderr)
        if offset < WARMUP:
            continue  # checked, not timed
        lat.append(op.latency)
        waits.append(op.start - op.due)
        if jobs:
            n_jobs, _ = jobs.count(f"req{i}")
            tracer.add(f"serving.jobs_per_request.{kind}", n_jobs)
            tracer.add("serving.chart_job_s" if kind == "chart" else f"serving.request_s.{kind}", op.end - op.start)
    if tracer.enabled:
        for s in waits:
            tracer.add("serving.queue_wait_ms", 1000.0 * s)
        tracer.add("serving.dispatch_late_s", max(op.late for op in ops))
        _time_reads(reader, inputs, tracer)
    return {
        "prep_s": prep,
        "warm_s": warm_s,
        "latencies_s": lat,
        "attempted": len(schedule),
        "failed": failed,
        "late_s": [op.late for op in ops],
    }


def _time_reads(reader, inputs: Inputs, tracer: harness.Tracer) -> None:
    """Time the StoreReader lookups of the per-state path on their own."""
    yday = TODAY - dt.timedelta(days=1)
    for state in inputs.ks.states[:5]:
        for name, df in (
            ("delta", reader.delta_stats_for_state(state)),
            ("daily", reader.daily_count_for(date=TODAY, state=state)),
            ("test", reader.latest_test_data_within_14d(state, TODAY)),
            ("rate", reader.doubling_rate_for(state, yday)),
            ("districts", reader.district_stats_for(state, daily=True)),
            ("news", reader.news_source_for(state)),
        ):
            t0 = time.time()
            df.collect()
            tracer.add("sources.serving_read_s", time.time() - t0)
