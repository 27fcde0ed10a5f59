"""Seeded input generators for the perfbench workloads.

Everything the program under test receives is made here from ``--seed``:
cumulative statewise/districtwise snapshots (Zipf-skewed toward hot states,
strictly increasing timestamps so every key's snapshots arrive in order),
subscriber preferences, test-data rows and the bot's request mix. The same
seed gives the same inputs; nothing here imports the program.

Run as a script, this module is the live-feed generator process of the
``stats_stream`` workload: it rebuilds the seeded history to learn each key's
cumulative counters, then appends one parquet file per tick to the source
directory on a fixed wall-clock schedule, stamping every snapshot with the
time it was due. It never waits for the system under test, so a slow system
faces a growing backlog instead of a slower feed. The report names the
ticks written and how late each was.

    python3 perfbench/gen.py --seed 1 --out DIR --start EPOCH_S \\
        --seconds 16 --rate 200 --tick 0.2 --report FILE
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

# The 38 state names of the bot's presentation table plus the "Total" row.
STATES = (
    "Total", "Andhra Pradesh", "Arunachal Pradesh", "Assam", "Bihar",
    "Chhattisgarh", "Goa", "Gujarat", "Haryana", "Himachal Pradesh",
    "Jharkhand", "Karnataka", "Kerala", "Madhya Pradesh", "Maharashtra",
    "Manipur", "Meghalaya", "Mizoram", "Nagaland", "Odisha", "Punjab",
    "Rajasthan", "Sikkim", "Tamil Nadu", "Telangana", "Tripura", "Uttarakhand",
    "Uttar Pradesh", "West Bengal", "Andaman and Nicobar Islands",
    "Chandigarh", "Dadra and Nagar Haveli", "Daman and Diu", "Delhi",
    "Jammu and Kashmir", "Ladakh", "Lakshadweep", "Puducherry",
    "State Unassigned",
)
N_DISTRICTS = 750
ZIPF_S = 1.1
HISTORY_START = dt.datetime(2020, 3, 1)
HISTORY_DAYS = 60


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


@dataclass(frozen=True)
class Keyspace:
    """States ranked hottest first, districts grouped under their state.

    ``keys`` holds every snapshot key: the state names, then one
    ``"<state>/<district>"`` key per district. ``weights`` is the share of
    snapshots each key receives."""

    states: tuple[str, ...]
    districts: dict[str, tuple[str, ...]]
    keys: tuple[str, ...]
    weights: np.ndarray


def keyspace(seed: int) -> Keyspace:
    rng = np.random.default_rng([seed, 0])
    order = rng.permutation(len(STATES))
    states = tuple(STATES[i] for i in order if STATES[i] != "Total") + ("Total",)
    state_w = zipf_weights(len(states))
    # districts: hot states own more of them (at least one each)
    counts = np.maximum(1, np.floor(state_w * N_DISTRICTS)).astype(int)
    counts[0] += N_DISTRICTS - counts.sum()
    districts = {
        s: tuple(f"{s[:4]} D{j:02d}" for j in range(c)) for s, c in zip(states, counts)
    }
    keys = list(states)
    weights = list(state_w * 0.3)
    for s, w in zip(states, state_w):
        inner = zipf_weights(len(districts[s]))
        keys += [f"{s}/{d}" for d in districts[s]]
        weights += list(w * 0.7 * inner)
    weights = np.asarray(weights)
    return Keyspace(states, districts, tuple(keys), weights / weights.sum())


class SnapshotFeed:
    """Deterministic stream of cumulative snapshots over a keyspace.

    Each call to :meth:`take` draws the next ``n`` snapshots: a Zipf-chosen
    key, then per-key cumulative counters that only grow (so every running
    delta is non-negative and most are positive)."""

    def __init__(self, seed: int, ks: Keyspace):
        self.ks = ks
        self.rng = np.random.default_rng([seed, 1])
        n = len(ks.keys)
        self.confirmed = np.zeros(n)
        self.recovered = np.zeros(n)
        self.deaths = np.zeros(n)

    def take(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """Return (key index, cumulative counters [n, 3]) for ``n`` snapshots."""
        idx = self.rng.choice(len(self.ks.keys), size=n, p=self.ks.weights)
        inc_c = self.rng.poisson(8.0, size=n) + 1.0
        inc_r = self.rng.binomial(inc_c.astype(np.int64), 0.6).astype(np.float64)
        inc_d = self.rng.binomial(inc_c.astype(np.int64), 0.03).astype(np.float64)
        out = np.empty((n, 3))
        # a key may repeat within one draw: accumulate in draw order
        for col, inc, acc in (
            (0, inc_c, self.confirmed), (1, inc_r, self.recovered), (2, inc_d, self.deaths)
        ):
            frame = pd.DataFrame({"k": idx, "v": inc})
            run = frame.groupby("k", sort=False)["v"].cumsum().to_numpy()
            out[:, col] = acc[idx] + run
            np.add.at(acc, idx, inc)
        return idx, out

    def frame(self, idx: np.ndarray, values: np.ndarray, ts: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "state": np.asarray(self.ks.keys, dtype=object)[idx],
                "ts": pd.to_datetime(ts, unit="us", utc=True).astype("datetime64[us, UTC]"),
                "confirmed": values[:, 0],
                "recovered": values[:, 1],
                "deaths": values[:, 2],
            }
        )


def history(seed: int, n_events: int, ks: Keyspace | None = None) -> tuple[SnapshotFeed, pd.DataFrame]:
    """``n_events`` snapshots spread evenly over HISTORY_DAYS, in ts order.

    Returns the feed (positioned after the history, ready to continue live)
    and the history frame."""
    ks = ks or keyspace(seed)
    feed = SnapshotFeed(seed, ks)
    idx, values = feed.take(n_events)
    start_us = int((HISTORY_START - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    span_us = HISTORY_DAYS * 86_400 * 1_000_000
    ts = start_us + (np.arange(n_events, dtype=np.int64) * span_us) // n_events
    return feed, feed.frame(idx, values, ts)


def split_keys(df: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Split snapshots into statewise rows and districtwise rows (the two
    feeds the serving tables are built from)."""
    is_district = df["state"].str.contains("/", regex=False)
    statewise = df[~is_district].reset_index(drop=True)
    d = df[is_district].reset_index(drop=True)
    parts = d["state"].str.split("/", n=1, expand=True)
    districtwise = pd.DataFrame(
        {
            "state": parts[0],
            "district": parts[1],
            "ts": d["ts"],
            "confirmed": d["confirmed"],
            "recovered": d["recovered"],
            "deceased": d["deaths"],
        }
    )
    return statewise, districtwise


def user_prefs(seed: int, ks: Keyspace, n_users: int = 2000) -> pd.DataFrame:
    """Subscribers with 1-3 Zipf-chosen states each; 80 % subscribed."""
    rng = np.random.default_rng([seed, 2])
    w = zipf_weights(len(ks.states))
    rows = []
    for u in range(n_users):
        k = int(rng.integers(1, 4))
        picks = rng.choice(len(ks.states), size=k, replace=False, p=w)
        rows.append((f"user{u:05d}", [ks.states[i] for i in sorted(picks)], bool(rng.random() < 0.8)))
    return pd.DataFrame(rows, columns=["userId", "myStates", "subscribed"])


def news_sources(seed: int, ks: Keyspace) -> pd.DataFrame:
    return pd.DataFrame(
        {"state": list(ks.states), "url": [f"https://news.example/{seed}/{i}" for i in range(len(ks.states))]}
    )


def test_data(seed: int, ks: Keyspace, last_day: dt.date, days: int = 20) -> pd.DataFrame:
    """Per-(date, state) testing rows; string-typed like the source feed."""
    rng = np.random.default_rng([seed, 3])
    rows = []
    for s in ks.states:
        tested = int(rng.integers(1000, 5000))
        positive = int(tested * 0.05)
        for k in range(days - 1, -1, -1):
            if rng.random() < 0.3:  # not every state reports every day
                continue
            add = int(rng.integers(100, 1000))
            tested += add
            positive += int(add * rng.uniform(0.02, 0.12))
            day = last_day - dt.timedelta(days=k)
            rows.append((s, day, str(tested), str(positive), day.strftime("%d/%m/%Y")))
    return pd.DataFrame(rows, columns=["state", "date", "totaltested", "positive", "updatedon"])


REQUEST_KINDS = ("state", "summary", "today", "yesterday", "chart")
REQUEST_MIX = (0.62, 0.10, 0.10, 0.10, 0.08)


def apportion(n: int, weights: np.ndarray) -> np.ndarray:
    """Split ``n`` into integer counts proportional to ``weights``
    (largest remainder)."""
    exact = n * np.asarray(weights) / np.sum(weights)
    counts = np.floor(exact).astype(int)
    short = n - counts.sum()
    counts[np.argsort(-(exact - counts), kind="stable")[:short]] += 1
    return counts


def request_schedule(seed: int, ks: Keyspace, rate: float, seconds: float) -> list[tuple[float, str, str]]:
    """Open-loop arrivals, ``round(rate * seconds)`` of them: (due offset s,
    kind, state).

    One request arrives at a uniformly random moment within each
    ``1 / rate`` slot. Arrivals stay random and never wait for replies, but
    cannot bunch up the way a Poisson process does: with Poisson arrivals at
    the same mean rate, a seed whose arrivals bunched read a 50 % higher
    median, because concurrent requests slow each other down. Kinds come in
    the exact REQUEST_MIX proportions, and per-state and chart requests
    target states in exact Zipf proportions by hotness rank, all in seeded
    random order: a hot state's reply costs many times a cold one's, so
    seeds differ in timing, order and data, not in how much work is asked
    for. Summary, Today and Yesterday carry their keyword as the state, as
    users type them."""
    rng = np.random.default_rng([seed, 4, int(rate * 1000)])
    n = int(round(rate * seconds))
    due = (np.arange(n) + rng.uniform(0.0, 1.0, size=n)) / rate
    kinds = rng.permutation(np.repeat(np.arange(len(REQUEST_KINDS)), apportion(n, np.asarray(REQUEST_MIX))))
    targeted = [i for i, k in enumerate(kinds) if REQUEST_KINDS[k] in ("state", "chart")]
    w = zipf_weights(len(ks.states))
    ranks = rng.permutation(np.repeat(np.arange(len(ks.states)), apportion(len(targeted), w)))
    states = dict(zip(targeted, ranks))
    out = []
    for i, (t, k) in enumerate(zip(due, kinds)):
        kind = REQUEST_KINDS[int(k)]
        state = ks.states[int(states[i])] if i in states else kind.capitalize()
        out.append((float(t), kind, state))
    return out


def live_ticks(seed: int, rate: float, tick: float, seconds: float) -> list[np.ndarray]:
    """Due offsets (s) of the Poisson arrivals in each tick of the live feed."""
    rng = np.random.default_rng([seed, 5])
    n_ticks = int(round(seconds / tick))
    ticks = []
    for i in range(n_ticks):
        n = int(rng.poisson(rate * tick))
        ticks.append(np.sort(i * tick + rng.uniform(0.0, tick, size=n)))
    return ticks


def write_parquet_atomic(df: pd.DataFrame, path: str) -> None:
    """Write then rename, so a file source never lists a half-written file
    (names starting with '.' are hidden from Spark's file listing)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.rename(tmp, path)


def run_live_feed(args: argparse.Namespace) -> None:
    feed, _ = history(args.seed, args.history)
    ticks = live_ticks(args.seed, args.rate, args.tick, args.seconds)
    late = []
    n_rows = n_ticks = 0
    for i, offsets in enumerate(ticks):
        n_ticks = i + 1
        due_file = args.start + (i + 1) * args.tick  # written once its last event is due
        wait = due_file - time.time()
        if wait > 0:
            time.sleep(wait)
        late.append(max(0.0, time.time() - due_file))
        if len(offsets) == 0:
            continue
        idx, values = feed.take(len(offsets))
        ts_us = np.round((args.start + offsets) * 1e6).astype(np.int64)
        write_parquet_atomic(feed.frame(idx, values, ts_us), os.path.join(args.out, f"live-{i:06d}.parquet"))
        n_rows += len(offsets)
    with open(args.report, "w") as f:
        json.dump({"rows": n_rows, "ticks": n_ticks, "late_s": late}, f)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--start", type=float, required=True, help="wall-clock epoch of tick 0")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--rate", type=float, required=True, help="snapshots per second")
    p.add_argument("--tick", type=float, default=0.2)
    p.add_argument("--history", type=int, required=True, help="history size the feed continues from")
    p.add_argument("--report", required=True)
    run_live_feed(p.parse_args())


if __name__ == "__main__":
    main()
