"""Seeded input generator for the fraud-stream benchmark.

Everything the engine sees comes from here, as files:

- replay chunks in the package's replay schema (account_id, t_us,
  amount, event_id), one parquet file per micro-batch, with strictly
  ascending mtimes so FileStreamSource delivers them in order;
- for the registry workload, an ``events.parquet`` in the fixture
  schema (event_id, ts, user_id, event_type, value, props).

Amounts are multiples of 0.25, so every sum of them is exact in a
double whatever the summation order, and the engine's alert rows can
be compared with the reference bit for bit.

Run as a script, ``gen.py openloop ...`` is the open-loop load
generator: a separate process that drops one file per fixed tick,
whatever the engine is doing, and reports how late it ran.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pandas as pd

# 2024-01-01T00:00:00Z, the event-time origin of every backlog.
EPOCH0_US = 1_704_067_200_000_000
SENTINEL_ACCOUNT = -1
SENTINEL_AHEAD_US = 3_600_000_000
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def amounts(rng: np.random.Generator, n: int) -> np.ndarray:
    """Amounts in [0.25, 100.0], multiples of 0.25 (exact in binary)."""
    return rng.integers(1, 401, n).astype(np.float64) * 0.25


def zipf_accounts(rng: np.random.Generator, n: int, population: int, s: float) -> np.ndarray:
    """`n` account ids from a Zipf(s) law truncated to `population`,
    with ranks scattered over the id space so hot accounts do not
    share a hash bucket by construction."""
    p = 1.0 / np.arange(1, population + 1, dtype=np.float64) ** s
    ranks = rng.choice(population, size=n, p=p / p.sum())
    return rng.permutation(population)[ranks].astype(np.int64) + 1


def backlog(
    seed: int,
    n_files: int,
    per_file: int,
    *,
    population: int,
    zipf_s: float = 0.0,
    rate_per_s: float = 1000.0,
    disorder_us: int = 0,
    late_frac: float = 0.0,
    late_us: int = 600_000_000,
) -> list[pd.DataFrame]:
    """A pre-written closed-loop backlog: `n_files` frames of
    `per_file` events each, in arrival order.

    Arrival times advance at `rate_per_s` events per second of event
    time. Each event's event time is its arrival time minus a uniform
    delay in [0, disorder_us]; with disorder_us below the watermark
    delay no event falls behind the watermark. From the third file on,
    a `late_frac` share lands `late_us` behind its arrival time, far
    past any watermark, and must be dropped."""
    rng = np.random.default_rng(seed)
    n = n_files * per_file
    gap_us = 1e6 / rate_per_s
    arrival = EPOCH0_US + np.round(np.arange(n) * gap_us).astype(np.int64)
    if zipf_s:
        acct = zipf_accounts(rng, n, population, zipf_s)
    else:
        acct = rng.integers(1, population + 1, n).astype(np.int64)
    amt = amounts(rng, n)
    t_us = arrival - (rng.integers(0, disorder_us + 1, n) if disorder_us else 0)
    if late_frac:
        late = (rng.random(n) < late_frac) & (np.arange(n) >= 2 * per_file)
        t_us = np.where(late, t_us - late_us, t_us)
    df = pd.DataFrame(
        {"account_id": acct, "t_us": t_us, "amount": amt, "event_id": np.arange(n, dtype=np.int64)}
    )
    return [df.iloc[i * per_file : (i + 1) * per_file].reset_index(drop=True) for i in range(n_files)]


def sentinel_frames(max_t_us: int, first_event_id: int) -> list[pd.DataFrame]:
    """Two one-row chunks far ahead of every real event. The first
    moves the watermark past every real window; the second is a data
    batch that runs under that watermark, so every real window is
    evicted and emitted before the stream is drained (a trailing
    no-data batch would race the drain)."""
    return [
        pd.DataFrame(
            {
                "account_id": np.array([SENTINEL_ACCOUNT], dtype=np.int64),
                "t_us": np.array([max_t_us + SENTINEL_AHEAD_US + i], dtype=np.int64),
                "amount": np.array([0.0]),
                "event_id": np.array([first_event_id + i], dtype=np.int64),
            }
        )
        for i in range(2)
    ]


def publish(frame: pd.DataFrame, out_dir: str, stage_dir: str, name: str, mtime_ns: int) -> str:
    """Write `frame` under stage_dir, pin its mtime, then rename it into
    out_dir, so a reader never lists a half-written file."""
    staged = os.path.join(stage_dir, name)
    frame.to_parquet(staged, index=False)
    os.utime(staged, ns=(mtime_ns, mtime_ns))
    path = os.path.join(out_dir, name)
    os.rename(staged, path)
    return path


def write_chunks(frames: list[pd.DataFrame], out_dir: str, stage_dir: str) -> list[str]:
    """Publish `frames` as chunk files with strictly ascending mtimes,
    one second apart, ending now (same-second mtimes would let
    FileStreamSource reorder chunks and drop whole chunks as late)."""
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(stage_dir, exist_ok=True)
    base = (int(time.time()) - len(frames)) * 1_000_000_000
    return [
        publish(f, out_dir, stage_dir, f"chunk_{i:05d}.parquet", base + i * 1_000_000_000)
        for i, f in enumerate(frames)
    ]


def registry_events(seed: int, n: int, users: int = 400, days: int = 30) -> pd.DataFrame:
    """An `events` table in the fixture schema: uniform users, event
    times spread over `days` days from 2024-01-01 in event_id order,
    five event types, exact-quarter values."""
    rng = np.random.default_rng(seed)
    span_us = days * 86_400_000_000
    ts_us = np.sort(rng.integers(0, span_us, n)) + EPOCH0_US
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime(ts_us, unit="us").astype("datetime64[us]"),
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": amounts(rng, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


# ------------------------------------------------------------------ open loop


def tick_frame(seed: int, k: int, t0_us: int, tick_us: int, per_tick: int, population: int) -> pd.DataFrame:
    """The events created during tick k, i.e. in [t0 + k*tick, t0 +
    (k+1)*tick): a pure function of its arguments. Each event's event
    time is its creation time, and ids continue across ticks."""
    rng = np.random.default_rng([seed, k])
    start = t0_us + k * tick_us
    return pd.DataFrame(
        {
            "account_id": rng.integers(1, population + 1, per_tick).astype(np.int64),
            "t_us": np.sort(rng.integers(start, start + tick_us, per_tick)).astype(np.int64),
            "amount": amounts(rng, per_tick),
            "event_id": np.arange(k * per_tick, (k + 1) * per_tick, dtype=np.int64),
        }
    )


def run_open_loop(
    out_dir: str,
    stage_dir: str,
    seed: int,
    t0_us: int,
    tick_us: int,
    per_tick: int,
    population: int,
    n_ticks: int,
) -> dict:
    """Publish tick k's file when tick k ends, on a fixed schedule that
    does not slow down when the engine does; then publish the two
    sentinel chunks on the next two ticks. Returns the schedule as
    run: each file's due and published wall times, in microseconds."""
    files = []
    frames = [tick_frame(seed, k, t0_us, tick_us, per_tick, population) for k in range(n_ticks)]
    frames += sentinel_frames(t0_us + n_ticks * tick_us, n_ticks * per_tick)
    for k, frame in enumerate(frames):
        due_us = t0_us + (k + 1) * tick_us
        wait = due_us / 1e6 - time.time()
        if wait > 0:
            time.sleep(wait)
        publish(frame, out_dir, stage_dir, f"tick_{k:06d}.parquet", due_us * 1000)
        files.append({"k": k, "due_us": due_us, "published_us": int(time.time() * 1e6)})
    late_ms = [(f["published_us"] - f["due_us"]) / 1000.0 for f in files]
    return {
        "t0_us": t0_us,
        "files": files,
        "late_ms_max": max(late_ms),
        "late_ms_mean": float(np.mean(late_ms)),
    }


def _main() -> None:
    ap = argparse.ArgumentParser(description="open-loop fraud-stream generator")
    ap.add_argument("mode", choices=["openloop"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--lead-us", type=int, required=True)
    ap.add_argument("--window-us", type=int, required=True)
    ap.add_argument("--tick-us", type=int, required=True)
    ap.add_argument("--per-tick", type=int, required=True)
    ap.add_argument("--population", type=int, required=True)
    ap.add_argument("--ticks", type=int, required=True)
    a = ap.parse_args()
    import pyarrow.parquet  # noqa: F401 - pandas would import it on the first write

    # The schedule starts on a window boundary, so every run closes the
    # same whole windows (a run that began mid-window would also close a
    # half window at each end). It is the first boundary whose first
    # file is due at least `lead_us` from now, fixed only once this
    # process has started and imported, so its own start-up cannot make
    # that file late. The first tick may thus have begun before this
    # process did; its events are still published at the tick's end.
    now_us = int(time.time() * 1e6)
    t0_us = -(-(now_us + a.lead_us - a.tick_us) // a.window_us) * a.window_us
    report = run_open_loop(
        a.out, a.stage, a.seed, t0_us, a.tick_us, a.per_tick, a.population, a.ticks
    )
    tmp = a.report + ".part"
    with open(tmp, "w") as fh:
        json.dump(report, fh)
    os.rename(tmp, a.report)


if __name__ == "__main__":
    _main()
