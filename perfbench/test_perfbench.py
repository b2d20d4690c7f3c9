"""Tests of the benchmark's generator, references and scoring; no Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

import pandas as pd
import pyarrow.parquet as pq

import gen
import reference as ref
from workloads import Phase, QueryRun, RunningSumSkewed, TumbleAlertsOpenLoop, event_batch_ms

BACKLOG = dict(population=500, zipf_s=1.1, disorder_us=2_000_000, late_frac=0.05)


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _backlog_files(tmp_path, seed) -> list[str]:
    d = tmp_path / f"s{seed}-{time.monotonic_ns()}"
    return gen.write_chunks(gen.backlog(seed, 4, 200, **BACKLOG), str(d / "out"), str(d / "stage"))


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (_digest(_backlog_files(tmp_path, s)) for s in (7, 7, 8))
    assert a == b != c
    ev = [tmp_path / f"ev{i}.parquet" for i in range(3)]
    for path, seed in zip(ev, (7, 7, 8)):
        gen.registry_events(seed, 500).to_parquet(path, index=False)
    assert _digest([ev[0]]) == _digest([ev[1]]) != _digest([ev[2]])
    t = [gen.tick_frame(s, 3, gen.EPOCH0_US, 1_000_000, 100, 50) for s in (7, 7, 8)]
    assert t[0].equals(t[1]) and not t[0].equals(t[2])


def test_chunk_mtimes_strictly_ascending(tmp_path):
    paths = _backlog_files(tmp_path, 3)
    mtimes = [os.stat(p).st_mtime_ns for p in sorted(paths)]
    assert all(b > a for a, b in zip(mtimes, mtimes[1:]))


def _open_loop(tmp_path, t0_us, ticks=4, tick_us=200_000):
    out, stage = tmp_path / "out", tmp_path / "stage"
    out.mkdir()
    stage.mkdir()
    report = gen.run_open_loop(str(out), str(stage), 5, t0_us, tick_us, 300, 50, ticks)
    return out, stage, report


def test_open_loop_files_appear_whole_and_in_order(tmp_path):
    out = tmp_path / "out"
    seen: dict[str, int] = {}
    done = threading.Event()

    def watch():
        while True:
            stop = done.is_set()
            for name in os.listdir(out) if out.exists() else ():
                if name not in seen:
                    seen[name] = pq.ParquetFile(out / name).metadata.num_rows
            if stop:
                return
            time.sleep(0.001)

    watcher = threading.Thread(target=watch)
    watcher.start()
    try:
        t0 = int(time.time() * 1e6) + 300_000
        _out, stage, report = _open_loop(tmp_path, t0)
    finally:
        done.set()
        watcher.join(timeout=10)
    assert not watcher.is_alive()
    # every file was whole the first time a reader listed it
    assert sorted(seen.values()) == [1, 1, 300, 300, 300, 300]
    assert os.listdir(stage) == []
    names = sorted(os.listdir(out))
    mtimes = [os.stat(out / n).st_mtime_ns for n in names]
    assert all(b > a for a, b in zip(mtimes, mtimes[1:]))
    assert len(report["files"]) == 6 and report["late_ms_max"] >= 0.0


def test_open_loop_reports_lateness_and_late_runs_are_invalid(tmp_path):
    # a schedule that started more than a workload tick ago is late on
    # every tick, by more than the bound
    behind_us = TumbleAlertsOpenLoop.tick_us + 1_000_000
    _out, _stage, report = _open_loop(tmp_path, int(time.time() * 1e6) - behind_us)
    assert report["late_ms_max"] > TumbleAlertsOpenLoop.tick_us / 1000.0
    assert not TumbleAlertsOpenLoop.generator_on_time(report)
    assert TumbleAlertsOpenLoop.generator_on_time({"late_ms_max": 1.0})


def test_window_reference_half_open_windows_and_late_drop():
    def frame(rows):
        return pd.DataFrame(rows, columns=["account_id", "t_us", "amount", "event_id"])

    s = 1_000_000
    batches = [
        frame([(1, 0, 10.0, 0), (1, 5 * s - 1, 10.0, 1), (2, 5 * s, 30.0, 2)]),
        # behind the watermark (5 s): window [0, 5 s) closed, row dropped
        frame([(1, 4 * s, 100.0, 3), (2, 9 * s, 1.0, 4)]),
    ]
    got = ref.window_alerts(batches, 5 * s, 5 * s, 0, 15.0)
    assert list(zip(got.w_start, got.account_id, got.sum_amount)) == [(0, 1, 20.0), (5000, 2, 31.0)]
    assert list(got.src) == [0, 1]


def test_running_sum_reference_folds_in_account_time_event_order():
    batch = pd.DataFrame(
        {
            "account_id": [2, 1, 1, 1],
            "t_us": [5_000, 3_000, 1_000, 1_000],
            "amount": [600.0, 300.0, 250.0, 260.0],
            "event_id": [9, 8, 7, 6],
        }
    )
    got = ref.running_sum_alerts([batch], 500.0)
    assert list(zip(got.account_id, got.t_ms, got.agg_value)) == [(1, 1, 510.0), (2, 5, 600.0)]


def test_batch_samples_leave_out_no_data_and_sentinel_batches():
    def report(offset, rows, ms):
        return {
            "numInputRows": rows,
            "durationMs": {"addBatch": 1, "triggerExecution": ms},
            "sources": [{"endOffset": f'{{"logOffset":{offset}}}'}],
        }

    progress = [
        report(0, 5000, 700),
        report(0, 0, 90),  # no-data eviction batch
        report(1, 5000, 720),
        {"numInputRows": 0, "durationMs": {"triggerExecution": 1}},  # idle poll
        report(2, 1, 300),  # sentinel file
    ]
    assert event_batch_ms(progress, 2) == [700.0, 720.0]


def test_one_wrong_alert_makes_failed_frac_nonzero(tmp_path):
    wl = RunningSumSkewed(1, str(tmp_path))
    frames = gen.backlog(1, 2, 300, population=20, rate_per_s=100.0)
    wl.events, wl.want = 600, wl.reference(frames)
    assert len(wl.want) > 2

    def scored(rows: pd.DataFrame) -> Phase:
        sink = tmp_path / f"sink{time.monotonic_ns()}"
        (sink / "batch_id=0").mkdir(parents=True)
        rows[wl.cols].to_parquet(sink / "batch_id=0" / "part-0.parquet", index=False)
        progress = [
            {
                "batchId": 0,
                "timestamp": "2024-01-01T00:00:00.000Z",
                "numInputRows": 600,
                "durationMs": {"addBatch": 5, "triggerExecution": 10},
                "sources": [{"endOffset": '{"logOffset":0}'}],
            }
        ]
        run = QueryRun(1704067199.0, 1704067201.0, "r", progress, [(0, 0.0, 1704067200.5)], str(sink))
        ph = Phase(attempted=len(wl.want))
        wl.score(run, ph)
        return ph

    assert scored(wl.want).failed == 0
    bad = wl.want.copy()
    bad.loc[0, "agg_value"] += 0.25
    ph = scored(bad)
    assert ph.failed == 2 and ph.failed / ph.attempted > 0
