"""Golden tests for the order-sensitive stateful detectors (F3/F5/T3):
a 20-line Python fold over the fixture (FIXTURES.md §3) is the oracle."""

from __future__ import annotations

import duckdb
import numpy as np

from flink_fraud_detection_rocks_db_app_spark.fixtures import transactions_with_id
from flink_fraud_detection_rocks_db_app_spark.streaming.stateful import (
    running_mean_alerts_batch,
    running_sum_alerts_batch,
)

from .conftest import SF_SMALL, session_confs


def _events_sorted():
    con = duckdb.connect()
    return con.execute(
        f"SELECT user_id, epoch_ms(ts) AS t_ms, value, event_id "
        f"FROM '{SF_SMALL}/events.parquet' ORDER BY user_id, epoch_us(ts), event_id"
    ).fetchall()


def _golden_running_sum(threshold, events=None):
    alerts, state = [], {}
    for uid, t_ms, v, _eid in events or _events_sorted():
        s = state.get(uid, 0.0) + v
        if s > threshold:
            alerts.append((uid, t_ms, s))
            s = 0.0
        state[uid] = s
    return sorted(alerts)


def _golden_running_mean(threshold, events=None):
    alerts, state = [], {}
    for uid, t_ms, v, _eid in events or _events_sorted():
        s, c = state.get(uid, (0.0, 0))
        s, c = s + v, c + 1
        if s / c > threshold:
            alerts.append((uid, t_ms, s / c))
            s, c = 0.0, 0
        state[uid] = (s, c)
    return sorted(alerts)


def _golden_ewma(alpha, events):
    out, state = [], {}
    for uid, t_ms, v, _eid in events:
        prev = state.get(uid)
        state[uid] = v if prev is None else alpha * v + (1 - alpha) * prev
        out.append((uid, t_ms, state[uid]))
    return sorted(out)


def _close(a, b):
    return len(a) == len(b) and all(
        x[0] == y[0] and x[1] == y[1] and abs(x[2] - y[2]) < 1e-9 for x, y in zip(a, b)
    )


def test_running_sum_alerts_matches_golden(spark):
    got = sorted(
        tuple(r)
        for r in running_sum_alerts_batch(transactions_with_id(spark, SF_SMALL), 500.0).collect()
    )
    want = _golden_running_sum(500.0)
    assert len(want) > 0, "fixture should produce alerts at threshold 500"
    assert _close(got, want)


def test_running_sum_alerts_reference_threshold_empty(spark):
    got = running_sum_alerts_batch(transactions_with_id(spark, SF_SMALL), 10_000.0).collect()
    assert got == []


def test_running_mean_alerts_matches_golden(spark):
    got = sorted(
        tuple(r)
        for r in running_mean_alerts_batch(transactions_with_id(spark, SF_SMALL), 90.0).collect()
    )
    want = _golden_running_mean(90.0)
    assert len(want) > 0
    assert _close(got, want)


def test_count_or_time_segments_golden(spark):
    """T3: segments of max_count events per (key, window); the last
    (possibly short) segment fires at the timer instead (emit=final)."""
    from flink_fraud_detection_rocks_db_app_spark.operators.stateful import (
        count_or_time_segments,
    )

    size_ms, max_count = 86_400_000, 3
    got = {
        (r.w_start, r.account_id, r.seg): (round(r.sum_amount, 6), r.n_events, r.emit)
        for r in count_or_time_segments(
            transactions_with_id(spark, SF_SMALL), size_ms, max_count
        ).collect()
    }
    buckets: dict[tuple, list] = {}
    for uid, t_ms, v, _eid in _events_sorted():
        buckets.setdefault((t_ms - t_ms % size_ms, uid), []).append(v)
    want = {}
    for (w, uid), vals in buckets.items():
        for i in range(0, len(vals), max_count):
            chunk = vals[i : i + max_count]
            want[(w, uid, i // max_count)] = (
                round(sum(chunk), 6),
                len(chunk),
                "early" if len(chunk) == max_count else "final",
            )
    assert any(v[2] == "early" for v in want.values()), "fixture should trigger early fires"
    assert got == want


def _batch_fold_snapshots(df):
    """F5, F3, EWMA and capped-session outputs, each sorted, as tuples."""
    from flink_fraud_detection_rocks_db_app_spark.operators.stateful import (
        capped_sessions,
        ewma_batch,
    )

    return tuple(
        sorted(map(tuple, out.collect()))
        for out in (
            running_sum_alerts_batch(df, 500.0),
            running_mean_alerts_batch(df, 90.0),
            ewma_batch(df, 0.2),
            capped_sessions(df),
        )
    )


def test_fold_output_invariant_under_partitioning(spark):
    """The batch folds hash-partition on the account, sort within
    partitions and fold each partition in one Arrow pass, holding an
    account's rows back across Arrow batch boundaries. The emitted
    rows — values included, bit for bit — must not depend on how many
    partitions the accounts land in or where the Arrow batches cut
    them. Pinned at 1, 4 and 7 shuffle partitions (AQE coalescing off,
    so the counts are real) x the default and a 7-row Arrow batch, for
    F5, F3, EWMA and the capped-session fold."""
    df = transactions_with_id(spark, SF_SMALL)
    results = {}
    for parts in (1, 4, 7):
        for batch in (None, 7):
            confs = {
                "spark.sql.shuffle.partitions": parts,
                "spark.sql.adaptive.coalescePartitions.enabled": "false",
            }
            if batch is not None:
                confs["spark.sql.execution.arrow.maxRecordsPerBatch"] = batch
            with session_confs(spark, confs):
                results[(parts, batch)] = _batch_fold_snapshots(df)
    first = results[(1, None)]
    assert all(first), "every fold should emit rows on the fixture"
    assert all(r == first for r in results.values()), [
        k for k, r in results.items() if r != first
    ]


def test_fold_account_spanning_many_arrow_batches(spark, tiny_arrow_batches):
    """One account with hundreds of events (ties in event time
    included) between two small neighbours, all in one partition, so
    it spans ~60 Arrow batches: the fold must carry its running state
    across every batch boundary and match the pure-Python goldens."""
    import datetime as dt

    rng = np.random.default_rng(11)
    n_hot = 480
    accounts = [3] * 4 + [5] * n_hot + [9] * 3
    n = len(accounts)
    t_us = np.sort(rng.integers(0, 40 * 24, n)) * 3_600_000_000  # hourly: many ties
    amounts = (rng.integers(1, 1200, n) * 0.25).tolist()
    event_ids = rng.permutation(n).tolist()
    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (a, epoch + dt.timedelta(microseconds=int(t)), v, e)
        for a, t, v, e in zip(accounts, t_us, amounts, event_ids)
    ]
    df = spark.createDataFrame(
        rows, "account_id long, event_time timestamp, amount double, event_id long"
    )
    epoch_us = int(epoch.timestamp()) * 1_000_000
    events = [
        (a, (epoch_us + int(t)) // 1000, v, e)
        for a, t, v, e in sorted(
            zip(accounts, t_us, amounts, event_ids), key=lambda r: (r[0], r[1], r[3])
        )
    ]
    assert len(set(t_us)) < n, "the fixture should hold event-time ties"

    with session_confs(spark, {"spark.sql.shuffle.partitions": 1}):
        f5, f3, ewma, _ = _batch_fold_snapshots(df)
    want_f5 = _golden_running_sum(500.0, events)
    assert len([r for r in want_f5 if r[0] == 5]) > 10
    assert f5 == want_f5
    assert f3 == _golden_running_mean(90.0, events)
    assert ewma == _golden_ewma(0.2, events)
