"""Forcing tests for the two Arrow-iterator edge cases in the stateful
folds (VERDICT r6 #1 + ADVICE r6 high):

1. Groups spanning MANY Arrow chunks per micro-batch. Arrow hands
   applyInPandasWithState each group as an iterator of chunks bounded
   by spark.sql.execution.arrow.maxRecordsPerBatch (default 10k); the
   streaming fold runner (`streaming/stateful._keyed_fold`) concats all
   chunks BEFORE sorting because per-chunk sorting silently folds rows
   in the wrong order once a group's batch exceeds one chunk. These
   tests pin that: they shrink maxRecordsPerBatch to 8, scramble row
   order WITHIN each replay chunk file (chunk membership — hence
   watermark/batch semantics — unchanged), prove via a chunk-counting
   probe that groups really do span >1 chunk, and assert stream==batch
   for order-sensitive folds under each of the runner's three fold
   orders: (t_us, event_id) (F5 running sum, EWMA, count-or-time,
   ts-pattern), (t_ms, event_type) (funnel) and (t_ms, event_id)
   (z-score). Sorting per chunk in the runner fails them.

2. The EventTimeTimeout empty-iterator flush. When a key's timeout
   fires in a micro-batch that brought it NO rows, Spark invokes the
   fold with an EMPTY chunk iterator (state.hasTimedOut); pd.concat of
   zero chunks raises, killing the query exactly on the flush that
   emits final segments. The timeout tests build a replay where one
   account goes silent while others advance the watermark past its
   open window, and assert the final emission arrives.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_fraud_detection_rocks_db_app_spark.operators.stateful import (
    count_or_time_segments,
)
from flink_fraud_detection_rocks_db_app_spark.streaming import (
    count_or_time_stream,
    ewma_stream,
    read_replay_batch,
    read_replay_stream,
    record_buffer_tumbling_stream,
    run_to_memory,
    running_sum_alerts_batch,
    running_sum_alerts_stream,
    write_replay_chunks,
)

from .conftest import SF_SMALL, TINY_ARROW_BATCH, assert_zscore_matches_batch_window


def _scramble_within_chunks(chunks_dir: str) -> None:
    """Deterministically shuffle row order INSIDE each chunk file.
    Chunk membership (and therefore per-batch watermark advance) is
    untouched, so a correct fold still equals batch exactly — but rows
    now arrive out of (t_us, event_id) order across Arrow chunk
    boundaries, which is precisely the condition per-chunk sorting
    gets wrong."""
    for f in sorted(glob.glob(os.path.join(chunks_dir, "*.parquet"))):
        pdf = pd.read_parquet(f)
        order = np.argsort(
            (pdf["event_id"].to_numpy().astype(np.uint64) * np.uint64(2654435761))
            % np.uint64(1 << 32),
            kind="stable",
        )
        st = os.stat(f)
        pdf.iloc[order].to_parquet(f, index=False)
        os.utime(f, (st.st_atime, st.st_mtime))


def _multichunk_replay(spark, scratch, with_event_type: bool = False) -> str:
    # 2 chunks => ~500 rows/micro-batch over 15 accounts: every
    # account (and every fold bucket) far exceeds TINY_ARROW_BATCH
    chunks = write_replay_chunks(
        spark, SF_SMALL, scratch, n_chunks=2, with_event_type=with_event_type
    )
    _scramble_within_chunks(chunks)
    return chunks


def test_groups_span_multiple_arrow_chunks(spark, scratch, tiny_arrow_batches):
    """The forcing condition itself: with the shrunken Arrow batch
    size, applyInPandasWithState must observe >1 chunk for at least
    one (group, micro-batch) — otherwise the differentials below are
    not testing what they claim."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    chunks = _multichunk_replay(spark, scratch)

    def probe(key, pdf_iter, state: GroupState):
        n = sum(1 for _ in pdf_iter)
        yield pd.DataFrame({"account_id": [key[0]], "n_chunks": [n]})

    out = (
        read_replay_stream(spark, chunks)
        .groupBy("account_id")
        .applyInPandasWithState(
            probe,
            T.StructType(
                [
                    T.StructField("account_id", T.LongType()),
                    T.StructField("n_chunks", T.LongType()),
                ]
            ),
            T.StructType([T.StructField("dummy", T.LongType())]),
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    run_to_memory(out, "t_chunk_probe")
    max_chunks = spark.table("t_chunk_probe").agg(F.max("n_chunks")).first()[0]
    assert max_chunks > 1, (
        f"maxRecordsPerBatch={TINY_ARROW_BATCH} did not force multi-chunk "
        f"groups (max {max_chunks}) — the differentials below are vacuous"
    )


def test_running_sum_stream_multichunk_equals_batch(spark, scratch, tiny_arrow_batches):
    """F5 under forced multi-chunk groups + scrambled arrival: the
    reset-on-alert fold is order-sensitive, so per-chunk sorting folds
    the wrong prefix sums."""
    chunks = _multichunk_replay(spark, scratch)
    alerts = running_sum_alerts_stream(read_replay_stream(spark, chunks), 500.0)
    run_to_memory(alerts, "t_f5_chunked")
    got = sorted(tuple(r) for r in spark.table("t_f5_chunked").collect())
    want = sorted(
        tuple(r)
        for r in running_sum_alerts_batch(
            read_replay_batch(spark, chunks), 500.0
        ).collect()
    )
    assert len(got) > 0
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert all(abs(g[2] - w[2]) < 1e-9 for g, w in zip(got, want))


def test_ewma_stream_multichunk_equals_batch(spark, scratch, tiny_arrow_batches):
    """EWMA under forced multi-chunk groups: every row emits, and each
    value depends on the full fold prefix — the most order-sensitive
    differential (bit-exact, no tolerance)."""
    from flink_fraud_detection_rocks_db_app_spark.registry import all_queries

    chunks = _multichunk_replay(spark, scratch)
    out = ewma_stream(read_replay_stream(spark, chunks))
    run_to_memory(out, "t_ewma_chunked")
    got = sorted(
        (r.account_id, r.t_ms, r.ewma) for r in spark.table("t_ewma_chunked").collect()
    )
    want = sorted(
        (r.account_id, r.t_ms, r.ewma)
        for r in all_queries()["ewma_amount_per_account"].fn(spark, SF_SMALL).collect()
    )
    assert got and got == want, (len(got), len(want))


def test_count_or_time_stream_multichunk_matches_batch(
    spark, scratch, tiny_arrow_batches
):
    """T3 under forced multi-chunk groups: segment boundaries move if
    events fold out of order, so every streamed segment (index, sum,
    count, kind) must still match the batch semantics."""
    from flink_fraud_detection_rocks_db_app_spark.fixtures import transactions_with_id
    from flink_fraud_detection_rocks_db_app_spark.operators.windows import MS

    size_ms, max_count = MS["d"], 3
    chunks = _multichunk_replay(spark, scratch)
    out = count_or_time_stream(read_replay_stream(spark, chunks), size_ms, max_count)
    run_to_memory(out, "t_t3_chunked")
    got = {
        (r.w_start, r.account_id, r.seg): (round(r.sum_amount, 6), r.n_events, r.emit)
        for r in spark.table("t_t3_chunked").collect()
    }
    assert any(v[2] == "early" for v in got.values())
    want_all = {
        (r.w_start, r.account_id, r.seg): (round(r.sum_amount, 6), r.n_events, r.emit)
        for r in count_or_time_segments(
            transactions_with_id(spark, SF_SMALL), size_ms, max_count
        ).collect()
    }
    for k, v in got.items():
        assert want_all[k] == v, (k, v, want_all[k])
    wm = (
        read_replay_batch(spark, chunks)
        .agg(F.max(F.unix_millis("event_time")))
        .first()[0]
    )
    missing = {k for k in want_all if k[0] + size_ms <= wm and k not in got}
    assert not missing, sorted(missing)[:5]


def test_funnel_stream_multichunk_matches_batch(spark, scratch, tiny_arrow_batches):
    """Funnel under forced multi-chunk groups: stage transitions are a
    strict sequence fold — out-of-order chunks would advance stages on
    the wrong event."""
    from flink_fraud_detection_rocks_db_app_spark.registry import all_queries
    from flink_fraud_detection_rocks_db_app_spark.streaming import funnel_stream

    chunks = _multichunk_replay(spark, scratch, with_event_type=True)
    out = funnel_stream(read_replay_stream(spark, chunks, with_event_type=True))
    run_to_memory(out, "t_funnel_chunked")
    emitted = spark.table("t_funnel_chunked").collect()
    assert emitted
    order = {"view": 0, "click": 1, "purchase": 2}
    latest: dict[int, tuple[str, int]] = {}
    for r in emitted:
        cur = latest.get(r.user_id)
        if cur is None or order[r.stage] > order[cur[0]]:
            latest[r.user_id] = (r.stage, r.t_ms)
    batch = {
        r.user_id: (
            r.stage,
            {"view": r.t_view, "click": r.t_click, "purchase": r.t_purchase}.get(
                r.stage
            ),
        )
        for r in all_queries()["funnel_view_click_purchase"].fn(spark, SF_SMALL).collect()
    }
    for u, (stage, t) in batch.items():
        if stage == "none":
            assert u not in latest, u
        else:
            assert latest.get(u) == (stage, t), (u, batch[u], latest.get(u))


def test_zscore_stream_multichunk_matches_batch_window(
    spark, scratch, tiny_arrow_batches
):
    """z-score under forced multi-chunk groups: the (t_ms, event_id)
    fold order. Each event is flagged against its prior history, so a
    mis-ordered fold moves the flagged set."""
    from flink_fraud_detection_rocks_db_app_spark.streaming import zscore_alerts_stream

    chunks = _multichunk_replay(spark, scratch)
    out = zscore_alerts_stream(read_replay_stream(spark, chunks))
    run_to_memory(out, "t_zscore_chunked")
    assert_zscore_matches_batch_window(spark, spark.table("t_zscore_chunked"))


# ------------------------------------------- EventTimeTimeout flush


def _write_silent_key_chunks(scratch: str) -> str:
    """Three chunks: account 1 is active only in chunk 0 (4 events in
    its first 10s window, max_count=3 leaves one buffered after the
    early fire); accounts 2 advances the watermark in chunks 1-2. By
    chunk 2 the watermark (30s) has passed account 1's window end
    (10s) in a batch that brings account 1 NO rows — the pure-timeout
    invocation whose empty Arrow iterator crashed the r6 fold
    (ADVICE r6 high)."""
    out = os.path.join(scratch, "chunks")
    os.makedirs(out, exist_ok=True)
    chunks = [
        # (account_id, t_us, amount, event_id)
        [(1, 1_000_000, 10.0, 1), (1, 2_000_000, 20.0, 2),
         (1, 3_000_000, 30.0, 3), (1, 5_000_000, 40.0, 4),
         (2, 1_000_000, 1.0, 5)],
        [(2, 30_000_000, 2.0, 6)],
        [(2, 60_000_000, 3.0, 7)],
    ]
    base = int(os.stat(scratch).st_mtime)
    for i, rows in enumerate(chunks):
        pdf = pd.DataFrame(rows, columns=["account_id", "t_us", "amount", "event_id"])
        pdf = pdf.astype(
            {"account_id": "int64", "t_us": "int64", "amount": "float64",
             "event_id": "int64"}
        )
        path = os.path.join(out, f"chunk_{i:04d}.parquet")
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + i, base + i))
    return out


def test_count_or_time_timeout_flush_with_no_input_rows(spark, scratch):
    """The watermark passes account 1's open window while account 1 is
    silent: the timeout must flush its buffered final segment instead
    of crashing on the empty chunk iterator."""
    chunks = _write_silent_key_chunks(scratch)
    out = count_or_time_stream(read_replay_stream(spark, chunks), 10_000, 3)
    run_to_memory(out, "t_t3_timeout")
    rows = {
        (r.w_start, r.account_id, r.seg): (r.sum_amount, r.n_events, r.emit)
        for r in spark.table("t_t3_timeout").collect()
    }
    # early fire at count 3, mid-window
    assert rows[(0, 1, 0)] == (60.0, 3, "early")
    # the 4th event's remainder flushes on the PURE-timeout invocation
    assert rows[(0, 1, 1)] == (40.0, 1, "final")


def test_record_buffer_timeout_flush_with_no_input_rows(spark, scratch):
    """Same silent-key replay through the F1 record-buffer window: the
    timeout flush must emit account 1's closed window sum."""
    chunks = _write_silent_key_chunks(scratch)
    out = record_buffer_tumbling_stream(read_replay_stream(spark, chunks), 10_000)
    run_to_memory(out, "t_f1_timeout")
    rows = {
        (r.w_start, r.account_id): r.sum_amount
        for r in spark.table("t_f1_timeout").collect()
    }
    assert rows.get((0, 1)) == 100.0
    # account 2's first window closed via the in-data path as usual
    assert rows.get((0, 2)) == 1.0


def test_record_buffer_window_boundary_semantics(spark, scratch):
    """Exact-boundary pins for the record-buffer window: an event at
    t == window_end belongs to the NEXT window (half-open [start, end)),
    and a window flushes exactly when the watermark REACHES its end
    (wm == end closes it) — the same contract as declarative
    F.window + append mode."""
    out = os.path.join(scratch, "chunks")
    os.makedirs(out, exist_ok=True)
    # One day in, NOT epoch 0: the initial watermark is 0 and Spark's
    # stateful late filter drops event_time <= watermark, so an
    # epoch-0 row would hit that (data-independent) corner instead of
    # the window-boundary semantics under test.
    B = 86_400_000_000  # us
    B_MS = B // 1000
    chunks = [
        # (account_id, t_us, amount, event_id)
        [(1, B, 1.0, 1), (1, B + 9_999_000, 2.0, 2), (2, B + 5_000_000, 4.0, 3)],
        # t exactly at the first window's end: next window's first row
        [(1, B + 10_000_000, 8.0, 4), (2, B + 10_000_000, 16.0, 5)],
        # watermark now sits exactly ON the first window's end: closes
        [(2, B + 25_000_000, 32.0, 6)],
        # far-future row: closes the second window too
        [(99, B + 3_600_000_000, 0.0, 7)],
    ]
    base = int(os.stat(scratch).st_mtime)
    for i, rows in enumerate(chunks):
        pdf = pd.DataFrame(rows, columns=["account_id", "t_us", "amount", "event_id"])
        pdf = pdf.astype(
            {"account_id": "int64", "t_us": "int64", "amount": "float64",
             "event_id": "int64"}
        )
        path = os.path.join(out, f"chunk_{i:04d}.parquet")
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + i, base + i))

    stream = record_buffer_tumbling_stream(read_replay_stream(spark, out), 10_000)
    run_to_memory(stream, "t_f1_boundary")
    got = {
        (r.w_start, r.account_id): r.sum_amount
        for r in spark.table("t_f1_boundary").collect()
        if r.account_id != 99
    }
    # the t == end events are NOT in the first window (half-open)
    assert got[(B_MS, 1)] == 3.0, got
    assert got[(B_MS, 2)] == 4.0, got
    # and ARE the next window's first rows
    assert got[(B_MS + 10_000, 1)] == 8.0, got
    assert got[(B_MS + 10_000, 2)] == 16.0, got


def test_ts_pattern_stream_multichunk_matches_oracle_rows(
    spark, scratch, tiny_arrow_batches
):
    """The spike-pattern detector under forced multi-chunk groups: the
    subsequence buffer must reassemble the full per-key event order
    across Arrow chunks AND micro-batches — a mis-ordered buffer moves
    every window's contents and flips the sub-threshold alert set. The
    streamed alerts must equal the registered batch face re-scored over
    the same replay (bit-exact distances, no tolerance)."""
    from flink_fraud_detection_rocks_db_app_spark.operators.streamface import (
        TS_PATTERN_THRESHOLD,
    )
    from flink_fraud_detection_rocks_db_app_spark.streaming import ts_pattern_stream

    chunks = _multichunk_replay(spark, scratch)
    out = ts_pattern_stream(read_replay_stream(spark, chunks), TS_PATTERN_THRESHOLD)
    run_to_memory(out, "t_tspat_chunked")
    got = sorted(
        (r.account_id, r.event_id, r.dist)
        for r in spark.table("t_tspat_chunked").collect()
    )
    import duckdb

    from flink_fraud_detection_rocks_db_app_spark.operators.timeseries import (
        sql_znorm_alerts,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMALL}/events.parquet'"
    )
    want = sorted(
        (int(a), int(e), float(d))
        for a, e, d in con.execute(sql_znorm_alerts(TS_PATTERN_THRESHOLD)).fetchall()
    )
    assert got and got == want, (len(got), len(want))
