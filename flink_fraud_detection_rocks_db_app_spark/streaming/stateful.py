"""Stateful detectors — the reference capabilities Spark has no
built-in for (SURVEY §7 "Custom"): reset-on-alert running aggregates
(F3/F5), the count-or-time early-fire trigger (T3), and the
record-buffer window with event-time timer (F1).

Each has two implementations:
- a *streaming* one on `applyInPandasWithState` (per-key state in the
  RocksDB state store, event-time timeouts for timers), and
- a *batch* fold with identical semantics (deterministic order:
  (event_time, event_id)) used for goldens and by the driver's
  correctness gate.

Scale: state is per-key and O(1) (F3/F5) or O(open windows) (F1/T3);
keys hash-partition across executors exactly like the reference's
keyBy, with no global locks (the anti-pattern at
reference: master/src/main/java/InorderTumblingWindow/FraudDetectionJob.java:40).
The per-key fold is sequential by nature (each step depends on the
running value), so Python-side loops here are semantic necessity, not
a missed vectorization.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import env_int

ALERT_SCHEMA = T.StructType(
    [
        T.StructField("account_id", T.LongType()),
        T.StructField("t_ms", T.LongType()),
        T.StructField("agg_value", T.DoubleType()),
    ]
)

WINDOW_SUM_SCHEMA = T.StructType(
    [
        T.StructField("w_start", T.LongType()),
        T.StructField("account_id", T.LongType()),
        T.StructField("sum_amount", T.DoubleType()),
    ]
)


def _with_epoch(df: DataFrame) -> DataFrame:
    """JVM-side epoch column for the pandas folds. Arrow hands Spark
    timestamps to pandas as session-LOCAL naive datetimes, so int64
    arithmetic on them is an epoch only when the session timezone is
    UTC — in any other timezone it is off by the UTC offset (caught by
    the non-UTC parity probe). `unix_micros` is timezone-free."""
    return df.withColumn("t_us", F.unix_micros("event_time"))


def _group_frame(
    pdf_iter: Iterator[pd.DataFrame], by: list[str] | None = None
) -> pd.DataFrame:
    """One globally-sorted frame for the whole (group, micro-batch).

    Arrow hands applyInPandasWithState the group's rows as an iterator
    of chunks bounded by spark.sql.execution.arrow.maxRecordsPerBatch
    (default 10k). Sorting each chunk independently is only correct
    while the group fits one chunk — past that, rows out of order
    ACROSS chunk boundaries would fold in the wrong order and silently
    break the bit-exact stream==batch differentials (ADVICE r5). Concat
    first, sort once: memory is O(group rows in this micro-batch) —
    the same asymptotic bound micro-batch sizing already imposes, and
    with hash-bucketed grouping ~1/N_FOLD_BUCKETS of the batch.

    Returns None when the iterator yields no rows: under
    GroupStateTimeout.EventTimeTimeout Spark invokes the fold with an
    EMPTY iterator on a pure timeout flush (state.hasTimedOut), and
    pd.concat([]) raises — the timeout callers must still run their
    watermark-flush logic with zero input rows (ADVICE r6)."""
    chunks = [c for c in pdf_iter if len(c)]
    if not chunks:
        return None
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    return pdf.sort_values(by, kind="mergesort") if by else pdf


_EMPTY_T_MS = np.array([], dtype=np.int64)
_EMPTY_AMOUNTS = np.array([], dtype=np.float64)


def _sorted_arrays(pdf_iter: Iterator[pd.DataFrame]):
    pdf = _group_frame(pdf_iter, ["t_us", "event_id"])
    if pdf is None:
        return _EMPTY_T_MS, _EMPTY_AMOUNTS
    t_ms = (pdf["t_us"] // 1000).to_numpy()
    return t_ms, pdf["amount"].to_numpy()


# ----------------------------------------------------------------- F5 / F3


# Batch folds group by a HASH BUCKET of the key, not the key itself:
# per-group Arrow/pandas overhead is paid ~N_FOLD_BUCKETS times instead
# of once per account, while the fold inside walks the bucket sorted by
# (account_id, event_time, event_id) and resets at key changes — the
# exact same per-key semantics. At cluster scale the bucket count IS
# the fold family's parallelism ceiling (at most N_FOLD_BUCKETS
# concurrent tasks regardless of cluster size — the SCALE.md r13
# throughput table multiplies the per-core fold rate by exactly this
# number), so it is a deployment knob: SPARK_GRAFT_FOLD_BUCKETS
# overrides the default. Results are bucket-count-INVARIANT by
# construction (buckets only group accounts; every fold sorts by
# (account_id, t_us, event_id) and resets at key changes —
# test_fold_output_invariant_under_bucket_count pins it), and stays
# skew-free for hashed keys. One rule: a STREAMING checkpoint binds
# the bucket count it was written under — resuming with a different
# value would re-home accounts to other buckets' state. That rule is
# ENFORCED, not just documented (ADVICE r13): the versioned state
# blobs embed the bucket count they were written under ("nb") and the
# restore path raises on mismatch, exactly like the format-version
# check — so a checkpoint resumed under a different
# SPARK_GRAFT_FOLD_BUCKETS fails loudly instead of silently serving
# re-homed (wrong) fold state.
N_FOLD_BUCKETS = env_int("SPARK_GRAFT_FOLD_BUCKETS", 64)

# record_buffer_tumbling_stream state-format version: bump whenever the
# grouping key or serialized state shape changes, so a checkpoint
# written under the old format is rejected on restore instead of being
# silently reinterpreted (the on-disk analogue of indexcache's
# index-format version). v3 = v2 + embedded bucket count "nb" (the
# grouping-key binding above); v2 was bucket-keyed nested {account:
# {window: sum}} (the r7 shape); v1 was the account-keyed flat
# {window: sum}.
RECORD_BUFFER_STATE_V = 3


def _record_buffer_state_decode(raw) -> dict[int, dict[int, float]]:
    """Restore one bucket's record-buffer state row, rejecting (a) a
    blob whose format version predates a state-shape change and (b) a
    checkpoint written under a different fold-bucket count — both must
    fail LOUDLY instead of being silently reinterpreted. Module-level
    (not a closure) so the rejection contract is directly unit-testable
    (test_record_buffer_state_decode_rejections)."""
    blob = json.loads(raw)
    if not isinstance(blob, dict) or blob.get("v") != RECORD_BUFFER_STATE_V:
        raise ValueError(
            "record_buffer_tumbling_stream: checkpoint state format "
            f"{blob.get('v') if isinstance(blob, dict) else '?'!r} != "
            f"expected v{RECORD_BUFFER_STATE_V} — the checkpoint "
            "predates a state-shape change; start from a fresh "
            "checkpoint dir"
        )
    _check_state_nb(blob.get("nb"), "record_buffer_tumbling_stream")
    return {
        int(a): {int(w): v for w, v in d.items()}
        for a, d in blob["wins"].items()
    }


def _check_state_nb(blob_nb, op_name: str) -> None:
    """Reject a checkpoint written under a different fold-bucket count:
    the bucket is the stateful GROUPING KEY (hash(account) % nb), so a
    different nb re-homes accounts to other buckets' state — wrong
    output, silently, unless caught here (ADVICE r13)."""
    if blob_nb != N_FOLD_BUCKETS:
        raise ValueError(
            f"{op_name}: checkpoint state was written under "
            f"{blob_nb!r} fold buckets but SPARK_GRAFT_FOLD_BUCKETS "
            f"is now {N_FOLD_BUCKETS} — the bucket count is part of "
            "the stateful grouping key; resuming would re-home "
            "accounts to other buckets' state. Start from a fresh "
            "checkpoint dir (or restore the original bucket count)"
        )


def _bucketed_fold(df: DataFrame, fold_rows) -> DataFrame:
    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["account_id", "t_us", "event_id"], kind="mergesort")
        keys = pdf["account_id"].to_numpy()
        t_ms = (pdf["t_us"] // 1000).to_numpy()
        amounts = pdf["amount"].to_numpy()
        return pd.DataFrame(
            fold_rows(keys, t_ms, amounts),
            columns=["account_id", "t_ms", "agg_value"],
        )

    bucket = F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS))
    return _with_epoch(df).groupBy(bucket.alias("_bucket")).applyInPandas(
        fold, ALERT_SCHEMA
    )


def running_sum_alerts_batch(df: DataFrame, threshold: float) -> DataFrame:
    """F5: per-key running sum; alert + reset state when sum > threshold
    (reference: workspace/frauddetection/src/main/java/spendreport/FraudDetector.java:29-46).
    Batch fold over (event_time, event_id) order."""

    def fold_rows(keys, t_ms, amounts):
        rows, cur, s = [], None, 0.0
        for k, t, a in zip(keys, t_ms, amounts):
            if k != cur:
                cur, s = k, 0.0
            s += a
            if s > threshold:
                rows.append((int(k), int(t), s))
                s = 0.0
        return rows

    return _bucketed_fold(df, fold_rows)


def running_mean_alerts_batch(df: DataFrame, threshold: float) -> DataFrame:
    """F3: per-key running (sum, count); alert + reset when mean > threshold
    (reference: TumblingWindowWithTest/src/main/java/spendreport/FraudDetectorSliding.java:33-71)."""

    def fold_rows(keys, t_ms, amounts):
        rows, cur, s, c = [], None, 0.0, 0
        for k, t, a in zip(keys, t_ms, amounts):
            if k != cur:
                cur, s, c = k, 0.0, 0
            s += a
            c += 1
            if s / c > threshold:
                rows.append((int(k), int(t), s / c))
                s, c = 0.0, 0
        return rows

    return _bucketed_fold(df, fold_rows)


def running_sum_alerts_stream(stream: DataFrame, threshold: float) -> DataFrame:
    """Streaming F5 via applyInPandasWithState: running sum per account,
    emit + reset on threshold crossing.

    Like the batch fold, the GROUP key is a hash bucket of the account,
    not the account itself: Arrow/pandas transfer and state-store
    commits are paid per (group, micro-batch), so thousands of accounts
    would pay thousands of Python roundtrips per batch while
    N_FOLD_BUCKETS buckets pay a fixed number (measured ~1.7x end to
    end on the bench stream even at 150 accounts). State per bucket is
    the {account: running_sum} dict (JSON — the same shape
    count_or_time_stream keeps per window); per-account semantics are
    unchanged because the fold walks each bucket sorted by
    (account_id, event_time, event_id) and carries each account's sum
    independently, exactly like the reference's per-key ValueState."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        sums: dict[int, float] = (
            {int(k): v for k, v in json.loads(state.get[0]).items()}
            if state.exists
            else {}
        )
        rows = []
        pdf = _group_frame(pdf_iter, ["account_id", "t_us", "event_id"])
        if pdf is None:
            pdf = pd.DataFrame(columns=["account_id", "t_us", "amount"])
        for k, t_us, a in zip(
            pdf["account_id"].to_numpy(),
            pdf["t_us"].to_numpy(),
            pdf["amount"].to_numpy(),
        ):
            s = sums.get(int(k), 0.0) + a
            if s > threshold:
                rows.append((int(k), int(t_us) // 1000, s))
                s = 0.0
            sums[int(k)] = s
        state.update((json.dumps(sums),))
        if rows:  # yielding empty untyped frames trips pandas concat warnings
            yield pd.DataFrame(rows, columns=["account_id", "t_ms", "agg_value"])

    return (
        _with_epoch(stream)
        # applyInPandasWithState resolves the grouping key against the
        # child's output, so the bucket must be a real column
        .withColumn("_bucket", F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            ALERT_SCHEMA,
            T.StructType([T.StructField("sums_json", T.StringType())]),
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def running_mean_alerts_stream(stream: DataFrame, threshold: float) -> DataFrame:
    """Streaming F3: per-key (sum, count) state, alert + reset when the
    running mean crosses the threshold
    (reference: TumblingWindowWithTest/src/main/java/spendreport/FraudDetectorSliding.java:33-71)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        s, c = state.get if state.exists else (0.0, 0)
        rows = []
        t_ms, amounts = _sorted_arrays(pdf_iter)
        for t, a in zip(t_ms, amounts):
            s += a
            c += 1
            if s / c > threshold:
                rows.append((key[0], int(t), s / c))
                s, c = 0.0, 0
        state.update((s, c))
        if rows:
            yield pd.DataFrame(rows, columns=["account_id", "t_ms", "agg_value"])

    return _with_epoch(stream).groupBy("account_id").applyInPandasWithState(
        fn,
        ALERT_SCHEMA,
        T.StructType(
            [
                T.StructField("running_sum", T.DoubleType()),
                T.StructField("running_count", T.LongType()),
            ]
        ),
        "append",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------- T3

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("w_start", T.LongType()),
        T.StructField("account_id", T.LongType()),
        T.StructField("seg", T.LongType()),
        T.StructField("sum_amount", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("emit", T.StringType()),
    ]
)


def count_or_time_stream(stream: DataFrame, size_ms: int, max_count: int) -> DataFrame:
    """Streaming T3: count-or-time trigger — FIRE_AND_PURGE a
    (key, window) segment as soon as it holds max_count events (early
    emission, mid-window), else fire the remainder when the event-time
    watermark passes the window end
    (reference: master/src/main/java/InorderTumblingWindow/CustomTrigger.java:34-78).

    State per key: {w_start: [next_seg, cur_sum, cur_count]}. Early
    segments stream out immediately; final segments flush on timeout.
    Output matches `operators.stateful.count_or_time_segments` on the
    same (ordered) input for closed windows.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        wins: dict[int, list] = (
            {int(k): v for k, v in json.loads(state.get[0]).items()}
            if state.exists
            else {}
        )
        rows = []
        t_ms, amounts = _sorted_arrays(pdf_iter)
        for t, a in zip(t_ms, amounts):
            w = int(t) - int(t) % size_ms
            seg, s, c = wins.get(w, [0, 0.0, 0])
            s += float(a)
            c += 1
            if c >= max_count:
                rows.append((w, key[0], seg, s, c, "early"))
                wins[w] = [seg + 1, 0.0, 0]
            else:
                wins[w] = [seg, s, c]
        wm = state.getCurrentWatermarkMs()
        for w in sorted(w for w in wins if w + size_ms <= wm):
            seg, s, c = wins.pop(w)
            if c > 0:
                rows.append((w, key[0], seg, s, c, "final"))
        if wins:
            state.update((json.dumps(wins),))
            state.setTimeoutTimestamp(min(wins) + size_ms)
        else:
            state.remove()
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["w_start", "account_id", "seg", "sum_amount", "n_events", "emit"],
            )

    return (
        _with_epoch(stream).withWatermark("event_time", "0 seconds")
        .groupBy("account_id")
        .applyInPandasWithState(
            fn,
            SEGMENT_SCHEMA,
            T.StructType([T.StructField("wins_json", T.StringType())]),
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------- F1


def record_buffer_tumbling_stream(stream: DataFrame, size_ms: int) -> DataFrame:
    """F1: hand-rolled record-buffer tumbling window with event-time
    timers, as a stateful UDF — the reference's FraudDetector keeps a
    ListState buffer and registers a timer at ts+size, then sums the
    buffered window on firing
    (reference: master/src/main/java/InorderTumblingWindow/FraudDetector.java:35-119).

    State: {account: {window_start_ms: partial_sum}} (incremental, not
    a raw buffer — same result, O(open windows) instead of O(rows)).
    Emits a window exactly when the event-time watermark passes its
    end; must equal the declarative tumbling aggregate (EP3's
    differential-test idea).

    Same bucketed-key design as running_sum_alerts_stream: the group
    key is a hash bucket of the account, so Arrow transfer + state
    commits are paid N_FOLD_BUCKETS times per micro-batch instead of
    once per account (measured ~4x end to end on the sf0.1 bench
    replay at 1500 accounts). The registered timeout is the earliest
    open window end across the bucket; per-(account, window) emission
    semantics are unchanged because windowed sums are commutative.

    The serialized state carries an explicit format version (the
    index-format-version pattern from indexcache.index_path): this
    operator changed both its grouping key and its state shape in one
    step once already, and a checkpoint written under the old shape
    must fail LOUDLY on restore, not be silently reinterpreted.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            wins = _record_buffer_state_decode(state.get[0])
        else:
            wins = {}
        pdf = _group_frame(pdf_iter, ["account_id", "t_us", "event_id"])
        if pdf is not None:
            for a, t_us, amt in zip(
                pdf["account_id"].to_numpy(),
                pdf["t_us"].to_numpy(),
                pdf["amount"].to_numpy(),
            ):
                t = int(t_us) // 1000
                w = t - t % size_ms
                d = wins.setdefault(int(a), {})
                d[w] = d.get(w, 0.0) + float(amt)
        wm = state.getCurrentWatermarkMs()
        rows = []
        for a in sorted(wins):
            d = wins[a]
            for w in sorted(w for w in d if w + size_ms <= wm):
                rows.append((w, a, d.pop(w)))
            if not d:
                del wins[a]
        if wins:
            state.update(
                (
                    json.dumps(
                        {
                            "v": RECORD_BUFFER_STATE_V,
                            "nb": N_FOLD_BUCKETS,
                            "wins": wins,
                        }
                    ),
                )
            )
            state.setTimeoutTimestamp(
                min(min(d) for d in wins.values()) + size_ms
            )
        else:
            state.remove()
        if rows:
            yield pd.DataFrame(rows, columns=["w_start", "account_id", "sum_amount"])

    return (
        _with_epoch(stream).withWatermark("event_time", "0 seconds")
        .withColumn("_bucket", F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            WINDOW_SUM_SCHEMA,
            T.StructType([T.StructField("wins_json", T.StringType())]),
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# ------------------------------------------------------------------- WA4

# bounded-buffer state format version (see RECORD_BUFFER_STATE_V).
# v2 = v1 + embedded fold-bucket count "nb" (grouping-key binding)
BOUNDED_BUFFER_STATE_V = 2


def _bounded_state_encode(wins: dict, codec: str) -> tuple:
    """One row of per-bucket state. `json` is the default (versioned
    text blob — the format the checkpoint pin test fixes); `pickle` is
    the binary A/B arm (SCALE.md r10 WA4 state-floor probe): same
    nested dict, protocol-5 bytes, same version + bucket-count
    guard."""
    if codec == "json":
        return (
            json.dumps(
                {
                    "v": BOUNDED_BUFFER_STATE_V,
                    "nb": N_FOLD_BUCKETS,
                    "wins": wins,
                }
            ),
        )
    import pickle

    return (
        pickle.dumps(
            (BOUNDED_BUFFER_STATE_V, N_FOLD_BUCKETS, wins), protocol=5
        ),
    )


def _bounded_state_decode(raw, codec: str) -> dict[int, dict[int, float]]:
    if codec == "json":
        blob = json.loads(raw)
        ver = blob.get("v") if isinstance(blob, dict) else None
        nb = blob.get("nb") if isinstance(blob, dict) else None
        wins = blob["wins"] if isinstance(blob, dict) and "wins" in blob else {}
    else:
        import pickle

        # A truncated/corrupt state row must surface the same versioned
        # "fresh checkpoint dir" message the JSON arm gives, not an
        # opaque UnpicklingError (ADVICE r10). The decoded object is
        # validated as a (version, wins-dict) 2-tuple before unpacking.
        try:
            decoded = pickle.loads(bytes(raw))
        except Exception as e:
            raise ValueError(
                "record_buffer_bounded_tumbling_stream: checkpoint state "
                f"bytes undecodable ({e.__class__.__name__}) — expected "
                f"v{BOUNDED_BUFFER_STATE_V} pickle state; start from a "
                "fresh checkpoint dir"
            ) from e
        if not (isinstance(decoded, tuple) and len(decoded) == 3):
            raise ValueError(
                "record_buffer_bounded_tumbling_stream: checkpoint state "
                f"shape {type(decoded).__name__!r} != (version, nb, wins) "
                "— start from a fresh checkpoint dir"
            )
        ver, nb, wins = decoded
    if ver != BOUNDED_BUFFER_STATE_V:
        raise ValueError(
            "record_buffer_bounded_tumbling_stream: checkpoint state "
            f"format {ver!r} != expected v{BOUNDED_BUFFER_STATE_V} — "
            "start from a fresh checkpoint dir"
        )
    _check_state_nb(nb, "record_buffer_bounded_tumbling_stream")
    return {int(a): {int(w): float(v) for w, v in d.items()} for a, d in wins.items()}


def record_buffer_bounded_tumbling_stream(
    stream: DataFrame,
    size_ms: int,
    max_open: int,
    flush_at_ms: int,
    state_codec: str = "json",
) -> DataFrame:
    """WA4: the reference's BOUNDED record-buffer tumbling window —
    a capacity cap on simultaneously-open window buffers with
    evict-earliest overflow (reference: TumblingWindowWithTest/src/
    main/java/spendreport/CustomTumblingWindow.java:112-118: a
    PriorityQueue ordered by window end; at capacity the earliest
    window is poll()ed and its buffer clear()ed — dropped, never
    fired). Eviction is the ONLY mid-stream removal (the reference's
    queue never emits; firing is the trigger's job), so per-key state
    is bounded by `max_open` windows REGARDLESS of watermark progress
    — the bounded-state contract WA4 adds over WA5's
    watermark-evicted buffer.

    Spark-first re-expression: the reference bounds the queue per
    parallel subtask (an operator-instance detail that changes results
    with parallelism); here the cap is per KEY, which is the
    deterministic, partitioning-invariant form of the same bounded-
    buffer idea — the schedule-invariance property the rest of the
    engine holds.

    Determinism contract (what the oracle replays): over an IN-ORDER
    replay, each account's windows open in ascending w_start, so
    evict-earliest leaves exactly the `max_open` most recent windows
    per account, each with its COMPLETE sum (all events of a surviving
    window arrived while it was open). Survivors emit at the terminal
    flush: the first invocation whose watermark has passed
    `flush_at_ms` (the face passes max-real-event-ms + 1 and appends a
    far-future sentinel chunk to drive the watermark there; silent
    buckets flush through the event-time-timeout no-data path).
    Out-of-order input would re-open evicted windows with partial sums
    — callers replay with jitter 0 (documented, like the reference's
    in-order assigner variants).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            wins: dict[int, dict[int, float]] = _bounded_state_decode(
                state.get[0], state_codec
            )
        else:
            wins = {}
        pdf = _group_frame(pdf_iter, ["account_id", "t_us", "event_id"])
        if pdf is not None:
            for a, t_us, amt in zip(
                pdf["account_id"].to_numpy(),
                pdf["t_us"].to_numpy(),
                pdf["amount"].to_numpy(),
            ):
                t = int(t_us) // 1000
                w = t - t % size_ms
                d = wins.setdefault(int(a), {})
                if w not in d:
                    # the reference polls the earliest-ending window and
                    # clears its buffer BEFORE offering the new one
                    if len(d) >= max_open:
                        d.pop(min(d))
                    d[w] = 0.0
                d[w] += float(amt)
        wm = state.getCurrentWatermarkMs()
        if wm >= flush_at_ms:
            rows = [
                (w, a, wins[a][w]) for a in sorted(wins) for w in sorted(wins[a])
            ]
            state.remove()
            if rows:
                yield pd.DataFrame(
                    rows, columns=["w_start", "account_id", "sum_amount"]
                )
        elif wins:
            state.update(_bounded_state_encode(wins, state_codec))
            state.setTimeoutTimestamp(flush_at_ms)
        else:
            state.remove()

    state_schema = (
        T.StructType([T.StructField("wins_json", T.StringType())])
        if state_codec == "json"
        else T.StructType([T.StructField("wins_bin", T.BinaryType())])
    )
    return (
        _with_epoch(stream).withWatermark("event_time", "0 seconds")
        .withColumn("_bucket", F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            WINDOW_SUM_SCHEMA,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# ------------------------------------------------------- streaming dedup


def dedup_stream(stream: DataFrame, watermark: str = "5 seconds") -> DataFrame:
    """Streaming exact deduplication on event_id: the streaming
    counterpart of the batch `dedup_exact` operator, and the standard
    at-least-once -> exactly-once repair stage in ingestion pipelines.

    Uses dropDuplicatesWithinWatermark (Spark 3.5+): per-key state is
    evicted once the watermark passes the key's first-seen event time
    plus the delay, so state is truly bounded by the disorder horizon.
    Plain ``dropDuplicates(["event_id"])`` would NOT bound state — Spark
    only evicts dedup state when the event-time column is part of the
    key set, so on an unbounded stream that spelling leaks (ADVICE r1).
    The contract is correspondingly horizon-scoped: a duplicate that
    arrives later than the watermark delay after its original is
    re-emitted, which matches the at-least-once ingestion-repair use
    case (duplicates come from retries, which are near-in-time).
    """
    return stream.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


FUNNEL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("stage", T.StringType()),
        T.StructField("t_ms", T.LongType()),
    ]
)


def funnel_stream(stream: DataFrame) -> DataFrame:
    """Streaming ordered funnel (the batch funnel_view_click_purchase
    run continuously): per-user state is just THREE timestamps
    (first view, first click after it, first purchase after that) —
    O(1) per user forever, the smallest possible sequence-pattern
    state. A row is emitted each time a user's stage ADVANCES, so the
    sink holds the live funnel progression; the latest row per user
    equals the batch operator on the same prefix (differential-tested
    on the in-order replay).

    Same bucketed-key design as running_sum_alerts_stream: the group
    key is a hash bucket, state is the per-bucket {user: [v, c, p]}
    dict, and each batch walks its rows in (user, time, id) order —
    per-user semantics identical to keying by user, Arrow/state-commit
    costs paid per bucket."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        st: dict[int, list] = (
            {int(k): v for k, v in json.loads(state.get[0]).items()}
            if state.exists
            else {}
        )
        rows = []
        # Fold in the SAME order the batch twin folds: it sorts
        # sort_array(struct(t_ms, event_type)) at millisecond
        # resolution, so derive t_ms first and tiebreak on
        # event_type — sorting on raw t_us would order µs-distinct
        # but ms-equal events differently and silently break the
        # stream==batch differential.
        pdf = _group_frame(pdf_iter)
        if pdf is None:
            pdf = pd.DataFrame(columns=["account_id", "t_us", "event_type"])
        pdf = pdf.assign(_t_ms=pdf["t_us"] // 1000).sort_values(
            ["account_id", "_t_ms", "event_type"], kind="mergesort"
        )
        for u, t, typ in zip(
            pdf["account_id"].to_numpy(),
            pdf["_t_ms"].to_numpy(),
            pdf["event_type"].to_numpy(),
        ):
            u, t = int(u), int(t)
            v, c, p = st.get(u, (None, None, None))
            if v is None and typ == "view":
                v = t
                rows.append((u, "view", t))
            elif c is None and v is not None and typ == "click" and t > v:
                c = t
                rows.append((u, "click", t))
            elif p is None and c is not None and typ == "purchase" and t > c:
                p = t
                rows.append((u, "purchase", t))
            st[u] = [v, c, p]
        state.update((json.dumps(st),))
        if rows:
            yield pd.DataFrame(rows, columns=["user_id", "stage", "t_ms"])

    return (
        _with_epoch(stream)
        .withColumn("_bucket", F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            FUNNEL_SCHEMA,
            T.StructType([T.StructField("state_json", T.StringType())]),
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


ZSCORE_SCHEMA = T.StructType(
    [
        T.StructField("account_id", T.LongType()),
        T.StructField("t_ms", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
    ]
)


def zscore_alerts_stream(
    stream: DataFrame, k: float = 3.0, min_prior: int = 5
) -> DataFrame:
    """Streaming twin of zscore_alerts_3sigma: per-account Welford
    state (n, mean, M2) — O(1) per key forever, numerically stable —
    flags an event against the PRIOR history before folding it in,
    exactly like the batch window's 'UNBOUNDED PRECEDING AND 1
    PRECEDING' frame. Bucketed grouping as in the other folds; the
    flag gate compares 6dp-rounded values so Welford-vs-window ulp
    drift can't flip a decision the batch form wouldn't."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        st: dict[int, list] = (
            {int(kk): v for kk, v in json.loads(state.get[0]).items()}
            if state.exists
            else {}
        )
        rows = []
        # Match the batch window frame's ORDER BY (t_ms, event_id)
        # exactly: derive t_ms before sorting so µs-distinct but
        # ms-equal events fold in the batch order (raw-t_us sorting
        # would diverge whenever the ms tiebreak matters).
        pdf = _group_frame(pdf_iter)
        if pdf is None:
            pdf = pd.DataFrame(columns=["account_id", "t_us", "amount", "event_id"])
        pdf = pdf.assign(_t_ms=pdf["t_us"] // 1000).sort_values(
            ["account_id", "_t_ms", "event_id"], kind="mergesort"
        )
        for u, t_ms_v, a in zip(
            pdf["account_id"].to_numpy(),
            pdf["_t_ms"].to_numpy(),
            pdf["amount"].to_numpy(),
        ):
            u, a = int(u), float(a)
            n, mean, m2 = st.get(u, (0, 0.0, 0.0))
            if n >= min_prior:
                var = m2 / (n - 1)
                sigma = math.sqrt(var) if var > 0 else 0.0
                if sigma > 0 and round(abs(a - mean) - k * sigma, 6) > 0:
                    rows.append(
                        (u, int(t_ms_v), a, round((a - mean) / sigma, 6))
                    )
            n += 1
            d = a - mean
            mean += d / n
            m2 += d * (a - mean)
            st[u] = [n, mean, m2]
        state.update((json.dumps(st),))
        if rows:
            yield pd.DataFrame(rows, columns=["account_id", "t_ms", "amount", "z"])

    return (
        _with_epoch(stream)
        .withColumn("_bucket", F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            ZSCORE_SCHEMA,
            T.StructType([T.StructField("state_json", T.StringType())]),
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


EWMA_SCHEMA = T.StructType(
    [
        T.StructField("account_id", T.LongType()),
        T.StructField("t_ms", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def ewma_stream(stream: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Streaming twin of operators/stateful.ewma_batch: per-account
    EWMA carried across micro-batches as one float of state per key —
    the smallest possible adaptive-baseline detector state. Bucketed
    grouping and (account_id, t_us, event_id) fold order exactly as
    the batch form, so stream==batch is a direct row compare
    (differential-tested)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        st: dict[int, float] = (
            {int(k): v for k, v in json.loads(state.get[0]).items()}
            if state.exists
            else {}
        )
        rows = []
        pdf = _group_frame(pdf_iter, ["account_id", "t_us", "event_id"])
        if pdf is None:
            pdf = pd.DataFrame(columns=["account_id", "t_us", "amount"])
        for k, t_us, a in zip(
            pdf["account_id"].to_numpy(),
            pdf["t_us"].to_numpy(),
            pdf["amount"].to_numpy(),
        ):
            k = int(k)
            prev = st.get(k)
            prev = float(a) if prev is None else alpha * float(a) + (1 - alpha) * prev
            st[k] = prev
            rows.append((k, int(t_us) // 1000, prev))
        state.update((json.dumps(st),))
        if rows:
            yield pd.DataFrame(rows, columns=["account_id", "t_ms", "ewma"])

    return (
        _with_epoch(stream)
        .withColumn("_bucket", F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            EWMA_SCHEMA,
            T.StructType([T.StructField("state_json", T.StringType())]),
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


RISING_SCHEMA = T.StructType(
    [
        T.StructField("account_id", T.LongType()),
        T.StructField("t_ms", T.LongType()),
        T.StructField("a1", T.DoubleType()),
        T.StructField("a2", T.DoubleType()),
        T.StructField("a3", T.DoubleType()),
    ]
)


def pattern_rising_stream(stream: DataFrame) -> DataFrame:
    """Streaming CEP rising-triple pattern: per-account state is the
    LAST TWO amounts (the smallest possible sequence-pattern window),
    carried across micro-batches; a match emits at the third event
    with the full triple — identical rows to the batch lag-window form
    (pattern_rising_3) on the in-order replay, bit-exact because the
    comparisons are raw fixture doubles with no arithmetic. Bucketed
    grouping and (account, t_us, event_id) fold order as in the other
    folds."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        st: dict[int, list] = (
            {int(k): v for k, v in json.loads(state.get[0]).items()}
            if state.exists
            else {}
        )
        rows = []
        pdf = _group_frame(pdf_iter, ["account_id", "t_us", "event_id"])
        if pdf is None:
            pdf = pd.DataFrame(columns=["account_id", "t_us", "amount"])
        for k, t_us, a in zip(
            pdf["account_id"].to_numpy(),
            pdf["t_us"].to_numpy(),
            pdf["amount"].to_numpy(),
        ):
            k, a = int(k), float(a)
            prev = st.get(k, [])
            if len(prev) == 2 and prev[0] < prev[1] < a:
                rows.append((k, int(t_us) // 1000, prev[0], prev[1], a))
            st[k] = (prev + [a])[-2:]
        state.update((json.dumps(st),))
        if rows:
            yield pd.DataFrame(rows, columns=["account_id", "t_ms", "a1", "a2", "a3"])

    return (
        _with_epoch(stream)
        .withColumn("_bucket", F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            RISING_SCHEMA,
            T.StructType([T.StructField("state_json", T.StringType())]),
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


TS_PATTERN_SCHEMA = T.StructType(
    [
        T.StructField("account_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("dist", T.DoubleType()),
    ]
)


def _round6_half_up(x: float) -> float:
    """HALF_UP 6dp rounding on non-negative doubles — mirrors the SQL
    round() both engines apply to the frame sums and the distance
    (Python's built-in round is banker's, which would diverge exactly
    at the .5e-6 boundaries the convention exists to pin)."""
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def ts_pattern_stream(stream: DataFrame, threshold: float) -> DataFrame:
    """Streaming twin of ts_znorm_pattern_topk's scoring, as an ALERT
    detector: per-account state is the last K-1 amounts (the rolling
    subsequence buffer) carried across micro-batches; each event
    completes a K-window, its z-normalized distance to the literal
    spike pattern is computed from the SAME rounded-scalar rewrite the
    batch SQL uses (left-fold sums over the buffer in frame order, one
    dot product against the pattern, HALF_UP 6dp rounding), and
    windows beating the threshold emit. Bucketed grouping and
    (account, t_us, event_id) fold order as in the other folds."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.timeseries import _Q, _SQ1, _SQ2, TS_SIM_K

    kf = float(TS_SIM_K)

    def dist_of(buf: list[float]) -> float | None:
        s1 = 0.0
        s2 = 0.0
        dotwq = 0.0
        for v, q in zip(buf, _Q):
            s1 += v
            s2 += v * v
            dotwq += v * q
        s1 = _round6_half_up(s1)
        s2 = _round6_half_up(s2)
        mean = s1 / kf
        var = s2 / kf - mean * mean
        if _round6_half_up(var if var > 0.0 else 0.0) <= 0.0:
            return None
        d2 = (
            (s2 - 2.0 * mean * s1 + kf * mean * mean) / var
            - 2.0 * (dotwq - mean * _SQ1) / math.sqrt(var)
            + _SQ2
        )
        return _round6_half_up(math.sqrt(d2 if d2 > 0.0 else 0.0))

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        st: dict[int, list[float]] = (
            {int(k): v for k, v in json.loads(state.get[0]).items()}
            if state.exists
            else {}
        )
        rows = []
        pdf = _group_frame(pdf_iter, ["account_id", "t_us", "event_id"])
        if pdf is None:
            pdf = pd.DataFrame(columns=["account_id", "t_us", "event_id", "amount"])
        for k, eid, a in zip(
            pdf["account_id"].to_numpy(),
            pdf["event_id"].to_numpy(),
            pdf["amount"].to_numpy(),
        ):
            k = int(k)
            buf = st.get(k, [])
            buf.append(float(a))
            if len(buf) == TS_SIM_K:
                d = dist_of(buf)
                if d is not None and d < threshold:
                    rows.append((k, int(eid), d))
                buf.pop(0)
            st[k] = buf
        state.update((json.dumps(st),))
        if rows:
            yield pd.DataFrame(rows, columns=["account_id", "event_id", "dist"])

    return (
        _with_epoch(stream)
        .withColumn("_bucket", F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            TS_PATTERN_SCHEMA,
            T.StructType([T.StructField("state_json", T.StringType())]),
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------------------------------ SCD2

# scd2_stream state format version (see RECORD_BUFFER_STATE_V)
SCD2_STATE_V = 1

SCD2_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("version", T.LongType()),
        T.StructField("tier", T.StringType()),
        T.StructField("valid_from_ms", T.LongType()),
        T.StructField("valid_to_ms", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("is_current", T.BooleanType()),
    ]
)


def _tier_of(amount: float) -> str:
    # must mirror operators/temporal._TIER_SQL exactly (same literal
    # double comparisons on untouched values)
    return "low" if amount < 50 else ("mid" if amount < 150 else "high")


def scd2_stream(stream: DataFrame, flush_at_ms: int) -> DataFrame:
    """SCD Type-2 history MAINTAINED under streaming arrival: per
    account, consecutive events sharing a value-tier form an open
    version in state; a tier change CLOSES the previous version
    (emitted with valid_to = the new version's valid_from, append
    mode), and the open head versions flush with NULL valid_to once
    the watermark passes `flush_at_ms` (a literal past every real
    event; the replay's sentinel pushes the watermark there). The
    streamed history must row-for-row equal the batch gaps-and-islands
    build — version numbers, validity bounds, event counts and the
    is_current flags all survive micro-batch boundaries.

    State per bucket: {account: [tier, version, valid_from_ms,
    n_events]} — O(open versions) = O(accounts), the SCD2 analogue of
    the reference's per-key ValueState. Same bucketed-key design and
    versioned-JSON state guard as record_buffer_tumbling_stream."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob = json.loads(state.get[0])
            if not isinstance(blob, dict) or blob.get("v") != SCD2_STATE_V:
                raise ValueError(
                    "scd2_stream: checkpoint state format "
                    f"{blob.get('v') if isinstance(blob, dict) else '?'!r} "
                    f"!= expected v{SCD2_STATE_V} — start from a fresh "
                    "checkpoint dir"
                )
            open_v: dict[int, list] = {
                int(a): s for a, s in blob["open"].items()
            }
        else:
            open_v = {}
        rows = []
        pdf = _group_frame(pdf_iter, ["account_id", "t_us", "event_id"])
        if pdf is not None:
            for a, t_us, amt in zip(
                pdf["account_id"].to_numpy(),
                pdf["t_us"].to_numpy(),
                pdf["amount"].to_numpy(),
            ):
                a = int(a)
                t = int(t_us) // 1000
                tier = _tier_of(float(amt))
                cur = open_v.get(a)
                if cur is None:
                    open_v[a] = [tier, 1, t, 1]
                elif cur[0] == tier:
                    cur[3] += 1
                else:
                    rows.append(
                        (a, cur[1], cur[0], cur[2], t, cur[3], False)
                    )
                    open_v[a] = [tier, cur[1] + 1, t, 1]
        wm = state.getCurrentWatermarkMs()
        if wm >= flush_at_ms:
            for a in sorted(open_v):
                tier, ver, vfrom, n = open_v[a]
                rows.append((a, ver, tier, vfrom, None, n, True))
            state.remove()
        else:
            state.update(
                (json.dumps({"v": SCD2_STATE_V, "open": open_v}),)
            )
            state.setTimeoutTimestamp(max(flush_at_ms, wm + 1))
        if rows:
            yield pd.DataFrame(
                rows, columns=[f.name for f in SCD2_SCHEMA.fields]
            )

    return (
        _with_epoch(stream)
        .withWatermark("event_time", "0 seconds")
        .withColumn(
            "_bucket", F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS))
        )
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            SCD2_SCHEMA,
            T.StructType([T.StructField("open_json", T.StringType())]),
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# ------------------------------------------------- temporal join (stream)

TEMPORAL_JOIN_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("t_ms", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("status_tier", T.StringType()),
        T.StructField("status_version", T.LongType()),
        T.StructField("status_since_ms", T.LongType()),
    ]
)


def temporal_join_stream(stream: DataFrame) -> DataFrame:
    """Stream-STREAM temporal join (Flink's temporal table join, both
    sides live): status events (signup/error) update the per-account
    dimension state, purchase facts emit immediately enriched with the
    state as of their position in the (t_ms, event_id) order —
    strictly-before visibility, exactly the batch face's contract.
    Other event types pass through the fold untouched (neither
    dimension nor fact).

    State per bucket: {account: [since_ms, version, tier]} — the
    latest dimension version per key, the same O(keys) invariant as
    the CDC compaction state. No timers: facts never wait (the
    dimension side needs no watermark hold because visibility is
    strictly historical), so enrichment latency is one micro-batch."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        cur: dict[int, list] = (
            {int(a): s for a, s in json.loads(state.get[0]).items()}
            if state.exists
            else {}
        )
        rows = []
        pdf = _group_frame(pdf_iter, ["account_id", "t_us", "event_id"])
        if pdf is not None:
            for a, t_us, amt, et, eid in zip(
                pdf["account_id"].to_numpy(),
                pdf["t_us"].to_numpy(),
                pdf["amount"].to_numpy(),
                pdf["event_type"].to_numpy(),
                pdf["event_id"].to_numpy(),
            ):
                a = int(a)
                t = int(t_us) // 1000
                if et in ("signup", "error"):
                    prev = cur.get(a)
                    cur[a] = [t, (prev[1] + 1) if prev else 1, _tier_of(float(amt))]
                elif et == "purchase":
                    st = cur.get(a)
                    rows.append(
                        (int(eid), a, t, float(amt))
                        + ((st[2], st[1], st[0]) if st else (None, None, None))
                    )
        state.update((json.dumps(cur),))
        if rows:
            yield pd.DataFrame(
                rows, columns=[f.name for f in TEMPORAL_JOIN_SCHEMA.fields]
            )

    return (
        _with_epoch(stream)
        .withColumn(
            "_bucket", F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS))
        )
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            TEMPORAL_JOIN_SCHEMA,
            T.StructType([T.StructField("cur_json", T.StringType())]),
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# scd2_tombstoned_stream state format version
SCD2_TS_STATE_V = 1

SCD2_TS_SCHEMA = T.StructType(
    SCD2_SCHEMA.fields[:6]
    + [
        T.StructField("closed_by", T.StringType()),
        T.StructField("is_current", T.BooleanType()),
    ]
)


def scd2_tombstoned_stream(stream: DataFrame, flush_at_ms: int) -> DataFrame:
    """The deletes-aware SCD2 build maintained under streaming arrival:
    tombstones ('error' rows in the typed replay) CLOSE the open
    version at their timestamp (closed_by='tombstone') without opening
    one; re-activation starts a fresh version even at the same tier.
    The per-account version counter survives deactivated gaps, so it
    lives in state NEXT TO the open version — {account: [open_tier,
    last_version, valid_from, n_events]} with open_tier None while
    deactivated. Same bucketing, versioned-JSON guard and
    sentinel-driven timeout flush as scd2_stream."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob = json.loads(state.get[0])
            if not isinstance(blob, dict) or blob.get("v") != SCD2_TS_STATE_V:
                raise ValueError(
                    "scd2_tombstoned_stream: checkpoint state format "
                    f"{blob.get('v') if isinstance(blob, dict) else '?'!r} "
                    f"!= expected v{SCD2_TS_STATE_V} — start from a fresh "
                    "checkpoint dir"
                )
            st: dict[int, list] = {int(a): s for a, s in blob["st"].items()}
        else:
            st = {}
        rows = []
        pdf = _group_frame(pdf_iter, ["account_id", "t_us", "event_id"])
        if pdf is not None:
            for a, t_us, amt, et in zip(
                pdf["account_id"].to_numpy(),
                pdf["t_us"].to_numpy(),
                pdf["amount"].to_numpy(),
                pdf["event_type"].to_numpy(),
            ):
                a = int(a)
                t = int(t_us) // 1000
                cur = st.get(a)
                if et == "error":
                    if cur is not None and cur[0] is not None:
                        rows.append(
                            (a, cur[1], cur[0], cur[2], t, cur[3],
                             "tombstone", False)
                        )
                        st[a] = [None, cur[1], 0, 0]
                    continue
                tier = _tier_of(float(amt))
                if cur is None or cur[0] is None:
                    last_ver = cur[1] if cur is not None else 0
                    st[a] = [tier, last_ver + 1, t, 1]
                elif cur[0] == tier:
                    cur[3] += 1
                else:
                    rows.append(
                        (a, cur[1], cur[0], cur[2], t, cur[3], "change", False)
                    )
                    st[a] = [tier, cur[1] + 1, t, 1]
        wm = state.getCurrentWatermarkMs()
        if wm >= flush_at_ms:
            for a in sorted(st):
                tier, ver, vfrom, n = st[a]
                if tier is not None:
                    rows.append((a, ver, tier, vfrom, None, n, None, True))
            state.remove()
        else:
            state.update((json.dumps({"v": SCD2_TS_STATE_V, "st": st}),))
            state.setTimeoutTimestamp(max(flush_at_ms, wm + 1))
        if rows:
            yield pd.DataFrame(
                rows, columns=[f.name for f in SCD2_TS_SCHEMA.fields]
            )

    return (
        _with_epoch(stream)
        .withWatermark("event_time", "0 seconds")
        .withColumn(
            "_bucket", F.pmod(F.xxhash64("account_id"), F.lit(N_FOLD_BUCKETS))
        )
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            SCD2_TS_SCHEMA,
            T.StructType([T.StructField("st_json", T.StringType())]),
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
