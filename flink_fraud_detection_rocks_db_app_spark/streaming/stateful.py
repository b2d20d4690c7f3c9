"""Stateful detectors — the reference capabilities Spark has no
built-in for (SURVEY §7 "Custom"): reset-on-alert running aggregates
(F3/F5), the count-or-time early-fire trigger (T3), the record-buffer
window with event-time timer (F1), and the sequence and temporal folds
built the same way.

The batch forms run through `sorted_account_fold`: the JVM
hash-partitions on the account and sorts within partitions, and one
`mapInArrow` pass per partition folds the accounts in key order —
Flink's key groups processed in key order. They are the reference the
streaming forms are differential-tested against.

The 13 streaming forms run through one keyed-state runner,
`_keyed_fold`, the way every Flink operator sits on one keyed-state
backend with key groups. Each fold supplies only its per-row `step`;
the runner owns everything else:
- one grouping key for all folds, a hash bucket of the account
  (N_FOLD_BUCKETS), so Arrow transfer and state commits are paid per
  bucket, not per account;
- the group's Arrow chunks concatenated and sorted by
  (account_id, *order) before the step sees them, with the empty-
  iterator timeout flush;
- one versioned JSON state envelope {"v", "nb", "st"} per bucket,
  st = {account: fold state}, whose restore rejects an older format
  and a different bucket count;
- the optional 0 s watermark, event-time timeouts, and removal of
  empty state.

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
from functools import partial

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


# The streaming folds group by pmod(xxhash64(account_id), N_FOLD_BUCKETS),
# so a streaming checkpoint binds the bucket count it was written under:
# resuming under another SPARK_GRAFT_FOLD_BUCKETS would re-home accounts
# onto other buckets' state. Every fold's state envelope records the
# count ("nb") and the restore raises on a mismatch, for all 13 folds.
# The batch folds do not use it: `sorted_account_fold`'s parallelism is
# the shuffle partition count (AQE-coalesced) like every other
# operator's.
N_FOLD_BUCKETS = env_int("SPARK_GRAFT_FOLD_BUCKETS", 64)

# Fold-state envelope version: bump it whenever the grouping key or a
# fold's state shape changes, so a checkpoint written under the old
# format is rejected on restore instead of being silently
# reinterpreted. It starts above every per-fold blob version the folds
# wrote before the shared envelope (up to v3), so none of those loads.
STATE_V = 4


def _int_keys(o):
    """JSON object keys come back as strings; every key a fold's state
    uses is an int (account id, window start)."""
    return {int(k): _int_keys(v) for k, v in o.items()} if isinstance(o, dict) else o


def _state_encode(st: dict, nb: int) -> str:
    return json.dumps({"v": STATE_V, "nb": nb, "st": st})


def _state_decode(raw: str, nb: int) -> dict:
    """Restore one bucket's state, raising on (a) an envelope from before
    a state-shape change and (b) a checkpoint written under a different
    bucket count: both must fail loudly, not be reinterpreted. Bytes
    that are not a JSON envelope at all (truncated, or a blob of the
    retired pickle arm) get the same versioned error as (a)."""
    try:
        blob = json.loads(raw)
    except ValueError:
        blob = None
    v = blob.get("v") if isinstance(blob, dict) else None
    if v != STATE_V:
        raise ValueError(
            f"streaming fold: checkpoint state format {v!r} != expected "
            f"v{STATE_V} — the checkpoint predates a state-shape change; "
            "start from a fresh checkpoint dir"
        )
    if blob.get("nb") != nb:
        raise ValueError(
            f"streaming fold: checkpoint state was written under "
            f"{blob.get('nb')!r} fold buckets but SPARK_GRAFT_FOLD_BUCKETS "
            f"is now {nb} — the bucket count is part of the stateful "
            "grouping key; resuming would re-home accounts to other "
            "buckets' state. Start from a fresh checkpoint dir (or "
            "restore the original bucket count)"
        )
    return _int_keys(blob["st"])


def _keyed_fold(
    stream: DataFrame,
    step,
    schema: T.StructType,
    cols: tuple[str, ...],
    order: tuple[str, ...] = ("t_us", "event_id"),
    watermark: bool = False,
) -> DataFrame:
    """Streaming runner for the per-account folds.

    `step(st, rows, wm)` folds `rows` into the bucket's state `st`
    ({account: state}, mutated in place) and returns (output tuples in
    `schema`'s column order, event-time timeout in ms or None). `rows`
    are tuples of `cols` as native Python values, sorted by
    (account_id, *order); `t_us` and `t_ms` are epoch columns computed
    JVM-side (`unix_millis` floors, as `// 1000` does). With `watermark`
    the stream gets a 0 s watermark, the step sees it as `wm` (else
    None), and a returned timeout is registered; a step that leaves
    `st` empty removes the bucket's state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    nb = N_FOLD_BUCKETS
    by = ["account_id", *order]

    def fn(_key, pdf_iter, state):
        st = _state_decode(state.get[0], nb) if state.exists else {}
        # Arrow hands the group over in chunks of at most
        # spark.sql.execution.arrow.maxRecordsPerBatch rows; sorting each
        # chunk alone would fold rows out of order across chunk
        # boundaries, so concat first and sort once. A pure timeout
        # flush (EventTimeTimeout with no new rows) brings no chunks.
        chunks = [c for c in pdf_iter if len(c)]
        rows = ()
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(by, kind="mergesort")
            rows = zip(*(pdf[c].tolist() for c in cols))
        out, timeout = step(st, rows, state.getCurrentWatermarkMs() if watermark else None)
        if st:
            state.update((_state_encode(st, nb),))
            if timeout is not None:
                state.setTimeoutTimestamp(timeout)
        else:
            state.remove()
        if out:  # yielding empty untyped frames trips pandas concat warnings
            yield pd.DataFrame(out, columns=schema.fieldNames())

    if watermark:
        # the stateful late-event filter reads event_time, so it stays
        stream = stream.withWatermark("event_time", "0 seconds")
    keep = dict.fromkeys([*by, *cols, *(["event_time"] if watermark else [])])
    return (
        stream.withColumns(
            {"t_us": F.unix_micros("event_time"), "t_ms": F.unix_millis("event_time")}
        )
        # applyInPandasWithState resolves the grouping key against the
        # child's output, so the bucket must be a real column
        .select(F.pmod(F.xxhash64("account_id"), F.lit(nb)).alias("_bucket"), *keep)
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            schema,
            T.StructType([T.StructField("state_json", T.StringType())]),
            "append",
            GroupStateTimeout.EventTimeTimeout if watermark else GroupStateTimeout.NoTimeout,
        )
    )


def _close_windows(st: dict, wm: int, size_ms: int):
    """Pop the windows the watermark has closed from {account: {w_start:
    value}} state. Returns the (account, w_start, value) triples in key
    order and the next timeout, the earliest open window's end (None
    once no window is open)."""
    closed = []
    for a in sorted(st):
        d = st[a]
        closed += [(a, w, d.pop(w)) for w in sorted(w for w in d if w + size_ms <= wm)]
        if not d:
            del st[a]
    return closed, min(min(d) for d in st.values()) + size_ms if st else None


def sorted_account_fold(
    df: DataFrame, fold_rows, schema: T.StructType = ALERT_SCHEMA
) -> DataFrame:
    """Batch driver for the order-sensitive per-account folds.

    `fold_rows(keys, t_ms, amounts)` walks three equal-length lists
    sorted by (account_id, event_time, event_id), resets at key
    changes, and returns row tuples in `schema`'s column order. The JVM
    does all the ordering (hash-partition on the account, sort within
    partitions); Python makes one `mapInArrow` pass per partition. An
    account's rows may span Arrow batches (at most
    spark.sql.execution.arrow.maxRecordsPerBatch rows each), so at each
    batch boundary the trailing account's rows are held back and folded
    together with their continuation: memory is one Arrow batch plus
    one account's run. Output is invariant under the partition count
    and the Arrow batch size (test_fold_output_invariant_under_partitioning)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def whole_accounts(batches):
        held = []  # the trailing account's rows, possibly not yet complete
        for batch in batches:
            if not batch.num_rows:
                continue
            cols = [c.to_numpy(zero_copy_only=False) for c in batch.columns]
            keys = cols[0]
            cut = int(np.searchsorted(keys, keys[-1], "left"))
            if cut == 0 and held and held[0][0][0] == keys[0]:
                held.append(cols)  # the whole batch continues the held run
                continue
            yield held + [[c[:cut] for c in cols]]
            held = [[c[cut:] for c in cols]]
        if held:
            yield held

    def fold(batches):
        for parts in whole_accounts(batches):
            # Python lists, not numpy arrays: the per-row loop then steps
            # over native ints and floats (same IEEE values, faster)
            rows = fold_rows(*(np.concatenate(c).tolist() for c in zip(*parts)))
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=f.type) for c, f in zip(zip(*rows), arrow_schema)],
                    schema=arrow_schema,
                )

    return (
        df.repartition("account_id")
        .sortWithinPartitions("account_id", "event_time", "event_id")
        .select(
            "account_id",
            F.unix_millis("event_time").alias("t_ms"),  # floors, like // 1000
            "amount",
        )
        .mapInArrow(fold, schema)
    )


def running_sum_step(threshold: float, sums: dict, rows, _wm) -> tuple:
    """F5 step: running sum per account; alert + reset when the sum
    exceeds `threshold`. State: {account: running_sum}."""
    out = []
    for k, t, a in rows:
        s = sums.get(k, 0.0) + a
        if s > threshold:
            out.append((k, t, s))
            s = 0.0
        sums[k] = s
    return out, None


def running_mean_step(threshold: float, st: dict, rows, _wm) -> tuple:
    """F3 step: running (sum, count) per account; alert + reset when the
    mean exceeds `threshold`. State: {account: [sum, count]}."""
    out = []
    for k, t, a in rows:
        s, c = st.get(k, (0.0, 0))
        s += a
        c += 1
        if s / c > threshold:
            out.append((k, t, s / c))
            s, c = 0.0, 0
        st[k] = [s, c]
    return out, None


def ewma_step(alpha: float, st: dict, rows, _wm) -> tuple:
    """EWMA step, seeded with each account's first value:
    ewma_1 = x_1; ewma_i = a*x_i + (1-a)*ewma_{i-1}. One row per event.
    State: {account: ewma}."""
    out = []
    for k, t, a in rows:
        prev = st.get(k)
        prev = a if prev is None else alpha * a + (1 - alpha) * prev
        st[k] = prev
        out.append((k, t, prev))
    return out, None


def step_rows(step):
    """Batch form of a streaming fold `step`: `sorted_account_fold` hands
    it whole accounts, so each call starts from empty state."""

    def fold_rows(keys, t_ms, amounts):
        return step({}, zip(keys, t_ms, amounts), None)[0]

    return fold_rows


def capped_session_rows(keys, t_ms, _amounts, gap_ms: int, max_ms: int) -> list[tuple]:
    """Gap + max-duration session fold body: a key's session restarts
    after a silence longer than `gap_ms` OR once its span would exceed
    `max_ms`. One (key, session_no, start_ms, end_ms, n_events,
    span_ms) row per session."""
    rows, cur = [], None
    for k, t in zip(keys, t_ms):
        t = int(t)
        if k != cur:
            if cur is not None:
                rows.append((int(cur), sess, start, last, n, last - start))
            cur, sess, start, n = k, 1, t, 0
        elif t - last > gap_ms or t - start > max_ms:
            rows.append((int(cur), sess, start, last, n, last - start))
            sess, start, n = sess + 1, t, 0
        last = t
        n += 1
    if cur is not None:
        rows.append((int(cur), sess, start, last, n, last - start))
    return rows


def running_sum_alerts_batch(df: DataFrame, threshold: float) -> DataFrame:
    """F5: per-key running sum; alert + reset state when sum > threshold
    (reference: workspace/frauddetection/src/main/java/spendreport/FraudDetector.java:29-46).
    Batch fold over (event_time, event_id) order."""
    return sorted_account_fold(df, step_rows(partial(running_sum_step, threshold)))


def running_mean_alerts_batch(df: DataFrame, threshold: float) -> DataFrame:
    """F3: per-key running (sum, count); alert + reset when mean > threshold
    (reference: TumblingWindowWithTest/src/main/java/spendreport/FraudDetectorSliding.java:33-71)."""
    return sorted_account_fold(df, step_rows(partial(running_mean_step, threshold)))


def running_sum_alerts_stream(stream: DataFrame, threshold: float) -> DataFrame:
    """Streaming F5: running sum per account, emit + reset on threshold
    crossing, exactly like the reference's per-key ValueState
    (reference: workspace/frauddetection/src/main/java/spendreport/FraudDetector.java:29-46).
    State: {account: running_sum}."""
    return _keyed_fold(
        stream,
        partial(running_sum_step, threshold),
        ALERT_SCHEMA,
        ("account_id", "t_ms", "amount"),
    )


def running_mean_alerts_stream(stream: DataFrame, threshold: float) -> DataFrame:
    """Streaming F3: per-key (sum, count) state, alert + reset when the
    running mean crosses the threshold
    (reference: TumblingWindowWithTest/src/main/java/spendreport/FraudDetectorSliding.java:33-71)."""
    return _keyed_fold(
        stream,
        partial(running_mean_step, threshold),
        ALERT_SCHEMA,
        ("account_id", "t_ms", "amount"),
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

    State: {account: {w_start: [next_seg, cur_sum, cur_count]}}. Early
    segments stream out immediately; final segments flush on timeout.
    Output matches `operators.stateful.count_or_time_segments` on the
    same (ordered) input for closed windows.
    """

    def step(st, rows, wm):
        out = []
        for k, t, a in rows:
            w = t - t % size_ms
            wins = st.setdefault(k, {})
            seg, s, c = wins.get(w, (0, 0.0, 0))
            s += a
            c += 1
            if c >= max_count:
                out.append((w, k, seg, s, c, "early"))
                wins[w] = [seg + 1, 0.0, 0]
            else:
                wins[w] = [seg, s, c]
        closed, timeout = _close_windows(st, wm, size_ms)
        out += [(w, k, seg, s, c, "final") for k, w, (seg, s, c) in closed if c > 0]
        return out, timeout

    return _keyed_fold(
        stream, step, SEGMENT_SCHEMA, ("account_id", "t_ms", "amount"), watermark=True
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
    differential-test idea). The registered timeout is the earliest
    open window end across the bucket; per-(account, window) emission
    is unchanged because windowed sums are commutative.
    """

    def step(st, rows, wm):
        for a, t, amt in rows:
            d = st.setdefault(a, {})
            w = t - t % size_ms
            d[w] = d.get(w, 0.0) + amt
        closed, timeout = _close_windows(st, wm, size_ms)
        return [(w, a, s) for a, w, s in closed], timeout

    return _keyed_fold(
        stream, step, WINDOW_SUM_SCHEMA, ("account_id", "t_ms", "amount"), watermark=True
    )


# ------------------------------------------------------------------- WA4


def record_buffer_bounded_tumbling_stream(
    stream: DataFrame,
    size_ms: int,
    max_open: int,
    flush_at_ms: int,
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

    def step(st, rows, wm):
        for a, t, amt in rows:
            d = st.setdefault(a, {})
            w = t - t % size_ms
            if w not in d:
                # the reference polls the earliest-ending window and
                # clears its buffer BEFORE offering the new one
                if len(d) >= max_open:
                    d.pop(min(d))
                d[w] = 0.0
            d[w] += amt
        if wm < flush_at_ms:
            return [], flush_at_ms
        out = [(w, a, st[a][w]) for a in sorted(st) for w in sorted(st[a])]
        st.clear()
        return out, None

    return _keyed_fold(
        stream, step, WINDOW_SUM_SCHEMA, ("account_id", "t_ms", "amount"), watermark=True
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

    Fold order is the batch twin's: it sorts
    sort_array(struct(t_ms, event_type)) at millisecond resolution, so
    events tie-break on event_type within a millisecond — sorting on
    raw t_us would order µs-distinct but ms-equal events differently."""

    def step(st, rows, _wm):
        out = []
        for u, t, typ in rows:
            v, c, p = st.get(u, (None, None, None))
            if v is None and typ == "view":
                v = t
                out.append((u, "view", t))
            elif c is None and v is not None and typ == "click" and t > v:
                c = t
                out.append((u, "click", t))
            elif p is None and c is not None and typ == "purchase" and t > c:
                p = t
                out.append((u, "purchase", t))
            st[u] = [v, c, p]
        return out, None

    return _keyed_fold(
        stream,
        step,
        FUNNEL_SCHEMA,
        ("account_id", "t_ms", "event_type"),
        order=("t_ms", "event_type"),
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
    PRECEDING' frame, in that window's (t_ms, event_id) order. The
    flag gate compares 6dp-rounded values so Welford-vs-window ulp
    drift can't flip a decision the batch form wouldn't."""
    import math

    def step(st, rows, _wm):
        out = []
        for u, t, a in rows:
            n, mean, m2 = st.get(u, (0, 0.0, 0.0))
            if n >= min_prior:
                var = m2 / (n - 1)
                sigma = math.sqrt(var) if var > 0 else 0.0
                if sigma > 0 and round(abs(a - mean) - k * sigma, 6) > 0:
                    out.append((u, t, a, round((a - mean) / sigma, 6)))
            n += 1
            d = a - mean
            mean += d / n
            m2 += d * (a - mean)
            st[u] = [n, mean, m2]
        return out, None

    return _keyed_fold(
        stream,
        step,
        ZSCORE_SCHEMA,
        ("account_id", "t_ms", "amount"),
        order=("t_ms", "event_id"),
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
    the smallest possible adaptive-baseline detector state. Same
    (account_id, t_us, event_id) fold order as the batch form, so
    stream==batch is a direct row compare (differential-tested)."""
    return _keyed_fold(
        stream, partial(ewma_step, alpha), EWMA_SCHEMA, ("account_id", "t_ms", "amount")
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
    comparisons are raw fixture doubles with no arithmetic."""

    def step(st, rows, _wm):
        out = []
        for k, t, a in rows:
            prev = st.get(k, [])
            if len(prev) == 2 and prev[0] < prev[1] < a:
                out.append((k, t, prev[0], prev[1], a))
            st[k] = (prev + [a])[-2:]
        return out, None

    return _keyed_fold(stream, step, RISING_SCHEMA, ("account_id", "t_ms", "amount"))


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
    windows beating the threshold emit."""
    import math

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

    def step(st, rows, _wm):
        out = []
        for k, eid, a in rows:
            buf = st.setdefault(k, [])
            buf.append(a)
            if len(buf) == TS_SIM_K:
                d = dist_of(buf)
                if d is not None and d < threshold:
                    out.append((k, eid, d))
                buf.pop(0)
        return out, None

    return _keyed_fold(
        stream, step, TS_PATTERN_SCHEMA, ("account_id", "event_id", "amount")
    )


# ------------------------------------------------------------------ SCD2

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

    State: {account: [tier, version, valid_from_ms, n_events]} —
    O(open versions) = O(accounts), the SCD2 analogue of the
    reference's per-key ValueState."""

    def step(st, rows, wm):
        out = []
        for a, t, amt in rows:
            tier = _tier_of(amt)
            cur = st.get(a)
            if cur is None:
                st[a] = [tier, 1, t, 1]
            elif cur[0] == tier:
                cur[3] += 1
            else:
                out.append((a, cur[1], cur[0], cur[2], t, cur[3], False))
                st[a] = [tier, cur[1] + 1, t, 1]
        if wm < flush_at_ms:
            return out, max(flush_at_ms, wm + 1)
        out += [
            (a, ver, tier, vfrom, None, n, True)
            for a, (tier, ver, vfrom, n) in sorted(st.items())
        ]
        st.clear()
        return out, None

    return _keyed_fold(
        stream, step, SCD2_SCHEMA, ("account_id", "t_ms", "amount"), watermark=True
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

    State: {account: [since_ms, version, tier]} — the latest dimension
    version per key, the same O(keys) invariant as the CDC compaction
    state. No timers: facts never wait (the dimension side needs no
    watermark hold because visibility is strictly historical), so
    enrichment latency is one micro-batch."""

    def step(st, rows, _wm):
        out = []
        for a, t, amt, et, eid in rows:
            cur = st.get(a)
            if et in ("signup", "error"):
                st[a] = [t, (cur[1] + 1) if cur else 1, _tier_of(amt)]
            elif et == "purchase":
                status = (cur[2], cur[1], cur[0]) if cur else (None, None, None)
                out.append((eid, a, t, amt) + status)
        return out, None

    return _keyed_fold(
        stream,
        step,
        TEMPORAL_JOIN_SCHEMA,
        ("account_id", "t_ms", "amount", "event_type", "event_id"),
    )


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
    deactivated. Same sentinel-driven timeout flush as scd2_stream."""

    def step(st, rows, wm):
        out = []
        for a, t, amt, et in rows:
            cur = st.get(a)
            if et == "error":
                if cur is not None and cur[0] is not None:
                    out.append((a, cur[1], cur[0], cur[2], t, cur[3], "tombstone", False))
                    st[a] = [None, cur[1], 0, 0]
                continue
            tier = _tier_of(amt)
            if cur is None or cur[0] is None:
                st[a] = [tier, (cur[1] if cur is not None else 0) + 1, t, 1]
            elif cur[0] == tier:
                cur[3] += 1
            else:
                out.append((a, cur[1], cur[0], cur[2], t, cur[3], "change", False))
                st[a] = [tier, cur[1] + 1, t, 1]
        if wm < flush_at_ms:
            return out, max(flush_at_ms, wm + 1)
        out += [
            (a, ver, tier, vfrom, None, n, None, True)
            for a, (tier, ver, vfrom, n) in sorted(st.items())
            if tier is not None
        ]
        st.clear()
        return out, None

    return _keyed_fold(
        stream,
        step,
        SCD2_TS_SCHEMA,
        ("account_id", "t_ms", "amount", "event_type"),
        watermark=True,
    )
