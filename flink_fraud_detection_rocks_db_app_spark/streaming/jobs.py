"""Declarative Structured Streaming jobs mirroring the reference's
entry points (EP1/EP2 shapes), plus watermark wiring.

`window_agg` is the one event-time window aggregate: group by a
`F.window`/`F.session_window` column (and a key), aggregate, and emit
the window start as epoch-ms BIGINT `w_start` (registry convention).
The batch window queries (`operators/windows.py`, `detectors.py`,
`olap.py`), the stream jobs below and the daily rollups
(`rollup.py`) all call it. One query serves batch and stream
unchanged: Spark drops `withWatermark` from a batch plan, so a stream
job's output equals its batch twin's by a direct DataFrame compare.

Watermark parity (SURVEY §1.4):
- in-order: AscendingTimestampExtractor == `withWatermark(_, "0 seconds")`
  (reference: master/src/main/java/InorderTumblingWindow/FraudDetectionJob.java:52-58)
- out-of-order: forBoundedOutOfOrderness(5 s) == `withWatermark(_, "5 seconds")`
  (reference: master/src/main/java/OutofOrderTumblingWindow/FraudDetectionJob.java:63-70)

Emission parity note (SURVEY §7 risk 1): Flink fires per window when
the watermark passes the end; Spark append mode emits closed windows
at micro-batch boundaries. Final window values are identical; tests
compare final results, not emission timing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

IN_ORDER = "0 seconds"
OUT_OF_ORDER_5S = "5 seconds"


def window_agg(
    df: DataFrame,
    win: Column,
    aggs: list,
    key: str | None = "account_id",
    watermark: str | None = None,
) -> DataFrame:
    """Event-time window aggregate: optional watermark on `event_time`
    -> group by the window column `win` (`F.window` or
    `F.session_window`) and `key` -> `aggs`. Emits `w_start`
    (epoch-ms BIGINT window start), then `key`, then the aggregates.

    Parity: CustomTumblingWindow assigns [ts - ts % size, +size) and
    CustomSlidingWindow the set of windows covering an element
    (reference: master/src/main/java/InorderTumblingWindow/CustomTumblingWindow.java:41-43,
    master/src/main/java/InorderTumblingWindow/CustomSlidingWindow.java:33-46),
    which is exactly Spark's epoch-aligned window().

    `watermark=None` means no watermark is declared: a batch input, or
    a stream ALREADY watermarked upstream (e.g. by
    dropDuplicatesWithinWatermark or a pane aggregate); re-declaring it
    between chained stateful operators is disallowed."""
    src = df if watermark is None else df.withWatermark("event_time", watermark)
    keys = [F.col(key)] if key else []
    out = src.groupBy(win.alias("w"), *keys).agg(*aggs)
    return out.select(
        F.unix_millis(F.col("w.start")).alias("w_start"),
        *keys,
        *[c for c in out.columns if c not in ("w", key)],
    )


def windowed_agg_stream(
    stream: DataFrame,
    size_ms: int,
    slide_ms: int | None = None,
    watermark: str | None = IN_ORDER,
    key: str | None = "account_id",
    aggs: list | None = None,
) -> DataFrame:
    """EP1/EP2 streaming shape: watermark -> keyed tumbling (or, with
    `slide_ms`, sliding) event-time window -> aggregate (default
    `sum_amount`)."""
    return window_agg(
        stream,
        F.window("event_time", f"{size_ms} milliseconds", slide_ms and f"{slide_ms} milliseconds"),
        aggs or [F.sum("amount").alias("sum_amount")],
        key,
        watermark,
    )


def paned_sliding_stream(
    stream: DataFrame,
    size_ms: int,
    slide_ms: int,
    watermark: str = IN_ORDER,
    key: str | None = "account_id",
) -> DataFrame:
    """Streaming form of WA3's pane optimization (the batch version is
    operators/windows.slide_sum_50s_10s_paned): a tumbling gcd-pane SUM
    feeds a chained sliding window over the PANE rows. The naive
    sliding agg writes size/slide state rows per EVENT; here the
    sliding Expand and its state writes run on pane aggregates, so the
    second stage's input volume is |panes| not |rows| * overlap — the
    same rewrite that makes sliding windows survive scale, expressed
    with Spark's multiple-stateful-operator support. Emits the same
    (w_start, key, sum_amount) rows as windowed_agg_stream(size, slide)
    once the watermark closes both stages (asserted by differential
    test).

    Measured crossover (SCALE.md "Per-family shuffle budget",
    Streaming row — sf0.1 replay, 6 micro-batches, local[32], min-of-2
    per point, each event replayed k times): naive 7.96 s / paned 10.18 s at 1× (600k
    events), naive 8.82 s / paned 10.50 s at 10× (6M), naive 14.02 s /
    **paned 12.04 s at 40×** (24M events). The second state store
    costs a fixed ~2.2 s/replay of per-batch open/commit, but the
    per-event slope is ~2.7× shallower (state writes ∝ |panes|, not
    |rows|×overlap), so panes win once a micro-batch carries roughly
    >4M events under this 50s/10s config — i.e. at real stream
    volumes, exactly where the scale argument applies. Both forms are
    kept: naive for sparse streams, paned when per-event state volume
    dominates."""
    import math

    pane_ms = math.gcd(size_ms, slide_ms)
    keys = [F.window("event_time", f"{pane_ms} milliseconds").alias("p")] + (
        [F.col(key)] if key else []
    )
    panes = (
        stream.withWatermark("event_time", watermark)
        .groupBy(*keys)
        .agg(F.sum("amount").alias("pane_sum"))
    )
    return window_agg(
        panes,
        F.window(F.window_time("p"), f"{size_ms} milliseconds", f"{slide_ms} milliseconds"),
        [F.sum("pane_sum").alias("sum_amount")],
        key,
    )


# Measured paned-vs-naive crossover (SCALE.md "Per-family shuffle
# budget", Streaming row): under the 50s/10s config
# (overlap = size/slide = 5) the second state store costs a fixed
# ~2.2 s per replay while cutting the per-event state-write slope
# ~2.7×; panes start winning once a micro-batch carries roughly 4M
# events. Naive's per-event cost scales with the overlap factor, so
# the threshold is expressed in (events × overlap) state writes:
# 4M events × overlap 5 = 20M writes per micro-batch.
PANED_CROSSOVER_STATE_WRITES = 20_000_000


def sliding_sum_stream(
    stream: DataFrame,
    size_ms: int,
    slide_ms: int,
    watermark: str = IN_ORDER,
    key: str | None = "account_id",
    mode: str = "auto",
    expected_events_per_batch: int | None = None,
) -> DataFrame:
    """Sliding-window streaming SUM with the measured plan choice
    built in, so callers get the measured crossover guidance (SCALE.md
    "Per-family shuffle budget", Streaming row) without reading it.

    mode:
    - "naive": one sliding-window agg; each event writes
      overlap = ceil(size/slide) state rows. Cheapest for sparse
      streams (no second state store).
    - "paned": tumbling gcd-pane partials chained into a sliding agg
      over the panes (WA3's rewrite); pays a fixed ~2.2 s/micro-batch
      second-store commit but state writes scale with |panes|, not
      |events| × overlap. Wins for dense streams.
    - "auto" (default): picks paned iff
      expected_events_per_batch × overlap > PANED_CROSSOVER_STATE_WRITES
      (the measured crossover — 4M events/batch at overlap 5); with no
      estimate it stays naive, the measured winner at every density
      the fixture replay reaches.
    """
    mode = choose_sliding_mode(size_ms, slide_ms, mode, expected_events_per_batch)
    if mode == "paned":
        return paned_sliding_stream(stream, size_ms, slide_ms, watermark=watermark, key=key)
    return windowed_agg_stream(stream, size_ms, slide_ms=slide_ms, watermark=watermark, key=key)


def choose_sliding_mode(
    size_ms: int,
    slide_ms: int,
    mode: str = "auto",
    expected_events_per_batch: int | None = None,
) -> str:
    """Resolve "auto" to "naive"/"paned" by the measured crossover
    (see PANED_CROSSOVER_STATE_WRITES). Pure function so the policy is
    unit-testable apart from the streaming builders."""
    if mode not in ("auto", "naive", "paned"):
        raise ValueError(f"mode must be auto|naive|paned, got {mode!r}")
    if mode != "auto":
        return mode
    overlap = -(-size_ms // slide_ms)
    dense = (
        expected_events_per_batch is not None
        and expected_events_per_batch * overlap > PANED_CROSSOVER_STATE_WRITES
    )
    return "paned" if dense else "naive"


def alert_stream(agg_stream: DataFrame, threshold: float) -> DataFrame:
    """F2: stateless threshold on the windowed `sum_amount` -> alerts
    (reference: master/src/main/java/InorderTumblingWindow/FraudDetector2.java:14-31).
    The batch alert detectors apply the same rule."""
    return agg_stream.where(F.col("sum_amount") > threshold)


def session_agg_stream(
    stream: DataFrame,
    gap_ms: int,
    watermark: str = IN_ORDER,
    key: str | None = "account_id",
) -> DataFrame:
    """Streaming session windows: watermark -> session_window(gap) ->
    sum and count. Sessions MERGE as events arrive (Spark keeps per-key
    open sessions in the state store and the watermark closes them) —
    the merging-window capability the reference's custom trigger
    machinery was built toward, as one declarative operator.
    """
    return window_agg(
        stream,
        F.session_window("event_time", f"{gap_ms} milliseconds"),
        [F.sum("amount").alias("sum_amount"), F.count("*").alias("n_events")],
        key,
        watermark,
    )


def chained_windows_stream(
    stream: DataFrame,
    inner_ms: int = 3_600_000,
    outer_ms: int = 86_400_000,
    watermark: str = IN_ORDER,
) -> DataFrame:
    """Two stateful window aggregations CHAINED in one streaming query
    (Spark 3.4+ multiple-stateful-operator support): per-account
    tumbling `inner_ms` sums roll up into per-account `outer_ms`
    maxima. `window_time()` re-exposes the inner window's event-time
    so the outer window and its watermark propagate — no intermediate
    sink, one checkpoint, both state stores in the same micro-batch
    pipeline. The reference needs two jobs wired through Kafka for
    this shape; here it is a single declarative plan.
    """
    inner = (
        stream.withWatermark("event_time", watermark)
        .groupBy(
            F.window("event_time", f"{inner_ms} milliseconds").alias("w"),
            "account_id",
        )
        .agg(F.sum("amount").alias("hour_sum"))
    )
    outer = inner.groupBy(
        F.window(F.window_time("w"), f"{outer_ms} milliseconds").alias("d"),
        "account_id",
    ).agg(F.max("hour_sum").alias("max_hour_sum"), F.count("*").alias("n_hours"))
    return outer.select(
        F.unix_millis(F.col("d.start")).alias("d_start"),
        "account_id",
        "max_hour_sum",
        "n_hours",
    )
