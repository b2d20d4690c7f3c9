"""Declarative Structured Streaming jobs mirroring the reference's
entry points (EP1/EP2 shapes), plus watermark wiring.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IN_ORDER = "0 seconds"
OUT_OF_ORDER_5S = "5 seconds"


def windowed_agg_stream(
    stream: DataFrame,
    size_ms: int,
    slide_ms: int | None = None,
    watermark: str | None = IN_ORDER,
    key: str | None = "account_id",
    aggs: list | None = None,
) -> DataFrame:
    """EP1/EP2 streaming shape: watermark -> keyed event-time window ->
    aggregate. Output columns match the batch `windows.tumbling/sliding`
    builders so stream==batch equality is a direct DataFrame compare.

    `watermark=None` means the input is ALREADY watermarked (e.g. by an
    upstream stateful operator like dropDuplicatesWithinWatermark);
    re-declaring it between chained stateful operators is disallowed."""
    if aggs is None:
        aggs = [F.sum("amount").alias("sum_amount")]
    win = (
        F.window("event_time", f"{size_ms} milliseconds")
        if slide_ms is None
        else F.window("event_time", f"{size_ms} milliseconds", f"{slide_ms} milliseconds")
    )
    keys = [win.alias("w")] + ([F.col(key)] if key else [])
    src = stream if watermark is None else stream.withWatermark("event_time", watermark)
    out = src.groupBy(*keys).agg(*aggs)
    cols = [F.unix_millis(F.col("w.start")).alias("w_start")]
    if key:
        cols.append(F.col(key))
    return out.select(*cols, *[c for c in out.columns if c not in ("w", key)])


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
    outer_keys = [
        F.window(
            F.window_time("p"), f"{size_ms} milliseconds", f"{slide_ms} milliseconds"
        ).alias("w")
    ] + ([F.col(key)] if key else [])
    out = panes.groupBy(*outer_keys).agg(F.sum("pane_sum").alias("sum_amount"))
    cols = [F.unix_millis(F.col("w.start")).alias("w_start")]
    if key:
        cols.append(F.col(key))
    return out.select(*cols, "sum_amount")


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


def alert_stream(agg_stream: DataFrame, threshold: float, value_col: str = "sum_amount") -> DataFrame:
    """F2: stateless threshold on the windowed aggregate -> alerts
    (reference: master/src/main/java/InorderTumblingWindow/FraudDetector2.java:14-31)."""
    return agg_stream.where(F.col(value_col) > threshold)


def session_agg_stream(
    stream: DataFrame,
    gap_ms: int,
    watermark: str = IN_ORDER,
    key: str | None = "account_id",
) -> DataFrame:
    """Streaming session windows: watermark -> session_window(gap) ->
    aggregate. Sessions MERGE as events arrive (Spark keeps per-key
    open sessions in the state store and the watermark closes them) —
    the merging-window capability the reference's custom trigger
    machinery was built toward, as one declarative operator. Output
    columns match the batch `session_sum_*` builders so stream==batch
    equality is a direct compare.
    """
    win = F.session_window("event_time", f"{gap_ms} milliseconds")
    keys = [win.alias("w")] + ([F.col(key)] if key else [])
    out = stream.withWatermark("event_time", watermark).groupBy(*keys).agg(
        F.sum("amount").alias("sum_amount"), F.count("*").alias("n_events")
    )
    cols = [F.unix_millis(F.col("w.start")).alias("w_start")]
    if key:
        cols.append(F.col(key))
    return out.select(*cols, "sum_amount", "n_events")


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
