"""Streaming semantics: stream==batch (Structured Streaming prefix
integrity), watermark late-drop, stateful detectors on a real replayed
stream, and the reference's own differential test (EP3): custom
stateful-UDF window vs built-in declarative window."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_fraud_detection_rocks_db_app_spark.operators.windows import MS
from flink_fraud_detection_rocks_db_app_spark.fixtures import (
    transactions,
    transactions_with_id,
)
from flink_fraud_detection_rocks_db_app_spark.streaming import (
    IN_ORDER,
    read_replay_batch,
    OUT_OF_ORDER_5S,
    MetricsListener,
    read_replay_stream,
    record_buffer_tumbling_stream,
    run_to_memory,
    running_sum_alerts_batch,
    running_sum_alerts_stream,
    windowed_agg_stream,
    write_replay_chunks,
)

from .conftest import SF_SMALL

SIZE_MS = MS["h"]  # 1h tumbling: dense enough at sf0.001


def _batch_tumble(spark, closed_before_ms=None):
    df = windowed_agg_stream(transactions(spark, SF_SMALL), SIZE_MS, watermark=None)
    rows = {(r.w_start, r.account_id): r.sum_amount for r in df.collect()}
    if closed_before_ms is not None:
        rows = {k: v for k, v in rows.items() if k[0] + SIZE_MS <= closed_before_ms}
    return rows


def _max_t_ms(spark):
    df = transactions(spark, SF_SMALL)
    return df.agg(F.max(F.unix_millis("event_time"))).collect()[0][0]


def test_stream_equals_batch_inorder(spark, scratch):
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    stream = read_replay_stream(spark, chunks)
    agg = windowed_agg_stream(stream, SIZE_MS, watermark=IN_ORDER)
    run_to_memory(agg, "t_inorder")
    got = {
        (r.w_start, r.account_id): r.sum_amount
        for r in spark.table("t_inorder").collect()
    }
    wm = _max_t_ms(spark)  # final watermark = max event time - 0s
    want = _batch_tumble(spark, closed_before_ms=wm)
    full = _batch_tumble(spark)
    # every emitted window must match batch exactly
    for k, v in got.items():
        assert abs(v - full[k]) < 1e-9, k
    # and every batch-closed window must have been emitted
    missing = set(want) - set(got)
    assert not missing, f"closed windows never emitted: {sorted(missing)[:5]}"


def test_stream_out_of_order_bounded_jitter(spark, scratch):
    """Jitter within the 5s watermark bound must not lose any data:
    stream result == batch result on the jittered timestamps."""
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6, jitter_ms=4_000)
    stream = read_replay_stream(spark, chunks)
    agg = windowed_agg_stream(stream, SIZE_MS, watermark=OUT_OF_ORDER_5S)
    run_to_memory(agg, "t_ooo")
    got = {
        (r.w_start, r.account_id): r.sum_amount for r in spark.table("t_ooo").collect()
    }
    # batch over the same jittered input
    batch_src = read_replay_batch(spark, chunks)
    want_df = windowed_agg_stream(batch_src, SIZE_MS, watermark=None)
    want = {(r.w_start, r.account_id): r.sum_amount for r in want_df.collect()}
    wm = (
        batch_src.agg(F.max(F.unix_millis("event_time"))).collect()[0][0] - 5_000
    )
    closed = {k: v for k, v in want.items() if k[0] + SIZE_MS <= wm}
    for k in closed:
        assert k in got and abs(got[k] - closed[k]) < 1e-9, k
    for k, v in got.items():
        assert abs(v - want[k]) < 1e-9, k


def test_stream_drops_late_rows(spark, scratch):
    """Rows 1h behind the stream's progress are beyond the 5s watermark
    and must be dropped (reference trigger drops via CONTINUE-until-
    watermark then FIRE_AND_PURGE; no allowed-lateness)."""
    chunks = write_replay_chunks(
        spark, SF_SMALL, scratch, n_chunks=6, late_every=97
    )
    stream = read_replay_stream(spark, chunks)
    agg = windowed_agg_stream(
        stream,
        SIZE_MS,
        watermark=OUT_OF_ORDER_5S,
        aggs=[F.sum("amount").alias("sum_amount"), F.count("*").alias("n_events")],
    )
    run_to_memory(agg, "t_late")
    stream_events = sum(r.n_events for r in spark.table("t_late").collect())
    batch_src = read_replay_batch(spark, chunks)
    late_ids = {
        r.event_id
        for r in batch_src.where(F.col("event_id") % 97 == 0).collect()
    }
    total = batch_src.count()
    assert stream_events < total, "late rows should have been dropped"
    assert total - stream_events <= len(late_ids), "only late rows may be dropped"
    # windows containing no late rows must match batch exactly
    got = {
        (r.w_start, r.account_id): r.sum_amount for r in spark.table("t_late").collect()
    }
    clean = (
        batch_src.where(~F.col("event_id").isin(list(late_ids)))
        .groupBy(
            (F.unix_millis("event_time") - F.unix_millis("event_time") % SIZE_MS).alias(
                "w_start"
            ),
            "account_id",
        )
        .agg(F.sum("amount").alias("sum_amount"))
    )
    late_windows = {
        (r.w_start, r.account_id)
        for r in batch_src.where(F.col("event_id").isin(list(late_ids)))
        .select(
            (F.unix_millis("event_time") - F.unix_millis("event_time") % SIZE_MS).alias(
                "w_start"
            ),
            "account_id",
        )
        .collect()
    }
    wm = batch_src.agg(F.max(F.unix_millis("event_time"))).collect()[0][0] - 5_000
    for r in clean.collect():
        k = (r.w_start, r.account_id)
        if k in late_windows or k[0] + SIZE_MS > wm:
            continue
        assert k in got and abs(got[k] - r.sum_amount) < 1e-9, k


def test_running_sum_alert_stream_equals_batch_fold(spark, scratch):
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    stream = read_replay_stream(spark, chunks)
    alerts = running_sum_alerts_stream(stream, 500.0)
    run_to_memory(alerts, "t_f5")
    got = sorted(tuple(r) for r in spark.table("t_f5").collect())
    want = sorted(
        tuple(r)
        for r in running_sum_alerts_batch(
            transactions_with_id(spark, SF_SMALL), 500.0
        ).collect()
    )
    assert len(got) > 0
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert all(abs(g[2] - w[2]) < 1e-9 for g, w in zip(got, want))


def test_record_buffer_window_differential(spark, scratch):
    """EP3, the reference's own test strategy: the stateful-UDF
    record-buffer tumbling window must equal the built-in window
    aggregate on the same input
    (reference: master/src/test/java/CustomTumblingWindowTest.java:28-132)."""
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    stream = read_replay_stream(spark, chunks)
    custom = record_buffer_tumbling_stream(stream, SIZE_MS)
    run_to_memory(custom, "t_f1")
    got = {
        (r.w_start, r.account_id): r.sum_amount for r in spark.table("t_f1").collect()
    }
    full = _batch_tumble(spark)
    for k, v in got.items():
        assert abs(v - full[k]) < 1e-9, k
    wm = _max_t_ms(spark)
    want = _batch_tumble(spark, closed_before_ms=wm)
    missing = set(want) - set(got)
    assert not missing, f"closed windows never emitted: {sorted(missing)[:5]}"


def test_metrics_listener(spark, scratch):
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=4)
        stream = read_replay_stream(spark, chunks)
        agg = windowed_agg_stream(stream, SIZE_MS, watermark=IN_ORDER)
        run_to_memory(agg, "t_metrics")
    finally:
        spark.streams.removeListener(listener)
    m = listener.metrics
    assert m.num_events == 1000
    assert m.batches >= 4
    assert m.throughput_events_per_sec > 0
    assert m.latency_ms_per_event > 0


def test_prometheus_endpoint_scrape(spark, scratch):
    """K3 parity: the reference serves latency/throughput/duration/
    numEvents gauges over HTTP (FraudDetectionJob.java:52-69,173-191).
    Scrape our /metrics endpoint during a replay run and check the
    exposition format + reference definitions; also exercise the
    textfile-collector export."""
    import os
    import urllib.request

    from flink_fraud_detection_rocks_db_app_spark.streaming.prometheus import (
        MetricsEndpoint,
        write_textfile,
    )

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        with MetricsEndpoint(listener.metrics) as ep:
            # scrape before any data: endpoint is live, gauges zero
            pre = urllib.request.urlopen(ep.url, timeout=5).read().decode()
            assert "# TYPE numEvents gauge" in pre
            assert "numEvents 0.0" in pre

            chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=4)
            stream = read_replay_stream(spark, chunks)
            agg = windowed_agg_stream(stream, SIZE_MS, watermark=IN_ORDER)
            run_to_memory(agg, "t_prom")

            resp = urllib.request.urlopen(ep.url, timeout=5)
            assert resp.headers["Content-Type"].startswith("text/plain; version=0.0.4")
            body = resp.read().decode()
    finally:
        spark.streams.removeListener(listener)

    gauges = {}
    for line in body.splitlines():
        if line and not line.startswith("#"):
            name, val = line.split(" ", 1)
            gauges[name] = float(val)
    assert set(gauges) == {"latency", "throughput", "duration", "numEvents"}
    assert gauges["numEvents"] == 1000.0
    assert gauges["duration"] > 0
    # reference definitions: latency = duration_ms/numEvents,
    # throughput = numEvents/duration_s
    assert abs(gauges["latency"] - gauges["duration"] / 1000.0) < 1e-6
    assert abs(gauges["throughput"] - 1000.0 / (gauges["duration"] / 1000.0)) < 1e-6

    # listener events are delivered async, so metrics may tick between
    # the HTTP scrape and this export — compare structure, not bytes
    prom_file = os.path.join(scratch, "spark_job.prom")
    write_textfile(listener.metrics, prom_file)
    file_gauges = {}
    for line in open(prom_file):
        if line.strip() and not line.startswith("#"):
            name, val = line.split(" ", 1)
            file_gauges[name] = float(val)
    assert set(file_gauges) == set(gauges)
    assert file_gauges["numEvents"] == 1000.0


def test_update_mode_running_totals(spark, scratch):
    """F5's alternative mapping (SURVEY §2.7): per-key cumulative sum as
    a streaming aggregate in UPDATE mode — the memory sink's latest row
    per key must equal the batch total after the replay drains."""
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=4)
    stream = read_replay_stream(spark, chunks)
    totals = stream.groupBy("account_id").agg(
        F.sum("amount").alias("total"), F.count("*").alias("n")
    )
    q = (
        totals.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    # update mode appends a row per changed key per batch; latest wins
    import pandas as pd

    pdf = spark.table("t_update").toPandas()
    latest = pdf.groupby("account_id").last()
    want = {
        r.account_id: (r.total, r.n)
        for r in transactions(spark, SF_SMALL)
        .groupBy("account_id")
        .agg(F.sum("amount").alias("total"), F.count("*").alias("n"))
        .collect()
    }
    assert len(latest) == len(want)
    for k, row in latest.iterrows():
        assert abs(row["total"] - want[k][0]) < 1e-9 and row["n"] == want[k][1], k


def test_complete_mode_global_aggregate(spark, scratch):
    """Complete mode: the sink holds the full result table every batch;
    after draining it equals the batch aggregate exactly."""
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=4)
    stream = read_replay_stream(spark, chunks)
    agg = stream.groupBy("account_id").agg(F.sum("amount").alias("total"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = {r.account_id: r.total for r in spark.table("t_complete").collect()}
    want = {
        r.account_id: r.total
        for r in transactions(spark, SF_SMALL)
        .groupBy("account_id")
        .agg(F.sum("amount").alias("total"))
        .collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want)


def test_stream_session_windows_equal_batch(spark, scratch):
    """Streaming session windows (6h gap, merging state) must emit
    exactly the batch session result for sessions the final watermark
    closed — and nothing that contradicts batch."""
    from flink_fraud_detection_rocks_db_app_spark.streaming.jobs import (
        session_agg_stream,
    )

    GAP_MS = 6 * 3_600_000
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    stream = read_replay_stream(spark, chunks)
    agg = session_agg_stream(stream, GAP_MS, watermark=IN_ORDER)
    run_to_memory(agg, "t_sessions")
    got = {
        (r.w_start, r.account_id): (r.sum_amount, r.n_events)
        for r in spark.table("t_sessions").collect()
    }
    assert got, "no sessions emitted"

    # batch reference WITH session end times (end = last event + gap)
    batch = (
        transactions(spark, SF_SMALL)
        .groupBy(
            F.session_window("event_time", "6 hours").alias("w"), "account_id"
        )
        .agg(F.sum("amount").alias("sum_amount"), F.count("*").alias("n_events"))
        .select(
            F.unix_millis("w.start").alias("w_start"),
            F.unix_millis("w.end").alias("w_end"),
            "account_id",
            "sum_amount",
            "n_events",
        )
        .collect()
    )
    full = {(r.w_start, r.account_id): (r.sum_amount, r.n_events) for r in batch}

    # every emitted session must match batch exactly
    for k, (s, n) in got.items():
        assert k in full, k
        assert n == full[k][1] and abs(s - full[k][0]) < 1e-9, k
    # every session closed strictly before the final watermark must be out
    wm = _max_t_ms(spark)
    closed = {
        (r.w_start, r.account_id) for r in batch if r.w_end < wm
    }
    missing = closed - set(got)
    assert not missing, f"closed sessions never emitted: {sorted(missing)[:5]}"


def test_chained_window_aggs_stream_equals_batch(spark, scratch):
    """Two chained stateful window aggregations in ONE streaming query
    (hourly per-account sums -> daily max of those sums). Append-mode
    emission: every emitted day matches the batch two-level rollup
    over closed hours, and every day safely closed by the final
    watermark (day end + inner hour <= wm) was emitted."""
    from flink_fraud_detection_rocks_db_app_spark.streaming.jobs import (
        chained_windows_stream,
    )

    H, D = 3_600_000, 86_400_000
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    sdf = chained_windows_stream(read_replay_stream(spark, chunks))
    run_to_memory(sdf, "chained_out")
    got = {
        (r.d_start, r.account_id): (r.max_hour_sum, r.n_hours)
        for r in spark.table("chained_out").collect()
    }
    assert got, "no closed daily windows emitted"

    ev = read_replay_batch(spark, chunks)
    wm = ev.agg(F.max(F.unix_millis("event_time"))).collect()[0][0]
    hourly = ev.groupBy(
        (F.unix_millis("event_time") - F.unix_millis("event_time") % H).alias("h_start"),
        "account_id",
    ).agg(F.sum("amount").alias("hour_sum"))
    closed_hourly = hourly.where(F.col("h_start") + H <= wm)
    daily = closed_hourly.groupBy(
        (F.col("h_start") - F.col("h_start") % D).alias("d_start"),
        "account_id",
    ).agg(F.max("hour_sum").alias("max_hour_sum"), F.count("*").alias("n_hours"))
    want = {
        (r.d_start, r.account_id): (r.max_hour_sum, r.n_hours)
        for r in daily.collect()
    }
    # emitted rows match the batch rollup-over-closed-hours exactly
    for k, (mx, n) in got.items():
        assert k in want and want[k][1] == n and abs(want[k][0] - mx) < 1e-9, k
    # all safely-closed days were emitted
    closed_days = {k for k in want if k[0] + D + H <= wm}
    missing = closed_days - set(got)
    assert not missing, f"closed days never emitted: {sorted(missing)[:5]}"


def test_stream_static_rules_join(spark, scratch):
    """The dynamic-rules broadcast pattern, streaming form: a derived
    per-bucket threshold frame (static) joined into the replayed event
    stream. Stream-static inner joins are stateless in Structured
    Streaming — the static side broadcasts per micro-batch, which is
    the Spark expression of Flink's broadcast state. Every streamed
    alert must equal the batch alert set."""
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=4)
    tx = transactions_with_id(spark, SF_SMALL)
    bucket = F.pmod("account_id", F.lit(5)).alias("bucket")
    rules = (
        tx.select(bucket, "amount")
        .groupBy("bucket")
        .agg(F.round(F.expr("percentile(amount, 0.95)"), 6).alias("threshold"))
    )
    stream = read_replay_stream(spark, chunks).withColumn(
        "bucket", F.pmod("account_id", F.lit(5))
    )
    alerts = (
        stream.join(F.broadcast(rules), "bucket")
        .where(F.col("amount") > F.col("threshold"))
        .select("account_id", "event_id", "amount")
    )
    run_to_memory(alerts, "t_rules_join")
    got = {(r.account_id, r.event_id) for r in spark.table("t_rules_join").collect()}
    want = {
        (r.account_id, r.event_id)
        for r in tx.select(bucket, "account_id", "event_id", "amount")
        .join(F.broadcast(rules), "bucket")
        .where(F.col("amount") > F.col("threshold"))
        .collect()
    }
    assert len(want) > 0
    assert got == want


def test_paned_sliding_stream_equals_naive(spark, scratch):
    """WA3's pane optimization in streaming form: the chained
    pane->sliding aggregation must emit exactly the naive sliding
    window's rows (same windows, same sums) over the same replay."""
    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        paned_sliding_stream,
    )

    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=4)
    naive = windowed_agg_stream(
        read_replay_stream(spark, chunks), 50_000, 10_000, watermark="0 seconds"
    )
    run_to_memory(naive, "paned_diff_naive")
    paned = paned_sliding_stream(
        read_replay_stream(spark, chunks), 50_000, 10_000, watermark="0 seconds"
    )
    run_to_memory(paned, "paned_diff_paned")
    a = {tuple(r) for r in spark.table("paned_diff_naive").collect()}
    b = {tuple(r) for r in spark.table("paned_diff_paned").collect()}
    assert a == b and len(a) > 0


def test_stream_dedup_absorbs_redelivery(spark, scratch):
    """At-least-once redelivery (dup_every): WITHOUT dedup the windowed
    sums must be corrupted (proves the knob injects real duplicates);
    WITH dropDuplicatesWithinWatermark they equal the duplicate-free
    batch answer on every emitted window."""
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6, dup_every=5)
    full = _batch_tumble(spark)

    naive = windowed_agg_stream(
        read_replay_stream(spark, chunks), SIZE_MS, watermark=OUT_OF_ORDER_5S
    )
    run_to_memory(naive, "t_dup_naive")
    got_naive = {
        (r.w_start, r.account_id): r.sum_amount
        for r in spark.table("t_dup_naive").collect()
    }
    corrupted = [k for k, v in got_naive.items() if abs(v - full[k]) > 1e-9]
    assert corrupted, "dup_every must corrupt at least one window sum"

    deduped = (
        read_replay_stream(spark, chunks)
        .withWatermark("event_time", OUT_OF_ORDER_5S)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = windowed_agg_stream(deduped, SIZE_MS, watermark=None)
    run_to_memory(agg, "t_dup_clean")
    got = {
        (r.w_start, r.account_id): r.sum_amount
        for r in spark.table("t_dup_clean").collect()
    }
    assert got, "deduped stream emitted nothing"
    for k, v in got.items():
        assert abs(v - full[k]) < 1e-9, k


def test_stream_holistic_median_equals_batch(spark, scratch):
    """DESIGN.md:27's holistic median, STREAMING: percentile() is a
    TypedImperativeAggregate, so streaming state holds the full value
    buffer per open window — exactly the 'store the events' cost the
    reference's design predicted for holistic aggregation. The final
    emitted medians must equal the batch operator bit-for-bit on the
    in-order replay."""
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    stream = read_replay_stream(spark, chunks)
    med = [F.expr("percentile(amount, 0.5)").alias("median_amount")]
    agg = windowed_agg_stream(stream, SIZE_MS, watermark=IN_ORDER, aggs=med)
    run_to_memory(agg, "t_median")
    got = {
        (r.w_start, r.account_id): r.median_amount
        for r in spark.table("t_median").collect()
    }
    batch = windowed_agg_stream(transactions(spark, SF_SMALL), SIZE_MS, watermark=None, aggs=med)
    full = {(r.w_start, r.account_id): r.median_amount for r in batch.collect()}
    assert got, "stream emitted nothing"
    for k, v in got.items():
        assert abs(v - full[k]) < 1e-9, (k, v, full[k])


def test_defer_tail_replay_disorder_is_real_and_bounded(spark, scratch):
    """The W2 driver face is only meaningful while the defer-tail
    replay actually produces cross-batch disorder. Pin both sides:
    (a) a non-trivial number of rows arrive in a later chunk than an
    earlier chunk's max event time (genuine late arrivals), and
    (b) every such row stays within the 6h bound, so a
    withWatermark('6 hours') job must not drop anything — the
    invariant the face's batch-SQL oracle relies on."""
    import glob
    import os

    import pandas as pd

    bound_ms = 6 * MS["h"]
    chunks = write_replay_chunks(
        spark, SF_SMALL, scratch, n_chunks=6, defer_tail_ms=bound_ms
    )
    files = sorted(glob.glob(os.path.join(chunks, "*.parquet")))
    prev_max, n_late = None, 0
    for f in files:
        df = pd.read_parquet(f)
        if prev_max is not None:
            late = df[df.t_us < prev_max]
            n_late += len(late)
            if len(late):
                assert int(late.t_us.min()) > prev_max - bound_ms * 1000
        prev_max = max(prev_max or 0, int(df.t_us.max()))
    assert n_late >= 20, n_late


def test_choose_sliding_mode_encodes_measured_crossover():
    """The paned-vs-naive decision (SCALE.md "Per-family shuffle
    budget", Streaming row) is API policy now, not documentation: auto
    picks naive with no density estimate or a sparse one, and flips to
    paned once expected per-batch state writes (events x overlap)
    cross the measured 20M threshold (4M events/batch at 50s/10s
    overlap 5)."""
    import pytest

    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        PANED_CROSSOVER_STATE_WRITES,
        choose_sliding_mode,
    )

    assert choose_sliding_mode(50_000, 10_000) == "naive"  # no estimate
    assert choose_sliding_mode(50_000, 10_000, "auto", 600_000) == "naive"
    assert choose_sliding_mode(50_000, 10_000, "auto", 24_000_000) == "paned"
    # crossover boundary: 4M events x overlap 5 == threshold, not above
    at = PANED_CROSSOVER_STATE_WRITES // 5
    assert choose_sliding_mode(50_000, 10_000, "auto", at) == "naive"
    assert choose_sliding_mode(50_000, 10_000, "auto", at + 1) == "paned"
    # overlap scales the decision: a 50s/1s config (overlap 50) flips
    # at 10x fewer events than overlap 5
    assert choose_sliding_mode(50_000, 1_000, "auto", 600_000) == "paned"
    # explicit modes pass through; junk rejected
    assert choose_sliding_mode(50_000, 10_000, "paned") == "paned"
    assert choose_sliding_mode(50_000, 10_000, "naive", 10**9) == "naive"
    with pytest.raises(ValueError):
        choose_sliding_mode(50_000, 10_000, "always")
