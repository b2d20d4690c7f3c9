"""Sources & sinks: rate source (S2), kafka gate (K5), file sink with
checkpoint/restart fault tolerance, and the M2 multi-pipeline job."""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import functions as F

from flink_fraud_detection_rocks_db_app_spark.operators.windows import MS
from flink_fraud_detection_rocks_db_app_spark.sources import rate_transactions
from flink_fraud_detection_rocks_db_app_spark.sources.kafka import (
    kafka_available,
    kafka_transactions,
)
from flink_fraud_detection_rocks_db_app_spark.streaming import (
    IN_ORDER,
    read_replay_batch,
    read_replay_stream,
    run_to_memory,
    running_sum_alerts_stream,
    window_agg,
    windowed_agg_stream,
    write_replay_chunks,
)

from .conftest import SF_SMALL

SIZE_MS = MS["h"]


def test_rate_source_schema_and_rows(spark):
    """S2: rate-limited synthetic transactions; run briefly, check the
    schema and value domains match the reference source's contract."""
    stream = rate_transactions(spark, rows_per_second=50, n_accounts=10)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_rate")
        .start()
    )
    try:
        deadline = time.time() + 20
        while time.time() < deadline:
            if spark.table("t_rate").count() >= 20:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    rows = spark.table("t_rate").collect()
    assert len(rows) >= 20
    assert set(spark.table("t_rate").columns) == {"account_id", "event_time", "amount"}
    assert all(0 <= r.account_id < 10 for r in rows)
    assert all(0.0 <= r.amount < 1000.0 for r in rows)


def test_kafka_gated(spark):
    """K5: the reference declares the connector but never uses it; ours
    is wired but cleanly gated when the package is absent."""
    if kafka_available(spark):  # pragma: no cover - not in this container
        return
    try:
        kafka_transactions(spark, "localhost:9092", "tx")
        raise AssertionError("expected RuntimeError when kafka absent")
    except RuntimeError as e:
        assert "spark-sql-kafka" in str(e)


def test_file_sink_checkpoint_restart(spark, scratch):
    """Fault-tolerance parity with the reference's RocksDB checkpointing
    (enableCheckpointing(5000) + RocksDBStateBackend): stop a query
    mid-stream, deliver more data, restart from the same checkpoint —
    exactly-once file output, no dupes, no loss."""
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    files = sorted(glob.glob(os.path.join(chunks, "*.parquet")))
    live = os.path.join(scratch, "live")
    out = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    for d in (live, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(live)

    def run_once():
        agg = windowed_agg_stream(
            read_replay_stream(spark, live), SIZE_MS, watermark=IN_ORDER
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    for f in files[:3]:
        shutil.copy2(f, live)  # copy2 keeps the ascending chunk mtimes
    run_once()  # first run: half the stream, then "crash"
    n_first = spark.read.parquet(out).count()
    for f in files[3:]:
        shutil.copy2(f, live)
    run_once()  # restart from checkpoint

    got = {
        (r.w_start, r.account_id): r.sum_amount
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) > n_first, "restart must process the new chunks"
    batch = read_replay_batch(spark, chunks)
    full = {
        (r.w_start, r.account_id): r.sum_amount
        for r in windowed_agg_stream(batch, SIZE_MS, watermark=None).collect()
    }
    wm = batch.agg(F.max(F.unix_millis("event_time"))).collect()[0][0]
    want = {k: v for k, v in full.items() if k[0] + SIZE_MS <= wm}
    assert set(got) == set(want), (
        f"missing={sorted(set(want) - set(got))[:3]} extra={sorted(set(got) - set(want))[:3]}"
    )
    for k, v in got.items():
        assert abs(v - full[k]) < 1e-9


def test_multi_pipeline_single_session(spark, scratch):
    """M2: several independent pipelines fanned out in one job
    (reference: workspace/Combination Test/.../FraudDetectionJob.java:50-260)
    — here two concurrent streaming queries over the same replay."""
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=4)
    agg = windowed_agg_stream(read_replay_stream(spark, chunks), SIZE_MS, watermark=IN_ORDER)
    alerts = running_sum_alerts_stream(read_replay_stream(spark, chunks), 500.0)
    q1 = agg.writeStream.outputMode("append").format("memory").queryName("m2_agg").start()
    q2 = alerts.writeStream.outputMode("append").format("memory").queryName("m2_alerts").start()
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
    finally:
        q1.stop()
        q2.stop()
        q1.awaitTermination()
        q2.awaitTermination()
    assert spark.table("m2_agg").count() > 0
    assert spark.table("m2_alerts").count() > 0


def test_stateful_detector_checkpoint_restart(spark, scratch):
    """Custom applyInPandasWithState state (F5 running sums) must
    round-trip through the checkpoint across a crash: stop mid-stream,
    deliver the rest, restart — the union of emitted alerts equals the
    batch fold, no dupes."""
    from flink_fraud_detection_rocks_db_app_spark.fixtures import transactions_with_id
    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        running_sum_alerts_batch,
        running_sum_alerts_stream,
    )

    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    files = sorted(glob.glob(os.path.join(chunks, "*.parquet")))
    live = os.path.join(scratch, "live")
    out = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    for d in (live, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(live)

    def run_once():
        alerts = running_sum_alerts_stream(read_replay_stream(spark, live), 500.0)
        q = (
            alerts.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    for f in files[:3]:
        shutil.copy2(f, live)
    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first > 0, "first half should already alert"
    for f in files[3:]:
        shutil.copy2(f, live)
    run_once()

    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(
        tuple(r)
        for r in running_sum_alerts_batch(
            transactions_with_id(spark, SF_SMALL), 500.0
        ).collect()
    )
    assert [g[:2] for g in got] == [w[:2] for w in want], (
        len(got),
        len(want),
        got[:3],
        want[:3],
    )
    assert all(abs(g[2] - w[2]) < 1e-9 for g, w in zip(got, want))


def test_fold_checkpoint_rejects_changed_bucket_count(spark, scratch, monkeypatch):
    """A streaming fold's checkpoint binds the bucket count it was
    written under, because the bucket is the grouping key: restarting
    F5 under a different N_FOLD_BUCKETS must fail loudly instead of
    resuming accounts on other buckets' state."""
    import pytest

    from flink_fraud_detection_rocks_db_app_spark.streaming import stateful

    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    files = sorted(glob.glob(os.path.join(chunks, "*.parquet")))
    live = os.path.join(scratch, "live")
    out = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(live)

    def run_once():
        q = (
            stateful.running_sum_alerts_stream(read_replay_stream(spark, live), 500.0)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    for f in files[:3]:
        shutil.copy2(f, live)
    run_once()
    for f in files[3:]:
        shutil.copy2(f, live)
    monkeypatch.setattr(stateful, "N_FOLD_BUCKETS", stateful.N_FOLD_BUCKETS * 2)
    with pytest.raises(Exception, match="fold buckets"):
        run_once()


def test_foreach_batch_idempotent_sink(spark, scratch):
    """foreachBatch exactly-once contract: (a) double delivery of the
    same batchId leaves exactly one copy (idempotent overwrite);
    (b) a stop/restart streaming run through the sink produces the
    batch-equivalent result with no duplicates."""
    from flink_fraud_detection_rocks_db_app_spark.streaming.sinks import (
        foreach_batch_idempotent_parquet,
        read_idempotent_sink,
    )

    # (a) direct double delivery
    out_a = os.path.join(scratch, "sink_a")
    fn = foreach_batch_idempotent_parquet(out_a)
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    fn(df, 7)
    fn(df, 7)  # re-delivery after a simulated crash
    landed = read_idempotent_sink(spark, out_a)
    assert landed.count() == 100
    assert landed.select("batch_id").distinct().collect()[0][0] == 7

    # (b) streaming restart through the sink
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    files = sorted(glob.glob(os.path.join(chunks, "*.parquet")))
    live = os.path.join(scratch, "live_fb")
    out = os.path.join(scratch, "sink_b")
    ckpt = os.path.join(scratch, "ckpt_fb")
    os.makedirs(live)

    def run_once():
        stream = read_replay_stream(spark, live)
        alerts = stream.where(F.col("amount") > 900)
        q = (
            alerts.writeStream.outputMode("append")
            .foreachBatch(foreach_batch_idempotent_parquet(out))
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    for f in files[:3]:
        shutil.copy2(f, live)
    run_once()
    for f in files[3:]:
        shutil.copy2(f, live)
    run_once()

    got = sorted(
        r.event_id for r in read_idempotent_sink(spark, out).collect()
    )
    want = sorted(
        r.event_id
        for r in read_replay_batch(spark, chunks).where(F.col("amount") > 900).collect()
    )
    assert got == want, (len(got), len(want))


def test_continuous_rollup_maintains_daily_table(spark, scratch):
    """Continuous aggregate: the streamed day-partitioned rollup table
    equals the batch daily rollup after full replay, is queryable (and
    correct-so-far) mid-stream, and the sink merge is idempotent under
    batch re-delivery."""
    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        continuous_rollup_sink,
        daily_rollup_stream,
        read_rollup,
        run_rollup,
    )
    from flink_fraud_detection_rocks_db_app_spark.streaming.rollup import DAY_MS

    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    files = sorted(glob.glob(os.path.join(chunks, "*.parquet")))
    live = os.path.join(scratch, "live_cr")
    table = os.path.join(scratch, "rollup")
    ckpt = os.path.join(scratch, "ckpt_cr")
    os.makedirs(live)

    def batch_rollup(src_dir):
        return (
            read_replay_batch(spark, src_dir)
            .groupBy(
                (F.unix_millis("event_time") / DAY_MS).cast("long").alias("day"),
                "account_id",
            )
            .agg(F.sum("amount").alias("sum_amount"), F.count("*").alias("n_events"))
        )

    # first half of the replay, then query the table mid-stream
    for f in files[:3]:
        shutil.copy2(f, live)
    run_rollup(spark, daily_rollup_stream(read_replay_stream(spark, live)), table, ckpt)
    mid = {tuple(r) for r in read_rollup(spark, table).collect()}
    assert mid == {tuple(r) for r in batch_rollup(live).collect()}

    # rest of the replay resumes from the checkpoint
    for f in files[3:]:
        shutil.copy2(f, live)
    run_rollup(spark, daily_rollup_stream(read_replay_stream(spark, live)), table, ckpt)
    final = {tuple(r) for r in read_rollup(spark, table).collect()}
    assert final == {tuple(r) for r in batch_rollup(live).collect()}
    assert len(final) > len(mid)

    # re-delivery: merging the complete current values again (what a
    # restarted query re-sends for its last batch) must be a no-op
    continuous_rollup_sink(spark, table)(batch_rollup(live), batch_id=999)
    assert {tuple(r) for r in read_rollup(spark, table).collect()} == final


def test_python_datasource_batch_and_stream(spark, scratch):
    """Custom Python DataSource (Spark 4 DataSource V2 API): batch read
    is partition-parallel and deterministic; the stream form emits the
    identical sequence micro-batch by micro-batch from integer offsets."""
    from flink_fraud_detection_rocks_db_app_spark.sources import register_fraud_source

    register_fraud_source(spark)

    batch = (
        spark.read.format("fraud_transactions")
        .option("n_rows", 400)
        .option("partitions", 8)
        .option("seed", 7)
        .load()
    )
    assert batch.rdd.getNumPartitions() == 8
    rows = sorted(batch.collect(), key=lambda r: r.event_id)
    assert len(rows) == 400
    assert [r.event_id for r in rows] == list(range(400))
    assert all(0 <= r.account_id < 10 for r in rows)
    assert all(0.0 <= r.amount < 1000.0 for r in rows)
    # 10 ev/s cadence: consecutive event ids are 100 ms apart
    assert (rows[1].event_time - rows[0].event_time).total_seconds() == 0.1
    # deterministic: a second read is identical
    assert sorted(batch.collect(), key=lambda r: r.event_id) == rows

    stream = (
        spark.readStream.format("fraud_transactions")
        .option("rows_per_batch", 100)
        .option("seed", 7)
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("pyds")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("pyds").count() >= 400:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    got = sorted(
        spark.table("pyds").where(F.col("event_id") < 400).collect(),
        key=lambda r: r.event_id,
    )
    # stream offsets n..m replayed exactly the batch rows n..m
    assert [tuple(r) for r in got] == [tuple(r) for r in rows]


def test_jsonl_and_csv_ingestion_roundtrip(spark, scratch):
    """JSONL documents and CSV transactions read back identical to the
    parquet fixtures via schema-explicit readers, and malformed lines
    quarantine into _corrupt instead of failing the read."""
    from flink_fraud_detection_rocks_db_app_spark.fixtures import (
        load,
        transactions_with_id,
    )
    from flink_fraud_detection_rocks_db_app_spark.sources import (
        csv_transactions,
        jsonl_documents,
        quarantine,
    )

    docs = load(spark, SF_SMALL, "documents")
    jdir = os.path.join(scratch, "docs_jsonl")
    docs.write.json(jdir)
    got, bad = quarantine(jsonl_documents(spark, jdir))
    assert len(bad.collect()) == 0
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in docs.collect()}

    tx = transactions_with_id(spark, SF_SMALL)
    cdir = os.path.join(scratch, "tx_csv")
    tx.select(
        "account_id",
        F.date_format("event_time", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("event_time"),
        "amount",
        "event_id",
    ).write.option("header", "true").csv(cdir)
    got_tx, bad_tx = quarantine(csv_transactions(spark, cdir))
    assert len(bad_tx.collect()) == 0
    assert {tuple(r) for r in got_tx.collect()} == {tuple(r) for r in tx.collect()}

    # corrupt line quarantines, clean rows survive
    with open(os.path.join(jdir, "bad.json"), "w") as f:
        f.write('{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n')
        f.write("{not json at all\n")
    got2, bad2 = quarantine(jsonl_documents(spark, jdir))
    assert len(bad2.collect()) == 1
    assert len(got2.collect()) == docs.count() + 1


def test_orc_round_trip_runs_registered_query(spark, scratch):
    """ORC lake parity: events written to ORC and read back produce the
    same tumbling aggregate as the parquet fixture path."""
    from flink_fraud_detection_rocks_db_app_spark.fixtures import transactions
    from flink_fraud_detection_rocks_db_app_spark.sources.files import read_orc, write_orc
    from pyspark.sql import functions as F

    tx = transactions(spark, SF_SMALL)
    path = os.path.join(scratch, "tx_orc")
    write_orc(tx, path)
    orc_tx = read_orc(spark, path)
    win = F.window("event_time", "3 seconds")
    agg = [F.sum("amount").alias("sum_amount")]
    a = window_agg(tx, win, agg).orderBy("w_start", "account_id").collect()
    b = window_agg(orc_tx, win, agg).orderBy("w_start", "account_id").collect()
    assert a == b and len(a) > 0


def test_avro_gated(spark):
    from flink_fraud_detection_rocks_db_app_spark.sources.files import (
        avro_available,
        read_avro,
    )

    if avro_available(spark):  # pragma: no cover - jar present in env
        return
    import pytest

    with pytest.raises(RuntimeError, match="spark-avro"):
        read_avro(spark, "/tmp/nope")


def test_text_corpus_feeds_dedup(spark, scratch):
    """One doc per line, content-hash IDs: duplicate lines share an ID,
    so exact dedup collapses them."""
    from flink_fraud_detection_rocks_db_app_spark.sources.files import text_corpus

    p = os.path.join(scratch, "corpus.txt")
    with open(p, "w") as f:
        f.write("alpha beta gamma\nsecond line here\nalpha beta gamma\n")
    docs = text_corpus(spark, p)
    rows = docs.collect()
    assert len(rows) == 3
    assert {r.n_chars for r in rows} == {16}
    ids = [r.doc_id for r in rows if r.text == "alpha beta gamma"]
    assert len(ids) == 2 and ids[0] == ids[1]
    assert docs.select("doc_id").distinct().count() == 2


def test_binary_corpus_metadata_prunes_payload(spark, scratch):
    from flink_fraud_detection_rocks_db_app_spark.sources.files import binary_corpus

    d = os.path.join(scratch, "media")
    os.makedirs(d, exist_ok=True)
    payload = bytes(range(64))
    for name in ("a.png", "b.wav"):
        with open(os.path.join(d, name), "wb") as f:
            f.write(payload)
    corpus = binary_corpus(spark, d)
    rows = corpus.orderBy("media_type").collect()
    assert [r.media_type for r in rows] == ["png", "wav"]
    assert all(r.n_bytes == 64 and bytes(r.payload) == payload for r in rows)
    # metadata-only projection must not read content: binaryFile
    # supports column pruning, so the scan schema drops `content`.
    meta_plan = corpus.select("media_id", "n_bytes").queryExecution if False else (
        corpus.select("media_id", "n_bytes")._jdf.queryExecution().executedPlan().toString()
    )
    assert "content" not in meta_plan


def test_record_buffer_timer_state_checkpoint_restart(spark, scratch):
    """WA5/F1 restart semantics: the record-buffer window's state is
    BOTH a JSON dict of open-window partial sums AND a registered
    event-time timeout — both must round-trip through the checkpoint.
    Stop mid-stream with windows open, restart, deliver the rest plus
    the closing sentinel: every window must emit exactly once and the
    sums must equal batch SQL (windows that close after the restart
    carry partial sums folded before it)."""
    from flink_fraud_detection_rocks_db_app_spark.operators.windows import MS
    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        SENTINEL_ACCOUNT,
        append_sentinel_chunk,
        read_replay_batch,
        record_buffer_tumbling_stream,
    )
    from pyspark.sql import functions as F

    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    files = sorted(glob.glob(os.path.join(chunks, "*.parquet")))
    live = os.path.join(scratch, "live")
    out = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(live)

    def run_once():
        agg = record_buffer_tumbling_stream(read_replay_stream(spark, live), MS["h"])
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    for f in files[:3]:
        shutil.copy2(f, live)
    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first > 0, "first half should close some windows"
    for f in files[3:]:
        shutil.copy2(f, live)
    max_us = (
        read_replay_batch(spark, chunks)
        .agg(F.max(F.unix_micros("event_time")))
        .first()[0]
    )
    append_sentinel_chunk(live, max_us + 7 * MS["d"] * 1000)
    run_once()

    rows = (
        spark.read.parquet(out)
        .where(F.col("account_id") != SENTINEL_ACCOUNT)
        .collect()
    )
    keys = [(r.w_start, r.account_id) for r in rows]
    assert len(keys) == len(set(keys)), "a window emitted twice across restart"
    got = {k: r.sum_amount for k, r in zip(keys, rows)}
    want = {
        (r.w_start, r.account_id): r.sum_amount
        for r in read_replay_batch(spark, chunks)
        .groupBy(
            (F.floor(F.unix_millis("event_time") / MS["h"]) * MS["h"]).alias("w_start"),
            "account_id",
        )
        .agg(F.sum("amount").alias("sum_amount"))
        .collect()
    }
    assert set(got) == set(want), (len(got), len(want))
    for k, v in got.items():
        assert abs(v - want[k]) < 1e-9, k


def test_sentinel_chunks_keep_strictly_ascending_mtimes(spark, scratch):
    """Multi-sentinel replays (seq=0, seq=1, ...) must preserve the
    FileStreamSource ordering invariant: every sentinel's mtime sits
    strictly after every real chunk AND after all earlier sentinels —
    same-mtime files are delivered in arbitrary order, which under
    tight watermarks silently drops whole chunks. The left-outer join
    face depends on seq=1 arriving as a LATER micro-batch (it is the
    batch during which watermark-evicted nulls emit)."""
    import os

    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        append_sentinel_chunk,
        write_replay_chunks,
    )

    chunks = write_replay_chunks(
        spark, SF_SMALL, os.path.join(scratch, "multisent"), n_chunks=3
    )
    real = sorted(
        os.path.getmtime(os.path.join(chunks, f))
        for f in os.listdir(chunks)
        if "sentinel" not in f
    )
    append_sentinel_chunk(chunks, 10**18, event_ids=(-1, -2), seq=0)
    append_sentinel_chunk(chunks, 2 * 10**18, event_ids=(-3, -4), seq=1)
    s0 = os.path.getmtime(os.path.join(chunks, "chunk_9999_sentinel.parquet"))
    s1 = os.path.getmtime(os.path.join(chunks, "chunk_10000_sentinel.parquet"))
    assert real[-1] < s0 < s1


def test_typed_replay_sentinel_reads_null_event_type(spark, scratch):
    """The interval-join faces (r14) read TYPED chunks — event_type in
    the payload — instead of broadcast-joining the events projection
    per micro-batch. Their sentinel handling depends on a schema
    contract: append_sentinel_chunk writes NO event_type column, so a
    reader with TYPED_REPLAY_SCHEMA must surface those rows with NULL
    event_type (taking the faces' coalesce branch) while every real
    row keeps its payload type. A Spark/parquet behavior change that
    errored or defaulted differently would silently break sentinel
    watermark advancement on both typed faces."""
    import os

    from pyspark.sql import functions as F

    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        append_sentinel_chunk,
        write_replay_chunks,
    )
    from flink_fraud_detection_rocks_db_app_spark.streaming.replay import (
        TYPED_REPLAY_SCHEMA,
    )

    chunks = write_replay_chunks(
        spark,
        SF_SMALL,
        os.path.join(scratch, "typedsent"),
        n_chunks=2,
        with_event_type=True,
    )
    append_sentinel_chunk(chunks, 10**18, event_ids=(-1, -2))
    df = spark.read.schema(TYPED_REPLAY_SCHEMA).parquet(chunks)
    sent = df.where(F.col("account_id") == -1)
    assert sent.count() == 2
    assert sent.where(F.col("event_type").isNull()).count() == 2
    assert df.where(F.col("account_id") != -1).where(
        F.col("event_type").isNull()
    ).count() == 0


def test_stream_stream_join_checkpoint_restart(spark, scratch):
    """Stream-stream JOIN state must round-trip the checkpoint across a
    crash: buffered click/purchase rows from before the stop have to
    pair with rows delivered after the restart, and the left-outer
    null emission (watermark-forced eviction of unmatched clicks) must
    still produce exactly the batch LEFT JOIN — no lost state, no
    duplicate emission."""
    from flink_fraud_detection_rocks_db_app_spark.fixtures import load
    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        SENTINEL_ACCOUNT,
        append_sentinel_chunk,
        write_replay_chunks,
        read_replay_stream,
    )

    chunks = write_replay_chunks(spark, SF_SMALL, os.path.join(scratch, "src"), n_chunks=6)
    ev = load(spark, SF_SMALL, "events")
    max_us = ev.agg(F.max(F.expr("ts div 1000"))).collect()[0][0]
    append_sentinel_chunk(chunks, max_us + 30 * 86_400_000_000, event_ids=(-1, -2), seq=0)
    append_sentinel_chunk(chunks, max_us + 60 * 86_400_000_000, event_ids=(-3, -4), seq=1)
    files = sorted(
        glob.glob(os.path.join(chunks, "*.parquet")), key=os.path.getmtime
    )
    live = os.path.join(scratch, "live")
    out = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(live)
    types = ev.select("event_id", "event_type")

    def run_once():
        def typed(side_sentinels, sentinel_type):
            s = read_replay_stream(spark, live)
            return s.join(F.broadcast(types), "event_id", "left").withColumn(
                "etype",
                F.coalesce(
                    "event_type",
                    F.when(F.col("event_id").isin(*side_sentinels), sentinel_type),
                ),
            )

        c = (
            typed((-1, -3), "click")
            .where(F.col("etype") == "click")
            .select(
                "account_id",
                F.col("event_time").alias("c_time"),
                F.col("event_id").alias("click_id"),
            )
            .withWatermark("c_time", "0 seconds")
        )
        p = (
            typed((-2, -4), "purchase")
            .where(F.col("etype") == "purchase")
            .select(
                F.col("account_id").alias("p_user"),
                F.col("event_time").alias("p_time"),
                F.col("event_id").alias("purchase_id"),
            )
            .withWatermark("p_time", "0 seconds")
        )
        joined = c.join(
            p,
            (F.col("account_id") == F.col("p_user"))
            & (F.col("p_time") > F.col("c_time"))
            & (F.col("p_time") <= F.col("c_time") + F.expr("INTERVAL 7 DAYS")),
            "left_outer",
        ).select("account_id", "click_id", "purchase_id")
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    # crash mid-stream: clicks buffered now must join purchases later
    for f in files[:3]:
        shutil.copy2(f, live)
    run_once()
    for f in files[3:]:
        shutil.copy2(f, live)
    run_once()

    got = sorted(
        (r.account_id, r.click_id, r.purchase_id)
        for r in spark.read.parquet(out).collect()
        if r.account_id != SENTINEL_ACCOUNT
    )
    cb = ev.where(F.col("event_type") == "click").selectExpr(
        "user_id AS account_id", "event_id AS click_id", "ts AS c_ts"
    )
    pb = ev.where(F.col("event_type") == "purchase").selectExpr(
        "user_id AS p_user", "event_id AS purchase_id", "ts AS p_ts"
    )
    want = sorted(
        (r.account_id, r.click_id, r.purchase_id)
        for r in cb.join(
            pb,
            (F.col("account_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.lit(7 * 86_400_000_000_000)),
            "left_outer",
        ).collect()
    )
    assert got == want
    assert any(p is None for _, _, p in got), "null-eviction rows must survive restart"


def test_bounded_buffer_checkpoint_restart(spark, scratch):
    """WA4 fault tolerance: the bounded-buffer window's Python state
    (versioned JSON {account: {window: sum}}) must survive a stop /
    restart between micro-batches — windows opened before the crash
    keep accumulating after it, eviction order is unchanged, and the
    terminal flush still emits exactly each account's cap most-recent
    windows with complete sums."""
    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        append_sentinel_chunk,
        record_buffer_bounded_tumbling_stream,
    )

    size_ms, cap = MS["d"], 5
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    files = sorted(glob.glob(os.path.join(chunks, "*.parquet")))
    batch = read_replay_batch(spark, chunks)
    max_us = batch.agg(F.max(F.unix_micros("event_time"))).collect()[0][0]
    flush_at_ms = max_us // 1000 + 1
    append_sentinel_chunk(chunks, max_us + 40 * MS["d"] * 1000)
    sentinel = sorted(glob.glob(os.path.join(chunks, "*.parquet")))[-1]

    live = os.path.join(scratch, "wa4_live")
    out = os.path.join(scratch, "wa4_out")
    ckpt = os.path.join(scratch, "wa4_ckpt")
    os.makedirs(live)

    def run_once():
        agg = record_buffer_bounded_tumbling_stream(
            read_replay_stream(spark, live), size_ms, cap, flush_at_ms
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    for f in files[:3]:
        shutil.copy2(f, live)
    run_once()  # crash before the flush gate: nothing emitted yet
    assert spark.read.schema(
        "w_start long, account_id long, sum_amount double"
    ).parquet(out).count() == 0
    for f in files[3:] + [sentinel]:
        shutil.copy2(f, live)
    run_once()  # restart: state restored, stream finishes, flush fires

    got = {
        (r.w_start, r.account_id): r.sum_amount
        for r in spark.read.parquet(out).collect()
        if r.account_id != -1
    }
    full = {
        (r.w_start, r.account_id): r.sum_amount
        for r in windowed_agg_stream(batch, size_ms, watermark=None).collect()
    }
    keep: dict[int, list[int]] = {}
    for w, a in full:
        keep.setdefault(a, []).append(w)
    want = {
        (w, a)
        for a, ws in keep.items()
        for w in sorted(ws, reverse=True)[:cap]
    }
    assert set(got) == want, (
        f"missing={sorted(want - set(got))[:3]} extra={sorted(set(got) - want)[:3]}"
    )
    for k, v in got.items():
        assert abs(v - full[k]) < 1e-9, k
    assert any(len(ws) > cap for ws in keep.values()), "cap never bit"


def test_scd2_stream_checkpoint_restart(spark, scratch):
    """Temporal-pillar restart semantics: scd2_stream's state is the
    per-bucket JSON dict of OPEN versions plus the flush timeout — both
    must round-trip through the checkpoint. Stop mid-stream with
    islands open, restart, deliver the rest plus the sentinel: the
    emitted history (closed rows from both halves + timeout-flushed
    open heads) must row-for-row equal the batch gaps-and-islands
    face, with no version emitted twice."""
    from flink_fraud_detection_rocks_db_app_spark.operators.temporal import (
        scd2_user_tier_history,
    )
    from flink_fraud_detection_rocks_db_app_spark.operators.windows import MS
    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        SENTINEL_ACCOUNT,
        append_sentinel_chunk,
        read_replay_batch,
        scd2_stream,
    )
    from pyspark.sql import functions as F

    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    files = sorted(glob.glob(os.path.join(chunks, "*.parquet")))
    live = os.path.join(scratch, "live")
    out = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(live)
    max_us = (
        read_replay_batch(spark, chunks)
        .agg(F.max(F.unix_micros("event_time")))
        .first()[0]
    )
    flush_at_ms = max_us // 1000 + MS["d"]

    def run_once():
        j = scd2_stream(read_replay_stream(spark, live), flush_at_ms)
        q = (
            j.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    for f in files[:3]:
        shutil.copy2(f, live)
    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first > 0, "first half should close some versions"
    for f in files[3:]:
        shutil.copy2(f, live)
    append_sentinel_chunk(live, max_us + 7 * MS["d"] * 1000)
    run_once()

    rows = (
        spark.read.parquet(out)
        .where(F.col("user_id") != SENTINEL_ACCOUNT)
        .collect()
    )
    keys = [(r.user_id, r.version) for r in rows]
    assert len(keys) == len(set(keys)), "a version emitted twice across restart"
    got = {tuple(r) for r in rows}
    want = {tuple(r) for r in scd2_user_tier_history(spark, SF_SMALL).collect()}
    assert got == want
