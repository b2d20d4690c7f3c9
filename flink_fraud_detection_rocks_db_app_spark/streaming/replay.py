"""Deterministic stream replay of the `events` fixture.

The reference generates its stream with a rate-limited SourceFunction
(reference: master/src/main/java/InorderTumblingWindow/TransactionStreamSource.java:24-36)
and derives out-of-order variants by adding +/-500s jitter
(reference: master/src/main/java/OutofOrderTumblingWindow/FraudDetectionJob.java:64-70)
or by `.shuffle()` repartitioning
(reference: master/src/main/java/OutofOrderSlidingWindow/FraudDetectionJob.java:59).

Here the same fixture rows are replayed as a chunked parquet
file-stream: rows sorted by ts are split into N sequential files and
consumed one file per micro-batch, so the event-time watermark
genuinely advances between batches and late rows are genuinely
dropped — the semantics under test, without wall-clock sleeps.

Jitter is derived deterministically from event_id (no RNG), so
out-of-order runs are reproducible.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fixtures import load
from ..session import env_int, rocksdb_tuning

# Chunks carry the event time as a raw microsecond long (t_us): parquet
# timestamp logical types round-trip inconsistently between pandas and
# Spark (NANOS is unreadable, naive MICROS flips to TIMESTAMP_NTZ);
# integers are unambiguous and the reader rebuilds the TimestampType.
REPLAY_SCHEMA = T.StructType(
    [
        T.StructField("account_id", T.LongType()),
        T.StructField("t_us", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("event_id", T.LongType()),
    ]
)

# Typed variant: event_type rides along (CEP/funnel streams key their
# transitions on it). Kept separate so the plain transaction replays
# stay byte-identical with earlier rounds.
TYPED_REPLAY_SCHEMA = T.StructType(
    REPLAY_SCHEMA.fields + [T.StructField("event_type", T.StringType())]
)


def _prepared(
    spark: SparkSession,
    sf_dir: str,
    jitter_ms: int,
    late_every: int,
    with_event_type: bool = False,
) -> DataFrame:
    """Fixture rows projected to the transaction schema, optionally
    disordered: every row gets a deterministic jitter in
    [-jitter_ms, +jitter_ms] from event_id, and every `late_every`-th
    row is pushed far past the watermark to exercise late-drop."""
    cols = [
        F.col("user_id").alias("account_id"),
        F.expr("ts div 1000").alias("t_us"),
        F.col("value").alias("amount"),
        F.col("event_id"),
    ] + ([F.col("event_type")] if with_event_type else [])
    ev = load(spark, sf_dir, "events").select(*cols)
    if jitter_ms:
        # deterministic pseudo-jitter: hash event_id into [-j, +j]
        ev = ev.withColumn(
            "t_us",
            F.col("t_us")
            + (F.pmod(F.xxhash64("event_id"), F.lit(2 * jitter_ms + 1)) - jitter_ms) * 1000,
        )
    if late_every:
        ev = ev.withColumn(
            "t_us",
            F.when(
                F.col("event_id") % late_every == 0, F.col("t_us") - F.lit(3_600_000_000)
            ).otherwise(F.col("t_us")),
        )
    keep = ["account_id", "t_us", "amount", "event_id"] + (
        ["event_type"] if with_event_type else []
    )
    return ev.select(*keep)


def write_replay_chunks(
    spark: SparkSession,
    sf_dir: str,
    scratch_dir: str,
    n_chunks: int = 8,
    jitter_ms: int = 0,
    late_every: int = 0,
    dup_every: int = 0,
    defer_tail_ms: int = 0,
    with_event_type: bool = False,
) -> str:
    """Materialize the fixture as `n_chunks` sequential parquet files
    under scratch_dir/chunks and return that path.

    Chunks follow *arrival order* (original ts), so with jitter the
    stream is genuinely out-of-order in event time while arrival is
    monotone-ish — the reference's out-of-order model.

    `dup_every=k` redelivers every k-th event VERBATIM (same event_id,
    same timestamp, arriving right after the original) — the
    at-least-once delivery model every real broker exhibits; the
    streaming dedup operators must absorb these without changing any
    aggregate.

    `defer_tail_ms=d` produces BOUNDED cross-batch disorder that keeps
    every event time intact: a deterministic half (Knuth hash of
    event_id) of each chunk's final d ms of event time arrives one
    chunk LATE, at the head of the next micro-batch. Every deferred
    row's time t satisfies t > max_t(prev chunk) - d, so under a
    withWatermark >= d the row's window end is strictly above the
    watermark and NOTHING is dropped — the stream must still equal
    plain batch SQL (the reference's bounded-out-of-orderness contract,
    oracle-checkable because timestamps never change).
    """
    out = os.path.join(scratch_dir, "chunks")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    df = _prepared(spark, sf_dir, jitter_ms, late_every, with_event_type)
    # In-order replay arrives sorted by event time; disordered replay
    # arrives in original (pre-jitter) order, i.e. jitter makes event
    # time non-monotone across arrival — the reference's model.
    order_col = "t_us" if not (jitter_ms or late_every) else "event_id"
    pdf = df.orderBy(order_col, "event_id").toPandas()
    if dup_every:
        # stable sort keeps each redelivery immediately after its
        # original, i.e. within the same (or at worst the next) chunk —
        # inside any bounded-delay dedup window.
        import pandas as pd

        pdf = (
            pd.concat([pdf, pdf.iloc[::dup_every]])
            .sort_values([order_col, "event_id"], kind="stable")
            .reset_index(drop=True)
        )
    n = len(pdf)
    size = -(-n // n_chunks)
    import numpy as np

    chunk_arr = None
    if defer_tail_ms and n:
        pdf = pdf.reset_index(drop=True)
        ci = np.minimum(np.arange(n) // size, n_chunks - 1)
        t = pdf.t_us.to_numpy()
        # per-chunk event-time max over the ORIGINAL assignment (moving
        # rows out can only lower a chunk's max, i.e. lower the
        # watermark — the bound below stays conservative)
        tmax = np.array(
            [t[ci == c].max() if (ci == c).any() else -(1 << 62) for c in range(n_chunks)]
        )
        in_tail = t > tmax[ci] - defer_tail_ms * 1000
        # Knuth gate; uint64 wrap preserves parity (2^64 is even), so
        # this equals the exact-integer construction sampling uses
        eid = pdf.event_id.to_numpy().astype(np.uint64)
        h = (eid % np.uint64(1 << 32)) * np.uint64(2654435761) % np.uint64(2)
        chunk_arr = np.where(in_tail & (h == 0) & (ci < n_chunks - 1), ci + 1, ci)
    base = int(os.stat(scratch_dir).st_mtime)
    for i in range(n_chunks):
        if chunk_arr is not None:
            # deferred rows land at the HEAD of the next batch: their
            # event time is genuinely behind rows already seen
            chunk = pdf.iloc[np.flatnonzero(chunk_arr == i)]
        else:
            chunk = pdf.iloc[i * size : (i + 1) * size]
        if len(chunk) == 0:
            continue
        path = os.path.join(out, f"chunk_{i:04d}.parquet")
        chunk.to_parquet(path, index=False)
        # FileStreamSource orders newly-discovered files by modification
        # time; same-second mtimes make arrival order arbitrary, which
        # under a 0s watermark silently drops whole chunks as late.
        # Strictly ascending mtimes pin arrival order to chunk order.
        os.utime(path, (base + i, base + i))
    return out


SENTINEL_ACCOUNT = -1

# ---------------------------------------------------------------------
# Process-scoped replay-chunk cache (r14 optimization round).
#
# Every replay face consumes the SAME deterministic chunk set for a
# given (sf_dir, writer params); before r14 each face re-ran the whole
# generator (fixture scan -> driver sort -> per-chunk parquet writes,
# ~0.8 s warm at sf0.1) for itself — ~27 regenerations of identical
# bytes per bench/parity session. bench.py already established that
# the replay generator is harness, not engine ("replay materialization
# excluded — it's the generator, not the engine") and shares one chunk
# set across its seven stream jobs; this cache extends exactly that to
# the registered faces.
#
# NOT cross-run caching: the cache is a module dict + a per-PID
# scratch directory, torn down with the process (atexit) — every
# bench/oracle invocation still computes the chunks from the parquet
# inputs at first use; nothing keyed on the fixture survives the
# process. Faces receive HARDLINKS into their own private scratch dir,
# so per-face sentinel appends never touch the shared copy, and chunk
# file mtimes (the arrival-order contract) ride the shared inodes
# unchanged.
_CHUNK_CACHE: dict[tuple, str] = {}


def _chunk_cache_root() -> str:
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".scratch",
        f"replay-cache-{os.getpid()}",
    )
    if not _CHUNK_CACHE:  # first use in this process: arm the cleanup
        import atexit

        atexit.register(shutil.rmtree, root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    return root


def _memo_linked(scratch_dir: str, sub: str, key: tuple, build) -> str:
    """The process-scoped memo (see block comment above): the first call
    for `key` runs `build(fresh_dir)`, which writes the canonical files
    and returns their directory; every call hardlinks those files into
    scratch_dir/<sub> and returns that path."""
    canon = _CHUNK_CACHE.get(key)
    if canon is None or not os.path.isdir(canon):
        import uuid as _uuid

        fresh = os.path.join(
            _chunk_cache_root(), f"c{len(_CHUNK_CACHE)}-{_uuid.uuid4().hex[:6]}"
        )
        os.makedirs(fresh, exist_ok=True)
        canon = build(fresh)
        _CHUNK_CACHE[key] = canon
    out = os.path.join(scratch_dir, sub)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    for f in sorted(os.listdir(canon)):
        path = os.path.join(canon, f)
        if os.path.isfile(path):
            os.link(path, os.path.join(out, f))
    return out


def ensure_replay_chunks(
    spark: SparkSession, sf_dir: str, scratch_dir: str, **writer_kw
) -> str:
    """write_replay_chunks(**writer_kw), memoized per process: the first
    call for a given (sf_dir, writer_kw) builds the canonical chunk set
    from the parquet fixture; every call hardlinks the chunk files into
    scratch_dir/chunks and returns that path, so callers own a private
    directory they may append sentinels to."""
    key = ("replay", os.path.abspath(sf_dir), tuple(sorted(writer_kw.items())))
    return _memo_linked(
        scratch_dir,
        "chunks",
        key,
        lambda canon: write_replay_chunks(spark, sf_dir, canon, **writer_kw),
    )


def ensure_arrival_chunks(
    scratch_dir: str,
    cache_key: str,
    build,
) -> str:
    """Process-scoped memo for the ingest faces' arrival splits — the
    same contract as ensure_replay_chunks, for arbitrary writers.

    `build(canon_dir)` materializes the face's arrival files (its
    existing writer loop, including any explicit mtime spacing) into a
    canonical per-process directory the first time `cache_key` is
    seen; every call hardlinks those files into scratch_dir/arrivals
    and returns that path. Hardlinks share inodes, so the mtime-based
    arrival order the writers pin survives verbatim, and the caller's
    scratch teardown never touches the canonical copy. Nothing
    persists past the process (same atexit teardown as the replay
    chunk cache)."""

    def canon_dir(canon: str) -> str:
        build(canon)
        return canon

    return _memo_linked(scratch_dir, "arrivals", ("arrivals", cache_key), canon_dir)


def max_chunk_t_us(chunks_dir: str) -> int:
    """Max `t_us` across every written replay chunk, read from parquet
    footer statistics on the driver — no Spark job.

    Replay faces need the stream's max event time to place the
    terminal sentinel (and some to derive a flush threshold); before
    r14 each face paid a full scan+agg Spark job over the fixture for
    it. The chunk files already hold exactly the rows the stream will
    see, and their footers carry int64 min/max stats, so this is a
    handful of metadata reads over the ~6 tiny files just written.
    Equal to max(unix_micros(event_time)) over the fixture for every
    face-used chunk config: jitter is unused by the sentinel faces,
    dup_every duplicates rows verbatim, and defer_tail_ms moves chunk
    ASSIGNMENT, never the times themselves. Falls back to reading the
    (tiny) column when a footer lacks stats."""
    import pyarrow.parquet as pq

    best: int | None = None
    for f in sorted(os.listdir(chunks_dir)):
        if not f.endswith(".parquet"):
            continue
        path = os.path.join(chunks_dir, f)
        pf = pq.ParquetFile(path)
        idx = pf.schema_arrow.get_field_index("t_us")
        md = pf.metadata
        vals: list[int] = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is not None and st.has_min_max:
                vals.append(int(st.max))
            else:  # stats absent: read the one small column instead
                col = pq.read_table(path, columns=["t_us"])["t_us"]
                vals.append(int(max(col.to_pylist())))
                break
        for v in vals:
            best = v if best is None or v > best else best
    if best is None:
        raise FileNotFoundError(f"no replay chunks under {chunks_dir!r}")
    return best


def append_sentinel_chunk(
    chunks_dir: str, t_us: int, event_ids: tuple[int, ...] = (-1,), seq: int = 0
) -> None:
    """One far-future row in its own FINAL chunk. Append mode only
    emits a window once the watermark passes its end, so the windows
    containing the stream's last real events are normally withheld
    when a finite replay ends; the sentinel advances the closing
    watermark past every real window. Its own window never closes, so
    the sentinel never appears in the output (consumers filter
    SENTINEL_ACCOUNT as belt-and-braces). The chunk's mtime is pinned
    strictly after every real chunk so FileStreamSource delivers it
    last (same arrival-order invariant as write_replay_chunks).

    `event_ids` lets multi-input jobs (e.g. a stream-stream join whose
    two sides filter disjoint slices) receive one sentinel PER side —
    each side's watermark only advances on rows that survive its own
    filters.

    `seq` appends ADDITIONAL sentinel chunks as separate later
    micro-batches (seq=1 lands after seq=0, ...). One sentinel only
    ADVANCES the watermark; state whose eviction that advance unlocks
    (outer-join nulls, timer finals) is emitted while EXECUTING a
    subsequent batch, so a job that must flush watermark-evicted state
    deterministically needs a second, later sentinel to BE that batch
    — relying on the trailing no-data micro-batch is a race against
    processAllAvailable returning."""
    import pandas as pd

    n = len(event_ids)
    rows = pd.DataFrame(
        {
            "account_id": pd.array([SENTINEL_ACCOUNT] * n, dtype="int64"),
            "t_us": pd.array([t_us] * n, dtype="int64"),
            "amount": [0.0] * n,
            "event_id": pd.array(list(event_ids), dtype="int64"),
        }
    )
    fname = f"chunk_{9999 + seq}_sentinel.parquet"
    path = os.path.join(chunks_dir, fname)
    rows.to_parquet(path, index=False)
    last = max(
        os.stat(os.path.join(chunks_dir, f)).st_mtime
        for f in os.listdir(chunks_dir)
        if f != fname
    )
    os.utime(path, (last + 1, last + 1))


def read_replay_stream(
    spark: SparkSession, chunks_dir: str, with_event_type: bool = False
) -> DataFrame:
    """Streaming DataFrame over the replay chunks, one file per
    micro-batch (so watermarks advance between batches)."""
    schema = TYPED_REPLAY_SCHEMA if with_event_type else REPLAY_SCHEMA
    extra = ["event_type"] if with_event_type else []
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks_dir)
        .select(
            "account_id",
            F.timestamp_micros("t_us").alias("event_time"),
            "amount",
            "event_id",
            *extra,
        )
    )


def read_replay_batch(spark: SparkSession, chunks_dir: str) -> DataFrame:
    """Batch view of the same replay chunks (for stream==batch checks)."""
    return spark.read.schema(REPLAY_SCHEMA).parquet(chunks_dir).select(
        "account_id",
        F.timestamp_micros("t_us").alias("event_time"),
        "amount",
        "event_id",
    )


# Each shuffle partition of a stateful stream is a state-store instance
# paying open/commit per micro-batch, so at replay density few
# instances amortize best: 8 -> 4 cut bench.py's tumbling stream ~25%
# and three replay faces 6.37 -> 5.23 s, 8.37 -> 8.03 s and
# 10.42 -> 8.02 s (OPTIMIZATION_r14.md). On a cluster, size it to the
# executor count through the environment.
REPLAY_STATE_PARTITIONS = env_int("SPARK_GRAFT_REPLAY_STATE_PARTITIONS", 4)


@contextmanager
def replay_state_confs(spark: SparkSession):
    """Session confs every replay stream runs under, restored to their
    previous values (or unset) on exit, even on failure.

    - `spark.sql.shuffle.partitions` = REPLAY_STATE_PARTITIONS: the
      state partition count is fixed at query start, and a vanilla
      session's 200 partitions cost ~4x wall time on the sliding and
      F5 replays for identical results.
    - `rocksdb_tuning()` plus changelog checkpointing: commit ships the
      per-batch delta instead of a full snapshot (tumble-sum face
      6.59 -> 6.37 s, sketch rollup 12.59 -> 8.37 s, record-buffer
      tumble 16.58 -> 10.42 s, OPTIMIZATION_r14.md)."""
    confs = {
        "spark.sql.shuffle.partitions": str(REPLAY_STATE_PARTITIONS),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
            "true"
        ),
        **rocksdb_tuning(),
    }
    prev: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def run_to_memory(sdf: DataFrame, name: str, output_mode: str = "append") -> dict:
    """Run a streaming query over the (finite) replay to completion,
    results land in the in-memory table `name`.

    Returns the run's aggregate progress — {"rows": total input rows,
    "sec": summed triggerExecution time} from StreamingQueryProgress —
    so callers can report throughput in the reference's own metric
    (numEvents / duration, BASELINE.md's Prometheus definition), not
    just wall time. Callers that only want the table ignore it."""
    q = (
        sdf.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    progress = q.recentProgress or []
    rows = sum(int(p.get("numInputRows", 0)) for p in progress)
    ms = sum(int((p.get("durationMs") or {}).get("triggerExecution", 0)) for p in progress)
    return {"rows": rows, "sec": round(ms / 1000.0, 3)}
