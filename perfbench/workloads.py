"""The benchmark's four workloads.

Each workload makes its inputs from the seed (`prepare`), warms the
pipeline up on a small input (`warm`), then runs timed for a number of
seconds (`timed`) and returns a `Phase`: what was measured, what was
checked against the reference, and the raw reports the per-layer
metrics are computed from. Pipelines are the package's public
functions; the benchmark only wires them to files and a sink.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
import probes
import reference as ref

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class QueryRun:
    """One streaming query from start to stop."""

    start: float
    stop: float
    run_id: str
    progress: list[dict]
    sink_calls: list[tuple[int, float, float]]
    sink_dir: str


@dataclass
class Phase:
    """One measured part of a run."""

    attempted: int = 0
    failed: int = 0
    start: float = 0.0
    end: float = 0.0
    rates: list[float] = field(default_factory=list)
    batch_ms: list[float] = field(default_factory=list)
    latency_ms: list[float] = field(default_factory=list)
    peak_rss_mb: float = 0.0
    queries: list[QueryRun] = field(default_factory=list)
    rows_out: int = 0
    backlog_files_max: int = 0
    # registry: one record per timed row call
    calls: list[dict] = field(default_factory=list)


class TimedSink:
    """foreachBatch writer: the package's idempotent parquet sink,
    with the wall time of every call recorded."""

    def __init__(self, out_dir: str):
        from flink_fraud_detection_rocks_db_app_spark.streaming.sinks import (
            foreach_batch_idempotent_parquet,
        )

        self.out_dir = out_dir
        self.calls: list[tuple[int, float, float]] = []
        self._write = foreach_batch_idempotent_parquet(out_dir)

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        self._write(df, batch_id)
        self.calls.append((batch_id, t0, time.time()))


def read_sink(out_dir: str) -> pd.DataFrame:
    """Every landed row, with the batch_id that carried it."""
    frames = []
    for d in glob.glob(os.path.join(out_dir, "batch_id=*")):
        if glob.glob(os.path.join(d, "*.parquet")):
            frames.append(pd.read_parquet(d).assign(batch_id=int(d.rsplit("=", 1)[1])))
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def executed(progress: list[dict]) -> list[dict]:
    """Reports of micro-batches that ran (data or no-data)."""
    return [p for p in progress if "addBatch" in (p.get("durationMs") or {})]


def event_batch_ms(progress: list[dict], n_files: int) -> list[float]:
    """`triggerExecution` of the batches that read one of the first
    `n_files` files (the real events). No-data eviction batches and
    sentinel batches are left out: they are a second, much shorter
    population, and a median over the mix flips between the two."""
    return [
        float(p["durationMs"]["triggerExecution"])
        for p in executed(progress)
        if p["numInputRows"] > 0 and probes.end_offset(p) < n_files
    ]


def run_query(spark, build, chunks: str, work: str, wait=None) -> QueryRun:
    """Run `build(stream)` over the chunk directory into a TimedSink
    until every file present (after `wait` returns) is processed."""
    from flink_fraud_detection_rocks_db_app_spark.streaming import read_replay_stream

    sink = TimedSink(os.path.join(work, "sink"))
    start = time.time()
    q = (
        build(read_replay_stream(spark, chunks))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        if wait is not None:
            wait()
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return QueryRun(start, time.time(), str(q.runId), q.recentProgress, sink.calls, sink.out_dir)


def sink_returns(run: QueryRun) -> dict[int, float]:
    return {bid: end for bid, _s, end in run.sink_calls}


def file_batch_starts(run: QueryRun) -> dict[int, float]:
    """File index -> start time of the data batch that read it."""
    out = {}
    for p in executed(run.progress):
        if p["numInputRows"] > 0:
            out[probes.end_offset(p)] = probes.trigger_start(p)
    return out


class Workload:
    name = ""
    threshold = 0.0
    cols: list[str] = []
    latency_tail_q = 75.0

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self._n = 0

    def workdir(self) -> str:
        self._n += 1
        d = os.path.join(self.run_dir, f"q{self._n:03d}")
        os.makedirs(d)
        return d

    def warm(self, spark, light: bool = False) -> None:
        """Replay the warm-up chunks through a fresh query, from a
        hard-linked copy (a file source never re-reads a file). `light`
        replays only the first two chunks and the last two: enough to
        start a query in a JVM whose JIT is already warm."""
        d = self.workdir()
        chunks = os.path.join(d, "chunks")
        os.makedirs(chunks)
        names = sorted(os.listdir(self.warm_chunks))
        if light:
            names = sorted(set(names[:2] + names[-2:]))
        for name in names:
            os.link(os.path.join(self.warm_chunks, name), os.path.join(chunks, name))
        run_query(spark, self.build, chunks, d)


# ---------------------------------------------------------------- closed loop


class ClosedLoop(Workload):
    """A pre-written backlog, one file per micro-batch, replayed by a
    fresh query (fresh checkpoint and sink) as many times as fit in the
    timed seconds. Each replay is checked against the reference."""

    n_files = 0
    per_file = 0
    warm_files = 2
    backlog_kw: dict = {}
    sentinels = True

    def prepare(self) -> None:
        frames = gen.backlog(self.seed, self.n_files, self.per_file, **self.backlog_kw)
        self.events = self.n_files * self.per_file
        if self.sentinels:
            top = max(int(f.t_us.max()) for f in frames)
            frames += gen.sentinel_frames(top, self.events)
        self.want = self.reference(frames)
        self.canon = os.path.join(self.run_dir, "backlog")
        gen.write_chunks(frames, self.canon, os.path.join(self.run_dir, "stage"))
        warm = gen.backlog(self.seed + 1, self.warm_files, self.per_file, **self.backlog_kw)
        if self.sentinels:
            warm += gen.sentinel_frames(max(int(f.t_us.max()) for f in warm), 10**9)
        self.warm_chunks = os.path.join(self.run_dir, "warm")
        gen.write_chunks(warm, self.warm_chunks, os.path.join(self.run_dir, "stage"))

    def timed(self, spark, seconds: float, traced: bool = False) -> Phase:
        ph = Phase(start=time.time())
        last = 0.0
        with probes.RssSampler() as rss:
            # replay while another replay ends nearer to `seconds` than not
            while time.time() - ph.start + last / 2 < seconds:
                t = time.time()
                d = self.workdir()
                chunks = os.path.join(d, "chunks")
                shutil.copytree(self.canon, chunks, copy_function=os.link)
                ph.attempted += len(self.want)
                try:
                    run = run_query(spark, self.build, chunks, d)
                except Exception as exc:  # noqa: BLE001 - a failed query is a measured outcome
                    print(f"perfbench: query failed: {exc!r}"[:2000], file=sys.stderr)
                    ph.failed += len(self.want)
                    continue
                ph.queries.append(run)
                self.score(run, ph)
                last = time.time() - t
        ph.end = time.time()
        ph.peak_rss_mb = rss.peak_mb
        ph.backlog_files_max = self.n_files + (2 if self.sentinels else 0)
        return ph

    def score(self, run: QueryRun, ph: Phase) -> None:
        got = read_sink(run.sink_dir)
        got = got[got.account_id != gen.SENTINEL_ACCOUNT] if len(got) else got
        ph.rows_out += len(got)
        ph.failed += ref.row_errors(got, self.want, self.cols) if len(got) else len(self.want)
        returns = sink_returns(run)
        ph.rates.append(self.events / (max(returns.values()) - run.start))
        ph.batch_ms += event_batch_ms(run.progress, self.n_files)
        if len(got):
            starts = file_batch_starts(run)
            hit = got.merge(self.want, on=self.cols)
            ready = hit.src.map(starts)
            ph.latency_ms += list((hit.batch_id.map(returns) - ready).dropna() * 1000.0)


class RunningSumSkewed(ClosedLoop):
    """F5 over 64 hash buckets with JSON state per bucket, on a large
    Zipf-skewed account population."""

    name = "running_sum_skewed"
    threshold = 500.0
    cols = ["account_id", "t_ms", "agg_value"]
    n_files = 4
    per_file = 12_000
    backlog_kw = dict(population=200_000, zipf_s=1.1, rate_per_s=1000.0)
    sentinels = False

    def build(self, stream):
        from flink_fraud_detection_rocks_db_app_spark.streaming import running_sum_alerts_stream

        return running_sum_alerts_stream(stream, self.threshold)

    def reference(self, frames):
        return ref.running_sum_alerts(frames, self.threshold)


class SlideOutOfOrderLate(ClosedLoop):
    """50 s / 10 s sliding SUM alerts under the 5 s out-of-order
    watermark: disorder inside the bound, 1% of events far behind it."""

    name = "slide_ooo_late"
    threshold = 120.0
    cols = ["w_start", "account_id", "sum_amount"]
    n_files = 3
    per_file = 30_000
    backlog_kw = dict(
        population=20_000, rate_per_s=200.0, disorder_us=4_000_000, late_frac=0.01
    )

    def build(self, stream):
        from flink_fraud_detection_rocks_db_app_spark.streaming import (
            OUT_OF_ORDER_5S,
            alert_stream,
            sliding_sum_stream,
        )

        agg = sliding_sum_stream(stream, 50_000, 10_000, watermark=OUT_OF_ORDER_5S, mode="auto")
        return alert_stream(agg, self.threshold)

    def reference(self, frames):
        return ref.window_alerts(frames, 50_000_000, 10_000_000, 5_000_000, self.threshold)


# ------------------------------------------------------------------ open loop


class TumbleAlertsOpenLoop(Workload):
    """5 s tumbling SUM alerts per account under the in-order watermark,
    fed by a separate generator process on a fixed schedule."""

    name = "tumble_alerts_openloop"
    threshold = 120.0
    cols = ["w_start", "account_id", "sum_amount"]
    # A batch costs the same ~385 ms whether its file holds 3 000, 5 000
    # or 10 000 events (closed loop, 4 vCPUs): nearly all of it is fixed
    # per-batch work, so capacity is counted in batches. With a 2.5 s
    # tick the engine stays under half busy until a batch takes 1.25 s,
    # over three times the calm figure (loaded hosts took 0.6-1.4 s),
    # and two ticks make one 5 s window.
    tick_us = 2_500_000
    window_us = 5_000_000
    per_tick = 10_000
    population = 10_000
    lead_us = 250_000
    latency_tail_q = 95.0
    # the first ~15 s of batches in a fresh JVM run up to 1.7x slower
    # while the JIT compiles; a warm-up shorter than that leaks into
    # the timed batches
    warm_ticks = 14

    @classmethod
    def generator_on_time(cls, report: dict) -> bool:
        """A run whose generator published a file a whole tick late
        skipped a tick: it did not offer the load it claims, and is
        invalid. Lateness inside the tick is measured, not punished:
        the alert latency, timed from event creation, includes it."""
        return report["late_ms_max"] < cls.tick_us / 1000.0

    def build(self, stream):
        from flink_fraud_detection_rocks_db_app_spark.streaming import (
            IN_ORDER,
            alert_stream,
            windowed_agg_stream,
        )

        agg = windowed_agg_stream(stream, self.window_us // 1000, watermark=IN_ORDER)
        return alert_stream(agg, self.threshold)

    def prepare(self) -> None:
        # warm-up input: ticks at a fixed past time, closed by sentinels
        t0, n = gen.EPOCH0_US, self.warm_ticks
        warm = [
            gen.tick_frame(self.seed + 1, k, t0, self.tick_us, self.per_tick, self.population)
            for k in range(n)
        ]
        warm += gen.sentinel_frames(t0 + n * self.tick_us, n * self.per_tick)
        self.warm_chunks = os.path.join(self.run_dir, "warm")
        gen.write_chunks(warm, self.warm_chunks, os.path.join(self.run_dir, "stage"))

    def timed(self, spark, seconds: float, traced: bool = False) -> Phase:
        ph = Phase(start=time.time())
        # the two sentinel ticks count inside the measured seconds, and
        # the ticks fill whole windows
        per_window = self.window_us // self.tick_us
        n_ticks = max(1, (round(seconds * 1e6 / self.tick_us) - 2) // per_window) * per_window
        tick = self.tick_us
        d = self.workdir()
        chunks, stage = os.path.join(d, "chunks"), os.path.join(d, "gen-stage")
        os.makedirs(chunks)
        os.makedirs(stage)
        report = os.path.join(d, "gen-report.json")
        cmd = [
            sys.executable, os.path.join(HERE, "gen.py"), "openloop",
            "--out", chunks, "--stage", stage, "--report", report,
            "--seed", str(self.seed), "--lead-us", str(self.lead_us),
            "--window-us", str(self.window_us), "--tick-us", str(tick),
            "--per-tick", str(self.per_tick), "--population", str(self.population),
            "--ticks", str(n_ticks),
        ]
        proc = subprocess.Popen(cmd)
        exclude = {proc.pid}
        deadline = time.time() + (n_ticks + 3) * tick / 1e6 + 60

        def wait_generator():
            proc.wait(timeout=max(1.0, deadline - time.time()))

        try:
            with probes.RssSampler(exclude) as rss:
                run = run_query(spark, self.build, chunks, d, wait=wait_generator)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        ph.end = time.time()
        ph.peak_rss_mb = rss.peak_mb
        ph.queries.append(run)
        with open(report) as fh:
            rep = json.load(fh)
        t0_us = rep["t0_us"]
        print(
            f"perfbench: generator late by {rep['late_ms_mean']:.1f} ms mean, "
            f"{rep['late_ms_max']:.1f} ms max",
            file=sys.stderr,
        )
        frames = [
            gen.tick_frame(self.seed, k, t0_us, tick, self.per_tick, self.population)
            for k in range(n_ticks)
        ]
        frames += gen.sentinel_frames(t0_us + n_ticks * tick, n_ticks * self.per_tick)
        want = ref.window_alerts(frames, self.window_us, self.window_us, 0, self.threshold)
        got = read_sink(run.sink_dir)
        got = got[got.account_id != gen.SENTINEL_ACCOUNT] if len(got) else got
        ph.attempted = len(want)
        ph.rows_out = len(got)
        ph.failed = ref.row_errors(got, want, self.cols) if len(got) else len(want)
        if not self.generator_on_time(rep):
            print(
                f"perfbench: generator ran {rep['late_ms_max']:.0f} ms late "
                f"(bound: one tick, {tick / 1000:.0f} ms): run invalid",
                file=sys.stderr,
            )
            ph.failed = ph.attempted
        # events consumed over the time from the first tick to the start
        # of the batch that read the last tick's file: a little under the
        # offered rate while the engine keeps up, lower once it queues
        last_start = file_batch_starts(run).get(n_ticks - 1)
        if last_start is not None:
            ph.rates.append(n_ticks * self.per_tick / (last_start - t0_us / 1e6))
        returns = sink_returns(run)
        ph.batch_ms = event_batch_ms(run.progress, n_ticks)
        if len(got):
            hit = got.merge(want, on=self.cols)
            ph.latency_ms = list((hit.batch_id.map(returns) - hit.newest_us / 1e6) * 1000.0)
        published = np.array(sorted(f["published_us"] / 1e6 for f in rep["files"]))
        consumed = 0
        for p in executed(run.progress):
            if p["numInputRows"] > 0:
                pending = int(np.searchsorted(published, probes.trigger_start(p), "right"))
                ph.backlog_files_max = max(ph.backlog_files_max, pending - consumed)
                consumed += 1
        return ph


# ------------------------------------------------------------------ registry


class RegistryFraudRows(Workload):
    """Registered fraud rows called the way bench.py calls them, on a
    generated `events` table, each checked against its DuckDB oracle."""

    name = "registry_fraud_rows"
    n_events = 20_000
    rows = (
        "tumble_sum_3s",
        "session_sum_user_6h",
        "zscore_alerts_3sigma",
        "funnel_view_click_purchase",
        "running_sum_alerts_gt_500",
        "count_or_time_user_1d_3",
    )

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.run_dir, "fixture")
        os.makedirs(self.sf_dir)
        gen.registry_events(self.seed, self.n_events).to_parquet(
            os.path.join(self.sf_dir, "events.parquet"), index=False
        )

    warm_rounds = 2

    def warm(self, spark, light: bool = False) -> None:
        """One untimed call per row, collected and compared with the
        row's oracle on a DuckDB connection that holds only `events`,
        then (unless `light`) `warm_rounds` untimed rounds of noop writes
        of the rows that matched, so the JIT has compiled their code
        before timing. The next timed phase counts the checks."""
        import duckdb

        from flink_fraud_detection_rocks_db_app_spark.registry import all_queries
        from flink_fraud_detection_rocks_db_app_spark.testing import compare

        specs = all_queries()
        self.checked = self.mismatched = 0
        matched = []
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM '{self.sf_dir}/events.parquet'"
            )
            for name in self.rows:
                self.checked += 1
                try:
                    df = specs[name].fn(spark, self.sf_dir)
                    got = [tuple(r) for r in df.collect()]
                    res = con.execute(specs[name].oracle)
                    diff = compare(got, df.columns, res.fetchall(), [c[0] for c in res.description])
                except Exception as exc:  # noqa: BLE001 - a failed row is a measured outcome
                    diff = repr(exc)
                if diff is not None:
                    print(f"perfbench: {name} mismatch: {diff}"[:2000], file=sys.stderr)
                    self.mismatched += 1
                else:
                    matched.append(name)
        finally:
            con.close()
        for _ in range(0 if light else self.warm_rounds):
            for name in matched:
                specs[name].fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def timed(self, spark, seconds: float, traced: bool = False) -> Phase:
        """Rounds of every row once, in order, until `seconds` have
        passed (at least one round). A round is one sample of each
        end-to-end time: the rows differ threefold in cost, so a
        percentile over single calls lands on the boundary between rows
        and jumps, while a round is a sum over the same mix every time.
        When traced, each row's own query execution is planned before
        the write so its Catalyst phase times can be read (the write
        plans again)."""
        from flink_fraud_detection_rocks_db_app_spark.registry import all_queries

        specs = all_queries()
        ph = Phase(start=time.time(), attempted=self.checked, failed=self.mismatched)
        rounds = 0
        with probes.RssSampler() as rss:
            while not rounds or time.time() - ph.start < seconds:
                rounds += 1
                round_calls = []
                for name in self.rows:
                    ph.attempted += 1
                    rec = {"name": name, "start": time.time()}
                    try:
                        df = specs[name].fn(spark, self.sf_dir)
                        rec["built"] = time.time()
                        if traced:
                            rec["phases"] = catalyst_phases(df)
                        rec["exec_start"] = time.time()
                        df.write.format("noop").mode("overwrite").save()
                        rec["end"] = time.time()
                    except Exception as exc:  # noqa: BLE001 - a failed row is a measured outcome
                        print(f"perfbench: {name} failed: {exc!r}"[:2000], file=sys.stderr)
                        ph.failed += 1
                        continue
                    round_calls.append(rec)
                ph.calls += round_calls
                if len(round_calls) == len(self.rows):
                    ph.latency_ms.append(sum(c["end"] - c["start"] for c in round_calls) * 1000.0)
        ph.end = time.time()
        ph.peak_rss_mb = rss.peak_mb
        per_row: dict[str, list[float]] = {}
        for c in ph.calls:
            per_row.setdefault(c["name"], []).append(c["end"] - c["start"])
        if per_row:
            medians = {k: float(np.median(v)) for k, v in per_row.items()}
            print(
                "perfbench: row call ms (median of n): "
                + ", ".join(f"{k} {v * 1000:.0f} ({len(per_row[k])})" for k, v in medians.items()),
                file=sys.stderr,
            )
            total_s = sum(medians.values())
            ph.rates.append(len(per_row) * self.n_events / total_s)
        return ph


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of the DataFrame's own
    query execution, from its QueryPlanningTracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


WORKLOADS = {
    w.name: w
    for w in (TumbleAlertsOpenLoop, RunningSumSkewed, SlideOutOfOrderLate, RegistryFraudRows)
}
