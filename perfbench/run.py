"""Fraud-stream benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, measured with tracing
off. With --trace 1 the run measures untraced first, then again with
a progress listener and an event log, and prints the per-layer
metrics; the spans go to .perfbench_out/. Workloads, metrics and the
layer each one loads are described in perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
STATE_PARTITIONS = 4
# Cap on the driver heap (the package's default is 8 GB): the box is
# shared, and four Spark runs in a row must not crowd it. The heap
# starts small and grows with use up to the cap, so peak RSS follows
# what the run really holds.
DRIVER_HEAP = "2g"


def start_spark(run_dir: str, cpus: int, event_log: str | None = None):
    """The package's session (`get_spark`) with the stream settings of
    bench.py's stream section, every scratch path inside `run_dir`."""
    from flink_fraud_detection_rocks_db_app_spark.session import get_spark, rocksdb_tuning

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        **rocksdb_tuning(),
        CHANGELOG: "true",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", cpus=cpus, shuffle_partitions=STATE_PARTITIONS, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def listed_layer_metrics() -> list[str]:
    """Names of the per-layer metrics BENCHMARK.json lists. The traced
    run computes more (the layers only the unlisted workloads load);
    its trace file keeps them all."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)["per_layer"]]


def stop_spark(spark) -> None:
    """Stop the session after checking that no streaming query leaked:
    a query left running would steal cores from the next run."""
    active = spark.streams.active
    for q in active:
        q.stop()
    spark.stop()
    if active:
        raise RuntimeError(f"{len(active)} streaming queries were still active")


def shutdown_jvm() -> None:
    """End the Spark JVM (and with it its Python workers) and wait for
    it: the gateway process exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import flink_fraud_detection_rocks_db_app_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2
    import metrics
    import probes
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # Spark's Python workers import the package too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONWARNINGS"] = "ignore"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    # every scratch file stays in the run directory; SPARK_LOCAL_DIRS,
    # when set, would override spark.local.dir
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "tmp")
    spark = None
    try:
        wl = WORKLOADS[args.workload](args.seed, run_dir)
        wl.prepare()
        t_prepared = time.time()
        spark = start_spark(run_dir, 4)
        t_session = time.time()
        wl.warm(spark)
        setup_s = time.time() - PROCESS_START
        print(
            f"perfbench: set-up {setup_s:.1f} s: inputs {t_prepared - PROCESS_START:.1f} s, "
            f"session {t_session - t_prepared:.1f} s, warm-up {time.time() - t_session:.1f} s",
            file=sys.stderr,
        )
        ticks = probes.cpu_ticks()
        untraced = wl.timed(spark, args.seconds)
        print(
            f"perfbench: hypervisor steal {probes.steal_pct(ticks):.1f}% of CPU time while timed",
            file=sys.stderr,
        )
        e2e = metrics.end_to_end(wl, untraced, setup_s)
        phases = [untraced]
        if args.trace:
            stop_spark(spark)
            spark = None
            layers, traced_phases = metrics.traced_run(wl, args, run_dir, e2e, start_spark, stop_spark)
            phases += traced_phases
            out = {k: layers[k] for k in listed_layer_metrics()}
        else:
            out = e2e
            stop_spark(spark)
            spark = None
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutdown_jvm()
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:  # another run still uses it
                pass
    attempted = sum(p.attempted for p in phases)
    failed = min(attempted, sum(p.failed for p in phases))
    print(
        f"perfbench: {args.workload} seed={args.seed} failed_frac="
        f"{failed / max(attempted, 1):.6f} ({failed}/{attempted})",
        file=sys.stderr,
    )
    result = {
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
