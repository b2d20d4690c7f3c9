"""Sequential-Arrow-fold throughput probe (VERDICT r12 #6): measure
the pure-Python rows/s of the four order-sensitive fold bodies — the
only operators left whose hot path runs the Python interpreter per
row — so the 100 TB story for them is quantified, not asserted.

What is measured: the production fold steps (imported from
streaming/stateful.py) exactly as `sorted_account_fold` runs them —
Python lists already sorted by (account, t_us, event_id), the per-row
loop; the Arrow transfer and the output batch build are excluded (the
latter is O(alerts), not O(rows)). Single core, min-of-N repeats; the
engine runs one fold per shuffle partition in parallel across
executors, so cluster throughput = this number x cores until the scan
outruns it.

  F5 running sum   running_sum_step      (registry threshold 500)
  F3 running mean  running_mean_step     (registry threshold 90)
  EWMA             ewma_step             (operators/stateful.EWMA_ALPHA)
  session cap      capped_session_rows   (operators/stateful gap + cap)

Usage: python scripts/fold_throughput_probe.py [sf_dir] [repeats]
Prints one JSON line: rows/s per fold + the input row count.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_fraud_detection_rocks_db_app_spark.operators.stateful import (  # noqa: E402
    EWMA_ALPHA,
    SESSION_CAP_GAP_MS,
    SESSION_CAP_MAX_MS,
)
from flink_fraud_detection_rocks_db_app_spark.streaming.stateful import (  # noqa: E402
    capped_session_rows,
    ewma_step,
    running_mean_step,
    running_sum_step,
    step_rows,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    src = f"{sf_dir}/events.parquet"
    if os.path.isdir(src):  # Spark-written scaled dirs (r15 sf1 probe)
        src = f"{src}/*.parquet"
    pdf = duckdb.sql(
        f"""
        SELECT user_id AS account_id, epoch_us(ts) AS t_us,
               value AS amount, event_id
        FROM '{src}'
        ORDER BY account_id, t_us, event_id
        """
    ).df()
    n = len(pdf)
    keys = pdf["account_id"].tolist()
    t_ms = (pdf["t_us"] // 1000).tolist()
    amounts = pdf["amount"].tolist()

    folds = {
        "f5_running_sum": step_rows(partial(running_sum_step, 500.0)),
        "f3_running_mean": step_rows(partial(running_mean_step, 90.0)),
        "ewma": step_rows(partial(ewma_step, EWMA_ALPHA)),
        "session_cap": partial(
            capped_session_rows, gap_ms=SESSION_CAP_GAP_MS, max_ms=SESSION_CAP_MAX_MS
        ),
    }
    report = {"sf_dir": sf_dir, "rows": n, "repeats": repeats, "rows_per_sec": {}}
    for name, fold in folds.items():
        best = min(_timed(fold, keys, t_ms, amounts) for _ in range(repeats))
        report["rows_per_sec"][name] = int(n / best)
        print(f"{name}: {n} rows in {best:.3f}s -> {int(n / best):,} rows/s", flush=True)
    print(json.dumps(report))


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
