"""Temporal-pillar state-growth probe (VERDICT r12 #5): show that the
streamed SCD2 and temporal-join folds hold state proportional to KEYS,
never to ROWS — the working-set invariant their docstrings claim and
the reference's per-key ValueState implies.

Two independent axes, both served by write_replay_chunks' existing
knobs (the round-10 as-of probe idiom):

- rows axis — `densify=k`: every event replayed k times (fresh
  event_ids, ±500 ms spread), SAME key population. Healthy state is
  FLAT in k.
- keys axis — `densify=k, densify_fresh_keys=True`: each copy gets a
  disjoint account-id range, so the key population scales by k with
  per-key state fixed. Healthy state is LINEAR in k.
- skew axis (VERDICT r13 #5) — `densify=k, skew_hot_frac=0.1`: rows
  axis with one zipf-head account owning ~10% of every chunk. Healthy
  state is FLAT in k (per-key open-version state O(1) under the hot
  key too — the uniform-keys result must not depend on uniformity).

Measured quantity: the engine's own state-store gauge
(StreamingQueryProgress stateOperators.memoryUsedBytes, max across
micro-batches — the peak working set). numRowsTotal is also recorded
but is the FIXED bucket count for these bucketed Python folds
(N_FOLD_BUCKETS groups each holding a JSON dict keyed by account), so
bytes is the axis that tracks keys. Exponent = least-squares slope of
log(state) vs log(k); the per-bucket JSON/codec overhead is a fixed
floor that biases the keys-axis slope BELOW 1, so ~0.8+ reads as
linear-in-keys and anything near 0 on the rows axis reads as flat.

Usage: python scripts/temporal_state_probe.py [sf_dir] [scales...]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from flink_fraud_detection_rocks_db_app_spark.session import get_spark


def _fit_exponent(ks: list[int], ys: list[int]) -> float:
    xs = [math.log(k) for k in ks]
    ls = [math.log(max(1, y)) for y in ys]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ls) / n
    num = sum((x - mx) * (y - my) for x, y in zip(xs, ls))
    den = sum((x - mx) ** 2 for x in xs)
    return round(num / den, 2) if den else 0.0


def _run_scd2(
    spark, sf_dir: str, scratch: str, k: int, fresh_keys: bool, skew: float = 0.0
) -> dict:
    from flink_fraud_detection_rocks_db_app_spark.fixtures import transactions
    from flink_fraud_detection_rocks_db_app_spark.operators.windows import MS
    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        append_sentinel_chunk,
        read_replay_stream,
        replay_state_confs,
        run_to_memory,
        scd2_stream,
        write_replay_chunks,
    )

    chunks = write_replay_chunks(
        spark,
        sf_dir,
        scratch,
        n_chunks=6,
        densify=k,
        densify_fresh_keys=fresh_keys,
        skew_hot_frac=skew,
    )
    max_us = (
        transactions(spark, sf_dir)
        .agg(F.max(F.unix_micros("event_time")))
        .collect()[0][0]
    )
    flush_at_ms = max_us // 1000 + MS["d"]
    append_sentinel_chunk(chunks, max_us + 7 * MS["d"] * 1000)
    out = scd2_stream(read_replay_stream(spark, chunks), flush_at_ms)
    name = f"probe_scd2_{uuid.uuid4().hex[:8]}"
    with replay_state_confs(spark):
        stats = run_to_memory(out, name)
    stats["out_rows"] = spark.table(name).count()
    spark.catalog.dropTempView(name)
    return stats


def _run_temporal_join(
    spark, sf_dir: str, scratch: str, k: int, fresh_keys: bool, skew: float = 0.0
) -> dict:
    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        read_replay_stream,
        replay_state_confs,
        run_to_memory,
        temporal_join_stream,
        write_replay_chunks,
    )

    chunks = write_replay_chunks(
        spark,
        sf_dir,
        scratch,
        n_chunks=6,
        densify=k,
        densify_fresh_keys=fresh_keys,
        with_event_type=True,
        skew_hot_frac=skew,
    )
    out = temporal_join_stream(
        read_replay_stream(spark, chunks, with_event_type=True)
    )
    name = f"probe_tpj_{uuid.uuid4().hex[:8]}"
    with replay_state_confs(spark):
        stats = run_to_memory(out, name)
    stats["out_rows"] = spark.table(name).count()
    spark.catalog.dropTempView(name)
    return stats


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    scales = [int(s) for s in sys.argv[2:]] or [1, 3, 10]
    spark = get_spark()
    root = f"/tmp/temporal_state_probe_{uuid.uuid4().hex[:8]}"
    runners = {"stream_scd2": _run_scd2, "stream_temporal_join": _run_temporal_join}
    report: dict[str, dict] = {}
    try:
        for face, run in runners.items():
            report[face] = {}
            # skew axis (VERDICT r13 #5): rows grow k-fold with the key
            # population FIXED and one zipf-head account owning ~10% of
            # every chunk — per-key open-version state must stay O(1)
            # under the hot key too, so healthy state is FLAT in k,
            # same as the uniform rows axis.
            for axis, fresh, skew in (
                ("rows", False, 0.0),
                ("keys", True, 0.0),
                ("skew", False, 0.1),
            ):
                rows = []
                for k in scales:
                    scratch = os.path.join(root, f"{face}_{axis}_{k}")
                    os.makedirs(scratch, exist_ok=True)
                    try:
                        rows.append(
                            (k, run(spark, sf_dir, scratch, k, fresh, skew))
                        )
                    finally:
                        shutil.rmtree(scratch, ignore_errors=True)
                report[face][axis] = {
                    "scales": {
                        k: {
                            "input_rows": s["rows"],
                            "state_rows": s["state_rows"],
                            "state_bytes": s["state_bytes"],
                            "out_rows": s["out_rows"],
                            "sec": s["sec"],
                        }
                        for k, s in rows
                    },
                    "state_bytes_exponent": _fit_exponent(
                        [k for k, _ in rows], [s["state_bytes"] for _, s in rows]
                    ),
                }
                print(
                    f"{face} [{axis} axis]: "
                    + ", ".join(
                        f"x{k}: {s['state_bytes']}B/{s['state_rows']}rows"
                        for k, s in rows
                    )
                    + f" -> exponent {report[face][axis]['state_bytes_exponent']}",
                    flush=True,
                )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
