"""Driver-conditions parity: like check_parity.py but on a VANILLA
SparkSession (no tuned confs, default state store, host timezone) —
the session shape the external driver actually builds. Rotation
candidates must pass here BEFORE taking a DRIVER_WINDOW slot.

Comparison is EXACT (driver-style, no float tolerance) — r10's q11
red passed the tolerant gate 21/21 and still failed the driver's
value hash on a 1-ULP summation-order drift; this script now matches
the driver's strictness so that cannot recur.

Usage: python scripts/vanilla_parity.py [sf_dir] [name ...]
(sf_dir only as argv[1]; defaults: sf0.01, the current DRIVER_WINDOW)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from flink_fraud_detection_rocks_db_app_spark.registry import DRIVER_WINDOW, all_queries
from flink_fraud_detection_rocks_db_app_spark.testing import parity_sweep


def main() -> int:
    args = sys.argv[1:]
    # sf_dir is strictly positional (argv[1]); everything after it is a
    # query name and unknown names fail on the specs[n] lookup rather
    # than being silently dropped.
    if args and args[0].startswith("/"):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.01", args
    names = names or list(DRIVER_WINDOW)
    specs = all_queries()
    specs = {n: specs[n] for n in names}
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    fails = parity_sweep(spark, sf_dir, specs, exact=True)
    print(f"{len(specs) - len(fails)}/{len(specs)} vanilla-session match")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
