"""Local replica of the driver's t2 correctness gate.

Runs every registered query via Spark AND its DuckDB oracle on the same
parquet tables, then compares row counts + order-insensitive values.
Two float modes:

  default  — relative tolerance (REL_TOL), useful while iterating
  --exact  — driver-style exact comparison (the driver hashes raw
             values with NO tolerance; r10's q11 red slipped through
             because this script tolerated a 1-ULP summation-order
             drift the driver's hash did not). Rotation candidates
             MUST pass --exact before taking a DRIVER_WINDOW slot.

`--perturb` runs Spark under a deliberately different partitioning
(7 shuffle partitions, tiny input splits, AQE coalescing off) so
float summation ORDER differs from the default sweep — a query whose
emitted values survive exact compare under BOTH configs is
order-stable in practice; one that flips is emitting an unrounded
order-sensitive aggregate and must round (the q15/q11 6dp pattern).

Usage:

    python scripts/check_parity.py [--exact] [--perturb] [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_fraud_detection_rocks_db_app_spark.registry import all_queries
from flink_fraud_detection_rocks_db_app_spark.session import get_spark
from flink_fraud_detection_rocks_db_app_spark.testing import REL_TOL, parity_sweep


def main() -> int:
    args = sys.argv[1:]
    exact = "--exact" in args
    perturb = "--perturb" in args
    args = [a for a in args if a not in ("--exact", "--perturb")]
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    names = [a for a in args if not a.startswith("/")]
    specs = all_queries()
    if names:
        specs = {n: specs[n] for n in names}
    if perturb:
        spark = get_spark(
            cpus=16,
            shuffle_partitions=7,
            extra_conf={
                "spark.sql.files.maxPartitionBytes": "262144",
                "spark.sql.adaptive.coalescePartitions.enabled": "false",
            },
        )
    else:
        spark = get_spark(cpus=16, shuffle_partitions=16)
    failures = parity_sweep(spark, sf_dir, dict(sorted(specs.items())), exact)
    mode = "exact" if exact else f"rel_tol={REL_TOL}"
    print(f"\n{len(specs) - len(failures)}/{len(specs)} queries match ({mode})")
    if failures:
        print("FAILURES:", ", ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
