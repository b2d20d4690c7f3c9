from __future__ import annotations

import os
import shutil
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_fraud_detection_rocks_db_app_spark.session import get_spark  # noqa: E402
from flink_fraud_detection_rocks_db_app_spark.testing import duck_con  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
TINY_ARROW_BATCH = 8
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    return duck_con(SF_SMALL)


@pytest.fixture()
def scratch(request):
    # Fresh per run: stale checkpoints/sink dirs from a previous pytest
    # invocation would otherwise leak into restart-semantics tests.
    d = os.path.join(SCRATCH, request.node.name)
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d)
    return d


@contextmanager
def session_confs(spark, confs: dict):
    """Set SQL confs for the block; restore the previous values after."""
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


@contextmanager
def crash_between_swap_renames():
    """Make the block's second os.rename raise, as a crash between a
    directory swap's two renames would; the block must raise it."""
    real, calls = os.rename, []

    def rename(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("crash between the swap's renames")
        real(src, dst)

    os.rename = rename
    try:
        with pytest.raises(OSError, match="crash between"):
            yield
    finally:
        os.rename = real


@pytest.fixture()
def tiny_arrow_batches(spark):
    """Shrink maxRecordsPerBatch so every non-trivial group spans many
    Arrow chunks per micro-batch; restore the session default after."""
    with session_confs(
        spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": TINY_ARROW_BATCH}
    ):
        yield


def assert_zscore_matches_batch_window(spark, streamed) -> None:
    """Streaming Welford z-score alerts vs the batch prefix-window form
    (zscore_alerts_3sigma): the flagged (account, t_ms) sets must agree
    and every z must match to 1e-6 (Welford and sum/n mean differ only
    in ulps; both gates round at 6dp)."""
    from flink_fraud_detection_rocks_db_app_spark.registry import all_queries

    got = {(r.account_id, r.t_ms): r.z for r in streamed.collect()}
    want = {
        (r.account_id, r.t_ms): r.z
        for r in all_queries()["zscore_alerts_3sigma"].fn(spark, SF_SMALL).collect()
    }
    assert got, "no streamed z-score alerts"
    assert set(got) == set(want), (
        sorted(set(got) ^ set(want))[:5], len(got), len(want))
    for kk, z in got.items():
        assert abs(z - want[kk]) <= 1e-6, (kk, z, want[kk])
