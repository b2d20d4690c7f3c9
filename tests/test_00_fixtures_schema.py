"""Fixture-schema smoke test — runs FIRST (filename sorts before every
other test module).

Round-2 postmortem: the driver regenerated `events.parquet` with
`ts: timestamp[us]` instead of nanos-as-long and 23/50 driver queries,
the bench, and the suite all died on the same `ts div` analysis error.
This module exists to name that class of drift immediately: it probes
every fixture table's physical schema, asserts the `load()` contract
(events.ts is ALWAYS an epoch-nanosecond bigint after loading, whatever
the parquet physical type), checks the ts normalization is bit-exact
against DuckDB's `epoch_us`, and runs the flagship `transactions()`
projection end to end. If the driver ships a new physical type, the
failure lands HERE with the schema in the message, not 23 queries deep.
"""

from __future__ import annotations

import pytest

from flink_fraud_detection_rocks_db_app_spark.fixtures import (
    TABLES,
    load,
    transactions,
)

from .conftest import SF_SMALL

# Columns every query in the engine assumes exist (name -> accepted
# loaded dtypes). events.ts is the *post-load* contract type — load()
# adapts whatever physical type the fixture carries into exactly
# `bigint` nanos. For the other columns the set lists the DRIFT-SAFE
# physical types: ones where Spark and the DuckDB oracle read the same
# file and drift *together* (int widths surface identically in both
# engines' output schemas; embedding float<->double is neutralized
# because every consumer casts both sides to DOUBLE — similarity.py).
# A dtype outside its set means a NEW adapter is needed in load();
# this test names the seam before 23 queries fail on it (r2 lesson).
CONTRACT = {
    "events": {"event_id": {"bigint"}, "ts": {"bigint"},
               "user_id": {"bigint"}, "event_type": {"string"},
               "value": {"double"}},
    "documents": {"doc_id": {"bigint"}, "text": {"string"},
                  "lang": {"string"}, "source": {"string"},
                  "n_chars": {"bigint", "int"}},
    "embeddings": {"vec_id": {"bigint"},
                   "embedding": {"array<float>", "array<double>"},
                   "label": {"int", "bigint"}},
    "orders": {"o_orderkey": {"bigint"}, "o_custkey": {"bigint"}},
    "lineitem": {"l_orderkey": {"bigint"}, "l_quantity": {"double"}},
    "customer": {"c_custkey": {"bigint"}, "c_nationkey": {"int"}},
    "nation": {"n_nationkey": {"int"}, "n_regionkey": {"int"}},
    "region": {"r_regionkey": {"int"}},
    "supplier": {"s_suppkey": {"bigint"}, "s_nationkey": {"int"}},
    "part": {"p_partkey": {"bigint"}},
}


def test_all_tables_load_and_match_contract(spark):
    problems = []
    for name in TABLES:
        df = load(spark, SF_SMALL, name)
        dtypes = dict(df.dtypes)
        for col, want in CONTRACT.get(name, {}).items():
            got = dtypes.get(col)
            if got not in want:
                problems.append(f"{name}.{col}: want one of {sorted(want)}, "
                                f"got {got} (full schema: {dtypes})")
    assert not problems, "fixture schema drift:\n" + "\n".join(problems)


def test_embedding_values_match_duckdb_as_double(spark, duck):
    # The float<->double drift neutralization is only real if the
    # double-widened values are BIT-IDENTICAL between engines — this is
    # the embeddings analogue of the ts epoch_us probe below. If the
    # driver ships a new element type/encoding, this fails with values,
    # not a hash mismatch 40 queries deep.
    from pyspark.sql import functions as F

    got = {
        r.vec_id: r.v
        for r in load(spark, SF_SMALL, "embeddings")
        .select("vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"))
        .orderBy("vec_id")
        .limit(20)
        .collect()
    }
    want = dict(
        duck.execute(
            "SELECT vec_id, embedding::DOUBLE[] FROM embeddings "
            "ORDER BY vec_id LIMIT 20"
        ).fetchall()
    )
    assert {k: list(v) for k, v in got.items()} == {
        k: list(v) for k, v in want.items()
    }


def test_document_text_bytes_match_duckdb(spark, duck):
    # md5 over the raw text catches any encoding/large-string physical
    # drift in the documents table the moment it ships.
    from pyspark.sql import functions as F

    got = {
        r.doc_id: r.h
        for r in load(spark, SF_SMALL, "documents")
        .select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("h"))
        .orderBy("doc_id")
        .limit(50)
        .collect()
    }
    want = dict(
        duck.execute(
            "SELECT doc_id, md5(text) FROM documents ORDER BY doc_id LIMIT 50"
        ).fetchall()
    )
    assert got == want


def test_session_timezone_is_utc(spark):
    # load() itself is timezone-free by construction (timestampdiff /
    # unix_micros — see its docstring), but the tuned session still
    # pins UTC as defense-in-depth for LTZ-dependent expressions
    # elsewhere (to_date in warehouse.py, timestamp formatting). This
    # asserts the pin so a config drift surfaces here, not as a
    # day-boundary shift in some downstream query.
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_env_int_fails_soft(monkeypatch, caplog):
    """Integer env knobs: valid values parse as before, a malformed one
    logs a warning and yields the default instead of raising — the
    replay state-partition knob is read at import time, where a raise
    took the whole registry down."""
    import os
    import subprocess
    import sys

    from flink_fraud_detection_rocks_db_app_spark.session import env_int

    knob = "SPARK_GRAFT_TEST_KNOB"
    monkeypatch.delenv(knob, raising=False)
    assert env_int(knob, 4) == 4
    monkeypatch.setenv(knob, "12")
    assert env_int(knob, 4) == 12
    monkeypatch.setenv(knob, "four")
    with caplog.at_level("WARNING"):
        assert env_int(knob, 4) == 4
    assert knob in caplog.text

    monkeypatch.setenv("SPARK_GRAFT_REPLAY_STATE_PARTITIONS", "4x")
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from flink_fraud_detection_rocks_db_app_spark.registry import "
            "all_queries; "
            "from flink_fraud_detection_rocks_db_app_spark.streaming import "
            "REPLAY_STATE_PARTITIONS as n; "
            "print(len(all_queries()), n)",
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.split()[-1] == "4"


def test_ts_normalization_matches_duckdb_epoch_us(spark, duck):
    got = {
        r.event_id: r.ts
        for r in load(spark, SF_SMALL, "events")
        .select("event_id", "ts")
        .orderBy("event_id")
        .limit(50)
        .collect()
    }
    want = dict(
        duck.execute(
            "SELECT event_id, epoch_us(ts) * 1000 FROM events "
            "ORDER BY event_id LIMIT 50"
        ).fetchall()
    )
    assert got == want


def test_ts_normalization_is_timezone_free(spark, duck):
    # The driver runs a VANILLA session (host timezone, not UTC), so
    # load()'s epoch derivation must not involve the session zone at
    # all. timestampdiff over TIMESTAMP_NTZ is wall-clock arithmetic;
    # a cast("timestamp") here would shift every instant by the
    # session offset and silently move every window boundary.
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla")
        got = {
            r.event_id: r.ts
            for r in load(spark, SF_SMALL, "events")
            .select("event_id", "ts")
            .orderBy("event_id")
            .limit(20)
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    want = dict(
        duck.execute(
            "SELECT event_id, epoch_us(ts) * 1000 FROM events "
            "ORDER BY event_id LIMIT 20"
        ).fetchall()
    )
    assert got == want


def test_transactions_projection_runs(spark):
    rows = transactions(spark, SF_SMALL).limit(5).collect()
    assert len(rows) == 5
    first = rows[0]
    assert set(first.asDict()) == {"account_id", "event_time", "amount"}
    assert first.event_time.year >= 2020


def test_entry_smoke(spark):
    # The driver's own smoke check, run locally first.
    import importlib
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    # the driver requires a non-empty result — >= 1, not >= 0
    assert df.limit(1).count() >= 1


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


def test_round4_queries_timezone_free(spark, duck):
    """End-to-end non-UTC probe for representative round-4 operators
    (holistic median window + funnel): under a +08:45 session zone the
    results must still match the DuckDB oracle exactly — all time
    arithmetic is epoch-integer math, never a session-zone cast."""
    from flink_fraud_detection_rocks_db_app_spark.registry import all_queries

    qs = all_queries()
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla")
        for name in ("tumble_median_1h", "funnel_view_click_purchase"):
            spec = qs[name]
            df = spec.fn(spark, SF_SMALL)
            cols = sorted(df.columns)
            got = sorted(
                (tuple(round(v, 6) if isinstance(v, float) else v for v in r)
                 for r in df.select(*cols).collect()),
                key=repr,
            )
            cur = duck.execute(spec.oracle)
            names = [d[0] for d in cur.description]
            idx = [names.index(c) for c in cols]
            want = sorted(
                (tuple(round(row[i], 6) if isinstance(row[i], float) else row[i]
                       for i in idx)
                 for row in cur.fetchall()),
                key=repr,
            )
            assert got == want, name
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_round5_queries_timezone_free(spark, duck):
    """Same non-UTC probe for the operators rotated into the round-5
    driver window whose semantics touch event time: the z-score
    anomaly gate (per-account time ordering), the cohort grid (epoch
    day buckets), and the windowed heavy hitters (hour buckets)."""
    from flink_fraud_detection_rocks_db_app_spark.registry import all_queries

    qs = all_queries()
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla")
        for name in (
            "zscore_alerts_3sigma",
            "cohort_retention_daily",
            "window_heavy_hitters_1h",
            # r5b: the EWMA fold orders on unix_micros and stamps
            # epoch-ms — bit-exact vs the CTE only if no session-zone
            # cast sneaks into the Arrow path
            "ewma_amount_per_account",
        ):
            spec = qs[name]
            df = spec.fn(spark, SF_SMALL)
            cols = sorted(df.columns)
            got = sorted(
                (tuple(round(v, 6) if isinstance(v, float) else v for v in r)
                 for r in df.select(*cols).collect()),
                key=repr,
            )
            cur = duck.execute(spec.oracle)
            names = [d[0] for d in cur.description]
            idx = [names.index(c) for c in cols]
            want = sorted(
                (tuple(round(row[i], 6) if isinstance(row[i], float) else row[i]
                       for i in idx)
                 for row in cur.fetchall()),
                key=repr,
            )
            assert got == want, name
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_round7_stream_faces_timezone_free(spark, duck):
    """Non-UTC probe for the round-7 stateful stream faces: the whole
    replay path (epoch-us chunk columns -> timestamp_micros ->
    unix_micros in the folds) must be session-zone-free, so under a
    +08:45 zone the streamed results still hash-match the oracle. The
    record-buffer face additionally exercises the event-time timeout
    arithmetic (watermark ms vs window end) under the shifted zone."""
    from flink_fraud_detection_rocks_db_app_spark.registry import all_queries

    qs = all_queries()
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla")
        for name in (
            "stream_recordbuffer_tumble_sum_1h_replay",
            "stream_ewma_replay",
            # r7b: two-stage paned sliding — window math in BOTH
            # stateful stages must be session-zone-free
            "stream_paned_slide_sum_replay",
            # r9: the WA4 terminal-flush gate compares watermark ms to
            # a unix_micros-derived threshold — zone-free by the same
            # convention, probed here
            "stream_recordbuffer_bounded_tumble_replay",
            # r9: as-of enrichment mixes unix_micros event times with
            # unix_date order-date epochs — both must stay zone-free
            "stream_asof_enrich_replay",
        ):
            spec = qs[name]
            df = spec.fn(spark, SF_SMALL)
            cols = sorted(df.columns)
            got = sorted(
                (tuple(round(v, 6) if isinstance(v, float) else v for v in r)
                 for r in df.select(*cols).collect()),
                key=repr,
            )
            cur = duck.execute(spec.oracle)
            names = [d[0] for d in cur.description]
            idx = [names.index(c) for c in cols]
            want = sorted(
                (tuple(round(row[i], 6) if isinstance(row[i], float) else row[i]
                       for i in idx)
                 for row in cur.fetchall()),
                key=repr,
            )
            assert got == want, name
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_round8_left_outer_join_face_timezone_free(spark, duck):
    """Non-UTC probe for the r8 left-outer interval join: the join's
    range predicate (INTERVAL arithmetic on timestamp_micros columns),
    the watermark-forced null eviction, and the lag_ms derivation
    (unix_millis) must all be session-zone-free — under a +08:45 zone
    the streamed rows, nulls included, still match the batch LEFT JOIN
    oracle value for value."""
    from flink_fraud_detection_rocks_db_app_spark.registry import all_queries

    spec = all_queries()["stream_interval_join_left_replay"]
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla")
        df = spec.fn(spark, SF_SMALL)
        cols = sorted(df.columns)
        got = sorted(
            (tuple(round(v, 6) if isinstance(v, float) else v for v in r)
             for r in df.select(*cols).collect()),
            key=repr,
        )
        cur = duck.execute(spec.oracle)
        names = [d[0] for d in cur.description]
        idx = [names.index(c) for c in cols]
        want = sorted(
            (tuple(round(row[i], 6) if isinstance(row[i], float) else row[i]
                   for i in idx)
             for row in cur.fetchall()),
            key=repr,
        )
        assert got == want
        assert any(r[cols.index("purchase_id")] is None for r in got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_round10_faces_timezone_free(spark, duck):
    """Non-UTC probe for the round-10 window's time-sensitive faces:
    the bounded GK-median window (hourly w_start epoch math + the
    in-bounds bracket), the z-norm subsequence ranker (per-account
    event-time frame ordering), and its streaming twin (subsequence
    buffers keyed on unix_micros event times across micro-batches) —
    all must match the oracle exactly under a +08:45 session zone."""
    from flink_fraud_detection_rocks_db_app_spark.registry import all_queries

    qs = all_queries()
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla")
        for name in (
            "tumble_approx_median_bounded",
            "ts_znorm_pattern_topk",
            "stream_ts_pattern_alerts_replay",
        ):
            spec = qs[name]
            df = spec.fn(spark, SF_SMALL)
            cols = sorted(df.columns)
            got = sorted(
                (tuple(round(v, 6) if isinstance(v, float) else v for v in r)
                 for r in df.select(*cols).collect()),
                key=repr,
            )
            cur = duck.execute(spec.oracle)
            names = [d[0] for d in cur.description]
            idx = [names.index(c) for c in cols]
            want = sorted(
                (tuple(round(row[i], 6) if isinstance(row[i], float) else row[i]
                       for i in idx)
                 for row in cur.fetchall()),
                key=repr,
            )
            assert got == want, name
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_load_plan_memo_reuses_and_invalidates(spark, tmp_path):
    """r14: load() memoizes the lazy fixture DataFrame per (session,
    path, change signature). The memo must (a) return the same plan
    object for an unchanged file — the driver-side resolution saving,
    (b) key a FRESH relation when the file is rewritten in place (the
    tmp-fixture pattern several suite modules use) EVEN when the
    rewrite preserves the mtime (ADVICE r15: copy2-style rewrites can
    collide on timestamp granularity — size/inode are the second
    change signal), and (c) always read current bytes: a rewritten
    table's rows must come back, never the stale listing's."""
    import os
    import shutil

    from flink_fraud_detection_rocks_db_app_spark import fixtures as fx

    src = os.path.join(SF_SMALL, "documents.parquet")
    dst = tmp_path / "documents.parquet"
    shutil.copy2(src, dst)
    a = load(spark, str(tmp_path), "documents")
    assert load(spark, str(tmp_path), "documents") is a
    n_orig = a.count()

    # rewrite in place: halve the table and deliberately COPY BACK the
    # original's mtime — the memo must still key a fresh relation off
    # the size/inode change (the r14 key needed a forced utime bump
    # here; the r15 key must not)
    orig_stat = os.stat(dst)
    half = a.limit(n_orig // 2).toPandas()
    dst.unlink()
    half.to_parquet(dst, index=False)
    os.utime(dst, ns=(orig_stat.st_atime_ns, orig_stat.st_mtime_ns))

    b = load(spark, str(tmp_path), "documents")
    assert b is not a
    assert b.count() == n_orig // 2
    # the memo is per-session state hanging off the session object,
    # never on-disk or module-global: nothing persists, and dropping
    # the session drops its plans (ADVICE r15 — the module-level
    # WeakKeyDictionary kept them alive forever)
    assert not hasattr(fx, "_PLAN_MEMO")
    assert isinstance(getattr(spark, "_graft_plan_memo", None), dict)
