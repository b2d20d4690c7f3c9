"""Shared oracle-comparison helpers (used by tests, perfbench and
scripts/check_parity.py + scripts/vanilla_parity.py).

Comparison rule (SURVEY §5): sort columns by name, sort rows, compare
values; floats with 1e-9 relative tolerance (documented; matches the
driver's hash tolerance intent), or exactly with `exact=True` (the
driver hashes raw values with no tolerance).
"""

from __future__ import annotations

import math
import time

import duckdb

from .fixtures import TABLES

REL_TOL = 1e-9


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    """Columns sorted by name; rows sorted with non-float (key) columns
    FIRST and floats rounded to 6 dp in the sort key — so fp
    summation-order noise between engines can't flip the positional row
    order of near-tied aggregates (ADVICE r1) — then by the raw values,
    so rows tied on that key still sort the same in both engines.
    Returned tuples stay in column-name order; only the sort key is
    reordered/rounded."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(r[i] for i in order) for r in rows]
    ncols = len(order)
    is_float = [
        any(isinstance(r[c], float) for r in out[:1000]) for c in range(ncols)
    ]
    keycols = [c for c in range(ncols) if not is_float[c]] + [
        c for c in range(ncols) if is_float[c]
    ]

    def raw(v):
        return (v is None, str(type(v)), str(v))

    def key(v):
        if isinstance(v, float):
            return (False, "float", f"{v:.6f}")
        return raw(v)

    return sorted(
        out,
        key=lambda r: (tuple(key(r[c]) for c in keycols), tuple(raw(v) for v in r)),
    )


def values_match(a, b, exact: bool = False) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        fa, fb = float(a), float(b)
        if exact:
            # NaN==NaN so a NaN cell doesn't spuriously fail on both sides
            return fa == fb or (math.isnan(fa) and math.isnan(fb))
        return math.isclose(fa, fb, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def compare(
    spark_rows, spark_cols, duck_rows, duck_cols, exact: bool = False
) -> str | None:
    """None if equal, else a human-readable first difference."""
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    if sorted(c.lower() for c in spark_cols) != sorted(c.lower() for c in duck_cols):
        return f"columns {sorted(spark_cols)} vs {sorted(duck_cols)}"
    a = normalize(spark_rows, [c.lower() for c in spark_cols])
    b = normalize(duck_rows, [c.lower() for c in duck_cols])
    for i, (ra, rb) in enumerate(zip(a, b)):
        for va, vb in zip(ra, rb):
            if not values_match(va, vb, exact):
                return f"row {i}: {ra} vs {rb}"
    return None


def spark_vs_oracle(spark, con, spec, sf_dir: str, exact: bool = False) -> str | None:
    """Run one QuerySpec both ways and compare; None = match. A query
    without an oracle must still return rows."""
    sdf = spec.fn(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        return None if spark_rows else "no oracle and zero rows"
    res = con.execute(spec.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    return compare(spark_rows, sdf.columns, duck_rows, duck_cols, exact)


def parity_sweep(spark, sf_dir: str, specs, exact: bool) -> list[str]:
    """spark_vs_oracle over `specs` (name -> QuerySpec, in order),
    printing one line per query. An exception counts as a FAIL and the
    sweep goes on. Returns the failed names."""
    con = duck_con(sf_dir)
    failures = []
    for name, spec in specs.items():
        t0 = time.time()
        try:
            err = spark_vs_oracle(spark, con, spec, sf_dir, exact)
        except Exception as e:  # noqa: BLE001 — one broken query never aborts the sweep
            err = f"EXC {e.__class__.__name__}: {str(e)[:150]}"
        status = "OK" if err is None else f"FAIL {err}"
        print(f"  {name}: {status} [{time.time() - t0:.1f}s]", flush=True)
        if err is not None:
            failures.append(name)
    return failures
