"""Guard against copied code: no run of 10 consecutive code lines may
appear twice across the package, bench.py and scripts/, and the
event-time window start `w_start` is built in one function.

Each line is stripped; blank lines and lines starting with `#` are
dropped before windowing, so re-indenting or re-commenting a copy does
not hide it. A shared contract belongs in one definition its variants
call."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 10


def _files() -> list[str]:
    pats = [
        "flink_fraud_detection_rocks_db_app_spark/**/*.py",
        "bench.py",
        "scripts/*.py",
    ]
    return sorted(
        f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)
    )


def repeated_windows() -> dict[tuple[str, ...], list[tuple[str, int]]]:
    """Every 10-line window seen more than once -> [(file, first line)]."""
    seen: dict[tuple[str, ...], list[tuple[str, int]]] = {}
    for path in _files():
        with open(path, encoding="utf-8") as fh:
            kept = [
                (n, s)
                for n, line in enumerate(fh, 1)
                if (s := line.strip()) and not s.startswith("#")
            ]
        rel = os.path.relpath(path, ROOT)
        for i in range(len(kept) - WINDOW + 1):
            win = tuple(s for _, s in kept[i : i + WINDOW])
            seen.setdefault(win, []).append((rel, kept[i][0]))
    return {w: at for w, at in seen.items() if len(at) > 1}


def test_no_ten_line_window_repeats():
    dups = repeated_windows()
    where = sorted({loc for at in dups.values() for loc in at})
    assert not dups, f"{len(dups)} repeated 10-line windows at {where[:40]}"


def test_w_start_built_in_one_function():
    """`w_start` (the window start as epoch-ms BIGINT) is built from a
    window struct only inside `streaming.jobs.window_agg`; every batch
    query, stream and rollup that groups by an event-time window calls
    it."""
    needle = 'unix_millis(F.col("w.start"))'
    found = []
    for path in _files():
        with open(path, encoding="utf-8") as fh:
            found += [(path, n) for n, line in enumerate(fh, 1) if needle in line]
    jobs = os.path.join(ROOT, "flink_fraud_detection_rocks_db_app_spark", "streaming", "jobs.py")
    with open(jobs, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    fn = next(
        f for f in tree.body if isinstance(f, ast.FunctionDef) and f.name == "window_agg"
    )
    where = [(os.path.relpath(p, ROOT), n) for p, n in found]
    assert len(found) == 1, where
    assert found[0][0] == jobs and fn.lineno <= found[0][1] <= fn.end_lineno, where
