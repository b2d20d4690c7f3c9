"""Independent reference results for the benchmark's stream workloads,
in pandas/numpy, and the row comparison that turns engine output into
`failed` counts.

Nothing here calls the package: the window reference follows Spark's
documented append-mode semantics (epoch-aligned half-open windows, a
watermark of max event time seen minus the delay, rows dropped from
windows that closed behind it), and the fold reference walks each
account in (account_id, t_us, event_id) order.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from gen import SENTINEL_ACCOUNT


def window_alerts(
    batches: list[pd.DataFrame],
    size_us: int,
    slide_us: int,
    delay_us: int,
    threshold: float,
) -> pd.DataFrame:
    """Alert rows (w_start ms, account_id, sum_amount) of a keyed
    event-time window SUM with threshold `threshold`, fed one frame per
    micro-batch. Two more columns say when each alert could first be
    known: `src`, the last batch that added a row to the window, and
    `newest_us`, the newest event time in it.

    The watermark in force for batch k is the largest event time of
    batches 0..k-1 minus `delay_us` (no watermark for batch 0). A row
    contributes to window [s, s + size) for every slide multiple s with
    s <= t < s + size, except windows whose end is at or behind that
    watermark. Every window is emitted in the end: the stream closes
    with sentinel chunks far ahead of the last event."""
    parts = []
    wm = None
    for k, b in enumerate(batches):
        real = b[b.account_id != SENTINEL_ACCOUNT]
        t = real.t_us.to_numpy()
        for j in range(-(-size_us // slide_us)):
            start = t - np.mod(t, slide_us) - j * slide_us
            keep = start + size_us > t
            if wm is not None:
                keep &= start + size_us > wm
            parts.append(
                pd.DataFrame(
                    {
                        "w_start": start[keep] // 1000,
                        "account_id": real.account_id.to_numpy()[keep],
                        "amount": real.amount.to_numpy()[keep],
                        "src": k,
                        "newest_us": t[keep],
                    }
                )
            )
        if len(b):
            # Spark tracks the max event time in milliseconds
            top = int(b.t_us.max()) // 1000 * 1000 - delay_us
            wm = top if wm is None else max(wm, top)
    rows = pd.concat(parts, ignore_index=True)
    out = rows.groupby(["w_start", "account_id"], as_index=False).agg(
        sum_amount=("amount", "sum"), src=("src", "max"), newest_us=("newest_us", "max")
    )
    return out[out.sum_amount > threshold].reset_index(drop=True)


def running_sum_alerts(batches: list[pd.DataFrame], threshold: float) -> pd.DataFrame:
    """F5: per account, in (account_id, t_us, event_id) order, add the
    amount to a running sum; when it exceeds `threshold` emit
    (account_id, t_ms, sum) and reset the sum to zero. `src` is the
    batch that carried the event crossing the threshold."""
    ev = pd.concat([b.assign(src=k) for k, b in enumerate(batches)], ignore_index=True)
    ev = ev[ev.account_id != SENTINEL_ACCOUNT].sort_values(
        ["account_id", "t_us", "event_id"], kind="mergesort"
    )
    out = []
    cur, s = None, 0.0
    cols = (ev[c].to_numpy() for c in ("account_id", "t_us", "amount", "src"))
    for k, t, a, src in zip(*cols):
        if k != cur:
            cur, s = k, 0.0
        s += a
        if s > threshold:
            out.append((int(k), int(t) // 1000, s, int(src)))
            s = 0.0
    return pd.DataFrame(out, columns=["account_id", "t_ms", "agg_value", "src"])


def row_errors(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> int:
    """Missing plus extra rows, as multisets of exact tuples over
    `cols`; a row with a wrong value counts once as missing and once
    as extra, a duplicated row once as extra."""
    g = Counter(map(tuple, got[cols].itertuples(index=False, name=None)))
    w = Counter(map(tuple, want[cols].itertuples(index=False, name=None)))
    return sum(((g - w) + (w - g)).values())
