"""Shared build-once/atomic-publish machinery for materialized
warehouse indexes (the IVF inverted lists, the BM25 postings index).

A deployment keeps these as durable assets next to the data, rebuilt
only when the source changes. Locally they live under the repo's
.scratch, keyed on (source path, content fingerprint of the source
parquet files), so a regenerated fixture gets a fresh index instead of
silently reusing a stale one, and concurrent builders race safely:

- build into a unique '.tmp-' directory, os.rename into the final
  content-keyed path (atomic on one filesystem);
- a rename that fails because the destination exists means a
  concurrent builder won — discard the temp (the winner's copy is
  byte-equivalent by determinism); any OTHER rename failure re-raises
  at the cause rather than surfacing as a parquet-read error later;
- stale fingerprints for the same source are pruned after publish,
  skipping in-flight '.tmp-' dirs (rmtree'ing a concurrent builder's
  half-written copy would fail its publish).

The lifecycle (reuse without rewrite, stale prune sparing temps, race
loser, real failure) is pinned by tests/test_ivf_index_lifecycle.py,
which drives this module through ensure_ivf_index.

`compact_parquet_table` is the other half of the append story: every
per-micro-batch append (BM25 postings/stats segments, IVF/IVFPQ cell
lists) accretes part-files, and at 100 TB the small-files cost —
listing, footer reads, task-per-file scheduling — grows with BATCH
COUNT even though data volume doesn't. Compaction rewrites the table
to one file per partition (plus an optional associative pre-merge for
segment rows the reader aggregates anyway), behind the crash-recoverable
whole-directory swap (_swap_dir/_recover_swap) that
pipeline.compact_prep_ledger and warehouse.compact_date_partitions share —
probe results are preserved by construction and pinned by test.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import uuid
from typing import Callable

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)


def content_fingerprint(sf_dir: str, table: str) -> str:
    """Fingerprint of a fixture table's parquet file(s): name, size,
    mtime of the file or every part (recursively, so nested partition
    subdirectories refresh it) inside a directory-style table.

    Raises FileNotFoundError when the glob matches nothing: a missing
    or renamed source must fail loudly here, not produce a
    valid-looking content key that ensure_index would happily build and
    publish an (empty) index under."""
    matches = sorted(glob.glob(os.path.join(sf_dir, f"{table}.parquet*")))
    if not matches:
        raise FileNotFoundError(
            f"content_fingerprint: no parquet source for table {table!r} "
            f"under {sf_dir!r} — refusing to fingerprint a missing source"
        )
    stat_sig = []
    for f in matches:
        st = os.stat(f)
        stat_sig.append(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}")
        if os.path.isdir(f):
            for root, dirs, files in os.walk(f):
                dirs.sort()
                rel_root = os.path.relpath(root, f)
                for part in sorted(files):
                    pst = os.stat(os.path.join(root, part))
                    stat_sig.append(
                        f"{rel_root}/{part}:{pst.st_size}:{pst.st_mtime_ns}"
                    )
    return hashlib.md5("|".join(stat_sig).encode()).hexdigest()[:12]


def index_path(
    kind: str,
    sf_dir: str,
    table: str | tuple[str, ...],
    version: int | str = 1,
) -> tuple[str, str]:
    """(parent_dir, index_dir) for a materialized index of `kind` over
    `table` in `sf_dir` — content-keyed as described in the module
    docstring. `table` may be a TUPLE of source tables for assets
    derived from a join (the PageRank ranks key on orders+lineitem):
    the fingerprint chains every source, so a change to ANY of them
    invalidates the asset; a 1-tuple hashes identically to the plain
    string, so existing single-source assets keep their keys.
    `version` is the index FORMAT version: bump it when the
    on-disk layout or schema changes, so a published index in the old
    format reads as stale (and is pruned) instead of breaking the new
    probe. It may be a STRING derived from the tuning constants the
    asset's content depends on (band counts, thresholds, top-k) —
    then a constant change keys a new asset automatically instead of
    silently serving stale frames (ADVICE r13)."""
    tables = (table,) if isinstance(table, str) else tuple(table)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    chained = "|".join(content_fingerprint(sf_dir, t) for t in tables)
    fp = hashlib.md5(f"{chained}:v{version}".encode()).hexdigest()[:12]
    parent = os.path.join(_SCRATCH, f"{kind}_index")
    return parent, os.path.join(parent, f"{key}-{fp}")


def ensure_index(
    kind: str,
    sf_dir: str,
    table: str | tuple[str, ...],
    build: Callable[[str], None],
    version: int | str = 1,
) -> str:
    """Build-once-if-absent with the atomic publish + stale prune
    described in the module docstring. `build(tmp_path)` materializes
    the index into tmp_path; it must be deterministic for the same
    source content (the race loser's copy is discarded unverified)."""
    parent, idx = index_path(kind, sf_dir, table, version)
    if not os.path.isdir(idx):
        tmp = f"{idx}.tmp-{uuid.uuid4().hex[:8]}"
        build(tmp)
        try:
            os.rename(tmp, idx)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(idx):
                raise
        prefix = os.path.basename(idx).split("-")[0] + "-"
        for sib in os.listdir(parent):
            if ".tmp-" in sib:
                continue
            if sib.startswith(prefix) and sib != os.path.basename(idx):
                shutil.rmtree(os.path.join(parent, sib), ignore_errors=True)
    return idx


def _aside(live: str) -> str:
    """_swap_dir's deterministic name for the displaced copy. A
    Hive-style partition directory (`k=v`) gets a dotted name, which
    partition discovery skips, so readers of the table never see the
    copy as an extra partition value."""
    head, name = os.path.split(live)
    return os.path.join(head, f".{name}.old") if "=" in name else f"{live}.old"


def _recover_swap(live: str) -> None:
    """Heal a crash inside _swap_dir's two-rename window: if the live
    directory is missing but its deterministic displaced copy exists,
    put it back. Idempotent; callers invoke it before touching a
    swappable table."""
    old = _aside(live)
    if not os.path.isdir(live) and os.path.isdir(old):
        os.rename(old, live)


def _swap_dir(live: str, tmp: str) -> None:
    """Replace `live` with fully-written `tmp`. POSIX can't rename onto
    a non-empty directory, so there IS a window between the two renames
    where `live` is absent — but the displaced copy has a DETERMINISTIC
    name (`_aside`, not a random hex dir), so a crash there is healed
    automatically by _recover_swap on the next touch instead of
    requiring manual recovery (ADVICE r13). Single-writer per asset
    (the ensure_index publish contract); a reader racing the swap can
    transiently see path-not-found and should retry."""
    old = _aside(live)
    shutil.rmtree(old, ignore_errors=True)  # leftover from a prior crash
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old, ignore_errors=True)


def _parquet_part_files(table_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(table_dir):
        out.extend(
            os.path.join(root, f) for f in files if f.endswith(".parquet")
        )
    return out


def compact_parquet_table(
    spark,
    table_dir: str,
    partition_col: str | None = None,
    merge=None,
    sort_col: str | None = None,
) -> int:
    """Rewrite an append-accreted parquet table as its compact
    equivalent: one part-file per `partition_col` value (or one file
    total), optionally pre-merging rows with `merge(df) -> df` when the
    downstream reader aggregates them associatively anyway (the BM25
    stats rows — the probe sums them, so compact-then-probe ==
    probe), and optionally re-sorting each partition's rows by
    `sort_col` (the z-order recluster: appends land in the right
    coarse bucket but interleave z runs, so row-group min/max stats
    loosen until the rewrite re-sorts them). Crash-recoverable
    whole-directory swap (_swap_dir): a crash leaves the old table
    intact, the new one published, or the old one displaced under a
    name _recover_swap restores on the next call.
    Returns the number of part-files compacted away (0 = already
    compact, no-op)."""
    from pyspark.sql import functions as F

    _recover_swap(table_dir)  # heal a prior crash mid-swap, if any
    files_before = _parquet_part_files(table_dir)
    df = spark.read.parquet(table_dir)
    if merge is not None:
        merged = merge(df)
        if len(files_before) <= 1 and df.count() == merged.count():
            return 0
        df = merged
    tmp = f"{table_dir}.tmp-{uuid.uuid4().hex[:8]}"
    if partition_col:
        if merge is None:
            n_parts = df.select(partition_col).distinct().count()
            if len(files_before) <= n_parts:
                return 0
        # repartition on the partition column: every value's rows land
        # in one task, so partitionBy writes exactly one file per value
        part = df.repartition(F.col(partition_col))
        if sort_col:
            # include the partition column so the partitionBy writer's
            # required ordering [partition_col] is already satisfied —
            # otherwise V1Writes inserts its own sort on partition_col
            # and per-partition sort_col order survives only by sort
            # stability (lost on spill merges)
            part = part.sortWithinPartitions(partition_col, sort_col)
        part.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)
    else:
        if merge is None and len(files_before) <= 1:
            return 0
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
    _swap_dir(table_dir, tmp)
    return max(0, len(files_before) - len(_parquet_part_files(table_dir)))
