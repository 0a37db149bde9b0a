"""Crash-safe commit of maintained on-disk state: the one place that
decides how a rewritten state directory becomes visible.

Every maintained-state sink (rollup, sketchmaint, hhmaint,
centroidmaint, upsert, textindex, pqindex, backfill, byquery, compact,
forget) calls :func:`recover_and_sweep` on entry and commits through
one of two writers:

- :func:`write_partition` writes a DataFrame as ONE directory
  ``<root>/<part>``;
- :func:`write_partitions` writes it ``partitionBy(col)`` into a
  staging directory and promotes every ``col=v`` directory it staged.

Protocol per partition ``<part>`` (e.g. ``day=2024-01-03``) under a
root directory:

1. write the new content to ``.tmp-<part>``;
2. rename ``<part>`` -> ``.old-<part>`` (if it exists);
3. rename ``.tmp-<part>`` -> ``<part>``;
4. remove ``.old-<part>``.

Names are DETERMINISTIC, so a crash at any step leaves a state the
next run can classify and repair via :func:`recover_and_sweep`:

- ``.tmp-<part>`` present (this includes the partitioned writer's
  staging directory): the write never became visible. Safe to drop —
  foreachBatch sinks run at-least-once, so the batch that produced it
  is replayed against the last durable state.
- ``.old-<part>`` present, ``<part>`` present: crash between steps
  3 and 4 — the old dir is superseded; drop it.
- ``.old-<part>`` present, ``<part>`` missing: crash between steps
  2 and 3 — the old dir IS the last durable state; rename it back.

Single-writer assumption: streaming foreachBatch executes batches
sequentially, so recovery at refresh start never races a concurrent
swap. (At 100 TB scale on an object store this protocol maps onto a
commit-marker scheme — rename is the local-FS stand-in for an atomic
pointer flip.)
"""

from __future__ import annotations

import shutil
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import DataFrame

__all__ = [
    "recover_and_sweep",
    "write_partition",
    "write_partitions",
    "swap_in",
    "part_paths",
    "decode_part_name",
]

_TMP = ".tmp-"
_OLD = ".old-"
# staging dir of write_partitions; the _TMP prefix makes an
# interrupted partitioned write one more orphan recover_and_sweep drops
_STAGING = f"{_TMP}__staged__"


def part_paths(root: Path, part: str) -> tuple[Path, Path, Path]:
    """(final, tmp, old) paths for a partition directory name."""
    return root / part, root / f"{_TMP}{part}", root / f"{_OLD}{part}"


def recover_and_sweep(root: Path) -> list[str]:
    """Repair any interrupted swap under ``root``; returns the names of
    partitions whose previous state was renamed back into place."""
    recovered: list[str] = []
    if not root.exists():
        return recovered
    for p in root.glob(f"{_TMP}*"):
        shutil.rmtree(p, ignore_errors=True)
    for p in root.glob(f"{_OLD}*"):
        final = root / p.name[len(_OLD):]
        if final.exists():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.rename(final)
            recovered.append(final.name)
    return recovered


def decode_part_name(name: str) -> tuple[str, str | None]:
    """``col=escaped`` directory name -> ``(col, raw value)``.

    Spark's ``partitionBy`` %XX-escapes special characters (':', '#',
    '%', ...) in partition values (Hive ``escapePathName``), and writes
    NULL as ``__HIVE_DEFAULT_PARTITION__`` — so dir names must be
    DECODED to compare against collected column values, never
    re-encoded by string formatting."""
    col, _, raw = name.partition("=")
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return col, None
    return col, unquote(raw)


def _drop_markers(d: Path) -> None:
    # a promoted dir holds data files only, like a partitionBy output dir
    for marker in d.glob("_*"):
        marker.unlink()


def write_partition(df: DataFrame, root: Path, part: str) -> None:
    """Write ``df`` as the directory ``root/part`` and swap it in
    (steps 1-4). The caller ran :func:`recover_and_sweep` on entry."""
    _, tmp, _ = part_paths(root, part)
    df.write.mode("overwrite").parquet(str(tmp))
    _drop_markers(tmp)
    swap_in(root, part)


def write_partitions(
    df: DataFrame,
    root: Path,
    part_col: str,
    expected: dict[str | None, bool] | None = None,
) -> list[str]:
    """Write ``df`` ``partitionBy(part_col)`` in ONE job into a staging
    dir under ``root``, then swap in every staged ``part_col=v`` dir.
    Returns the promoted directory names, sorted. The caller ran
    :func:`recover_and_sweep` on entry.

    ``expected`` is for callers that know their touched set: it maps
    each touched partition's raw string value to whether the rewrite
    may legitimately have staged NOTHING for it (True = every row of
    the partition was deleted, swap in an empty dir). Staged dirs are
    matched by their DECODED names — reconstructing ``f"{col}={value}"``
    is unsafe because ``partitionBy`` escapes special characters. Any
    other mismatch — a touched partition with surviving rows but no
    staged dir, or a staged dir for an un-touched value — raises before
    anything is promoted, instead of silently swapping in an empty
    (data-losing) partition."""
    staging = root / _STAGING
    df.write.partitionBy(part_col).mode("overwrite").parquet(str(staging))
    prefix = f"{part_col}="

    def by_value(d: Path) -> dict[str | None, str]:
        return {
            decode_part_name(p.name)[1]: p.name
            for p in d.iterdir()
            if p.is_dir() and p.name.startswith(prefix)
        }

    staged = by_value(staging)
    empty: list[str] = []
    if expected is not None:
        orig = by_value(root)
        for val, may_be_empty in expected.items():
            if val in staged:
                continue
            if not may_be_empty:
                raise RuntimeError(
                    "partition rewrite staged no directory for touched "
                    f"partition {part_col}={val!r} which still has "
                    "surviving rows — refusing to swap in an empty dir"
                )
            if val not in orig:
                raise RuntimeError(
                    "fully-deleted touched partition "
                    f"{part_col}={val!r} has no original directory under "
                    f"{root} — partition listing out of sync with the scan"
                )
            empty.append(orig[val])
        unexpected = sorted(n for v, n in staged.items() if v not in expected)
        if unexpected:
            raise RuntimeError(
                "partition rewrite staged directories for values the "
                f"match scan never touched: {unexpected}"
            )
    for name in staged.values():
        (staging / name).rename(part_paths(root, name)[1])
    for name in empty:
        part_paths(root, name)[1].mkdir()
    promoted = sorted([*staged.values(), *empty])
    for name in promoted:
        swap_in(root, name)
    shutil.rmtree(staging, ignore_errors=True)
    return promoted


def swap_in(root: Path, part: str) -> None:
    """Steps 2-4: atomically promote ``.tmp-<part>`` to ``<part>``.

    Caller must have written ``.tmp-<part>`` already (step 1)."""
    final, tmp, old = part_paths(root, part)
    if old.exists():  # stale survivor of a crash after step 3
        shutil.rmtree(old)
    if final.exists():
        final.rename(old)
    tmp.rename(final)
    if old.exists():
        shutil.rmtree(old)
