"""Epoch-partition maintenance shared by the index families.

Every partitioned index store (IvfIndex, PqIndex, Bm25Index,
NearDupIndex) absorbs streaming micro-batches as hive `__batch`
partitions — the exactly-once contract: a replayed epoch is a dynamic
partition overwrite of its own rows. The price at scale is the classic
small-files problem: a 1-minute trigger writes ~1,440 epoch
directories per day, each holding one task's worth of tiny parquet
files, and scan cost at 100 TB becomes file-open overhead plus a
driver-side listing of millions of partition directories long before
it is IO.

`compact()` on each family is the maintenance answer: a pure LAYOUT
rewrite (no retraining, no retokenizing — unlike a rebuild, which
recomputes everything) that collapses all epoch partitions into one
`__compacted__` stamp while preserving the leading pruning level
(cell id / term bucket). Collapsing stamps destroys per-epoch replay
targeting, so compaction records a `compacted_through` WATERMARK (the
max integer epoch id merged) and `absorb()` skips any replayed epoch
<= the watermark — its rows are already inside the compacted
partition, and rewriting "its" partition would duplicate them.

Watermark semantics, stated precisely:

- Epoch ids must be INTEGERS (Structured Streaming's batch ids are).
  A store that was compacted refuses non-integer epoch ids loudly —
  they cannot be ordered against the watermark.
- The watermark is MONOTONE: a second compaction keeps
  max(previous, newly merged), so absorbing epoch N, compacting,
  then replaying epoch N is a no-op forever.
- Skipping a COMPLETED epoch is always sound, even mid-crash:
  absorb is deterministic given the frozen model artifacts, so an
  epoch <= watermark holds exactly the rows a replay would write —
  whether it still sits in its own partition (compaction crashed
  before the data swap) or inside `__compacted__` (compaction
  finished).
- The one epoch that is NOT provably complete is the newest: if its
  absorb itself crashed mid-write (a dynamic partition overwrite is
  not atomic across partitions, and Bm25Index writes three tables
  per epoch), its partitions hold PARTIAL rows that only the replay
  can repair — and compacting it first bakes the partial rows in
  where the replay (now skipped) can no longer reach them.
  Structured Streaming processes epochs serially, so every epoch
  below the latest has a committed checkpoint behind it; compact a
  LIVE stream's store with `compact(live=True)` (derives
  `through = latest_epoch - 1` from the scanned stamps; an explicit
  `through=` bound is also accepted), and reserve the
  merge-everything default for a quiesced stream.
- Crash ordering (non-versioned stores): the watermark is persisted
  BEFORE the data swap. Either crash side leaves a correct store —
  watermark-only means replays skip partitions that still exist
  (identical rows, nothing lost), and re-running compact() converges.
  Versioned stores need no ordering: the watermark rides the version
  pointer row and commits atomically with the collapsed tables.
- A full rebuild (`build()` on an existing store) RESETS the
  watermark: the new version indexes a caller-supplied corpus under a
  fresh `__build__` stamp, so the old epoch lineage is meaningless —
  restart the stream from a fresh checkpoint after a rebuild (the
  pre-existing family contract). `IvfIndex.retrain()` is the
  exception: it preserves row-level `__batch` stamps, so it CARRIES
  the watermark forward.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the stamp all merged epochs collapse into
COMPACTED_STAMP = "__compacted__"

#: non-epoch stamps that never participate in watermark ordering
#: ("bootstrap" is NearDupIndex.bootstrap's default stamp; a
#: caller-supplied ad-hoc bootstrap stamp makes the store
#: non-compactable — re-bootstrap under the default instead)
SENTINEL_STAMPS = frozenset(
    {"__build__", COMPACTED_STAMP, "bootstrap"}
)


def epoch_watermark(stamps, prev: int | None = None) -> int | None:
    """Max integer epoch id among `stamps` (sentinels ignored), folded
    monotonically over a previous watermark. Raises on a non-integer
    non-sentinel stamp — such epochs cannot be ordered, so a store
    holding them cannot be compacted (rebuild instead)."""
    nums = []
    for s in stamps:
        if s is None or s in SENTINEL_STAMPS:
            continue
        try:
            nums.append(int(s))
        except (TypeError, ValueError):
            raise ValueError(
                f"epoch stamp {s!r} is not an integer — compaction "
                "orders epochs numerically (Structured Streaming batch "
                "ids); a store with ad-hoc stamps must rebuild instead"
            )
    wm = max(nums) if nums else None
    if prev is not None:
        wm = prev if wm is None else max(wm, prev)
    return wm


def replay_skippable(batch, watermark: int | None) -> bool:
    """True when `batch` is a replayed epoch already merged into the
    compacted partition (absorb must no-op). Raises on a non-integer
    batch id against a compacted store — it cannot be ordered, and
    guessing either way risks duplicates or silent data loss."""
    if watermark is None:
        return False
    try:
        b = int(batch)
    except (TypeError, ValueError):
        raise ValueError(
            f"absorb batch {batch!r} is not an integer but the store "
            f"was compacted through epoch {watermark} — replay "
            "targeting on a compacted store needs numeric epoch ids"
        )
    return b <= watermark


def guard_sentinel_batch(batch) -> None:
    """absorb() must never write a caller batch under a maintenance
    stamp — it would silently merge into (or overwrite) the build or
    compacted partition."""
    if str(batch) in SENTINEL_STAMPS:
        raise ValueError(
            f"absorb batch {batch!r} collides with a reserved "
            "maintenance stamp — pass the stream's integer epoch id"
        )


def plan_merge(
    stamps, through: int | None = None, live: bool = False,
    prev: int | None = None,
) -> tuple[list[str], int | None]:
    """(stamps to merge, new watermark) for a compaction over the
    stored `stamps`. Every stamp must be orderable first (raises on
    an ad-hoc id). `through` bounds the merge to integer epochs
    <= through (maintenance stamps always merge); `live=True` derives
    `through = newest epoch - 1`, since the newest epoch is the only
    one a crashed absorb may have left partially written. The new
    watermark folds the merged epochs over `prev`."""
    epoch_watermark(stamps)
    if live:
        if through is not None:
            raise ValueError(
                "compact(live=True) derives its own bound — pass "
                "through= or live=True, not both"
            )
        ints = [int(s) for s in stamps if s not in SENTINEL_STAMPS]
        through = max(ints) - 1 if ints else None
    merged = sorted(
        s
        for s in stamps
        if s in SENTINEL_STAMPS or through is None or int(s) <= int(through)
    )
    return merged, epoch_watermark(merged, prev)


def collapse_epochs(
    df: DataFrame,
    batch_col: str,
    part_cols: list[str],
    id_col: str,
    files_per_partition: int = 1,
) -> DataFrame:
    """Rewrite plan for a compaction: every row restamped to
    COMPACTED_STAMP and repartitioned so each hive partition lands in
    exactly `files_per_partition` files (one shuffle keyed on the
    partition columns — plus an id-hash salt when >1 file per
    partition is wanted, e.g. a cell too fat for one executor's
    write buffer at full scale)."""
    if files_per_partition < 1:
        raise ValueError("files_per_partition must be >= 1")
    out = df.withColumn(batch_col, F.lit(COMPACTED_STAMP))
    keys = [F.col(c) for c in part_cols]
    if files_per_partition > 1:
        keys.append(
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string")),
                F.lit(files_per_partition),
            )
        )
    return out.repartition(*keys)


def hive_partition_values(path: str, col: str) -> set[str]:
    """Distinct values of hive partition column `col` under a table
    directory, read from the directory NAMES — the same set a
    `select(col).distinct().collect()` returns for a table partitioned
    by `col`, without the Spark job (r16: a compact() ran two such
    jobs per call just to enumerate epoch stamps). Hive-escaped
    characters are URL-unquoted, so ad-hoc stamps round-trip exactly
    and the integer-orderability guard still fires on them. Only
    directories that contain at least one data file count — an empty
    leftover directory has no rows, matching the distinct().

    Hadoop `_temporary` staging trees are pruned (the table_inventory
    convention, ADVICE r16): a concurrent in-flight append stages its
    partition directories under `_temporary` before the commit
    rename, and a stamp surfaced from there is one the replaced
    `distinct()` could never see — a compact() merging it would
    advance the watermark past an epoch that commits later, turning
    its replay into a silent no-op."""
    from urllib.parse import unquote

    prefix = f"{col}="
    out: set[str] = set()
    for root_, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_temporary"]
        name = os.path.basename(root_)
        if name.startswith(prefix) and any(
            f.startswith("part-") or f.endswith(".parquet")
            for f in files
        ):
            out.add(unquote(name[len(prefix):]))
    return out


def parquet_file_count(path: str) -> int:
    """Data-file count under a table directory (the small-files
    metric compact() reports). `_temporary` staging trees are pruned
    — uncommitted in-flight files are not part of the table."""
    total = 0
    for root_, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_temporary"]
        total += sum(1 for f in files if f.startswith("part-"))
    return total
