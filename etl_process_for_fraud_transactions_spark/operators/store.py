"""The versioned-store lifecycle every index family composes.

`Bm25Index`, `IvfIndex`, `PqIndex` and `NearDupIndex` each hold one
`VersionedStore` (`idx.store`) and differ only in what they write and
how they prune at query time. The store owns the parts of the
lifecycle that are the same for all of them:

- names: per-version table names (`<name>_<kind>_v<n>`, tombstones
  included), the `<name>_version` pointer and the `<name>_meta` row;
- the pointer: one `<name>_version` row read gives the version AND
  the layout that interprets its tables (the family's pointer schema:
  BM25's `id_type`, IVF's `n_cells`, PQ's full layout, and the
  `compacted_through` replay watermark of every family), so a
  concurrent flip can never pair one version's tables with another
  version's layout;
- the meta identity check (stored parameters against the instance's;
  layout keys such as `id_type` or `compacted_through` are not
  identity) and the watermark read (pointer when versioned, meta
  otherwise);
- the tombstone `delete` gate, `prune_versions`, the cell-skew probe;
- the flip commit (`begin` + `commit`) of every rebuild, compaction
  and retrain.

Flip commit, versioned stores. `begin` snapshots the file inventory
of the current version's tables before the op reads them. `commit`
then runs, in order: the early pointer guard (a competing maintainer
that already flipped must not have its committed v(n+1) tables
clobbered), the caller's writes into v(n+1), the tombstone carry (or,
for a new lineage or a purge, the removal of any stale v(n+1)
tombstone table), the concurrent-write guard (an absorb/delete that
landed in v(n) after the snapshot would be abandoned by the flip),
the pointer guard again, the pointer write (the commit point) and
last the shared meta row. A crash anywhere before the pointer write
leaves v(n) serving with its own layout.

Unversioned stores have no commit point. A rebuild writes its tables,
then the meta, and drops the tombstones LAST (a crash before that
leaves the new corpus over-filtered, never a deleted doc served). A
compaction persists the watermark in the meta FIRST, then swaps the
data: either crash side serves the same rows and a re-run converges
(operators/epochs.py).

The store reaches the filesystem only through `Warehouse` and the
guard helpers in sources/warehouse.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..sources.warehouse import (
    guard_concurrent_writes,
    guard_pointer_unmoved,
    table_inventory,
)


@dataclass(frozen=True)
class Flip:
    """An open maintenance op: the version it resolved (`expected`,
    None = no pointer yet) and the inventory of that version's tables
    when the op started."""

    op: str
    expected: int | None
    tables: tuple = ()
    inventory: frozenset = frozenset()

    @property
    def version(self) -> int:
        """The version this op commits."""
        return 1 if self.expected is None else self.expected + 1


class VersionedStore:
    """Tables `<name>_<kind>` (one per entry of `kinds`, plus
    `<name>_tombstones`), per version when `versioned`, behind the
    pointer row `<name>_version` whose columns are `pointer_schema`
    (a DDL string starting with `version int`)."""

    def __init__(
        self,
        wh,
        family: str,
        name: str,
        kinds: tuple[str, ...],
        versioned: bool,
        pointer_schema: str | None = None,
    ):
        self.wh = wh
        self.family = family
        self.name = name
        self.kinds = kinds
        self.versioned = versioned
        self.pointer_schema = pointer_schema

    # -- names ---------------------------------------------------------

    @property
    def version_table(self) -> str:
        return f"{self.name}_version"

    @property
    def meta_table(self) -> str:
        return f"{self.name}_meta"

    def table(self, kind: str, version: int | None = None) -> str:
        """`<name>_<kind>`, or `<name>_<kind>_v<n>` when versioned
        (`version` None reads the pointer)."""
        if not self.versioned:
            return f"{self.name}_{kind}"
        v = self.current() if version is None else version
        return f"{self.name}_{kind}_v{v}"

    def tables(self, version: int | None = None) -> tuple[str, ...]:
        """All data tables of one version, from at most one pointer
        read: a caller using several gets a jointly consistent set."""
        if self.versioned and version is None:
            version = self.current()
        return tuple(self.table(k, version) for k in self.kinds)

    def tombstones(self, version: int | None = None) -> str:
        """Deletion tombstones. Per version when versioned: a rebuild's
        new version starts with none, a purging compaction commits
        'tombstones applied' by not creating the table, a bounded
        compaction or a retrain carries them."""
        return self.table("tombstones", version)

    # -- pointer -------------------------------------------------------

    def version_row(self) -> tuple[int, dict]:
        """(version, layout) from ONE driver-side read of the pointer
        row; layout holds every other pointer column."""
        if not self.wh.exists(self.version_table):
            raise ValueError(
                f"{self.family} '{self.name}' is versioned but has no "
                "version pointer — run build() (it commits v1 and "
                "writes the pointer) or fix the warehouse root"
            )
        row = dict(self.wh.read_rows(self.version_table)[0])
        return int(row.pop("version")), row

    def current(self) -> int:
        return self.version_row()[0]

    def version_or_none(self) -> int | None:
        """The current version, or None when no pointer exists."""
        if not self.wh.exists(self.version_table):
            return None
        return self.current()

    def resolve(self) -> tuple[int | None, dict]:
        """(version, layout) for one call's whole decision set: the
        pointer row when versioned, else (None, the meta row or {}).
        Either way `layout.get("compacted_through")` is the replay
        watermark that belongs with the returned version's tables."""
        if self.versioned:
            return self.version_row()
        return None, self.read_meta() or {}

    def write_pointer(self, version: int, layout: dict) -> None:
        """Overwrite the pointer row: `version` plus the layout keys
        named by the family's pointer schema (absent keys are NULL)."""
        names = [c.split()[0] for c in self.pointer_schema.split(",")]
        row = (int(version),) + tuple(layout.get(n) for n in names[1:])
        self.wh.overwrite_rows(self.version_table, [row], self.pointer_schema)

    # -- meta and watermark --------------------------------------------

    def read_meta(self) -> dict | None:
        if not self.wh.exists(self.meta_table):
            return None
        return self.wh.read_rows(self.meta_table)[0]

    def check_identity(self, stored: dict, mine: dict, hint: str) -> None:
        """Raise when a stored identity parameter differs from the
        instance's. Only the keys of `mine` are compared, so layout
        keys in `stored` (id_type, n_cells, compacted_through, ...)
        never count."""
        diff = {k: (stored.get(k), v) for k, v in mine.items() if stored.get(k) != v}
        if diff:
            raise ValueError(
                f"{self.family} '{self.name}' was built with "
                f"{ {k: s for k, (s, _) in diff.items()} }, but this "
                f"instance uses { {k: m for k, (_, m) in diff.items()} } "
                f"— {hint}"
            )

    def watermark(self) -> int | None:
        """The replay watermark (None = never compacted), read fresh:
        from the pointer row when versioned (it commits with the
        flip), else from the meta row."""
        if self.versioned and not self.wh.exists(self.version_table):
            return None
        return self.resolve()[1].get("compacted_through")

    # -- maintenance ---------------------------------------------------

    def delete(
        self,
        rows: DataFrame,
        ids: DataFrame,
        id_col: str,
        tomb_t: str,
        occurrences: bool = False,
        sums: tuple[str, ...] = (),
    ) -> dict:
        """The tombstone gate. `rows` are the stored rows (`id_col`
        plus any column the tombstone keeps); those whose id is in
        `ids` and not yet tombstoned are appended to `tomb_t`, one per
        id (or one per stored occurrence with `occurrences`). Joins
        are hint-free: a mass delete degrades to a shuffle join, never
        a forced broadcast of an unbounded caller frame. The count
        (and `sum(c)` of each column in `sums`) is observed on the
        localCheckpoint that materializes the new tombstones, so a
        no-op delete runs no append. Returns {"n", *sums}."""
        new = rows.join(ids.select(id_col).distinct(), id_col, "left_semi")
        if not occurrences:
            new = new.distinct()
        if self.wh.exists(tomb_t):
            new = new.join(
                self.wh.read(tomb_t).select(id_col), id_col, "left_anti"
            )
        obs = Observation()
        new = new.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            *(
                F.coalesce(F.sum(c), F.lit(0)).cast("bigint").alias(c)
                for c in sums
            ),
        ).localCheckpoint()
        got = {k: int(v) for k, v in obs.get.items()}
        if got["n"]:
            self.wh.append(tomb_t, new)
        return got

    def prune_versions(self, keep: int = 1, extra: tuple[str, ...] = ()) -> list[str]:
        """Remove every version older than the newest `keep` (its
        tables, tombstones and the `extra` kinds). A lazy DataFrame
        pins its resolved paths at plan time, so pass keep=2 while
        readers planned against the previous version may still run.
        Returns the removed table names."""
        if not self.versioned:
            return []
        if keep < 1:
            raise ValueError("prune_versions keep must be >= 1")
        removed = []
        for v in range(1, self.current() - keep + 1):
            names = self.tables(v) + tuple(
                self.table(k, v) for k in ("tombstones",) + tuple(extra)
            )
            removed += [t for t in names if self.wh.remove_table(t)]
        return removed

    def cell_skew(self, table: str, cell_col: str, n_cells: int | None) -> dict:
        """Cell balance of `table`: one column-pruned aggregate of its
        cell ids (map-side partial aggregation to <= n_cells rows).
        skew = max_cell_rows / (n_vectors / n_cells), i.e. how many
        times fatter than uniform the fattest cell is. `n_cells` None
        counts the occupied cells."""
        row = (
            self.wh.read(table)
            .groupBy(cell_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(
                F.sum("__n").alias("total"),
                F.count(F.lit(1)).alias("occupied"),
                F.max("__n").alias("max_cell"),
            )
            .first()
        )
        if n_cells is None:
            n_cells = row["occupied"]
        total = row["total"] or 0
        max_cell = row["max_cell"] or 0
        return {
            "n_vectors": total,
            "n_cells_stored": n_cells,
            "n_cells_occupied": row["occupied"],
            "max_cell_rows": max_cell,
            "skew": max_cell / (total / n_cells) if total and n_cells else 0.0,
        }

    # -- flip commit ---------------------------------------------------

    def begin(self, op: str, expected: int | None = None) -> Flip:
        """Open a maintenance op on `expected` (the version it read;
        None = no pointer yet): snapshot the file inventory of that
        version's tables and tombstones before the op reads them."""
        if not self.versioned or expected is None:
            return Flip(op, expected)
        tables = self.tables(expected) + (self.tombstones(expected),)
        return Flip(op, expected, tables, table_inventory(self.wh, tables))

    def commit(
        self,
        flip: Flip,
        write,
        meta=None,
        layout: dict | None = None,
        carry_tombstones: bool = False,
        meta_first: bool = False,
    ) -> None:
        """Run `write()` and commit it (module docstring for the
        order). `layout` is the pointer row of a versioned store;
        `meta()` writes the shared meta row. `carry_tombstones` keeps
        the current tombstones live (bounded compaction, retrain);
        otherwise the committed version has none (rebuild, purge).
        `meta_first` is the unversioned compaction's crash order."""
        if not self.versioned:
            if meta_first:
                meta()
                write()
            else:
                write()
                if meta is not None:
                    meta()
            if not carry_tombstones:
                self.wh.remove_table(self.tombstones())
            return
        guard_pointer_unmoved(self.version_or_none(), flip.expected, flip.op)
        write()
        new_tomb = self.tombstones(flip.version)
        cur_tomb = None if flip.expected is None else self.tombstones(flip.expected)
        if carry_tombstones and cur_tomb and self.wh.exists(cur_tomb):
            self.wh.copy_table(cur_tomb, new_tomb)
        else:
            # a refused earlier attempt may have left one behind
            self.wh.remove_table(new_tomb)
        guard_concurrent_writes(self.wh, flip.tables, flip.inventory, flip.op)
        guard_pointer_unmoved(self.version_or_none(), flip.expected, flip.op)
        self.write_pointer(flip.version, layout)
        if meta is not None:
            meta()
