"""Partitioned SCD2 maintenance: O(current + changes) per batch
instead of O(full history).

operators.scd2 rewrites the whole history table per batch — simple and
correct, but at 1e9-row dimensions with years of versions the rewrite
cost is dominated by rows that can never change again. This variant
exploits the SCD2 state machine: a CLOSED row (deleted_flg=true,
effective_to != open sentinel) is immutable*, so the table is stored
in two parts:

- <table>_closed : append-only — each batch appends just the newly
  closed versions;
- <table>_current: rewritten — bounded by the live key count, not by
  history depth.

One batch is one key-partitioned pass and one write. The current rows
and the staged rows are unioned and windowed by the business key; in
that window every row learns its key's current attribute tuples, and
from them its fate: a current row of a changed key closes, any other
current row stays, and a staged row becomes one fresh version per
current row it differs from (one if its key has none). All rows are
written by a single Spark job (one shuffle), split by destination,
and the driver commits the split through
`Warehouse.append_then_overwrite`: the closing rows are appended to
<table>_closed first, then the new current rows are swapped in as
<table>_current.

Matching follows the reference's SQL (main.py:142-160): keys compare
null-unsafely (a null key never matches, so its staged rows are
always inserted), and an attribute counts as changed only when both
sides are non-null and differ (the `<>` OR-chain).

(*) The reference's tuple-IN close-out (main.py:144-145) can, in a
pathological case, re-stamp a historical row whose full attribute
tuple coincides with a closing current row. The snapshot operator
reproduces that quirk bit-for-bit; this partitioned variant
deliberately uses key-based close-out (the intended semantics, and
what every SCD2 implementation does) — equivalent whenever attribute
tuples don't repeat across versions of the same key, which the golden
and property tests assert for realistic histories.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import open_ended_date
from ..sources.warehouse import Warehouse
from .scd2 import scd2_bootstrap


class PartitionedScd2:
    """SCD2 over a warehouse table stored as <table>_current (rewritten
    per batch) and <table>_closed (append-only)."""

    def __init__(self, wh: Warehouse, table: str, key_cols: Sequence[str], attr_cols: Sequence[str]):
        self.wh = wh
        self.table = table
        self.keys = list(key_cols)
        self.attrs = list(attr_cols)

    @property
    def _cur(self) -> str:
        return f"{self.table}_current"

    @property
    def _closed(self) -> str:
        return f"{self.table}_closed"

    def apply_batch(self, stg: DataFrame, batch_date: Column) -> None:
        if not self.wh.exists(self._cur):
            self.wh.overwrite(self._cur, scd2_bootstrap(stg, batch_date))
            return
        cur = self.wh.read(self._cur).select(
            *self.keys, *self.attrs, "effective_from", "effective_to", "deleted_flg",
            F.lit(True).alias("_is_cur"),
        )
        rows = cur.unionByName(
            stg.select(
                *self.keys,
                *self.attrs,
                batch_date.alias("effective_from"),
                open_ended_date().alias("effective_to"),
                F.lit(False).alias("deleted_flg"),
                F.lit(False).alias("_is_cur"),
            )
        )
        by_key = Window.partitionBy(*self.keys)
        is_cur = F.col("_is_cur")
        # the attribute tuples of the row's key's current rows; none for
        # a null key, which never matches
        keyed = reduce(and_, [F.col(k).isNotNull() for k in self.keys])
        cur_attrs = F.collect_list(F.when(is_cur & keyed, F.struct(*self.attrs))).over(by_key)
        # how many of them the row differs from (null-unsafe `<>`)
        rows = rows.withColumn("_cur_attrs", cur_attrs).withColumn(
            "_n_differ",
            F.size(
                F.filter(
                    "_cur_attrs",
                    lambda d: reduce(or_, [d[a] != F.col(a) for a in self.attrs]),
                )
            ),
        )
        # a current row closes when a staged row of its key differs from
        # any current row of the key; a staged row becomes one fresh
        # version per current row it differs from (the reference's left
        # join), or one when its key has none
        closing = is_cur & F.max(~is_cur & (F.col("_n_differ") > 0)).over(by_key)
        copies = (
            F.when(is_cur | (F.size("_cur_attrs") == 0), 1).otherwise(F.col("_n_differ"))
        )
        out = (
            rows.withColumn("_closing", closing)
            .withColumn("_copy", F.explode(F.array_repeat(F.lit(0), copies)))
            .select(
                *self.keys,
                *self.attrs,
                "effective_from",
                F.when(F.col("_closing"), batch_date)
                .otherwise(F.col("effective_to"))
                .alias("effective_to"),
                (F.col("_closing") | F.col("deleted_flg")).alias("deleted_flg"),
                "_closing",
            )
        )
        self.wh.append_then_overwrite(out, "_closing", self._closed, self._cur)

    def history(self) -> DataFrame:
        """Full history view (current ∪ closed) — same schema as the
        snapshot operator's output."""
        cur = self.wh.read(self._cur)
        if self.wh.exists(self._closed):
            return cur.unionByName(self.wh.read(self._closed))
        return cur

    def current(self) -> DataFrame:
        return self.wh.read(self._cur)
