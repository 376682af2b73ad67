"""Absorb-during-rebuild writer race (VERDICT r15 #1).

Reader-vs-writer races are closed by single pointer-row reads, and
concurrent absorbs are append-safe between themselves — but an absorb
that lands AFTER a versioned rebuild (build / retrain / compact)
snapshots version N and BEFORE its pointer flip writes rows into
tables the flip abandons: silent data loss. The guard
(`sources.warehouse.guard_concurrent_writes`) re-checks the current
version's file inventory immediately before the flip and refuses
LOUDLY, leaving the pointer on the version where the late write is
fully visible; re-running the maintenance op converges.

These tests interleave a REAL second writer mid-rebuild by hooking a
function the rebuild calls between its snapshot and its flip, and
assert the contract end to end: raise, nothing lost, re-run converges.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401

from etl_process_for_fraud_transactions_spark.sources.warehouse import (
    ConcurrentWriteError,
    Warehouse,
    guard_concurrent_writes,
    table_inventory,
)


def test_inventory_guard_unit(spark, tmp_path):
    """table_inventory lists data files only (no _SUCCESS/_temporary);
    guard_concurrent_writes raises exactly when files were added."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    wh.overwrite("t", df)
    inv = table_inventory(wh, ("t", "missing_table"))
    assert inv and all(
        not p.rsplit("/", 1)[-1].startswith(("_", ".")) for p in inv
    )
    # unchanged inventory: no raise
    guard_concurrent_writes(wh, ("t",), inv, "unit")
    wh.append("t", df)
    with pytest.raises(ConcurrentWriteError) as ei:
        guard_concurrent_writes(wh, ("t",), inv, "unit-op")
    assert "unit-op" in str(ei.value)
    # a SHRUNK inventory (files removed, none added) is not a late write
    now = table_inventory(wh, ("t",))
    guard_concurrent_writes(
        wh, ("t",), now | {"t/ghost.parquet"}, "unit"
    )


def test_bm25_build_refuses_concurrent_absorb(spark, tmp_path, monkeypatch):
    """Two writers on one versioned Bm25Index: writer B absorbs epoch 7
    while writer A's rebuild is between snapshot and flip. The flip
    must refuse; the pointer stays on v1 where epoch 7 serves."""
    from etl_process_for_fraud_transactions_spark.operators import (
        retrieval as R,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    a = R.Bm25Index(wh, partitioned=True, versioned=True)
    a.build(
        spark.createDataFrame(
            [(1, "hash join"), (2, "sort merge")],
            "doc_id long, text string",
        )
    )
    b = R.Bm25Index(wh, partitioned=True, versioned=True)

    orig = R.Bm25Index._batch_stats
    fired = []

    def hook(self, dl_t, batch):
        # first call happens inside writer A's rebuild, after its
        # inventory snapshot — the realistic interleave point
        if not fired:
            fired.append(True)
            b.absorb(
                spark.createDataFrame(
                    [(7, "hash stream late")], "doc_id long, text string"
                ),
                batch=7,
            )
        return orig(self, dl_t, batch)

    monkeypatch.setattr(R.Bm25Index, "_batch_stats", hook)
    with pytest.raises(ConcurrentWriteError):
        a.build(
            spark.createDataFrame(
                [(1, "hash join"), (3, "window group")],
                "doc_id long, text string",
            )
        )
    monkeypatch.setattr(R.Bm25Index, "_batch_stats", orig)

    # nothing lost: the pointer never flipped and epoch 7 serves
    assert wh.read(a.version_table).collect()[0]["version"] == 1
    got = {r.doc_id for r in a.topk({"q": ["hash"]}, topk=10).collect()}
    assert 7 in got
    # a clean re-run (corpus now includes the late doc) converges to v2
    a.build(
        spark.createDataFrame(
            [(1, "hash join"), (3, "window group"), (7, "hash stream late")],
            "doc_id long, text string",
        )
    )
    assert wh.read(a.version_table).collect()[0]["version"] == 2
    got = {r.doc_id for r in a.topk({"q": ["hash"]}, topk=10).collect()}
    assert got == {1, 7}


def test_bm25_compact_refuses_then_rerun_converges(
    spark, tmp_path, monkeypatch
):
    """Mid-compaction absorb: refuse the flip, then a plain re-run of
    compact() picks the late epoch up — it is never silently dropped."""
    from etl_process_for_fraud_transactions_spark.operators import (
        epochs as E,
    )
    from etl_process_for_fraud_transactions_spark.operators import (
        retrieval as R,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    a = R.Bm25Index(wh, partitioned=True, versioned=True)
    a.build(
        spark.createDataFrame(
            [(1, "hash join")], "doc_id long, text string"
        )
    )
    a.absorb(
        spark.createDataFrame([(2, "hash sort")], "doc_id long, text string"),
        batch=1,
    )
    b = R.Bm25Index(wh, partitioned=True, versioned=True)

    orig = E.collapse_epochs
    fired = []

    def hook(*args, **kwargs):
        if not fired:
            fired.append(True)
            b.absorb(
                spark.createDataFrame(
                    [(9, "hash late epoch")], "doc_id long, text string"
                ),
                batch=2,
            )
        return orig(*args, **kwargs)

    monkeypatch.setattr(E, "collapse_epochs", hook)
    with pytest.raises(ConcurrentWriteError):
        a.compact()
    monkeypatch.setattr(E, "collapse_epochs", orig)

    assert wh.read(a.version_table).collect()[0]["version"] == 1
    got = {r.doc_id for r in a.topk({"q": ["hash"]}, topk=10).collect()}
    assert got == {1, 2, 9}
    # re-run converges: v2 carries ALL epochs including the late one
    out = a.compact()
    assert wh.read(a.version_table).collect()[0]["version"] == 2
    assert out["compacted_through"] == 2
    got = {r.doc_id for r in a.topk({"q": ["hash"]}, topk=10).collect()}
    assert got == {1, 2, 9}


def test_ivf_retrain_refuses_then_rerun_converges(
    spark, tmp_path, monkeypatch
):
    """Mid-retrain absorb on a versioned IvfIndex: the pointer flip
    refuses; v1 still serves the late vectors; re-running retrain
    re-shards a corpus that includes them."""
    pytest.importorskip("numpy")
    from etl_process_for_fraud_transactions_spark.operators import (
        similarity as S,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    a = S.IvfIndex(wh, partitioned=True, versioned=True)
    base = spark.createDataFrame(
        [(i, [1.0, i * 0.001, 0.0]) for i in range(6)]
        + [(10 + i, [i * 0.001, 1.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    a.build(base, n_cells=2, seed=42)
    b = S.IvfIndex(wh, partitioned=True, versioned=True)

    orig = S.ivf_centroids
    fired = []

    def hook(*args, **kwargs):
        if not fired:
            fired.append(True)
            b.absorb(
                spark.createDataFrame(
                    [(100, [0.0, 0.0, 1.0])],
                    "vec_id long, embedding array<double>",
                ),
                batch=1,
            )
        return orig(*args, **kwargs)

    monkeypatch.setattr(S, "ivf_centroids", hook)
    with pytest.raises(ConcurrentWriteError):
        a.retrain(n_cells=2, seed=42)
    monkeypatch.setattr(S, "ivf_centroids", orig)

    assert wh.read(a.version_table).collect()[0]["version"] == 1
    q = spark.createDataFrame(
        [(0, [0.0, 0.0, 1.0])], "query_id long, query_vec array<double>"
    )
    got = {r.vec_id for r in a.topk(q, k=1, nprobe=2).collect()}
    assert got == {100}, "late vector must still serve from v1"
    # re-run converges: v2's re-shard includes the late vector
    a.retrain(n_cells=2, seed=42)
    assert wh.read(a.version_table).collect()[0]["version"] == 2
    got = {r.vec_id for r in a.topk(q, k=1, nprobe=2).collect()}
    assert got == {100}


def test_pq_compact_refuses_concurrent_absorb(spark, tmp_path, monkeypatch):
    """The PqIndex flip sites share the same guard: a mid-compaction
    absorb refuses the flip and the re-run converges."""
    pytest.importorskip("numpy")
    from etl_process_for_fraud_transactions_spark.operators import (
        epochs as E,
    )
    from etl_process_for_fraud_transactions_spark.operators import (
        pq as P,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    a = P.PqIndex(wh, partitioned=True, versioned=True)
    base = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0, 0.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    a.build(base, m=2, n_codes=4, seed=42)
    a.absorb(
        spark.createDataFrame(
            [(50, [2.0, 4.0, 1.0, 0.0])], "vec_id long, embedding array<double>"
        ),
        batch=1,
    )
    b = P.PqIndex(wh, partitioned=True, versioned=True)

    orig = E.collapse_epochs
    fired = []

    def hook(*args, **kwargs):
        if not fired:
            fired.append(True)
            b.absorb(
                spark.createDataFrame(
                    [(60, [0.0, 1.0, 2.0, 3.0])],
                    "vec_id long, embedding array<double>",
                ),
                batch=2,
            )
        return orig(*args, **kwargs)

    monkeypatch.setattr(E, "collapse_epochs", hook)
    with pytest.raises(ConcurrentWriteError):
        a.compact()
    monkeypatch.setattr(E, "collapse_epochs", orig)

    assert wh.read(a.version_table).collect()[0]["version"] == 1
    out = a.compact()
    assert wh.read(a.version_table).collect()[0]["version"] == 2
    assert out["compacted_through"] == 2
    ids = {
        r["vec_id"]
        for r in wh.read(a.store.tables(2)[0]).select("vec_id").collect()
    }
    assert {50, 60} <= ids


# ---------------------------------------------------------------------------
# Maintenance-vs-maintenance (round 16): two compacts/retrains racing.
# The file-inventory guard cannot see a competing maintainer (it never
# writes into the CURRENT version's tables) — the pointer-unmoved
# guard does. The hook runs a REAL competing op to completion between
# the victim's snapshot and flip.
# ---------------------------------------------------------------------------

from etl_process_for_fraud_transactions_spark.sources.warehouse import (  # noqa: E402
    ConcurrentMaintenanceError,
)


def test_bm25_compact_refuses_competing_compact(spark, tmp_path, monkeypatch):
    from etl_process_for_fraud_transactions_spark.operators import (
        epochs as E,
    )
    from etl_process_for_fraud_transactions_spark.operators import (
        retrieval as R,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    a = R.Bm25Index(wh, partitioned=True, versioned=True)
    a.build(
        spark.createDataFrame(
            [(1, "hash join")], "doc_id long, text string"
        )
    )
    a.absorb(
        spark.createDataFrame([(2, "hash sort")], "doc_id long, text string"),
        batch=1,
    )
    b = R.Bm25Index(wh, partitioned=True, versioned=True)

    orig = E.collapse_epochs
    fired = []

    def hook(*args, **kwargs):
        if not fired:
            fired.append(True)
            b.compact()  # the competing maintainer wins the flip
        return orig(*args, **kwargs)

    monkeypatch.setattr(E, "collapse_epochs", hook)
    with pytest.raises(ConcurrentMaintenanceError):
        a.compact()
    monkeypatch.setattr(E, "collapse_epochs", orig)

    # B's commit survives: pointer on v2, corpus intact
    assert wh.read(a.version_table).collect()[0]["version"] == 2
    got = {r.doc_id for r in a.topk({"q": ["hash"]}, topk=10).collect()}
    assert got == {1, 2}
    # the loser re-runs against the winner's version and converges
    a.absorb(
        spark.createDataFrame([(3, "hash next")], "doc_id long, text string"),
        batch=2,
    )
    a.compact()
    assert wh.read(a.version_table).collect()[0]["version"] == 3
    got = {r.doc_id for r in a.topk({"q": ["hash"]}, topk=10).collect()}
    assert got == {1, 2, 3}


def test_ivf_retrain_refuses_competing_retrain(spark, tmp_path, monkeypatch):
    pytest.importorskip("numpy")
    from etl_process_for_fraud_transactions_spark.operators import (
        similarity as S,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    a = S.IvfIndex(wh, partitioned=True, versioned=True)
    base = spark.createDataFrame(
        [(i, [1.0, i * 0.001, 0.0]) for i in range(6)]
        + [(10 + i, [i * 0.001, 1.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    a.build(base, n_cells=2, seed=42)
    b = S.IvfIndex(wh, partitioned=True, versioned=True)

    # hook the TRAINING stage (before the victim's first v2 write):
    # the competing retrain completes while the victim is still
    # computing — the realistic long-phase interleave the early
    # pointer check exists for. (An overlap inside the write window
    # itself is the documented single-maintainer residual caveat —
    # see guard_pointer_unmoved.)
    orig = S.ivf_build
    fired = []

    def hook(*args, **kwargs):
        if not fired:
            fired.append(True)
            b.retrain(n_cells=2, seed=7)  # competing retrain wins
        return orig(*args, **kwargs)

    monkeypatch.setattr(S, "ivf_build", hook)
    with pytest.raises(ConcurrentMaintenanceError):
        a.retrain(n_cells=2, seed=42)
    monkeypatch.setattr(S, "ivf_build", orig)

    assert wh.read(a.version_table).collect()[0]["version"] == 2
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    assert a.topk(q, k=3, nprobe=2).count() == 3
    # re-run converges off the winner's version
    a.retrain(n_cells=2, seed=42)
    assert wh.read(a.version_table).collect()[0]["version"] == 3


def test_versioned_rebuild_refuses_competing_rebuild(
    spark, tmp_path, monkeypatch
):
    """build()-vs-build() on a fresh Bm25Index: the slower builder's
    flip must refuse when the faster one committed v1 first (both
    target the SAME v1 table paths, so last-write-wins here would be
    interleaved corruption, not just a lost update)."""
    from etl_process_for_fraud_transactions_spark.operators import (
        retrieval as R,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    a = R.Bm25Index(wh, partitioned=True, versioned=True)
    b = R.Bm25Index(wh, partitioned=True, versioned=True)

    orig = R.Bm25Index._batch_stats
    fired = []

    def hook(self, dl_t, batch):
        if not fired:
            fired.append(True)
            b.build(
                spark.createDataFrame(
                    [(9, "fast builder")], "doc_id long, text string"
                )
            )
        return orig(self, dl_t, batch)

    monkeypatch.setattr(R.Bm25Index, "_batch_stats", hook)
    with pytest.raises(ConcurrentMaintenanceError):
        a.build(
            spark.createDataFrame(
                [(1, "slow builder")], "doc_id long, text string"
            )
        )
    monkeypatch.setattr(R.Bm25Index, "_batch_stats", orig)
    assert wh.read(a.version_table).collect()[0]["version"] == 1
