"""Deletion propagation (round 13): tombstone-based deletes on the
index families' immutable parquet layouts.

The contract pinned here:

1. delete() is EXACT: serving after a delete is bit-identical to an
   index built without the deleted docs — for BM25 that includes
   N/avgdl/idf, which subtract the tombstones' integer (count, sum dl)
   from the stats fold, not just the filtered postings.
2. delete() is idempotent (a second delete of the same ids tombstones
   nothing) and ignores ids that were never indexed.
3. A deleted id stays deleted: absorb() filters it from later batches
   (re-admitting it would double-count stats and violate a takedown).
4. Physical purge is atomic: a FULL compaction on a VERSIONED store
   rewrites the tables without the deleted rows, folds the stats
   down, and commits "tombstones applied" inside the pointer flip by
   not creating a tombstone table for the new version. A bounded
   (through=) compaction carries the tombstones live instead.
5. A rebuild starts from the caller's corpus with no tombstones.
"""

from __future__ import annotations

import pytest

from etl_process_for_fraud_transactions_spark.operators.retrieval import (
    Bm25Index,
)
from etl_process_for_fraud_transactions_spark.sources.warehouse import (
    Warehouse,
)

DOCS = [
    (1, "hash join hash join hash"),
    (2, "hash scan scan scan scan"),
    (3, "merge sort merge sort"),
    (4, "hash"),
    (5, "hash probe build probe"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: int, text: string")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id: int")


def _served(idx):
    return sorted(
        tuple(r) for r in idx.topk({"q": ["hash", "probe"]}).collect()
    )


def test_bm25_delete_exact_parity_idempotence_and_absorb_ban(
    spark, tmp_path
):
    idx = Bm25Index(Warehouse(spark, str(tmp_path / "wh")))
    idx.build(_docs(spark, DOCS))

    report = idx.delete(_ids(spark, [2, 4, 999]))  # 999 never indexed
    assert report == {"deleted_docs": 2, "deleted_dl": 6}

    # EXACT parity: scores equal an index that never held docs 2 and 4
    # (same N, same avgdl, same df -> same idf -> same doubles)
    ref = Bm25Index(Warehouse(spark, str(tmp_path / "whref")))
    ref.build(_docs(spark, [d for d in DOCS if d[0] not in (2, 4)]))
    assert _served(idx) == _served(ref)

    # idempotent: nothing tombstoned twice, serving unchanged
    again = idx.delete(_ids(spark, [2, 4]))
    assert again == {"deleted_docs": 0, "deleted_dl": 0}
    assert _served(idx) == _served(ref)

    # a deleted id stays deleted: absorb filters it out...
    idx.absorb(_docs(spark, [(2, "hash hash hash probe")]))
    assert _served(idx) == _served(ref)
    # ...while a fresh id in the same shape of batch still lands
    idx.absorb(_docs(spark, [(6, "hash hash hash probe")]))
    ref.absorb(_docs(spark, [(6, "hash hash hash probe")]))
    assert _served(idx) == _served(ref)

    # a rebuild is the caller's statement of record: tombstones reset
    idx.build(_docs(spark, DOCS))
    fresh = Bm25Index(Warehouse(spark, str(tmp_path / "whf")))
    fresh.build(_docs(spark, DOCS))
    assert _served(idx) == _served(fresh)


def test_bm25_versioned_purge_is_atomic_in_the_pointer_flip(
    spark, tmp_path
):
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = Bm25Index(wh, partitioned=True, versioned=True)
    idx.build(_docs(spark, DOCS[:3]))
    idx.absorb(_docs(spark, DOCS[3:]), batch=1)

    idx.delete(_ids(spark, [2]))
    ref = Bm25Index(Warehouse(spark, str(tmp_path / "whref")))
    ref.build(_docs(spark, [d for d in DOCS if d[0] != 2]))
    assert _served(idx) == _served(ref)

    # bounded compaction: tombstones carry to the new version LIVE
    v0 = idx.store.current()
    report = idx.compact(through=0)
    assert report["purged"] is False
    assert idx.store.current() == v0 + 1
    assert wh.exists(idx.store.tombstones(v0 + 1))
    assert _served(idx) == _served(ref)
    # doc 2's postings are still physically present (filtered only)
    assert (
        wh.read(idx.postings_table).filter("doc_id = 2").count() > 0
    )

    # FULL compaction: physical purge behind one pointer flip
    report = idx.compact()
    assert report["purged"] is True
    v2 = idx.store.current()
    assert not wh.exists(idx.store.tombstones(v2))
    assert wh.read(idx.postings_table).filter("doc_id = 2").count() == 0
    assert wh.read(idx.doclens_table).filter("doc_id = 2").count() == 0
    # stats folded down exactly: one row, minus doc 2's dl
    stats = wh.read(idx.stats_table).collect()
    assert len(stats) == 1
    assert stats[0]["n_docs"] == 4
    assert stats[0]["sum_dl"] == sum(
        len(t.split()) for i, t in DOCS if i != 2
    )
    assert _served(idx) == _served(ref)

    # the old versions' tombstones are GC'd with them
    removed = idx.prune_versions()
    assert any("tombstones" in t for t in removed)
    # deleting the already-purged id again is a no-op (not an error)
    assert idx.delete(_ids(spark, [2]))["deleted_docs"] == 0
    # and the id may legitimately be re-absorbed after the purge
    idx.absorb(_docs(spark, [(2, "hash scan scan scan scan")]), batch=9)
    full = Bm25Index(Warehouse(spark, str(tmp_path / "whfull")))
    full.build(_docs(spark, DOCS))
    assert _served(idx) == _served(full)


def test_delete_gate_stats_ride_the_checkpoint_materialization(
    spark, tmp_path, monkeypatch
):
    """r17 (VERDICT r16 item 5): delete()'s gate stats come from
    OBSERVED METRICS on the localCheckpoint materialization — no
    separate count()/first() action (3 sequential jobs -> 2; a no-op
    delete is one job). Pin: with every driver-side action method
    poisoned, delete() must still return exact stats and land the
    tombstones — if a refactor reintroduces a second action, this
    fails loudly instead of silently re-adding the job."""
    from pyspark.sql import DataFrame

    idx = Bm25Index(Warehouse(spark, str(tmp_path / "wh")))
    idx.build(_docs(spark, DOCS))

    def _boom(name):
        def poisoned(self, *a, **k):
            raise AssertionError(
                f"DataFrame.{name} called inside delete() — the gate "
                "stats must ride the checkpoint's observed metrics"
            )
        return poisoned

    with monkeypatch.context() as m:
        for action in ("count", "first", "head", "collect", "take"):
            m.setattr(DataFrame, action, _boom(action))
        report = idx.delete(_ids(spark, [2, 999]))
    assert report == {"deleted_docs": 1, "deleted_dl": 5}
    # and the tombstones actually landed (delete filters doc 2's rows)
    served = _served(idx)
    assert all(r[2] != 2 for r in served)


def test_bm25_delete_duplicate_occurrences_all_tombstoned(spark, tmp_path):
    """The caller-owns-duplicates contract: an id absorbed twice has
    two doclens occurrences — delete() tombstones BOTH (stats
    subtract both), serving drops every copy."""
    idx = Bm25Index(Warehouse(spark, str(tmp_path / "wh")))
    idx.build(_docs(spark, DOCS))
    idx.absorb(_docs(spark, [(4, "probe probe")]))  # duplicate id 4

    report = idx.delete(_ids(spark, [4]))
    assert report["deleted_docs"] == 2
    assert report["deleted_dl"] == 1 + 2
    ref = Bm25Index(Warehouse(spark, str(tmp_path / "whref")))
    ref.build(_docs(spark, [d for d in DOCS if d[0] != 4]))
    assert _served(idx) == _served(ref)


# ------------------------------------------------------- vector stores


def _vec_corpus(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.9, 0.1]),
            (5, [0.0, 0.0, 1.0]),
            (6, [-1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )


def _vec_ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "vec_id: long")


def _ml_available():
    try:
        import numpy  # noqa: F401
        from pyspark.ml.clustering import KMeans  # noqa: F401

        return True
    except ImportError:  # pragma: no cover
        return False


pytest_ml = pytest.mark.skipif(
    not _ml_available(), reason="pyspark.ml/numpy unavailable"
)


@pytest_ml
def test_ivf_delete_filter_ban_purge_and_retrain_carry(spark, tmp_path):
    import os

    from etl_process_for_fraud_transactions_spark.operators.similarity import (
        IvfIndex,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = IvfIndex(wh, partitioned=True, versioned=True)
    idx.build(_vec_corpus(spark), n_cells=3, seed=42)
    idx.absorb(
        spark.createDataFrame(
            [(7, [0.95, 0.05, 0.0])], "vec_id long, embedding array<double>"
        ),
        batch=1,
    )
    q = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0])], "query_id long, query_vec array<double>"
    )

    def served_ids():
        return {
            r["vec_id"] for r in idx.topk(q, k=10, nprobe=3).collect()
        }

    assert {2, 7} <= served_ids()
    assert idx.delete(_vec_ids(spark, [2, 7, 999])) == {"deleted_ids": 2}
    assert served_ids() & {2, 7} == set()
    # idempotent; the ban holds across absorb
    assert idx.delete(_vec_ids(spark, [2]))["deleted_ids"] == 0
    idx.absorb(
        spark.createDataFrame(
            [(2, [0.9, 0.1, 0.0])], "vec_id long, embedding array<double>"
        ),
        batch=2,
    )
    assert 2 not in served_ids()

    # retrain carries live tombstones to the new version
    idx.retrain(n_cells=3, seed=7)
    assert served_ids() & {2, 7} == set()

    # bounded compaction carries them too (no purge)
    report = idx.compact(through=0)
    assert report["purged"] is False
    assert served_ids() & {2, 7} == set()
    v_bounded = idx.store.current()
    assert wh.exists(f"{idx.name}_tombstones_v{v_bounded}")

    # FULL compaction purges rows + tombstones behind the flip
    report = idx.compact()
    assert report["purged"] is True
    v = idx.store.current()
    assert not wh.exists(f"{idx.name}_tombstones_v{v}")
    assert (
        wh.read(idx.vectors_table).filter("vec_id in (2, 7)").count() == 0
    )
    assert served_ids() & {2, 7} == set()
    # old versions' tombstones GC with them
    removed = idx.prune_versions()
    assert any("tombstones" in t for t in removed)
    # post-purge, the id may legitimately return
    idx.absorb(
        spark.createDataFrame(
            [(2, [0.9, 0.1, 0.0])], "vec_id long, embedding array<double>"
        ),
        batch=9,
    )
    assert 2 in served_ids()


@pytest_ml
def test_pq_delete_filter_ban_and_versioned_purge(spark, tmp_path):
    from etl_process_for_fraud_transactions_spark.operators.pq import (
        PqIndex,
    )

    import random

    rnd = random.Random(3)
    rows = [
        (i, [10.0 * (i % 2) + rnd.gauss(0, 1) for _ in range(8)])
        for i in range(30)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="dpq", partitioned=True, versioned=True)
    idx.build(corpus, m=4, n_codes=8, seed=2, max_iter=10, n_cells=2)
    idx.absorb(
        spark.createDataFrame(
            [(100, rows[0][1])], "vec_id long, embedding array<double>"
        ),
        batch=1,
    )
    q = spark.createDataFrame(
        [(1, rows[0][1])], "query_id long, query_vec array<double>"
    )

    def served_ids():
        return {
            r["vec_id"] for r in idx.topk(q, k=30, nprobe=2).collect()
        }

    assert {0, 100} <= served_ids()
    assert idx.delete(_vec_ids(spark, [0, 100, 999])) == {"deleted_ids": 2}
    assert served_ids() & {0, 100} == set()
    assert idx.delete(_vec_ids(spark, [0]))["deleted_ids"] == 0
    # a banned id plus a fresh one: only the fresh row lands
    idx.absorb(
        spark.createDataFrame(
            [(0, rows[0][1]), (200, rows[2][1])],
            "vec_id long, embedding array<double>",
        ),
        batch=2,
    )
    assert 0 not in served_ids()
    assert 200 in served_ids()

    # bounded compaction (epoch 2 stays): tombstones carry live
    report = idx.compact(through=1)
    assert report["purged"] is False
    assert served_ids() & {0, 100} == set()

    report = idx.compact()
    assert report["purged"] is True
    v, _ = idx.store.version_row()
    assert not wh.exists(f"{idx.name}_tombstones_v{v}")
    assert (
        wh.read(idx.codes_table).filter("vec_id in (0, 100)").count() == 0
    )
    assert served_ids() & {0, 100} == set()
    idx.absorb(
        spark.createDataFrame(
            [(0, rows[0][1])], "vec_id long, embedding array<double>"
        ),
        batch=9,
    )
    assert 0 in served_ids()


# ------------------------------------------------------------- NearDup


def test_neardup_delete_unblocks_near_duplicates_and_purges(
    spark, tmp_path
):
    from etl_process_for_fraud_transactions_spark.operators.dedup_incremental import (
        NearDupIndex,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, "cook rice and beans with garlic in the small red kitchen pot"),
        ],
        "doc_id long, text string",
    )
    near = spark.createDataFrame(
        [(100, base.replace("today", "tomorrow"))],
        "doc_id long, text string",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = NearDupIndex(wh, partitioned=True)
    idx.bootstrap(corpus)

    # before the takedown, the near-dup of doc 1 is rejected
    assert idx.filter_new(near, threshold=0.5).count() == 0
    assert idx.delete(
        spark.createDataFrame([(1,), (999,)], "doc_id: long")
    ) == {"deleted_ids": 1}
    # the taken-down doc no longer blocks its near-duplicates
    kept = idx.filter_new(near, threshold=0.5)
    assert [r["doc_id"] for r in kept.collect()] == [100]
    # idempotent; a deleted id cannot be re-indexed while tombstoned
    assert idx.delete(
        spark.createDataFrame([(1,)], "doc_id: long")
    )["deleted_ids"] == 0
    idx.absorb(
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        batch=1,
    )
    assert (
        wh.read(idx.buckets_table).filter("doc_id = 1").count() == 0
        or idx.filter_new(near, threshold=0.5).count() == 1
    )

    # FULL compaction physically purges signatures + tombstones
    # (sound without a version flip — see delete() docstring)
    report = idx.compact()
    assert report["purged"] is True
    assert not wh.exists(idx.tombstones_table)
    assert wh.read(idx.buckets_table).filter("doc_id = 1").count() == 0
    assert wh.read(idx.shingles_table).filter("doc_id = 1").count() == 0
    # post-purge, the id may legitimately be re-indexed
    idx.absorb(
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        batch=2,
    )
    assert idx.filter_new(near, threshold=0.5).count() == 0

    # re-bootstrap resets tombstones
    idx.delete(spark.createDataFrame([(2,)], "doc_id: long"))
    assert wh.exists(idx.tombstones_table)
    idx.bootstrap(corpus)
    assert not wh.exists(idx.tombstones_table)


def test_delete_on_day_zero_stores_reports_zero(spark, tmp_path):
    """Deleting from a store with no indexed data (empty build /
    fresh warehouse) reports zero instead of raising on the file-less
    data table."""
    from etl_process_for_fraud_transactions_spark.operators.dedup_incremental import (
        NearDupIndex,
    )
    from etl_process_for_fraud_transactions_spark.operators.similarity import (
        IvfIndex,
    )

    bm = Bm25Index(Warehouse(spark, str(tmp_path / "whb")))
    bm.build(spark.createDataFrame([], "doc_id: int, text: string"))
    assert bm.delete(_ids(spark, [1])) == {
        "deleted_docs": 0,
        "deleted_dl": 0,
    }

    nd = NearDupIndex(Warehouse(spark, str(tmp_path / "whn")))
    nd.bootstrap(spark.createDataFrame([], "doc_id: long, text: string"))
    assert nd.delete(
        spark.createDataFrame([(1,)], "doc_id: long")
    ) == {"deleted_ids": 0}

    ivf = IvfIndex(Warehouse(spark, str(tmp_path / "whi")))
    assert ivf.delete(_vec_ids(spark, [1])) == {"deleted_ids": 0}


def test_tombstone_broadcast_gate(spark, tmp_path):
    """The serving filter never FORCES an unbounded broadcast: under
    the at-rest byte cap the anti-join is hinted broadcast; over it
    the hint is omitted and Catalyst decides — identical rows either
    way (the NearDupIndex broadcast_max_rows tradition)."""
    from etl_process_for_fraud_transactions_spark.operators.tombstones import (
        anti_join_tombstones,
        table_bytes,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(
        "t_tombs", spark.createDataFrame([(2,), (4,)], "doc_id: int")
    )
    df = spark.createDataFrame([(i,) for i in range(6)], "doc_id: int")
    assert table_bytes(wh.path("t_tombs")) > 0

    hinted = anti_join_tombstones(df, wh, "t_tombs", "doc_id")
    gated = anti_join_tombstones(df, wh, "t_tombs", "doc_id", max_bytes=0)
    want = [0, 1, 3, 5]
    assert sorted(r["doc_id"] for r in hinted.collect()) == want
    assert sorted(r["doc_id"] for r in gated.collect()) == want
    # the hint is present under the cap, absent over it
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in gated._jdf.queryExecution().analyzed().toString()
    # missing table: literally the same frame back, no plan change
    assert anti_join_tombstones(df, wh, "no_such", "doc_id") is df


# ------------------------------------------------------ property pin


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_VOCAB = ["hash", "join", "scan", "probe", "merge", "sort", "spill"]

_corpus_strategy = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=6).map(
        " ".join
    ),
    min_size=2,
    max_size=10,
)
_delete_mask = st.lists(st.booleans(), min_size=10, max_size=10)


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(_corpus_strategy, _delete_mask)
def test_bm25_delete_equals_rebuild_without(spark, tmp_path_factory, texts, mask):
    """Model pin for the tombstone arithmetic: for ANY corpus and ANY
    delete set (including ids never indexed and the everything-deleted
    corner), post-delete serving is tuple-identical to an index built
    without the deleted docs — scores included, so a drift anywhere in
    the (count, sum dl) stats subtraction or the postings filter fails
    the property."""
    docs = [(i, t) for i, t in enumerate(texts)]
    deleted = [i for i, m in enumerate(mask) if m]
    base = tmp_path_factory.mktemp("bm25prop")

    idx = Bm25Index(Warehouse(spark, str(base / "a")))
    idx.build(_docs(spark, docs))
    idx.delete(_ids(spark, deleted))

    ref = Bm25Index(Warehouse(spark, str(base / "b")))
    ref.build(
        _docs(spark, [d for d in docs if d[0] not in deleted])
    )
    queries = {"q1": ["hash", "probe"], "q2": ["merge", "scan", "sort"]}
    assert sorted(
        tuple(r) for r in idx.topk(queries, topk=5).collect()
    ) == sorted(tuple(r) for r in ref.topk(queries, topk=5).collect())
