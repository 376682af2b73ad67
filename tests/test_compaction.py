"""Epoch-partition compaction (operators/epochs.py + the per-family
compact() methods): the small-files maintenance rewrite and its
replay-watermark contract.

The invariants pinned here, for each index family:

1. compact() is a pure LAYOUT rewrite — serving output is
   bit-identical before and after, the leading pruning level (cell /
   term bucket) survives, and the data-file count drops.
2. The replay watermark makes it replay-safe: after compaction, a
   re-offered epoch <= compacted_through is a NO-OP (its rows already
   live in the __compacted__ partition), a NEW epoch still absorbs,
   and a non-integer epoch id fails loudly instead of guessing.
3. Crash ordering (non-versioned): the watermark persists BEFORE the
   data swap — the watermark-only intermediate state (simulated here)
   already serves correctly and replays already skip.
4. Versioned stores commit collapsed tables + watermark in one
   pointer flip; the old version stays on disk until prune_versions.
"""

import pytest

from etl_process_for_fraud_transactions_spark.operators import epochs as E


def _ivf(spark, tmp_path, **kw):
    from etl_process_for_fraud_transactions_spark.operators import (
        similarity as S,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(wh, partitioned=True, **kw)
    corpus = spark.createDataFrame(
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
    idx.build(corpus, n_cells=3, seed=42)
    return wh, idx


def _epoch(spark, ids):
    return spark.createDataFrame(
        [(i, [1.0, 0.01 * i, 0.0]) for i in ids],
        "vec_id long, embedding array<double>",
    )


def _topk_snapshot(idx, spark):
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0]), (200, [0.0, 1.0, 0.05])],
        "query_id long, query_vec array<double>",
    )
    return sorted(
        (r.query_id, r.rank, r.vec_id, round(r.cos_sim, 9))
        for r in idx.topk(queries, k=3, nprobe=3).collect()
    )


def test_epoch_watermark_helpers():
    assert E.epoch_watermark(["1", "7", "3"]) == 7
    assert E.epoch_watermark(["__build__", "__compacted__"]) is None
    assert E.epoch_watermark(["__build__", "2"], prev=9) == 9
    assert E.epoch_watermark([], prev=4) == 4
    with pytest.raises(ValueError, match="not an integer"):
        E.epoch_watermark(["2024-01-01"])
    assert E.replay_skippable(3, 3) and E.replay_skippable("2", 3)
    assert not E.replay_skippable(4, 3)
    assert not E.replay_skippable("anything", None)
    with pytest.raises(ValueError, match="compacted through"):
        E.replay_skippable("b1", 3)
    with pytest.raises(ValueError, match="reserved"):
        E.guard_sentinel_batch("__compacted__")


def test_ivf_compact_layout_replay_and_crash_window(spark, tmp_path):
    import os

    wh, idx = _ivf(spark, tmp_path)
    for b in (1, 2, 3, 4):
        idx.absorb(_epoch(spark, [100 + b]), batch=b)
    before = _topk_snapshot(idx, spark)
    rows_before = sorted(
        r.vec_id for r in wh.read(idx.vectors_table).collect()
    )
    files_before = E.parquet_file_count(wh.path(idx.vectors_table))

    report = idx.compact()
    # layout: fewer files, cell level intact, one __compacted__ stamp
    assert report["compacted_through"] == 4
    assert report["files_after"] < files_before
    assert report["files_after"] <= 3  # one file per occupied cell
    cells = os.listdir(wh.path(idx.vectors_table))
    batch_dirs = {
        d
        for c in cells
        if c.startswith("ivf_cell=")
        for d in os.listdir(os.path.join(wh.path(idx.vectors_table), c))
        if d.startswith("__batch=")
    }
    assert batch_dirs == {"__batch=__compacted__"}
    # serving: bit-identical rows and scores
    assert _topk_snapshot(idx, spark) == before
    assert (
        sorted(r.vec_id for r in wh.read(idx.vectors_table).collect())
        == rows_before
    )

    # replayed epoch <= watermark: NO-OP (no duplicates, no new dirs)
    idx.absorb(_epoch(spark, [103]), batch=3)
    assert (
        sorted(r.vec_id for r in wh.read(idx.vectors_table).collect())
        == rows_before
    )
    # fresh epoch > watermark still absorbs
    idx.absorb(_epoch(spark, [105]), batch=5)
    assert 105 in {r.vec_id for r in wh.read(idx.vectors_table).collect()}
    # second compaction folds it in monotonically
    report2 = idx.compact()
    assert report2["compacted_through"] == 5
    idx.absorb(_epoch(spark, [105]), batch=5)  # replay again: no-op
    assert (
        len([r for r in wh.read(idx.vectors_table).collect() if r.vec_id == 105])
        == 1
    )
    # non-integer epoch id on a compacted store fails loudly
    with pytest.raises(ValueError, match="compacted through"):
        idx.absorb(_epoch(spark, [106]), batch="b6")
    # reserved stamps always refused
    with pytest.raises(ValueError, match="reserved"):
        idx.absorb(_epoch(spark, [106]), batch="__build__")

    # crash window: watermark persisted, swap never ran — simulate by
    # hand-writing the watermark ahead of the data (exactly compact()'s
    # first step), then replaying an already-present epoch
    meta = idx._stored_meta
    idx._write_meta(
        meta["n_cells"], meta["dim"], compacted_through=99
    )
    snap = sorted(r.vec_id for r in wh.read(idx.vectors_table).collect())
    idx.absorb(_epoch(spark, [105]), batch=5)  # skipped: <= 99
    assert (
        sorted(r.vec_id for r in wh.read(idx.vectors_table).collect())
        == snap
    )
    assert _topk_snapshot(idx, spark) is not None  # still serves

    # a flat store has no epochs to compact
    from etl_process_for_fraud_transactions_spark.operators import (
        similarity as S,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    flat = S.IvfIndex(Warehouse(spark, str(tmp_path / "whflat")))
    flat.build(_epoch(spark, [1, 2, 3]), n_cells=2, seed=1)
    with pytest.raises(ValueError, match="partitioned"):
        flat.compact()


def test_ivf_versioned_compact_flips_pointer_and_retrain_carries_wm(
    spark, tmp_path
):
    import os

    wh, idx = _ivf(spark, tmp_path, versioned=True)
    for b in (1, 2):
        idx.absorb(_epoch(spark, [100 + b]), batch=b)
    before = _topk_snapshot(idx, spark)
    v0 = idx.store.current()

    report = idx.compact()
    assert idx.store.current() == v0 + 1
    assert idx.store.watermark() == 2 == report["compacted_through"]
    # old version intact until pruned (lagging readers)
    assert os.path.isdir(wh.path(f"{idx.name}_vectors_v{v0}"))
    assert _topk_snapshot(idx, spark) == before
    idx.absorb(_epoch(spark, [101]), batch=1)  # replay: no-op
    n = wh.read(idx.vectors_table).count()
    assert n == 8  # 6 build + 2 absorbed, no duplicate

    # retrain PRESERVES the watermark (stamps survive the re-shard)
    idx.retrain(n_cells=3, seed=7)
    assert idx.store.watermark() == 2
    idx.absorb(_epoch(spark, [102]), batch=2)  # still a replay
    assert wh.read(idx.vectors_table).count() == 8

    removed = idx.prune_versions()
    assert removed  # superseded versions collected

    # build() resets the watermark: fresh lineage (the rebuild commits
    # the next version with no watermark)
    idx.build(_epoch(spark, [1, 2, 3, 4]), n_cells=2, seed=1)
    assert idx.store.watermark() is None
    idx.absorb(_epoch(spark, [50]), batch=1)  # epoch ids start over
    assert 50 in {r.vec_id for r in wh.read(idx.vectors_table).collect()}


# ---------------------------------------------------------------- BM25


def _bm25(spark, tmp_path, **kw):
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "whbm"))
    idx = Bm25Index(wh, n_buckets=4, partitioned=True, **kw)
    docs = spark.createDataFrame(
        [
            (1, "hash join hash join hash"),
            (2, "hash scan scan scan scan"),
            (3, "merge sort merge sort"),
            (4, "hash"),
        ],
        "doc_id: int, text: string",
    )
    idx.build(docs)
    return wh, idx


def _bm_epoch(spark, ids):
    return spark.createDataFrame(
        [(i, f"hash probe word{i}") for i in ids],
        "doc_id: int, text: string",
    )


def _bm_snapshot(idx):
    return sorted(
        tuple(r) for r in idx.topk({"q": ["hash", "probe"]}).collect()
    )


def test_bm25_compact_layout_stats_merge_and_replay(spark, tmp_path):
    import os

    wh, idx = _bm25(spark, tmp_path)
    for b in (1, 2, 3):
        idx.absorb(_bm_epoch(spark, [100 + b]), batch=b)
    before = _bm_snapshot(idx)
    stats_rows_before = wh.read(idx.stats_table).count()
    assert stats_rows_before == 4  # __build__ + 3 epochs
    files_before = E.parquet_file_count(wh.path(idx.postings_table))

    report = idx.compact()
    assert report["compacted_through"] == 3
    assert report["stamps_merged"] == 4
    assert report["files_after"] < files_before
    # serving bit-identical: exact scores, not approximate
    assert _bm_snapshot(idx) == before
    # the serving-path stats read is O(1) rows again
    stats = wh.read(idx.stats_table).collect()
    assert len(stats) == 1
    assert stats[0]["__batch"] == E.COMPACTED_STAMP
    assert stats[0]["n_docs"] == 7 and stats[0]["sum_dl"] == 15 + 9
    # term-bucket pruning level survives under each bucket dir
    buckets = [
        d
        for d in os.listdir(wh.path(idx.postings_table))
        if d.startswith("__tb=")
    ]
    assert buckets
    for bdir in buckets:
        subdirs = os.listdir(os.path.join(wh.path(idx.postings_table), bdir))
        assert all(s == "__batch=__compacted__" for s in subdirs if s.startswith("__batch="))

    # replayed epoch <= watermark: complete NO-OP (stats included)
    idx.absorb(_bm_epoch(spark, [102]), batch=2)
    assert wh.read(idx.stats_table).count() == 1
    assert _bm_snapshot(idx) == before
    # fresh epoch > watermark still absorbs and replays idempotently
    idx.absorb(_bm_epoch(spark, [105]), batch=5)
    after5 = _bm_snapshot(idx)
    assert after5 != before
    idx.absorb(_bm_epoch(spark, [105]), batch=5)  # replay: overwrite
    assert _bm_snapshot(idx) == after5
    assert wh.read(idx.stats_table).count() == 2
    # reserved stamps always refused (bug fixed this round: an absorb
    # under "__build__" would dynamic-overwrite the build partition)
    with pytest.raises(ValueError, match="reserved"):
        idx.absorb(_bm_epoch(spark, [106]), batch="__build__")
    # non-integer epoch id on a compacted store fails loudly
    with pytest.raises(ValueError, match="compacted through"):
        idx.absorb(_bm_epoch(spark, [106]), batch="b6")

    # a flat store has no epochs to compact
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    flat = Bm25Index(Warehouse(spark, str(tmp_path / "whbmflat")))
    flat.build(_bm_epoch(spark, [1, 2]))
    with pytest.raises(ValueError, match="partitioned"):
        flat.compact()


def test_bm25_compact_through_keeps_live_epochs_replayable(spark, tmp_path):
    """`through` bounds the merge: epochs above it keep their own
    partitions (still individually replayable — the live-stream
    contract), and the watermark advances only to `through`."""
    wh, idx = _bm25(spark, tmp_path)
    for b in (1, 2, 3):
        idx.absorb(_bm_epoch(spark, [100 + b]), batch=b)
    before = _bm_snapshot(idx)

    report = idx.compact(through=2)
    assert report["compacted_through"] == 2
    assert report["stamps_merged"] == 3  # __build__, 1, 2
    assert _bm_snapshot(idx) == before
    stamps = {
        r["__batch"]
        for r in wh.read(idx.stats_table).select("__batch").collect()
    }
    assert stamps == {E.COMPACTED_STAMP, "3"}
    # epoch 3 is still individually replayable (its own partition)
    idx.absorb(_bm_epoch(spark, [103]), batch=3)
    assert _bm_snapshot(idx) == before
    assert wh.read(idx.stats_table).count() == 2
    # epoch 2 was merged: replay no-ops
    idx.absorb(_bm_epoch(spark, [102]), batch=2)
    assert wh.read(idx.stats_table).count() == 2
    # second compaction folds epoch 3 in monotonically
    report2 = idx.compact()
    assert report2["compacted_through"] == 3
    assert wh.read(idx.stats_table).count() == 1
    assert _bm_snapshot(idx) == before


def test_bm25_versioned_compact_flips_pointer(spark, tmp_path):
    import os

    wh, idx = _bm25(spark, tmp_path, versioned=True)
    for b in (1, 2):
        idx.absorb(_bm_epoch(spark, [100 + b]), batch=b)
    before = _bm_snapshot(idx)
    v0 = idx.store.current()

    report = idx.compact()
    assert idx.store.current() == v0 + 1
    assert idx.store.watermark() == 2 == report["compacted_through"]
    # old version intact until pruned (lagging readers)
    assert os.path.isdir(wh.path(f"{idx.name}_postings_v{v0}"))
    assert _bm_snapshot(idx) == before
    # id_type carried through the flip: day-zero empty frame keeps type
    assert idx.store.version_row()[1]["id_type"] == "int"
    idx.absorb(_bm_epoch(spark, [101]), batch=1)  # replay: no-op
    assert _bm_snapshot(idx) == before
    # rebuild resets the watermark: fresh epoch lineage
    idx.build(_bm_epoch(spark, [1, 2, 3]))
    assert idx.store.watermark() is None
    idx.absorb(_bm_epoch(spark, [50]), batch=1)
    assert 50 in {
        r["doc_id"] for r in wh.read(idx.postings_table).collect()
    }


# ----------------------------------------------------------------- PQ


def _ml_available():
    try:
        import numpy  # noqa: F401
        from pyspark.ml.clustering import KMeans  # noqa: F401

        return True
    except ImportError:  # pragma: no cover
        return False


def _pq(spark, tmp_path, **kw):
    import random

    from etl_process_for_fraud_transactions_spark.operators.pq import (
        PqIndex,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    rnd = random.Random(3)
    rows = [
        (i, [10.0 * (i % 2) + rnd.gauss(0, 1) for _ in range(8)])
        for i in range(40)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )
    wh = Warehouse(spark, str(tmp_path / "whpq"))
    idx = PqIndex(wh, name="cpq", partitioned=True, **kw)
    idx.build(corpus, m=4, n_codes=8, seed=2, max_iter=10, n_cells=2)
    return wh, idx, rows


def _pq_epoch(spark, rows, ids):
    return spark.createDataFrame(
        [(900 + i, rows[i][1]) for i in ids],
        "vec_id long, embedding array<double>",
    )


def _pq_snapshot(idx, spark, rows):
    queries = spark.createDataFrame(
        [(1, rows[0][1]), (2, rows[1][1])],
        "query_id long, query_vec array<double>",
    )
    return sorted(
        tuple(r) for r in idx.topk(queries, k=5, nprobe=2).collect()
    )


@pytest.mark.skipif(not _ml_available(), reason="pyspark.ml unavailable")
def test_pq_compact_codes_byte_identical_and_through(spark, tmp_path):
    import os

    wh, idx, rows = _pq(spark, tmp_path)
    for b in (1, 2, 3):
        idx.absorb(_pq_epoch(spark, rows, [10 + b]), batch=b)
    before = _pq_snapshot(idx, spark, rows)
    codes_before = sorted(
        (r["vec_id"], tuple(r["pq_codes"]))
        for r in wh.read(idx.codes_table).collect()
    )
    files_before = E.parquet_file_count(wh.path(idx.codes_table))

    report = idx.compact(through=2)
    assert report["compacted_through"] == 2
    assert report["stamps_merged"] == 3  # __build__, 1, 2
    # codes byte-identical through the rewrite; serving bit-identical
    assert (
        sorted(
            (r["vec_id"], tuple(r["pq_codes"]))
            for r in wh.read(idx.codes_table).collect()
        )
        == codes_before
    )
    assert _pq_snapshot(idx, spark, rows) == before
    # epoch 3 keeps its own partition: still individually replayable
    batch_dirs = {
        d
        for c in os.listdir(wh.path(idx.codes_table))
        if c.startswith(f"{idx.cell_col}=")
        for d in os.listdir(os.path.join(wh.path(idx.codes_table), c))
        if d.startswith("__batch=")
    }
    assert batch_dirs == {"__batch=__compacted__", "__batch=3"}
    idx.absorb(_pq_epoch(spark, rows, [13]), batch=3)
    assert _pq_snapshot(idx, spark, rows) == before
    # merged epoch: replay no-ops
    n = wh.read(idx.codes_table).count()
    idx.absorb(_pq_epoch(spark, rows, [12]), batch=2)
    assert wh.read(idx.codes_table).count() == n
    # full compaction folds the rest in monotonically; fewer files
    report2 = idx.compact()
    assert report2["compacted_through"] == 3
    assert report2["files_after"] < files_before
    assert report2["files_after"] <= 2  # one file per occupied cell
    assert _pq_snapshot(idx, spark, rows) == before
    # sentinel / ad-hoc batch ids fail loudly
    with pytest.raises(ValueError, match="reserved"):
        idx.absorb(_pq_epoch(spark, rows, [14]), batch="__build__")
    with pytest.raises(ValueError, match="compacted through"):
        idx.absorb(_pq_epoch(spark, rows, [14]), batch="b9")
    # a flat store has no epochs to compact
    from etl_process_for_fraud_transactions_spark.operators.pq import (
        PqIndex,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    flat = PqIndex(Warehouse(spark, str(tmp_path / "whpqf")), name="fpq")
    flat.build(
        spark.createDataFrame(
            rows[:10], "vec_id: long, embedding: array<double>"
        ),
        m=4, n_codes=8, seed=2, max_iter=5,
    )
    with pytest.raises(ValueError, match="partitioned"):
        flat.compact()


@pytest.mark.skipif(not _ml_available(), reason="pyspark.ml unavailable")
def test_pq_versioned_compact_flips_pointer_calibrate_preserves_wm(
    spark, tmp_path
):
    import os

    wh, idx, rows = _pq(spark, tmp_path, versioned=True)
    for b in (1, 2):
        idx.absorb(_pq_epoch(spark, rows, [10 + b]), batch=b)
    before = _pq_snapshot(idx, spark, rows)
    v0 = idx.store.current()

    report = idx.compact()
    assert idx.store.current() == v0 + 1
    _, layout = idx.store.version_row()
    assert layout["compacted_through"] == 2 == report["compacted_through"]
    # old version intact until pruned (lagging readers)
    assert os.path.isdir(wh.path(f"{idx.name}_codes_v{v0}"))
    assert _pq_snapshot(idx, spark, rows) == before
    idx.absorb(_pq_epoch(spark, rows, [11]), batch=1)  # replay: no-op
    assert _pq_snapshot(idx, spark, rows) == before

    # calibrate_nprobe is not a compaction: the watermark carries
    # through its pointer rewrite unchanged
    corpus = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )
    idx.calibrate_nprobe(corpus, recall_target=0.5, n_probes=4, k=3)
    _, layout = idx.store.version_row()
    assert layout["compacted_through"] == 2
    assert layout["default_nprobe"] is not None
    idx.absorb(_pq_epoch(spark, rows, [12]), batch=2)  # still a replay
    assert _pq_snapshot(idx, spark, rows) == before

    # rebuild resets the watermark: fresh epoch lineage
    idx.build(corpus, m=4, n_codes=8, seed=2, max_iter=10, n_cells=2)
    _, layout = idx.store.version_row()
    assert layout["compacted_through"] is None
    idx.absorb(_pq_epoch(spark, rows, [20]), batch=1)
    assert 920 in {
        r["vec_id"] for r in wh.read(idx.codes_table).collect()
    }


def test_ivf_compact_through_keeps_live_epochs_replayable(spark, tmp_path):
    """The live-stream bound on the IvfIndex leg: epochs above
    `through` keep their own partitions (individually replayable —
    the newest epoch is the one a crashed absorb may have left
    partial), the watermark advances only to `through`, and a later
    full compaction folds the rest in monotonically."""
    import os

    wh, idx = _ivf(spark, tmp_path)
    for b in (1, 2, 3):
        idx.absorb(_epoch(spark, [100 + b]), batch=b)
    before = _topk_snapshot(idx, spark)

    report = idx.compact(through=2)
    assert report["compacted_through"] == 2
    assert report["stamps_merged"] == 3  # __build__, 1, 2
    assert _topk_snapshot(idx, spark) == before
    batch_dirs = {
        d
        for c in os.listdir(wh.path(idx.vectors_table))
        if c.startswith("ivf_cell=")
        for d in os.listdir(os.path.join(wh.path(idx.vectors_table), c))
        if d.startswith("__batch=")
    }
    assert batch_dirs == {"__batch=__compacted__", "__batch=3"}
    # epoch 3 is still individually replayable; epoch 2 no-ops
    n = wh.read(idx.vectors_table).count()
    idx.absorb(_epoch(spark, [103]), batch=3)
    assert wh.read(idx.vectors_table).count() == n
    idx.absorb(_epoch(spark, [102]), batch=2)
    assert wh.read(idx.vectors_table).count() == n
    report2 = idx.compact()
    assert report2["compacted_through"] == 3
    assert _topk_snapshot(idx, spark) == before


# ------------------------------------------------------------ NearDup


_ND_BASE = [
    "the quick brown fox jumps over the lazy dog and runs far away today",
    "cook rice and beans with garlic in the small red kitchen pot tonight",
    "train dogs to sit and wait before the long morning walk begins daily",
    "plant roses and tulips along the sunny side of the wooden fence line",
]


def _nd_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _nd(spark, tmp_path):
    from etl_process_for_fraud_transactions_spark.operators.dedup_incremental import (
        NearDupIndex,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "whnd"))
    idx = NearDupIndex(wh, partitioned=True)
    idx.bootstrap(
        _nd_docs(spark, [(i, t) for i, t in enumerate(_ND_BASE)])
    )
    return wh, idx


def _nd_epoch(spark, b):
    return _nd_docs(
        spark,
        [
            (100 * b, f"entirely fresh epoch {b} text about adaptive "
                      f"query execution stage {b} planning today"),
        ],
    )


def test_neardup_compact_watermark_and_asof_refusal(spark, tmp_path):
    wh, idx = _nd(spark, tmp_path)
    for b in (1, 2, 3):
        kept = idx.filter_new(_nd_epoch(spark, b), exclude_batch=b)
        idx.absorb(kept, batch=b)
    # the check() verdict against a near-dup of an epoch-2 doc
    probe = _nd_docs(
        spark,
        [(999, "entirely fresh epoch 2 text about adaptive query "
               "execution stage 2 planning tonight")],
    )
    before = sorted(
        (r["new_id"], r["dup_id"]) for r in idx.check(probe).collect()
    )
    assert before  # the probe really does hit the epoch-2 doc
    buckets_before = sorted(
        tuple(r)
        for r in wh.read(idx.buckets_table).drop("__batch").collect()
    )
    files_before = E.parquet_file_count(wh.path(idx.buckets_table)) + \
        E.parquet_file_count(wh.path(idx.shingles_table))

    report = idx.compact(through=2)
    assert report["compacted_through"] == 2
    assert report["stamps_merged"] == 3  # bootstrap, 1, 2
    # verdicts and signatures byte-identical through the rewrite
    assert (
        sorted(
            (r["new_id"], r["dup_id"]) for r in idx.check(probe).collect()
        )
        == before
    )
    assert (
        sorted(
            tuple(r)
            for r in wh.read(idx.buckets_table).drop("__batch").collect()
        )
        == buckets_before
    )
    # merged epoch: as-of view is gone — loud refusal, not silence
    with pytest.raises(ValueError, match="no longer reconstructible"):
        idx.check(probe, exclude_batch=2)
    # un-merged epoch 3 still serves its as-of view
    idx.check(probe, exclude_batch=3).collect()
    # absorb replay of a merged epoch: no-op; epoch 3 replays
    n = wh.read(idx.buckets_table).count()
    idx.absorb(_nd_epoch(spark, 2), batch=2)
    assert wh.read(idx.buckets_table).count() == n
    idx.absorb(
        idx.filter_new(_nd_epoch(spark, 3), exclude_batch=3), batch=3
    )
    assert wh.read(idx.buckets_table).count() == n
    # bootstrap-stamp absorb is always refused (it would overwrite
    # the bootstrap partition)
    with pytest.raises(ValueError, match="reserved"):
        idx.absorb(_nd_epoch(spark, 9), batch="bootstrap")
    # full compaction folds epoch 3 in; fewer files than the shredded
    # layout, and the verdicts still hold
    report2 = idx.compact()
    assert report2["compacted_through"] == 3
    assert (
        E.parquet_file_count(wh.path(idx.buckets_table))
        + E.parquet_file_count(wh.path(idx.shingles_table))
        < files_before
    )
    assert (
        sorted(
            (r["new_id"], r["dup_id"]) for r in idx.check(probe).collect()
        )
        == before
    )
    # re-bootstrap resets the watermark (fresh epoch lineage)
    idx.bootstrap(
        _nd_docs(spark, [(i, t) for i, t in enumerate(_ND_BASE)])
    )
    assert idx.store.watermark() is None


def test_neardup_sink_skips_replay_of_merged_epoch(spark, tmp_path):
    """A replayed epoch <= watermark is skipped WHOLE by the sink: the
    committed out_table partition survives (re-running filter_new
    would have rejected the batch against its own merged rows and
    overwritten the partition with an empty kept set)."""
    from etl_process_for_fraud_transactions_spark.streaming.upsert import (
        near_dedup_sink,
    )

    wh, idx = _nd(spark, tmp_path)
    sink = near_dedup_sink(idx, out_table="curated")
    sink(_nd_epoch(spark, 1), 1)
    out_before = sorted(
        r["doc_id"] for r in wh.read("curated").collect()
    )
    assert out_before == [100]

    idx.compact()
    assert idx.store.watermark() == 1
    # replay of the merged epoch: out_table and index untouched
    sink(_nd_epoch(spark, 1), 1)
    assert (
        sorted(r["doc_id"] for r in wh.read("curated").collect())
        == out_before
    )
    # the next epoch flows normally
    sink(_nd_epoch(spark, 2), 2)
    assert sorted(
        r["doc_id"] for r in wh.read("curated").collect()
    ) == [100, 200]


def test_compact_live_mode_derives_the_bound(spark, tmp_path):
    """compact(live=True) = merge everything below the newest integer
    epoch (the only possibly-partial one), derived from the scanned
    stamps — the one-call shape for compacting under a live stream.
    Exclusive with an explicit through=."""
    wh, idx = _bm25(spark, tmp_path)
    for b in (1, 2, 5):  # gaps are fine: only the MAX epoch is open
        idx.absorb(_bm_epoch(spark, [100 + b]), batch=b)
    before = _bm_snapshot(idx)

    with pytest.raises(ValueError, match="not both"):
        idx.compact(through=1, live=True)
    report = idx.compact(live=True)
    # the derived bound is max(5)-1 = 4, but the WATERMARK is the max
    # epoch actually merged (2) — epochs 3/4 never existed, and a
    # future absorb under those ids must not be skipped
    assert report["compacted_through"] == 2
    stamps = {
        r["__batch"]
        for r in wh.read(idx.stats_table).select("__batch").collect()
    }
    assert stamps == {E.COMPACTED_STAMP, "5"}
    assert _bm_snapshot(idx) == before
    # epoch 5 stays individually replayable
    idx.absorb(_bm_epoch(spark, [105]), batch=5)
    assert _bm_snapshot(idx) == before
    # a store with no integer epochs: live mode merges sentinels only
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    fresh = Bm25Index(
        Warehouse(spark, str(tmp_path / "whfresh")), partitioned=True
    )
    fresh.build(_bm_epoch(spark, [1, 2]))
    r2 = fresh.compact(live=True)
    assert r2["compacted_through"] is None
    assert r2["stamps_merged"] == 1  # just __build__


def test_sink_compact_every_amortized_in_stream(spark, tmp_path):
    """compact_every on the absorb sinks: every Nth epoch ends with
    compact(live=True); the current epoch stays replayable (the
    crash-after-compact-before-commit window), and serving is
    bit-identical through the in-stream rewrites."""
    from etl_process_for_fraud_transactions_spark.streaming.upsert import (
        bm25_absorb_sink,
        near_dedup_sink,
    )

    wh, idx = _bm25(spark, tmp_path)
    sink = bm25_absorb_sink(idx, compact_every=2)
    sink(_bm_epoch(spark, [101]), 1)
    sink(_bm_epoch(spark, [102]), 2)  # compaction fires here
    snap = _bm_snapshot(idx)
    stamps = {
        r["__batch"]
        for r in wh.read(idx.stats_table).select("__batch").collect()
    }
    assert stamps == {E.COMPACTED_STAMP, "2"}
    # the crash window: epoch 2's offsets never committed, replay
    sink(_bm_epoch(spark, [102]), 2)
    assert _bm_snapshot(idx) == snap
    sink(_bm_epoch(spark, [103]), 3)
    sink(_bm_epoch(spark, [104]), 4)  # fires again: merges 2, 3
    stamps = {
        r["__batch"]
        for r in wh.read(idx.stats_table).select("__batch").collect()
    }
    assert stamps == {E.COMPACTED_STAMP, "4"}
    # a replay of the MERGED epoch 3 now no-ops inside absorb
    sink(_bm_epoch(spark, [103]), 3)
    assert wh.read(idx.stats_table).count() == 2

    # the near-dedup sink composes the same hook with its whole-epoch
    # skip: a replayed merged epoch leaves the committed output alone
    whn, nd = _nd(spark, tmp_path)
    ndsink = near_dedup_sink(nd, out_table="curated", compact_every=2)
    ndsink(_nd_epoch(spark, 1), 1)
    ndsink(_nd_epoch(spark, 2), 2)  # compaction fires: merges 1
    out = sorted(r["doc_id"] for r in whn.read("curated").collect())
    assert out == [100, 200]
    ndsink(_nd_epoch(spark, 1), 1)  # merged epoch replay: skipped whole
    assert (
        sorted(r["doc_id"] for r in whn.read("curated").collect()) == out
    )
    ndsink(_nd_epoch(spark, 2), 2)  # current epoch replay: converges
    assert (
        sorted(r["doc_id"] for r in whn.read("curated").collect()) == out
    )


def test_compact_files_per_partition_salts_fat_partitions(spark, tmp_path):
    """files_per_partition > 1 (the fat-cell knob): each hive
    partition splits into up to N files via the id-hash salt, and
    serving stays bit-identical — the path a cell too fat for one
    executor's write buffer takes at full scale."""
    import os

    wh, idx = _ivf(spark, tmp_path)
    for b in (1, 2):
        idx.absorb(_epoch(spark, [100 + b, 200 + b, 300 + b]), batch=b)
    before = _topk_snapshot(idx, spark)

    report = idx.compact(files_per_partition=3)
    assert _topk_snapshot(idx, spark) == before
    # per compacted hive partition: at least one, at most 3 files
    root = wh.path(idx.vectors_table)
    for cell in os.listdir(root):
        if not cell.startswith("ivf_cell="):
            continue
        pdir = os.path.join(root, cell, "__batch=__compacted__")
        n = len([f for f in os.listdir(pdir) if f.startswith("part-")])
        assert 1 <= n <= 3, (cell, n)
    assert report["files_after"] >= E.parquet_file_count(root) // 2


def test_sink_prune_keep_bounds_versions_in_stream(spark, tmp_path):
    """prune_keep closes the versioned in-stream maintenance loop:
    each compaction flips a version, prune_versions(keep=prune_keep)
    GCs beyond it — the immediately-preceding version always survives
    one cycle (lagging readers), keep < 2 refused at construction."""
    import os

    from etl_process_for_fraud_transactions_spark.streaming.upsert import (
        bm25_absorb_sink,
    )

    wh, idx = _bm25(spark, tmp_path, versioned=True)
    with pytest.raises(ValueError, match=">= 2"):
        bm25_absorb_sink(idx, compact_every=2, prune_keep=1)

    sink = bm25_absorb_sink(idx, compact_every=2, prune_keep=2)
    for b in (1, 2, 3, 4, 5, 6):
        sink(_bm_epoch(spark, [100 + b]), b)
    snap = _bm_snapshot(idx)
    cur = idx.store.current()
    assert cur == 4  # v1 build + 3 in-stream compaction flips
    dirs = {
        d
        for d in os.listdir(wh.root)
        if d.startswith(f"{idx.name}_postings_v")
    }
    # exactly keep=2 versions on disk: current + its predecessor
    assert dirs == {
        f"{idx.name}_postings_v{cur}",
        f"{idx.name}_postings_v{cur - 1}",
    }
    # and the store still serves + replays correctly
    assert _bm_snapshot(idx) == snap
    sink(_bm_epoch(spark, [105]), 5)  # merged epoch: no-op
    assert _bm_snapshot(idx) == snap


def test_ivf_prune_versions_keep(spark, tmp_path):
    """keep= joins IvfIndex.prune_versions (family-uniform API):
    keep=2 retains the predecessor, default 1 collapses to current."""
    import os

    wh, idx = _ivf(spark, tmp_path, versioned=True)
    idx.retrain(n_cells=3, seed=7)
    idx.retrain(n_cells=3, seed=8)
    assert idx.store.current() == 3
    removed = idx.prune_versions(keep=2)
    assert all("_v1" in t for t in removed)
    assert os.path.isdir(wh.path(f"{idx.name}_vectors_v2"))
    removed = idx.prune_versions()
    assert any("_v2" in t for t in removed)
    assert not os.path.isdir(wh.path(f"{idx.name}_vectors_v2"))
    with pytest.raises(ValueError, match=">= 1"):
        idx.prune_versions(keep=0)


def test_ivf_absorb_resolves_pointer_in_one_read(spark, tmp_path):
    """ADVICE r13: absorb's replay-skip decision and the tables it
    writes must come from ONE version-pointer read — two reads let a
    concurrent compact(live=True) flip pair a stale watermark with
    the new version's tables (duplicate rows on crash replay)."""
    wh, idx = _ivf(spark, tmp_path, versioned=True)
    idx.absorb(_epoch(spark, [10]), batch=1)

    # r16: pointer rows are read driver-side (warehouse.read_rows) —
    # count THAT choke point; the invariant is unchanged (exactly one
    # joint version+watermark resolution per absorb)
    reads = {"n": 0}
    orig_read = wh.read
    orig_read_rows = wh.read_rows

    def counting_read(table, *a, **kw):
        if table == idx.version_table:
            reads["n"] += 1
        return orig_read(table, *a, **kw)

    def counting_read_rows(table, *a, **kw):
        if table == idx.version_table:
            reads["n"] += 1
        return orig_read_rows(table, *a, **kw)

    wh.read = counting_read
    wh.read_rows = counting_read_rows
    try:
        idx.absorb(_epoch(spark, [11]), batch=2)
        assert reads["n"] == 1, (
            f"absorb read the version pointer {reads['n']} times — "
            "the skip decision and the tables must share one read"
        )
        # the skip path too: a replayed pre-watermark epoch after
        # compaction must also decide from the same single read
        idx.compact(through=2)
        reads["n"] = 0
        idx.absorb(_epoch(spark, [11]), batch=2)  # replay: no-op
        assert reads["n"] == 1
    finally:
        wh.read = orig_read
        wh.read_rows = orig_read_rows
