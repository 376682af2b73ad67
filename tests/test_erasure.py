"""Warehouse right-to-erasure (sources/warehouse.py::erase_keys) —
the warehouse twin of the index families' delete():

1. Snapshot dims: the key's WHOLE history goes in one anti-joined
   atomic rewrite; everything else survives byte-identical.
2. Partitioned facts: only partitions CONTAINING the key are
   rewritten (untouched partitions' data files are not replaced), and
   an ALL-erased partition is removed outright — dynamic overwrite
   alone would leave its old files behind as silent resurrection.
3. The crash window between rewrite and removal converges on re-run.
"""

from __future__ import annotations

import os
import shutil

from etl_process_for_fraud_transactions_spark.sources.warehouse import (
    Warehouse,
)


def _facts(spark):
    rows = [
        # (trans_id, client_id, amount, batch_date)
        (1, 10, 5.0, "2024-01-01"),
        (2, 20, 6.0, "2024-01-01"),
        (3, 20, 7.0, "2024-01-02"),   # partition 02: ONLY client 20
        (4, 20, 8.0, "2024-01-02"),
        (5, 30, 9.0, "2024-01-03"),   # partition 03: untouched
    ]
    return spark.createDataFrame(
        rows,
        "trans_id int, client_id int, amount double, batch_date string",
    )


def _part_files(wh, table, part):
    p = os.path.join(wh.path(table), part)
    if not os.path.isdir(p):
        return None
    return sorted(
        (f, os.path.getmtime(os.path.join(p, f)))
        for f in os.listdir(p)
        if f.startswith("part-")
    )


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "client_id: int")


def test_erase_snapshot_dim_whole_history(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    dim = spark.createDataFrame(
        [
            (10, "a", "2020-01-01", "2021-01-01"),
            (10, "b", "2021-01-01", "3000-01-01"),  # SCD2 history
            (20, "c", "2020-01-01", "3000-01-01"),
        ],
        "client_id int, city string, eff_from string, eff_to string",
    )
    wh.overwrite("dim_clients", dim)
    report = wh.erase_keys("dim_clients", "client_id", _keys(spark, [10, 99]))
    assert report == {
        "rows_erased": 2,
        "partitions_rewritten": 1,
        "partitions_removed": 0,
    }
    left = sorted(tuple(r) for r in wh.read("dim_clients").collect())
    assert left == [(20, "c", "2020-01-01", "3000-01-01")]
    # idempotent / no-match: table untouched
    report = wh.erase_keys("dim_clients", "client_id", _keys(spark, [10]))
    assert report["rows_erased"] == 0
    assert sorted(tuple(r) for r in wh.read("dim_clients").collect()) == left
    # missing table: zero report, no error
    assert wh.erase_keys("no_such", "client_id", _keys(spark, [1])) == {
        "rows_erased": 0,
        "partitions_rewritten": 0,
        "partitions_removed": 0,
    }


def test_erase_partitioned_fact_prunes_and_removes(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append_partitioned("facts", _facts(spark), "batch_date")
    untouched_before = _part_files(wh, "facts", "batch_date=2024-01-03")
    assert untouched_before

    report = wh.erase_keys(
        "facts", "client_id", _keys(spark, [20]), partition_cols="batch_date"
    )
    assert report == {
        "rows_erased": 3,
        "partitions_rewritten": 1,   # 01: client 10 survives
        "partitions_removed": 1,     # 02: all rows were client 20
    }
    # the untouched partition's data files were never replaced
    assert _part_files(wh, "facts", "batch_date=2024-01-03") == untouched_before
    # the all-erased partition is GONE — no resurrection
    assert _part_files(wh, "facts", "batch_date=2024-01-02") is None
    # partition-type inference reads the stamp back as DATE — compare
    # through str() (the erase path itself matched on the inferred
    # type end-to-end)
    left = sorted(
        (r["trans_id"], str(r["batch_date"]))
        for r in wh.read("facts").collect()
    )
    assert left == [(1, "2024-01-01"), (5, "2024-01-03")]


def test_erase_crash_window_converges_on_rerun(spark, tmp_path):
    """Simulate the rewrite-done/removal-crashed window: resurrect the
    all-erased partition's old directory by hand, re-run erase — the
    leftover still matches the keys, is re-discovered, and removed."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append_partitioned("facts", _facts(spark), "batch_date")
    doomed = os.path.join(wh.path("facts"), "batch_date=2024-01-02")
    stash = str(tmp_path / "stash")
    shutil.copytree(doomed, stash)

    wh.erase_keys(
        "facts", "client_id", _keys(spark, [20]), partition_cols="batch_date"
    )
    # crash simulation: the old partition files come back
    shutil.copytree(stash, doomed)
    spark.catalog.refreshByPath(wh.path("facts"))
    assert wh.read("facts").filter("client_id = 20").count() > 0

    report = wh.erase_keys(
        "facts", "client_id", _keys(spark, [20]), partition_cols="batch_date"
    )
    assert report["partitions_removed"] == 1
    assert wh.read("facts").filter("client_id = 20").count() == 0
    assert (
        sorted(r["trans_id"] for r in wh.read("facts").collect())
        == [1, 5]
    )


def test_erase_null_partition_value_is_null_safe(spark, tmp_path):
    """ADVICE r13: a NULL partition value must not silently survive an
    erasure request — the match predicate is null-safe and the
    directory removal targets hive's __HIVE_DEFAULT_PARTITION__."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [
        (1, 10, 5.0, "2024-01-01"),
        (2, 20, 6.0, None),   # null partition: client 20 + survivor 30
        (3, 30, 7.0, None),
        (4, 40, 8.0, None),
    ]
    facts = spark.createDataFrame(
        rows,
        "trans_id int, client_id int, amount double, batch_date string",
    )
    wh.append_partitioned("facts", facts, "batch_date")
    null_dir = os.path.join(
        wh.path("facts"), "batch_date=__HIVE_DEFAULT_PARTITION__"
    )
    assert os.path.isdir(null_dir)

    # survivor in the null partition: rewrite, keep the directory
    report = wh.erase_keys(
        "facts", "client_id", _keys(spark, [20]), partition_cols="batch_date"
    )
    assert report == {
        "rows_erased": 1,
        "partitions_rewritten": 1,
        "partitions_removed": 0,
    }
    assert wh.read("facts").filter("client_id = 20").count() == 0
    assert os.path.isdir(null_dir)
    assert sorted(
        r["trans_id"]
        for r in wh.read("facts").filter("batch_date is null").collect()
    ) == [3, 4]

    # all remaining null-partition rows erased: directory removed
    report = wh.erase_keys(
        "facts",
        "client_id",
        _keys(spark, [30, 40]),
        partition_cols="batch_date",
    )
    assert report == {
        "rows_erased": 2,
        "partitions_rewritten": 0,
        "partitions_removed": 1,
    }
    assert not os.path.isdir(null_dir)
    assert sorted(r["trans_id"] for r in wh.read("facts").collect()) == [1]


def test_scd2_replay_row_erases_through_partitioned_branch(spark, duck):
    """The registered scd2_replay row (round 15, VERDICT r14 item 4)
    persists its dim hive-partitioned by segment and erases through
    the PARTITIONED erase_keys branch: key 7's history spans two
    rewritten partitions, and the FRESH partition (every %13 insert
    erased) must be REMOVED outright — dynamic overwrite alone would
    leave its old files serving. Pin the layout and both outcomes on
    the scratch store the row just wrote."""
    from urllib.parse import urlparse

    from etl_process_for_fraud_transactions_spark.plans import QUERIES

    from .conftest import SF_SMALL

    df = QUERIES["scd2_replay"](spark, SF_SMALL)
    rows = df.collect()
    assert rows
    assert all(r.ckey != 7 for r in rows), "key 7's history must be gone"
    assert all(r.segment != "FRESH" for r in rows)

    # the store the frame reads: <scratch>/dim_clients/segment=*/part-*
    store = os.path.dirname(os.path.dirname(urlparse(df.inputFiles()[0]).path))
    assert os.path.basename(store) == "dim_clients"
    parts = {d for d in os.listdir(store) if d.startswith("segment=")}
    assert parts, "dim must be hive-partitioned by segment"
    assert "segment=FRESH" not in parts, "all-erased partition removed"
    assert "segment=SEGMENT_X" in parts, "rewritten partition survives"


def test_scd2_replay_frames_keep_their_own_store(spark):
    """Each scd2_replay call persists to its own scratch warehouse: a
    second call on the same sf_dir leaves the files an earlier, still
    uncollected frame reads in place."""
    from etl_process_for_fraud_transactions_spark.plans import QUERIES

    from .conftest import SF_SMALL

    first = QUERIES["scd2_replay"](spark, SF_SMALL)
    second = QUERIES["scd2_replay"](spark, SF_SMALL)
    assert sorted(first.collect()) == sorted(second.collect())
