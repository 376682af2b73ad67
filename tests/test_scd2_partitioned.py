"""Partitioned SCD2 equals the snapshot operator on multi-batch
histories (and only rewrites the bounded current partition)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from etl_process_for_fraud_transactions_spark.operators.scd2 import scd2_apply
from etl_process_for_fraud_transactions_spark.operators.scd2_partitioned import (
    PartitionedScd2,
)
from etl_process_for_fraud_transactions_spark.sources.warehouse import Warehouse

BATCHES = [
    [("c1", "111"), ("c2", "222")],
    [("c1", "111x"), ("c2", "222"), ("c3", "333")],
    [("c1", "111y"), ("c3", "333x")],
]


def _snap(df):
    return sorted(
        (r.client_id, r.phone, str(r.effective_from), str(r.effective_to), r.deleted_flg)
        for r in df.collect()
    )


def test_partitioned_matches_snapshot(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    part = PartitionedScd2(wh, "dim_clients", ["client_id"], ["phone"])
    snap = None
    for i, rows in enumerate(BATCHES):
        b = F.lit(dt.date(2024, 1, 1) + dt.timedelta(days=i))
        stg = spark.createDataFrame(rows, "client_id string, phone string")
        part.apply_batch(stg, b)
        snap = scd2_apply(snap, stg, ["client_id"], ["phone"], b)
    assert _snap(part.history()) == _snap(snap)
    assert _snap(part.current()) == _snap(snap.filter("deleted_flg = false"))


def test_closed_partition_is_append_only(spark, tmp_path):
    import os

    wh = Warehouse(spark, str(tmp_path))
    part = PartitionedScd2(wh, "dim", ["client_id"], ["phone"])
    part.apply_batch(
        spark.createDataFrame([("c1", "1")], "client_id string, phone string"),
        F.lit(dt.date(2024, 1, 1)),
    )
    part.apply_batch(
        spark.createDataFrame([("c1", "2")], "client_id string, phone string"),
        F.lit(dt.date(2024, 1, 2)),
    )
    closed_files = set(os.listdir(wh.path("dim_closed")))
    part.apply_batch(
        spark.createDataFrame([("c1", "3")], "client_id string, phone string"),
        F.lit(dt.date(2024, 1, 3)),
    )
    # batch 3 only ADDED files to the closed partition
    assert closed_files <= set(os.listdir(wh.path("dim_closed")))
    assert part.history().count() == 3


def _hist_rows(df):
    return sorted(
        (r.client_id, r.phone, str(r.effective_from), str(r.effective_to), r.deleted_flg)
        for r in df.collect()
    )


def test_five_batch_daily_job_matches_scd2_apply_replay(spark, tmp_path):
    """Full daily job over 5 batch dates against scd2_apply (the
    reference-exact full rewrite) replayed per date on the same staged
    inputs: dim histories and each date's fraud report must agree row
    for row when attribute tuples don't repeat across versions."""
    import shutil

    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.jobs.daily import DailyFraudJob
    from etl_process_for_fraud_transactions_spark.schemas import DIMENSIONS

    from .conftest import scd2_apply_replay, written_and_replayed_report

    input_dir = tmp_path / "incoming"
    source_dir = tmp_path / "sourcedb"
    input_dir.mkdir()

    def write_clients(phones):
        rows = [
            (f"c{i}", f"Last{i}", f"First{i}", "M", dt.date(1980, 1, 1 + i),
             f"P{i}00", dt.date(2030, 1, 1), phones[i])
            for i in range(len(phones))
        ]
        tmp = str(tmp_path / "cl_tmp.parquet")
        spark.createDataFrame(
            rows,
            "client_id string, last_name string, first_name string, patronymic string, "
            "date_of_birth date, passport_num string, passport_valid_to date, phone string",
        ).write.mode("overwrite").parquet(tmp)
        target = str(source_dir / "clients.parquet")
        if os.path.exists(target):
            shutil.rmtree(target)
        shutil.move(tmp, target)

    write_clients(["+70", "+71", "+72"])
    spark.createDataFrame(
        [("a0", dt.date(2030, 1, 1), "c0"), ("a1", dt.date(2030, 1, 1), "c1"),
         ("a2", dt.date(2030, 1, 1), "c2")],
        "account string, valid_to date, client string",
    ).write.parquet(str(source_dir / "accounts.parquet"))
    spark.createDataFrame(
        [("card0", "a0"), ("card1", "a1"), ("card2", "a2")],
        "card_num string, account string",
    ).write.parquet(str(source_dir / "cards.parquet"))

    def write_batch(date, trans_rows):
        (input_dir / f"transactions_{date}.txt").write_text(
            "transaction_id;transaction_date;card_num;oper_type;amount;oper_result;terminal\n"
            + "\n".join(trans_rows) + "\n"
        )
        (input_dir / f"terminals_{date}.csv").write_text(
            "terminal_id,terminal_type,terminal_city,terminal_address\n"
            "t1,ATM,Moscow,addr1\nt2,POS,Kazan,addr2\n"
        )
        (input_dir / f"passport_blacklist_{date}.csv").write_text("passport,date\n")

    part = DailyFraudJob(spark, str(input_dir), str(source_dir),
                         str(tmp_path / "wh_part"), archive=False)
    model = Warehouse(spark, str(tmp_path / "wh_model"))

    # phone histories never repeat a prior value per client, so the
    # documented tuple-IN divergence cannot trigger here
    phone_plan = [
        ["+70", "+71", "+72"],
        ["+70a", "+71", "+72"],        # c0 changes
        ["+70a", "+71a", "+72"],       # c1 changes
        ["+70b", "+71a", "+72a"],      # c0 + c2 change
        ["+70b", "+71a", "+72a"],      # no change
    ]
    for i, phones in enumerate(phone_plan):
        date = f"{i + 1:02d}012024"
        write_clients(phones)
        write_batch(date, [
            f"tx{i}a;2024-01-{i + 1:02d} 10:00:00;card0;PAY;10,00;SUCCESS;t1",
            f"tx{i}b;2024-01-{i + 1:02d} 10:30:00;card0;PAY;20,00;SUCCESS;t2",
        ])
        dims = scd2_apply_replay(part, model, date)
        part.run_batch(date)
        written, replayed = written_and_replayed_report(part, dims, date)
        assert written == replayed, date
        # c0's diff-city pair fires every day
        assert written, date

    assert _hist_rows(dims["clients"]) == _hist_rows(part.read_dim_history("clients"))
    # every dim agrees, not just clients
    for name in DIMENSIONS:
        s_rows = sorted(map(tuple, dims[name].collect()))
        p_rows = sorted(map(tuple, part.read_dim_history(name).collect()))
        assert s_rows == p_rows, name


def test_tuple_repeat_divergence_documented(spark, tmp_path):
    """The ONE case the two modes legitimately differ on (documented in
    operators/scd2_partitioned.py): a key whose attribute tuple repeats
    an older version's tuple. The snapshot operator reproduces the
    reference's tuple-IN close-out (main.py:144-145), which re-stamps
    the coinciding HISTORICAL row too; the partitioned variant closes
    by key — the intended SCD2 semantics — leaving history immutable."""
    wh = Warehouse(spark, str(tmp_path))
    part = PartitionedScd2(wh, "dim", ["client_id"], ["phone"])

    # A -> B -> A -> C : closing the day-3 current row (tuple (c1, A))
    # also matches the day-1 historical row (c1, A)
    snap = None
    for i, phone in enumerate(["A", "B", "A", "C"]):
        b = F.lit(dt.date(2024, 1, 1 + i))
        stg = spark.createDataFrame([("c1", phone)], "client_id string, phone string")
        part.apply_batch(stg, b)
        snap = scd2_apply(snap, stg, ["client_id"], ["phone"], b)

    part_hist = _hist_rows(part.history())
    snap_hist = _hist_rows(snap)

    # partitioned: clean 4-version history, each closed at its true date
    assert part_hist == [
        ("c1", "A", "2024-01-01", "2024-01-02", True),
        ("c1", "A", "2024-01-03", "2024-01-04", True),
        ("c1", "B", "2024-01-02", "2024-01-03", True),
        ("c1", "C", "2024-01-04", "3000-01-01", False),
    ]
    # snapshot (reference quirk): the day-1 (c1, A) row was re-stamped
    # by day 4's tuple-IN close-out, so its effective_to moved to 01-04
    assert snap_hist == [
        ("c1", "A", "2024-01-01", "2024-01-04", True),
        ("c1", "A", "2024-01-03", "2024-01-04", True),
        ("c1", "B", "2024-01-02", "2024-01-03", True),
        ("c1", "C", "2024-01-04", "3000-01-01", False),
    ]
    assert part_hist != snap_hist


# --- PartitionedScd2 against a driver-side model ---------------------------

OPEN = dt.date(3000, 1, 1)
MODEL_DDL = "k long, a string, b long"


def _model_batch(cur, closed, staged, day):
    """One apply_batch on plain lists of (k, a, b, effective_from,
    effective_to, deleted_flg) rows. `cur` is None before the first
    batch (bootstrap). Keys match null-unsafely (a null key never
    matches), an attribute counts as changed only when both sides are
    non-null and differ (the `<>` OR-chain), and a staged row yields
    one fresh version per matching current row it differs from (the
    left join's multiplicity) or one when nothing matches."""
    if cur is None:
        return [(*s, day, OPEN, False) for s in staged], closed

    def match(d, s):
        return d[0] is not None and d[0] == s[0]

    def differs(d, s):
        return any(x is not None and y is not None and x != y for x, y in zip(d[1:3], s[1:3]))

    changed = {d[0] for d in cur for s in staged if match(d, s) and differs(d, s)}
    closing = [(*d[:4], day, True) for d in cur if d[0] in changed]
    fresh = []
    for s in staged:
        hits = [d for d in cur if match(d, s)]
        fresh += [(*s, day, OPEN, False)] * (sum(differs(d, s) for d in hits) if hits else 1)
    return [d for d in cur if d[0] not in changed] + fresh, closed + closing


def _random_history(rng, n_batches):
    """Small key and value domains (nulls included) so that matches,
    null comparisons, duplicate keys, vanishing and reappearing keys
    and repeated (no-op) batches all occur."""
    batches = []
    for _ in range(n_batches):
        if batches and rng.random() < 0.25:
            batches.append(list(batches[-1]))  # no-op batch
            continue
        batches.append([
            (rng.choice([None, 0, 1, 2, 3]), rng.choice([None, "x", "y"]), rng.choice([None, 0, 1]))
            for _ in range(rng.randint(0, 6))
        ])
    return batches


#: a fixed history covering what the random ones may miss: an empty
#: bootstrap and an empty batch on it (an empty current table), then
#: null keys, null attributes, duplicate staged keys, a no-op batch
#: (no closing rows), a new key staged twice (two current rows) that
#: then changes against both, and keys that vanish and reappear changed
FIXED_HISTORY = [
    [],
    [],
    [(1, "x", 0), (2, "x", None), (None, "x", 0)],
    [(1, "x", 0), (2, "x", None), (None, "x", 0)],
    [(1, "y", 0), (1, "x", 0), (2, "x", 1), (2, None, None), (None, "y", 1)],
    [(3, None, 0), (3, "y", 0)],
    [(1, "x", 1), (2, "x", None), (3, "x", 1)],
]


def _counter(rows):
    from collections import Counter

    return Counter(tuple(r) for r in rows)


def test_partitioned_matches_driver_model(spark, tmp_path):
    import random

    rng = random.Random(20241017)
    histories = [FIXED_HISTORY] + [_random_history(rng, 5) for _ in range(3)]
    cols = ["k", "a", "b", "effective_from", "effective_to", "deleted_flg"]
    empty_current = no_closing = 0
    for i, batches in enumerate(histories):
        part = PartitionedScd2(Warehouse(spark, str(tmp_path / f"h{i}")), "dim", ["k"], ["a", "b"])
        cur, closed = None, []
        for j, staged in enumerate(batches):
            day = dt.date(2024, 1, 1) + dt.timedelta(days=j)
            n_closed = len(closed)
            bootstrap = cur is None
            cur, closed = _model_batch(cur, closed, staged, day)
            part.apply_batch(spark.createDataFrame(staged, MODEL_DDL), F.lit(day))
            empty_current += not cur
            no_closing += not bootstrap and len(closed) == n_closed
            got_cur = part.current().select(*cols).collect()
            got_hist = part.history().select(*cols).collect()
            assert _counter(got_cur) == _counter(cur), (i, j)
            assert _counter(got_hist) == _counter(cur + closed), (i, j)
    # both empty-output commits were exercised
    assert empty_current and no_closing


def test_current_is_history_minus_closed_rows(spark, tmp_path, monkeypatch):
    """current() holds exactly the history's deleted_flg = false rows
    (as a multiset) after every batch of a churning run, and also when
    a batch dies between its `_closed` append and its `_current` swap.
    The daily report reads current() on the strength of this, without
    scanning the closed files."""
    import pytest

    from etl_process_for_fraud_transactions_spark.sources import warehouse

    part = PartitionedScd2(Warehouse(spark, str(tmp_path)), "dim", ["k"], ["a", "b"])

    def check():
        live = part.history().filter(~F.col("deleted_flg")).collect()
        assert _counter(part.current().collect()) == _counter(live)

    for j, staged in enumerate(FIXED_HISTORY):
        part.apply_batch(spark.createDataFrame(staged, MODEL_DDL),
                         F.lit(dt.date(2024, 1, 1) + dt.timedelta(days=j)))
        check()
    n_closed = part.history().count() - part.current().count()

    def crash(*args):
        raise RuntimeError("crash before the swap")

    monkeypatch.setattr(warehouse, "_swap_in", crash)
    with pytest.raises(RuntimeError):
        part.apply_batch(spark.createDataFrame([(1, "z", 0), (3, "z", 0)], MODEL_DDL),
                         F.lit(dt.date(2024, 2, 1)))
    assert part.history().count() - part.current().count() > n_closed  # appended
    check()


def test_warm_apply_batch_runs_at_most_two_jobs(spark, tmp_path):
    """A warm batch is one shuffle and one write: the current table's
    schema comes from its footer and the plan has no broadcasts."""
    from .conftest import spark_jobs

    part = PartitionedScd2(Warehouse(spark, str(tmp_path)), "dim", ["k"], ["a", "b"])
    history = [
        [(1, "x", 0), (2, "x", 0)],
        [(1, "y", 0), (2, "x", 0), (3, "z", 1)],
        [(1, "z", 0), (3, "z", 1), (None, "x", 0)],
    ]
    for j, staged in enumerate(history):
        stg = spark.createDataFrame(staged, MODEL_DDL)
        with spark_jobs(spark) as jobs:
            part.apply_batch(stg, F.lit(dt.date(2024, 1, 1) + dt.timedelta(days=j)))
        if j:
            assert 1 <= len(jobs) <= 2, (j, jobs)
    assert part.history().count() == 6
