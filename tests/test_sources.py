"""Source-layer tests: dated-file discovery/archival, comma-decimal
CSV ingest, atomic parquet overwrite (incl. the read-then-overwrite-
same-path hazard, SURVEY.md §4.3.2)."""

from __future__ import annotations

import datetime as dt
import decimal
import os

from pyspark.sql import functions as F

from etl_process_for_fraud_transactions_spark.sources.files import (
    archive_batch_files,
    discover_batch_dates,
)
from etl_process_for_fraud_transactions_spark.sources.ingest import read_semicolon_csv
from etl_process_for_fraud_transactions_spark.sources.warehouse import (
    Warehouse,
    atomic_overwrite,
)


def test_discover_and_archive(tmp_path):
    for name in (
        "transactions_01012024.txt",
        "terminals_01012024.xlsx",
        "transactions_02012024.txt",
        "notes.md",
    ):
        (tmp_path / name).write_text("x")
    dates = discover_batch_dates(str(tmp_path))
    assert dates == ["01012024", "02012024"]

    moved = archive_batch_files(str(tmp_path), "01012024")
    assert sorted(os.path.basename(m) for m in moved) == [
        "terminals_01012024.xlsx.backup",
        "transactions_01012024.txt.backup",
    ]
    # archived batch no longer discovered (moved into archive/), the
    # unconsumed one remains — matching the reference's re-run behavior
    assert discover_batch_dates(str(tmp_path)) == ["02012024"]
    assert sorted(os.listdir(tmp_path / "archive")) == [
        "terminals_01012024.xlsx.backup",
        "transactions_01012024.txt.backup",
    ]


def test_comma_decimal_csv(spark, tmp_path):
    p = tmp_path / "transactions_01012024.txt"
    p.write_text(
        "transaction_id;transaction_date;card_num;oper_type;amount;oper_result;terminal\n"
        "t1;2024-01-01 10:00:00;c1;PAYMENT;1234,56;SUCCESS;term1\n"
        "t2;2024-01-01 11:00:00;c1;PAYMENT;0,99;REJECT;term1\n"
    )
    df = read_semicolon_csv(
        spark,
        str(p),
        decimal_cols=["amount"],
        renames={
            "transaction_id": "trans_id",
            "transaction_date": "trans_date",
            "amount": "amt",
        },
    )
    rows = {r.trans_id: r.amt for r in df.collect()}
    assert rows == {
        "t1": decimal.Decimal("1234.56"),
        "t2": decimal.Decimal("0.99"),
    }
    assert dict(df.dtypes)["amt"] == "decimal(22,2)"


def test_csv_quarantine(spark, tmp_path):
    p = tmp_path / "transactions_01012024.txt"
    p.write_text(
        "transaction_id;transaction_date;card_num;oper_type;amount;oper_result;terminal\n"
        "t1;2024-01-01 10:00:00;c1;PAY;1,00;SUCCESS;term1\n"
        "GARBAGE WITHOUT ANY SEPARATORS AT ALL\n"
    )
    df = read_semicolon_csv(spark, str(p), decimal_cols=["amount"], quarantine=True)
    from pyspark.sql import functions as F

    assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    good = df.filter(F.col("_corrupt_record").isNull())
    assert [r.transaction_id for r in good.collect()] == ["t1"]
    df.unpersist()


def test_csv_header_parses_as_spark_does(spark, tmp_path):
    """The driver-side header read gives the columns Spark's own
    header probe gives: a UTF-8 BOM, a quoted name holding the
    separator, an escaped quote, an empty name, names repeated up to
    case, and blank lines ahead of the header."""
    from etl_process_for_fraud_transactions_spark.sources.ingest import csv_header

    files = {
        "bom.txt": '\ufeff"x;y";"c\\"d";Amt;;amt;z\n1;2;3;4;5;6\n',
        "blank.txt": "\n  \na;b;c;d;e;f\n1;2;3;4;5;6\n",
    }
    for name, text in files.items():
        p = str(tmp_path / name)
        with open(p, "w", encoding="utf-8") as f:
            f.write(text)
        probed = spark.read.option("header", "true").option("sep", ";").csv(p).columns
        assert csv_header(p, ";") == probed, name
        df = read_semicolon_csv(spark, p)
        assert df.columns == probed, name
        assert [tuple(r) for r in df.collect()] == [("1", "2", "3", "4", "5", "6")], name
    assert probed == list("abcdef")
    assert csv_header(str(tmp_path / "bom.txt"), ";") == ["x;y", 'c"d', "Amt2", "_c3", "amt4", "z"]


def test_atomic_overwrite_same_path(spark, tmp_path):
    path = str(tmp_path / "dim")
    spark.range(5).write.parquet(path)
    df = spark.read.parquet(path).withColumn("id", F.col("id") + 100)
    atomic_overwrite(df, path)  # read + overwrite same path must not corrupt
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [
        100, 101, 102, 103, 104,
    ]


def test_warehouse_append_partitioned_idempotent(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    d1 = dt.date(2024, 1, 1)
    df = spark.createDataFrame([(1, d1), (2, d1)], "id long, report_dt date")
    wh.append_partitioned("facts", df, "report_dt")
    wh.append_partitioned("facts", df, "report_dt")  # re-run same batch
    assert wh.read("facts").count() == 2  # dynamic overwrite, no dup
    d2 = dt.date(2024, 1, 2)
    wh.append_partitioned(
        "facts", spark.createDataFrame([(3, d2)], "id long, report_dt date"), "report_dt"
    )
    assert wh.read("facts").count() == 3  # other partitions untouched


def test_observed_counts(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.functions.observability import (
        observed_counts,
    )

    df = spark.range(0, 100).withColumn("amt", F.col("id") * 2.0)
    out, obs = observed_counts(df, "probe", F.sum("amt").alias("total_amt"))
    out.write.mode("overwrite").parquet(str(tmp_path / "o"))
    assert obs.get == {"n_rows": 100, "total_amt": 9900.0}


def test_gc_orphans_removes_crash_leftovers_only(spark, tmp_path):
    """atomic_overwrite crash windows strand __tmp_/__old_ dirs that
    no reader sees but disk pays for; gc_orphans removes exactly the
    ones old enough that no live writer can own them — a fresh temp
    (a concurrent overwrite in flight) and real tables survive."""
    import os
    import time

    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    wh.overwrite("dim", df)

    old_tmp = os.path.join(wh.root, "dim__tmp_deadbeef")
    old_old = os.path.join(wh.root, "facts__old_cafebabe")
    fresh_tmp = os.path.join(wh.root, "dim__tmp_01234567")
    for p in (old_tmp, old_old, fresh_tmp):
        os.makedirs(p)
        open(os.path.join(p, "part-0.parquet"), "w").close()
    past = time.time() - 7200
    for p in (old_tmp, old_old):
        # the age gate uses the NEWEST mtime in the tree (r16), so a
        # true orphan is stale all the way down
        os.utime(os.path.join(p, "part-0.parquet"), (past, past))
        os.utime(p, (past, past))
    # a non-matching table name containing 'tmp' must never match
    wh.overwrite("tmp_notes", df)

    removed = wh.gc_orphans(min_age_sec=3600)
    assert removed == ["dim__tmp_deadbeef", "facts__old_cafebabe"]
    assert not os.path.isdir(old_tmp) and not os.path.isdir(old_old)
    assert os.path.isdir(fresh_tmp), "in-flight temp must survive"
    assert wh.read("dim").count() == 1
    assert wh.read("tmp_notes").count() == 1


def test_gc_orphans_skips_staging_and_deep_mtime(spark, tmp_path):
    """r16 (ADVICE): a long df.write.parquet(tmp) lands part files
    under `_temporary/` without touching the top-level dir mtime —
    gc_orphans must (a) skip any candidate still holding a Hadoop
    `_temporary` staging dir regardless of age, and (b) age-gate on
    the NEWEST mtime in the tree, so a stale root with a fresh leaf
    survives; and it reports only dirs verified gone."""
    import os
    import time

    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    past = time.time() - 7200

    staging = os.path.join(wh.root, "a__tmp_deadbeef")
    os.makedirs(os.path.join(staging, "_temporary", "0"))
    for dirpath, dirnames, filenames in os.walk(staging, topdown=False):
        os.utime(dirpath, (past, past))

    fresh_leaf = os.path.join(wh.root, "b__tmp_cafebabe")
    os.makedirs(fresh_leaf)
    leaf = os.path.join(fresh_leaf, "part-0.parquet")
    open(leaf, "w").close()
    os.utime(fresh_leaf, (past, past))  # stale root, fresh leaf

    true_orphan = os.path.join(wh.root, "c__old_0badf00d")
    os.makedirs(true_orphan)
    open(os.path.join(true_orphan, "part-0.parquet"), "w").close()
    for dirpath, dirnames, filenames in os.walk(
        true_orphan, topdown=False
    ):
        for f in filenames:
            os.utime(os.path.join(dirpath, f), (past, past))
        os.utime(dirpath, (past, past))

    removed = wh.gc_orphans(min_age_sec=3600)
    assert removed == ["c__old_0badf00d"], removed
    assert os.path.isdir(staging), "staging dir must survive any age"
    assert os.path.isdir(fresh_leaf), "fresh leaf must defeat stale root"
    assert not os.path.isdir(true_orphan)
