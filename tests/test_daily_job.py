"""End-to-end daily-batch test: two dated batches through staging,
SCD2, facts and the five-rule report — the reference's whole main loop
on crafted fixtures with known fraud labels."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from etl_process_for_fraud_transactions_spark.jobs.daily import DailyFraudJob


@pytest.fixture()
def fixture_dirs(spark, tmp_path):
    input_dir = tmp_path / "incoming"
    source_dir = tmp_path / "sourcedb"
    wh_dir = tmp_path / "wh"
    input_dir.mkdir()

    # source DB tables (note source-side names: patronymic, account)
    spark.createDataFrame(
        [
            ("c1", "Ivanov", "Ivan", "I", dt.date(1980, 1, 1), "P100", dt.date(2030, 1, 1), "+71"),
            ("c2", "Petrov", "Petr", "P", dt.date(1981, 1, 1), "P200", dt.date(2020, 1, 1), "+72"),  # expired passport
            ("c3", "Blk", "Boris", "B", dt.date(1982, 1, 1), "P300", dt.date(2030, 1, 1), "+73"),  # blacklisted
        ],
        "client_id string, last_name string, first_name string, patronymic string, "
        "date_of_birth date, passport_num string, passport_valid_to date, phone string",
    ).write.parquet(str(source_dir / "clients.parquet"))
    spark.createDataFrame(
        [
            ("a1", dt.date(2030, 1, 1), "c1"),
            ("a2", dt.date(2030, 1, 1), "c2"),
            ("a3", dt.date(2030, 1, 1), "c3"),
        ],
        "account string, valid_to date, client string",
    ).write.parquet(str(source_dir / "accounts.parquet"))
    spark.createDataFrame(
        [("card1", "a1"), ("card2", "a2"), ("card3", "a3")],
        "card_num string, account string",
    ).write.parquet(str(source_dir / "cards.parquet"))

    def write_batch(date: str, trans_rows: list[str], blacklist_rows: list[str]):
        (input_dir / f"transactions_{date}.txt").write_text(
            "transaction_id;transaction_date;card_num;oper_type;amount;oper_result;terminal\n"
            + "\n".join(trans_rows)
            + "\n"
        )
        (input_dir / f"terminals_{date}.csv").write_text(
            "terminal_id,terminal_type,terminal_city,terminal_address\n"
            "t1,ATM,Moscow,addr1\n"
            "t2,POS,Kazan,addr2\n"
        )
        (input_dir / f"passport_blacklist_{date}.csv").write_text(
            "passport,date\n" + "\n".join(blacklist_rows) + ("\n" if blacklist_rows else "")
        )

    # batch 1: c2 expired-passport txn; c1 diff-city pair within 1h
    write_batch(
        "01012024",
        [
            "tx1;2024-01-01 10:00:00;card2;PAY;100,50;SUCCESS;t1",
            "tx2;2024-01-01 11:00:00;card1;PAY;50,00;SUCCESS;t1",
            "tx3;2024-01-01 11:30:00;card1;PAY;60,00;SUCCESS;t2",
        ],
        ["P300,2023-12-01"],
    )
    return str(input_dir), str(source_dir), str(wh_dir), write_batch


def test_two_batch_pipeline(spark, fixture_dirs):
    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    job = DailyFraudJob(spark, input_dir, source_dir, wh_dir)
    dates = job.run()
    assert dates == ["01012024"]

    rep = job.wh.read("rep_fraud")
    by_type = {
        (r.passport, r.event_type) for r in rep.collect()
    }
    # c2: expired passport fires on tx1; c1: diff-city on tx2/tx3
    assert ("P200", "EXPIRED_PASSPORT") in by_type
    assert ("P100", "DIFF_CITY_SHORT_TIME") in by_type
    # files archived after consumption
    assert os.path.exists(os.path.join(input_dir, "archive"))

    # batch 2: c3 transacts on a blacklisted passport; blacklist file empty
    write_batch(
        "02012024",
        ["tx4;2024-01-02 09:00:00;card3;PAY;10,00;SUCCESS;t1"],
        [],
    )
    job.run()

    hist = job.read_dim_history("clients")
    # no attribute changed between batches -> still exactly one version per client
    assert hist.count() == 3

    rep2 = job.wh.read("rep_fraud")
    rows2 = {(r.passport, r.event_type) for r in rep2.collect()}
    assert ("P300", "BLOCKED_PASSPORT") in rows2

    # report partitions: one per report_dt; day-1 rows re-derived on day 2
    # (full-fact rescan, as the reference does) land in day-2's partition
    fact = job.wh.read("fact_transactions")
    assert fact.count() == 4


def test_partitioned_scd2_matches_scd2_apply_replay(spark, fixture_dirs):
    """The job's SCD2 histories and reports equal scd2_apply (the
    reference's single-table rewrite) replayed per date on the same
    staged inputs, across a batch that changes a source row."""
    from etl_process_for_fraud_transactions_spark.schemas import DIMENSIONS
    from etl_process_for_fraud_transactions_spark.sources.warehouse import Warehouse

    from .conftest import scd2_apply_replay, written_and_replayed_report

    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    # archive must stay on: with unconsumed batch-1 files still in the
    # inbox, run() would re-discover and re-apply 01012024 against the
    # mutated source before reaching batch 2
    job = DailyFraudJob(spark, input_dir, source_dir, wh_dir + "_p")
    model = Warehouse(spark, wh_dir + "_model")
    dims = scd2_apply_replay(job, model, "01012024")
    job.run()
    written, replayed = written_and_replayed_report(job, dims, "01012024")
    assert written == replayed
    rep = {(r.passport, r.event_type) for r in job.wh.read("rep_fraud").collect()}
    assert ("P200", "EXPIRED_PASSPORT") in rep
    assert ("P100", "DIFF_CITY_SHORT_TIME") in rep
    # second batch with a source change -> history via current∪closed
    import pyspark.sql.functions as F
    import shutil, os

    clients = spark.read.parquet(os.path.join(source_dir, "clients.parquet"))
    mutated = clients.withColumn(
        "phone", F.when(F.col("client_id") == "c1", "+71P").otherwise(F.col("phone"))
    )
    tmp = wh_dir + "_ptmp"
    mutated.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(os.path.join(source_dir, "clients.parquet"))
    shutil.move(tmp, os.path.join(source_dir, "clients.parquet"))
    write_batch("02012024", ["tx8;2024-01-02 09:00:00;card1;PAY;5,00;SUCCESS;t1"], [])
    dims = scd2_apply_replay(job, model, "02012024")
    job.run()
    written, replayed = written_and_replayed_report(job, dims, "02012024")
    assert written == replayed
    hist = job.read_dim_history("clients")
    c1 = sorted((r.phone, str(r.effective_to), r.deleted_flg) for r in hist.filter("client_id='c1'").collect())
    assert c1 == [("+71", "2024-01-02", True), ("+71P", "3000-01-01", False)]
    for name in DIMENSIONS:
        got = sorted(map(tuple, job.read_dim_history(name).collect()))
        assert got == sorted(map(tuple, dims[name].collect())), name


def test_incremental_report_only_batch_rows(spark, fixture_dirs):
    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    job = DailyFraudJob(
        spark, input_dir, source_dir, wh_dir + "_inc", incremental_report=True
    )
    job.run()
    write_batch(
        "02012024",
        ["tx4;2024-01-02 09:00:00;card2;PAY;10,00;SUCCESS;t1"],
        [],
    )
    job.run()
    rep = job.wh.read("rep_fraud")
    # day-2 partition holds ONLY day-2's transaction (tx4: expired
    # passport for c2), not re-derived day-1 rows
    day2 = rep.filter("report_dt = date'2024-01-02'").collect()
    assert {str(r.event_dt) for r in day2} == {"2024-01-02 09:00:00"}
    day1 = rep.filter("report_dt = date'2024-01-01'")
    assert day1.count() > 0  # day-1 partition intact


def test_scd2_change_across_batches(spark, fixture_dirs, tmp_path):
    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    job = DailyFraudJob(spark, input_dir, source_dir, wh_dir)
    job.run()

    # mutate source: c1 changes phone
    import pyspark.sql.functions as F

    clients = spark.read.parquet(os.path.join(source_dir, "clients.parquet"))
    mutated = clients.withColumn(
        "phone", F.when(F.col("client_id") == "c1", "+71NEW").otherwise(F.col("phone"))
    )
    mutated.write.mode("overwrite").parquet(str(tmp_path / "clients2.parquet"))
    import shutil

    shutil.rmtree(os.path.join(source_dir, "clients.parquet"))
    shutil.move(str(tmp_path / "clients2.parquet"), os.path.join(source_dir, "clients.parquet"))

    write_batch("02012024", ["tx9;2024-01-02 09:00:00;card1;PAY;5,00;SUCCESS;t1"], [])
    job.run()

    hist = job.read_dim_history("clients")
    c1 = sorted(
        (r.phone, str(r.effective_from), str(r.effective_to), r.deleted_flg)
        for r in hist.filter("client_id = 'c1'").collect()
    )
    assert c1 == [
        ("+71", "2024-01-01", "2024-01-02", True),
        ("+71NEW", "2024-01-02", "3000-01-01", False),
    ]


def test_warehouse_read_schema_matches_inference(spark, fixture_dirs):
    """After a 2-date run, every table the job wrote reads through
    `Warehouse.read` (footer schema, no inference job) with the schema
    Spark's own inference gives, partition columns included."""
    from pyspark.sql import types as T

    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    job = DailyFraudJob(spark, input_dir, source_dir, wh_dir)
    job.run()
    write_batch("02012024", ["tx4;2024-01-02 09:00:00;card3;PAY;10,00;SUCCESS;t1"], [])
    job.run()
    tables = sorted(os.listdir(wh_dir))
    assert {"fact_transactions", "rep_fraud", "fact_passport_blacklist"} <= set(tables)
    assert {f"dim_{d}_current" for d in ("clients", "accounts", "cards", "terminals")} <= set(tables)
    for t in tables:
        got = job.wh.read(t).schema
        assert got == spark.read.parquet(os.path.join(wh_dir, t)).schema, t
    assert job.wh.read("fact_transactions").schema["batch_dt"].dataType == T.DateType()
    assert job.wh.read("rep_fraud").schema["report_dt"].dataType == T.DateType()


def test_staging_reads_run_no_spark_job(spark, fixture_dirs):
    """Staging is lazy and declares its schemas: the source-DB reads
    take the staging contract, the transactions CSV and the CSV
    fallback of the terminals and blacklist sheets take their header
    from a driver-side read of the first line, so none of them starts
    a Spark job (no parquet footer or CSV header probe)."""
    from etl_process_for_fraud_transactions_spark.sources.ingest import read_semicolon_csv

    from .conftest import spark_jobs

    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    job = DailyFraudJob(spark, input_dir, source_dir, wh_dir)
    path = os.path.join(input_dir, "transactions_01012024.txt")
    with spark_jobs(spark) as jobs:
        staged = [job._stage_source_table(n) for n in ("clients", "accounts", "cards")]
        staged += [job._stage_transactions("01012024"), job._stage_terminals("01012024"),
                   job._stage_blacklist("01012024")]
        quarantined = read_semicolon_csv(spark, path, quarantine=True)
    assert jobs == []
    assert [df.count() for df in staged] == [3, 3, 3, 3, 2, 1]
    assert quarantined.columns[-1] == "_corrupt_record"
    quarantined.unpersist()


def test_warm_batch_job_count(spark, fixture_dirs):
    """A warm batch on this fixture runs at most 18 Spark jobs: two per
    SCD2 dimension, three for the facts, and the report's five
    broadcasts, its one client_id exchange and its write. No job
    probes a schema."""
    from .conftest import spark_jobs

    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    job = DailyFraudJob(spark, input_dir, source_dir, wh_dir)
    job.run()
    write_batch(
        "02012024",
        ["tx4;2024-01-02 09:00:00;card3;PAY;10,00;SUCCESS;t1",
         "tx5;2024-01-02 09:20:00;card1;PAY;20,00;SUCCESS;t2"],
        ["P200,2024-01-01"],
    )
    with spark_jobs(spark) as jobs:
        job.run_batch("02012024")
    assert len(jobs) <= 18, jobs
