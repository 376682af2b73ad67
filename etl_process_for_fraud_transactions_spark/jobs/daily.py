"""Daily batch orchestration — the engine-native analog of the
reference's whole main.py flow (discover dates -> stage -> archive ->
SCD2 x4 -> facts -> five-rule report), per SURVEY.md §3.1.

Differences by design (SURVEY.md §1.3, §2.12):
- staging is ephemeral DataFrames (no truncate/reload dance);
- dims keep SCD2 history as append-only closed rows plus a rewritten
  current table (operators.scd2_partitioned); facts are appended with
  dynamic partition overwrite on the batch date, so re-running a date
  is idempotent instead of silently duplicating (reference T1/T2);
- errors fail fast (the reference swallows staging-cleanup errors and
  keeps going, main.py:52-60 — a defect, not a capability).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.core import ddmmyyyy_to_date
from ..functions.observability import observed_counts
from ..operators.report import assemble_report
from ..operators.scd2_partitioned import PartitionedScd2
from ..schemas import DIMENSIONS, STG_ACCOUNTS, STG_CARDS, STG_CLIENTS
from ..sources.files import archive_batch_files, discover_batch_dates
from ..sources.ingest import read_excel_sheet, read_semicolon_csv, read_string_csv
from ..sources.warehouse import Warehouse

#: the source DB's tables: their staging contract (main.ddl:2-48) and
#: the source names of the contract columns that the source calls
#: otherwise (reference main.py:75-92)
_SOURCES = {
    "clients": (STG_CLIENTS, {"patrinymic": "patronymic"}),
    "accounts": (STG_ACCOUNTS, {"account_num": "account"}),
    "cards": (STG_CARDS, {"account_num": "account"}),
}


class DailyFraudJob:
    """Per-date pipeline over a directory of dated input files plus a
    parquet 'source DB' directory (the info.clients/accounts/cards
    analog, reference main.py:75-92)."""

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        source_dir: str,
        warehouse_root: str,
        archive: bool = True,
        incremental_report: bool = False,
    ):
        self.spark = spark
        self.input_dir = input_dir
        self.source_dir = source_dir
        self.wh = Warehouse(spark, warehouse_root)
        self.archive = archive
        #: per-batch write metrics keyed by '<table>_<date>' (observe-based)
        self.metrics: dict[str, dict] = {}
        # The reference re-scans the FULL transaction fact for every
        # daily report (main.py:544), re-flagging all history into each
        # new report_dt partition — O(total history) per day. The
        # incremental mode reports only the batch date's rows, while
        # the self-join rules still see the full fact for window
        # context. At 100 TB the full-rescan mode is not viable; the
        # default stays reference-faithful.
        self.incremental_report = incremental_report

    # -- staging ------------------------------------------------------------

    def _stage_transactions(self, date: str) -> DataFrame:
        path = os.path.join(self.input_dir, f"transactions_{date}.txt")
        df = read_semicolon_csv(
            self.spark,
            path,
            decimal_cols=["amount"],
            renames={
                "transaction_id": "trans_id",
                "transaction_date": "trans_date",
                "amount": "amt",
            },
            select=[
                "transaction_id",
                "transaction_date",
                "card_num",
                "oper_type",
                "amount",
                "oper_result",
                "terminal",
            ],
        )
        return df.withColumn("trans_date", F.col("trans_date").cast("timestamp_ntz"))

    def _stage_sheet(
        self, date: str, stem: str, sheet: str, date_cols: list[str] | None = None
    ) -> DataFrame:
        """terminals_/passport_blacklist_ file: xlsx when present
        (reference format), else a CSV fallback with the same columns.
        date_cols marks Excel date-serial columns (see read_excel_sheet)
        — ignored on the CSV path, where dates arrive as strings."""
        xlsx = os.path.join(self.input_dir, f"{stem}_{date}.xlsx")
        if os.path.exists(xlsx):
            return read_excel_sheet(self.spark, xlsx, sheet, date_cols=date_cols)
        return read_string_csv(self.spark, os.path.join(self.input_dir, f"{stem}_{date}.csv"))

    def _stage_terminals(self, date: str) -> DataFrame:
        return self._stage_sheet(date, "terminals", "terminals")

    def _stage_blacklist(self, date: str) -> DataFrame:
        # `date` is an Excel date-serial column in the reference's real
        # workbook (main.py:111-113); declared so the stdlib reader
        # converts serials instead of cast("date") nulling doubles
        df = self._stage_sheet(date, "passport_blacklist", "blacklist", date_cols=["date"])
        return df.select(
            F.col("passport").alias("passport_num"),
            F.col("date").cast("date").alias("entry_dt"),
        )

    def _stage_source_table(self, name: str) -> DataFrame:
        """A source-DB table read with its staging contract as the
        schema (no footer inference job), under the source's column
        names, then renamed into the contract."""
        contract, renamed = _SOURCES[name]
        source = {f.name: renamed.get(f.name, f.name) for f in contract}
        schema = T.StructType([T.StructField(source[f.name], f.dataType) for f in contract])
        df = self.spark.read.schema(schema).parquet(
            os.path.join(self.source_dir, f"{name}.parquet")
        )
        return df.select(*[F.col(src).alias(stg) for stg, src in source.items()])

    def _dim(self, name: str) -> PartitionedScd2:
        keys, attrs = DIMENSIONS[name]
        return PartitionedScd2(self.wh, f"dim_{name}", keys, attrs)

    def read_dim_history(self, name: str) -> DataFrame:
        """A dimension's full SCD2 history: the append-only closed rows
        plus the current table (operators.scd2_partitioned). Equal to
        the reference's single-table history replayed with scd2_apply
        (tests/test_scd2_partitioned.py)."""
        return self._dim(name).history()

    # -- per-date pipeline --------------------------------------------------

    def run_batch(self, date: str) -> DataFrame:
        batch = ddmmyyyy_to_date(date)

        staging = {
            "clients": self._stage_source_table("clients"),
            "accounts": self._stage_source_table("accounts"),
            "cards": self._stage_source_table("cards"),
            "terminals": self._stage_terminals(date),
        }

        trans = self._stage_transactions(date)
        blacklist = self._stage_blacklist(date)

        # NB: the reference archives right after pandas' eager read
        # (main.py:117); Spark reads lazily, so archival must wait until
        # every write below has actually consumed the input files.

        # SCD2 x4 (main.py:121-379)
        for name in DIMENSIONS:
            self._dim(name).apply_batch(staging[name], batch)

        # blacklist fact: insert-if-absent (J9, main.py:382-394)
        if self.wh.exists("fact_passport_blacklist"):
            existing = self.wh.read("fact_passport_blacklist")
            fresh = blacklist.join(existing, "passport_num", "left_anti")
            self.wh.append("fact_passport_blacklist", fresh)
        else:
            self.wh.append("fact_passport_blacklist", blacklist)

        # transactions fact: append, partitioned by batch date for
        # idempotent re-runs (main.py:397-409); row count + amount sum
        # observed on the write itself (the reference's print-audit,
        # main.py:410, without a second scan)
        observed, obs = observed_counts(
            trans.withColumn("batch_dt", batch),
            f"fact_transactions_{date}",
            F.sum("amt").alias("total_amt"),
        )
        self.wh.append_partitioned("fact_transactions", observed, "batch_dt")
        self.metrics[f"fact_transactions_{date}"] = obs.get

        # all file-backed frames are persisted to the warehouse now —
        # safe to archive the consumed inputs (main.py:20-30,117)
        if self.archive:
            archive_batch_files(self.input_dir, date)

        # five-rule report: the full fact against each dimension's
        # current table. In this layout `_closed` holds only
        # deleted_flg = true rows, so current() is the history the
        # report filters to, without scanning the closed files.
        dims = {name: self._dim(name).current() for name in DIMENSIONS}
        report = assemble_report(
            self.wh.read("fact_transactions"),
            dims["cards"],
            dims["accounts"],
            dims["clients"],
            dims["terminals"],
            self.wh.read("fact_passport_blacklist"),
            report_dt=batch,
            # incremental: only this batch's rows are reported; the
            # rules still see the full fact for window context
            report_trans=(F.col("batch_dt") == batch) if self.incremental_report else None,
        )
        self.wh.append_partitioned("rep_fraud", report, "report_dt")
        return report

    def run(self) -> list[str]:
        dates = discover_batch_dates(self.input_dir)
        for date in dates:
            self.run_batch(date)
        return dates
