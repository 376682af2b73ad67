#!/usr/bin/env python
"""Per-batch wall-time of the two SCD2 modes as history deepens.

Synthetic dimension: KEYS live keys, CHURN of them change per batch, so
after B batches the snapshot mode rewrites KEYS + B*CHURN rows while the
partitioned mode rewrites KEYS (current) and appends CHURN (closed).
The point: snapshot per-batch time grows linearly with history depth,
partitioned stays flat at O(current + changes).

Usage: python tools/scd2_growth_bench.py [keys] [churn_pct] [batches]
Prints one JSON line; paste the summary into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    keys = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    churn_pct = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    batches = int(sys.argv[3]) if len(sys.argv) > 3 else 12

    import datetime as dt
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.operators.scd2 import scd2_apply
    from etl_process_for_fraud_transactions_spark.operators.scd2_partitioned import (
        PartitionedScd2,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import Warehouse

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("scd2-growth-bench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="scd2bench")
    wh_snap = Warehouse(spark, os.path.join(root, "snap"))
    wh_part = Warehouse(spark, os.path.join(root, "part"))
    part = PartitionedScd2(wh_part, "dim", ["k"], ["phone"])

    def staging(batch_no: int):
        # deterministic churn: a key changes in batch b iff
        # (k * 31 + b) % 100 < churn_pct; version = count of prior changes
        base = spark.range(0, keys).select(F.col("id").alias("k"))
        # version after batch b for key k (b >= 1)
        ver = sum(
            (
                F.when((F.col("k") * 31 + F.lit(i)) % 100 < churn_pct, 1).otherwise(0)
                for i in range(1, batch_no + 1)
            ),
            start=F.lit(0),
        )
        return base.select("k", F.concat(F.lit("p"), F.col("k"), F.lit("_"), ver).alias("phone"))

    sc = spark.sparkContext
    snap_times, part_times, part_jobs = [], [], []
    for b in range(batches):
        # materialize staging OUTSIDE the timed section: the version
        # expression grows with batch number and would otherwise pollute
        # both modes' timings with identical recompute cost
        stg_path = os.path.join(root, f"stg_{b}")
        staging(b).write.mode("overwrite").parquet(stg_path)
        stg = spark.read.parquet(stg_path)
        batch_date = F.lit(dt.date(2024, 1, 1) + dt.timedelta(days=b))

        t0 = time.perf_counter()
        hist = wh_snap.read("dim_hist") if wh_snap.exists("dim_hist") else None
        wh_snap.overwrite("dim_hist", scd2_apply(hist, stg, ["k"], ["phone"], batch_date))
        snap_times.append(round(time.perf_counter() - t0, 2))

        t0 = time.perf_counter()
        sc.setJobGroup(f"scd2-part-{b}", "partitioned apply")
        part.apply_batch(stg, batch_date)
        part_times.append(round(time.perf_counter() - t0, 2))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        part_jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"scd2-part-{b}")))

    n_hist = wh_snap.read("dim_hist").count()
    n_part = part.history().count()
    assert n_hist == n_part, (n_hist, n_part)

    print(json.dumps({
        "keys": keys, "churn_pct": churn_pct, "batches": batches,
        "final_history_rows": n_hist,
        "snapshot_per_batch_sec": snap_times,
        "partitioned_per_batch_sec": part_times,
        "partitioned_jobs_per_batch": part_jobs,
        "snapshot_last3_avg": round(sum(snap_times[-3:]) / 3, 2),
        "partitioned_last3_avg": round(sum(part_times[-3:]) / 3, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
