#!/usr/bin/env python
"""Compaction economics, measured (round 14 — VERDICT r13 item 3).

operators/epochs.py ASSERTS the small-files arithmetic (1,440
epochs/day of streaming absorbs -> file-open overhead dominates the
pruned serving scan). This script measures it, the skew-bench /
Bloom-crossover tradition: plant N_EPOCHS absorbed epochs on a
partitioned+versioned Bm25Index and IvfIndex at sf0.1, record

  - parquet data files on disk and WARM serving wall (median of 3)
    at epoch checkpoints (the degradation curve),
  - compact() wall, files and serving wall after the full merge,
  - files after prune_versions() (the versioned-store disk reclaim),
  - queries_to_break_even = compact_sec / (serve_before - serve_after)
    — how many serves pay back one compaction — and the derived
    in-stream `compact_every` guidance: with absorb cadence E
    epochs/day and Q serves/day, compacting every `ceil(break_even
    * E / Q)` epochs keeps amortized compact cost below the serving
    win (the epochs.py arithmetic, now with measured constants).

Prints one JSON line per index family. Recorded in BASELINE.md
("Round-14 measurements"); the compaction CORRECTNESS invariants
(bit-identical serving, watermark replay, crash windows) are pinned
in tests/test_compaction.py — this file only prices them.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EPOCHS = int(os.environ.get("SPARK_GRAFT_COMPACT_EPOCHS", "200"))
CHECKPOINTS = sorted(
    {N_EPOCHS // 4, N_EPOCHS // 2, N_EPOCHS} - {0}
)
SERVE_REPS = 3


def _timed_serve(fn):
    """Warm median-of-SERVE_REPS wall for one serving call."""
    fn()  # warm (plan + code cache; the steady-state serving shape)
    walls = []
    for _ in range(SERVE_REPS):
        t0 = time.monotonic()
        fn()
        walls.append(time.monotonic() - t0)
    walls.sort()
    return walls[len(walls) // 2]


def bench_bm25(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.operators.epochs import (
        parquet_file_count,
    )
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .localCheckpoint()
    )
    n_docs = docs.count()
    base_n = n_docs // 2
    per_epoch = max(1, (n_docs - base_n) // N_EPOCHS)

    root = tempfile.mkdtemp(prefix="compact_bench_bm25_")
    try:
        wh = Warehouse(spark, root)
        idx = Bm25Index(wh, partitioned=True, versioned=True)
        idx.build(docs.filter(F.col("doc_id") < base_n))
        queries = {
            "q_join_path": ["hash", "join", "merge"],
            "q_window_sort": ["window", "group", "sort", "order"],
            "q_stream": ["spark", "stream", "batch", "vector"],
        }

        def serve():
            idx.topk(queries, topk=10, max_df_frac=0.8).count()

        curve = []
        t_absorb0 = time.monotonic()
        for e in range(1, N_EPOCHS + 1):
            lo = base_n + (e - 1) * per_epoch
            idx.absorb(
                docs.filter(
                    (F.col("doc_id") >= lo)
                    & (F.col("doc_id") < lo + per_epoch)
                ),
                batch=e,
            )
            if e in CHECKPOINTS:
                post_t = idx.store.tables()[0]
                curve.append(
                    {
                        "epochs": e,
                        "files": parquet_file_count(wh.path(post_t)),
                        "serve_sec": round(_timed_serve(serve), 3),
                    }
                )
        absorb_sec = time.monotonic() - t_absorb0

        t0 = time.monotonic()
        report = idx.compact()
        compact_sec = time.monotonic() - t0
        post_t = idx.store.tables()[0]
        after_files = parquet_file_count(wh.path(post_t))
        after_serve = round(_timed_serve(serve), 3)
        pruned = idx.prune_versions()
        pruned_files = parquet_file_count(root)  # whole store at rest

        before = curve[-1]
        gain = before["serve_sec"] - after_serve
        return {
            "metric": "bm25_compaction_economics",
            "sf_dir": sf_dir,
            "n_docs": n_docs,
            "n_epochs": N_EPOCHS,
            "docs_per_epoch": per_epoch,
            "absorb_total_sec": round(absorb_sec, 1),
            "degradation_curve": curve,
            "compact_sec": round(compact_sec, 2),
            "stamps_merged": report["stamps_merged"],
            "files_before": before["files"],
            "files_after": after_files,
            "serve_before_sec": before["serve_sec"],
            "serve_after_sec": after_serve,
            "store_files_after_prune": pruned_files,
            "pruned_tables": len(pruned),
            "queries_to_break_even": (
                round(compact_sec / gain, 1) if gain > 0 else None
            ),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_ivf(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.operators.epochs import (
        parquet_file_count,
    )
    from etl_process_for_fraud_transactions_spark.operators.similarity import (
        IvfIndex,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    emb = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .select(
            "vec_id",
            F.transform(
                "embedding", lambda x: x.cast("double")
            ).alias("embedding"),
        )
        .localCheckpoint()
    )
    n_vecs = emb.count()
    base_n = n_vecs // 2
    per_epoch = max(1, (n_vecs - base_n) // N_EPOCHS)

    root = tempfile.mkdtemp(prefix="compact_bench_ivf_")
    try:
        wh = Warehouse(spark, root)
        idx = IvfIndex(wh, partitioned=True, versioned=True)
        idx.build(emb.filter(F.col("vec_id") < base_n), n_cells=16, seed=42)
        queries = (
            emb.filter(F.col("vec_id") < 3)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
            .localCheckpoint()
        )

        def serve():
            idx.topk(queries, k=10, nprobe=3).count()

        curve = []
        t_absorb0 = time.monotonic()
        for e in range(1, N_EPOCHS + 1):
            lo = base_n + (e - 1) * per_epoch
            idx.absorb(
                emb.filter(
                    (F.col("vec_id") >= lo)
                    & (F.col("vec_id") < lo + per_epoch)
                ),
                batch=e,
            )
            if e in CHECKPOINTS:
                vec_t = idx.store.tables()[0]
                curve.append(
                    {
                        "epochs": e,
                        "files": parquet_file_count(wh.path(vec_t)),
                        "serve_sec": round(_timed_serve(serve), 3),
                    }
                )
        absorb_sec = time.monotonic() - t_absorb0

        t0 = time.monotonic()
        report = idx.compact()
        compact_sec = time.monotonic() - t0
        vec_t = idx.store.tables()[0]
        after_files = parquet_file_count(wh.path(vec_t))
        after_serve = round(_timed_serve(serve), 3)
        pruned = idx.prune_versions()
        pruned_files = parquet_file_count(root)

        before = curve[-1]
        gain = before["serve_sec"] - after_serve
        return {
            "metric": "ivf_compaction_economics",
            "sf_dir": sf_dir,
            "n_vecs": n_vecs,
            "n_epochs": N_EPOCHS,
            "vecs_per_epoch": per_epoch,
            "absorb_total_sec": round(absorb_sec, 1),
            "degradation_curve": curve,
            "compact_sec": round(compact_sec, 2),
            "stamps_merged": report["stamps_merged"],
            "files_before": before["files"],
            "files_after": after_files,
            "serve_before_sec": before["serve_sec"],
            "serve_after_sec": after_serve,
            "store_files_after_prune": pruned_files,
            "pruned_tables": len(pruned),
            "queries_to_break_even": (
                round(compact_sec / gain, 1) if gain > 0 else None
            ),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("compaction-bench")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for fn in (bench_bm25, bench_ivf):
        print(json.dumps(fn(spark, sf_dir)))
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
