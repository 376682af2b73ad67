#!/usr/bin/env python
"""In-stream `compact_every`, measured on a LIVE stream (round 15 —
VERDICT r14 item 7).

tools/compaction_bench.py measured BATCH compaction economics (the
break-even constants the `compact_every=100-200` guidance was derived
from). This script closes the loop on the derivation by running the
REAL streaming path: an availableNow file stream delivering one
micro-batch per staged epoch file through `bm25_absorb_sink`, two
arms on identical input:

  - compact_every=None  (maintenance deferred; small-files debt
    accumulates for the whole run)
  - compact_every=100, prune_keep=2 (the derived guidance: one
    in-stream live compaction at epoch 100, versions GC'd)

recording per arm: total stream wall (absorb + in-stream maintenance
— the foreachBatch sink is synchronous, so the compaction cost is
inside the stream's wall), steady-state warm serving wall (median of
3), parquet file counts on the current version's postings table, and
whole-store files at rest. One JSON line with both arms plus the
derived comparison.

Epoch staging writes one parquet file per epoch into a staging dir
read with maxFilesPerTrigger=1, so Structured Streaming's availableNow
trigger replays the exact epoch cadence a 1-minute-trigger production
stream would produce, checkpointed like one.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EPOCHS = int(os.environ.get("SPARK_GRAFT_STREAM_EPOCHS", "200"))
SERVE_REPS = 3

QUERIES = {
    "q_join_path": ["hash", "join", "merge"],
    "q_window_sort": ["window", "group", "sort", "order"],
    "q_stream": ["spark", "stream", "batch", "vector"],
}


def _timed_serve(fn):
    fn()  # warm
    walls = []
    for _ in range(SERVE_REPS):
        t0 = time.monotonic()
        fn()
        walls.append(time.monotonic() - t0)
    walls.sort()
    return walls[len(walls) // 2]


def stage_epochs(spark, sf_dir: str, staging: str, base_n: int, per_epoch: int):
    """One parquet file per epoch, so maxFilesPerTrigger=1 replays the
    epoch cadence exactly."""
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
    )
    for e in range(N_EPOCHS):
        lo = base_n + e * per_epoch
        (
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + per_epoch)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(staging)
        )


def run_arm(spark, sf_dir: str, staging: str, base_n: int, compact_every):
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
    from etl_process_for_fraud_transactions_spark.streaming.upsert import (
        bm25_absorb_sink,
    )

    root = tempfile.mkdtemp(prefix="stream_compact_arm_")
    ckpt = tempfile.mkdtemp(prefix="stream_compact_ckpt_")
    try:
        wh = Warehouse(spark, root)
        idx = Bm25Index(wh, partitioned=True, versioned=True)
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "text")
        idx.build(docs.filter(F.col("doc_id") < base_n))

        inner = bm25_absorb_sink(
            idx,
            compact_every=compact_every,
            prune_keep=2 if compact_every else None,
        )
        # per-epoch wall curve: does absorb cost grow with stream age
        # (the writer-side small-files tax), and what does the
        # in-stream compaction hook cost at its firing epoch?
        epoch_walls: list[float] = []

        def sink(batch_df, batch_id):
            t = time.monotonic()
            inner(batch_df, batch_id)
            epoch_walls.append(time.monotonic() - t)
        schema = docs.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staging)
        )
        t0 = time.monotonic()
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        stream_wall = time.monotonic() - t0
        n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else None

        def serve():
            idx.topk(QUERIES, topk=10, max_df_frac=0.8).count()

        serve_sec = round(_timed_serve(serve), 3)
        post_t = idx.store.tables()[0]

        def _mean(xs):
            return round(sum(xs) / len(xs), 3) if xs else None

        return {
            "compact_every": compact_every,
            "n_batches": n_batches,
            "stream_wall_sec": round(stream_wall, 1),
            "postings_files": parquet_file_count(wh.path(post_t)),
            "store_files_at_rest": parquet_file_count(root),
            "serve_sec": serve_sec,
            "epoch_wall_first10_mean": _mean(epoch_walls[:10]),
            "epoch_wall_last10_mean": _mean(epoch_walls[-10:]),
            "epoch_wall_max": (
                round(max(epoch_walls), 3) if epoch_walls else None
            ),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> None:
    """Phases (each fits one driver window, sharing state under /tmp):

        python tools/stream_compaction_bench.py stage
        python tools/stream_compaction_bench.py arm none
        python tools/stream_compaction_bench.py arm 100
        python tools/stream_compaction_bench.py report
        python tools/stream_compaction_bench.py clean
    """
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    phase = sys.argv[1] if len(sys.argv) > 1 else "all"
    state = os.path.join(
        tempfile.gettempdir(), f"stream_compact_{N_EPOCHS}"
    )
    staging = os.path.join(state, "epochs")
    os.makedirs(state, exist_ok=True)

    if phase == "clean":
        shutil.rmtree(state, ignore_errors=True)
        print("cleaned", state)
        return
    if phase == "report":
        arms = []
        for tag in ("none", "100"):
            with open(os.path.join(state, f"arm_{tag}.json")) as f:
                arms.append(json.load(f))
        a, b = arms
        with open(os.path.join(state, "meta.json")) as f:
            meta = json.load(f)
        out = {
            "metric": "bm25_in_stream_compaction",
            "sf_dir": sf_dir,
            **meta,
            "arms": arms,
            "serve_win_sec": round(a["serve_sec"] - b["serve_sec"], 3),
            "maintenance_overhead_sec": round(
                b["stream_wall_sec"] - a["stream_wall_sec"], 1
            ),
        }
        print(json.dumps(out))
        return

    from etl_process_for_fraud_transactions_spark.session import get_spark

    spark = get_spark(
        "stream-compaction-bench",
        extra_confs={"spark.sql.shuffle.partitions": "8"},
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()
    base_n = n_docs // 2
    per_epoch = max(1, (n_docs - base_n) // N_EPOCHS)

    if phase in ("stage", "all"):
        shutil.rmtree(staging, ignore_errors=True)
        stage_epochs(spark, sf_dir, staging, base_n, per_epoch)
        with open(os.path.join(state, "meta.json"), "w") as f:
            json.dump(
                {
                    "n_docs": n_docs,
                    "n_epochs": N_EPOCHS,
                    "docs_per_epoch": per_epoch,
                },
                f,
            )
        print("staged", staging)
    if phase == "arm" or phase == "all":
        wanted = (
            [sys.argv[2]] if phase == "arm" else ["none", "100"]
        )
        for tag in wanted:
            ce = None if tag == "none" else int(tag)
            arm = run_arm(spark, sf_dir, staging, base_n, ce)
            with open(os.path.join(state, f"arm_{tag}.json"), "w") as f:
                json.dump(arm, f)
            print(json.dumps(arm))
    spark.stop()


if __name__ == "__main__":
    main()
