"""The daily workloads: DailyFraudJob.run_batch over seeded dated
batches, one client in a closed loop (the next batch starts when the
previous one has committed its report).

A run: generate day 1, start the session and run the first batch
(set-up), then time `run_batch` on each following date. The source DB
is rewritten and the day's files are written before each batch,
outside the timed region. After the loop, untimed checks compare
rep_fraud for every report date with the generator's planted set and
the SCD2 tables with the generated churn. A traced run wraps each
timed batch's layers in spans and also re-runs the last date, checking
that rep_fraud and fact_transactions keep the same rows.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from collections import Counter

from common import Clock, cpu_seconds, start_spark, tree_bytes, work_dir
from daily_gen import DIMS, DailyGen, batch_date
from spans import Tracer, account_jobs, daily_hooks, read_event_log

#: per workload: generator sizes and report mode
WORKLOADS = {
    "daily_fraud": {
        "gen": {"clients": 2000, "terminals": 240, "txns_per_day": 20000,
                "churn": 0.002, "new_clients_per_day": 5, "blacklist_per_day": 10},
        "incremental_report": False,
    },
    "daily_churn": {
        "gen": {"clients": 20000, "terminals": 10000, "txns_per_day": 500,
                "churn": 0.03, "new_clients_per_day": 100, "blacklist_per_day": 50},
        "incremental_report": True,
    },
}

#: turns --seconds into a fixed number of timed batches, so the op
#: sequence depends on the seed and --seconds only, never on how fast
#: the program runs
NOMINAL_BATCH_S = 20.0

END_TO_END = ["setup_s", "batch_cpu_s", "batch_jobs", "input_rows_per_cpu_s",
              "storage_bytes_per_input_byte"]

LAYERS = [
    "ingest.xlsx", "scd2.clients", "scd2.accounts", "scd2.cards", "scd2.terminals",
    "fact.blacklist", "fact.transactions", "report.rules", "report.write", "files.archive",
]
LAYER_SUFFIXES = ["self_s", "jobs", "shuffle_bytes", "spill_bytes", "files_written"]


def metric_names(trace: bool) -> list[str]:
    """The metrics a run prints: end-to-end untraced, per-layer traced."""
    if not trace:
        return list(END_TO_END)
    return ([f"{layer}.{suf}" for layer in LAYERS for suf in LAYER_SUFFIXES]
            + [f"scd2.{dim}.changed_frac" for dim in DIMS]
            + ["untraced.jobs", "tracing_overhead_frac", "batch_wall_s", "setup_wall_s"])


def plan(seconds: int) -> int:
    """Number of timed batches for a run of `seconds`."""
    return max(1, round(seconds / NOMINAL_BATCH_S))


def _jobs_so_far(spark) -> int:
    """Spark jobs started so far in this session (an untraced run sets
    no job group). Waits for the listener bus first, so a job the last
    action started is already counted."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup())


def _dim_rows(job) -> dict[str, int]:
    """Rows in each dimension's current plus closed table, from the
    parquet footers (no Spark job)."""
    return {
        dim: sum(job.wh.count_rows(t) for t in (f"dim_{dim}_current", f"dim_{dim}_closed")
                 if job.wh.exists(t))
        for dim in DIMS
    }


def _fingerprint(spark, path: str) -> tuple[int, int]:
    """(rows, order-independent hash sum) of a parquet table."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    h = F.xxhash64(*df.columns) % F.lit(2**31)
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def _restore_inputs(input_dir: str, stamp: str) -> None:
    archive = os.path.join(input_dir, "archive")
    for f in os.listdir(archive):
        if stamp in f and f.endswith(".backup"):
            shutil.move(os.path.join(archive, f), os.path.join(input_dir, f[: -len(".backup")]))


def check(spark, job, gen: DailyGen, days: int, incremental: bool, wh: str) -> list[str]:
    """Untimed correctness checks of the report and the SCD2 tables;
    returns one message per failure."""
    errors = []
    got_by_day: dict[str, Counter] = {}
    for r in spark.read.parquet(os.path.join(wh, "rep_fraud")).collect():
        key = r["report_dt"].isoformat()
        got_by_day.setdefault(key, Counter())[(
            r["event_dt"].strftime("%Y-%m-%d %H:%M:%S"), r["passport"], r["fio"], r["phone"],
            r["event_type"], key,
        )] += 1
    for day in range(1, days + 1):
        key = batch_date(day).isoformat()
        exp = gen.expected_report(day, incremental)
        got = got_by_day.get(key, Counter())
        if got != exp:
            errors.append(
                f"rep_fraud {key}: {sum((got - exp).values())} unexpected, "
                f"{sum((exp - got).values())} missing rows"
            )
    for dim in DIMS:
        closed = sum(gen.closed[d][dim] for d in range(1, days + 1))
        live = gen.live_keys(dim)
        n_cur = job.wh.count_rows(f"dim_{dim}_current")
        n_closed = job.wh.count_rows(f"dim_{dim}_closed") if job.wh.exists(f"dim_{dim}_closed") else 0
        if (n_cur, n_closed) != (live, closed):
            errors.append(f"dim_{dim}: current/closed rows {n_cur}/{n_closed}, expected {live}/{closed}")
    return errors


def check_rerun(spark, job, wh: str, input_dir: str, stamp: str) -> list[str]:
    """Re-run the last date (its files restored from the archive) and
    check that rep_fraud and fact_transactions keep the same rows."""
    tables = ("rep_fraud", "fact_transactions")
    before = [_fingerprint(spark, os.path.join(wh, t)) for t in tables]
    _restore_inputs(input_dir, stamp)
    job.run_batch(stamp)
    after = [_fingerprint(spark, os.path.join(wh, t)) for t in tables]
    if before != after:
        return [f"re-running {stamp} changed rep_fraud/fact_transactions: {before} -> {after}"]
    return []


_START = time.perf_counter()


def _phase(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def run(name: str, seed: int, seconds: int, trace: bool) -> dict:
    from etl_process_for_fraud_transactions_spark.jobs.daily import DailyFraudJob

    cfg = WORKLOADS[name]
    days = 1 + plan(seconds)
    work = work_dir(name)
    input_dir, source_dir, wh = (os.path.join(work, d) for d in ("incoming", "sourcedb", "warehouse"))
    gen = DailyGen(seed, days=days, **cfg["gen"])
    stamps = {1: gen.write_day(1, input_dir, source_dir)}
    _phase("generated day 1")

    setup: list[float] = []
    walls: list[float] = []
    cpus: list[float] = []
    jobs: list[int] = []
    #: per timed batch and dimension: rows the batch added to the
    #: dimension's current and closed tables
    dim_added: list[dict[str, int]] = []
    cpu0 = cpu_seconds()
    with Clock(setup):
        spark = start_spark(work, event_log=trace)
        _phase("session started")
        job = DailyFraudJob(spark, input_dir, source_dir, wh,
                            incremental_report=cfg["incremental_report"])
        job.run_batch(stamps[1])
    setup_cpu = cpu_seconds(spark) - cpu0
    _phase(f"set-up (session and first batch) took {setup[0]:.1f}s, {setup_cpu:.1f} CPU s")
    attempted = 1
    tracer = Tracer(spark, [wh, input_dir]) if trace else None
    for day in range(2, days + 1):
        stamps[day] = gen.write_day(day, input_dir, source_dir)
        attempted += 1
        dims0 = _dim_rows(job) if trace else None
        jobs0 = None if trace else _jobs_so_far(spark)
        cpu0 = cpu_seconds(spark)
        with Clock(walls):
            if trace:
                with tracer.op_span("op.run_batch"), daily_hooks(tracer):
                    job.run_batch(stamps[day])
            else:
                job.run_batch(stamps[day])
        cpus.append(cpu_seconds(spark) - cpu0)
        if trace:
            dims1 = _dim_rows(job)
            dim_added.append({d: dims1[d] - dims0[d] for d in DIMS})
        else:
            jobs.append(_jobs_so_far(spark) - jobs0)
        _phase(f"batch {stamps[day]} took {walls[-1]:.1f}s, {cpus[-1]:.1f} CPU s")

    errors = check(spark, job, gen, days, cfg["incremental_report"], wh)
    if trace:
        errors += check_rerun(spark, job, wh, input_dir, stamps[days])
    input_rows = sum(gen.rows[d] for d in range(2, days + 1))
    input_bytes = sum(gen.bytes.values())
    store_bytes = tree_bytes(wh)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    _phase("checks done, session stopped")

    if trace:
        log = read_event_log(os.path.join(work, "eventlog", app_id))
        tracer.dump(os.path.join(work, "spans.json"), log)
        metrics, trace_errors = layer_metrics(tracer, log, gen, dim_added, walls)
        metrics["setup_wall_s"] = {"value": setup[0], "unit": "s"}
        errors += trace_errors
    else:
        metrics = {
            "setup_s": {"value": setup_cpu, "unit": "s"},
            "batch_cpu_s": {"value": statistics.median(cpus), "unit": "s"},
            "batch_jobs": {"value": statistics.median(jobs), "unit": "count"},
            "input_rows_per_cpu_s": {"value": input_rows / sum(cpus), "unit": "rows/cpu_s"},
            "storage_bytes_per_input_byte": {"value": store_bytes / input_bytes, "unit": "ratio"},
        }
    if sorted(metrics) != sorted(metric_names(trace)):
        errors.append(f"metric names differ from metric_names(): {sorted(metrics)}")
    for e in errors:
        print("CHECK FAILED:", e, file=sys.stderr)
    return {"correct": not errors, "attempted": attempted, "failed": len(errors), "metrics": metrics}


def layer_metrics(tracer: Tracer, log: dict, gen: DailyGen, dim_added: list[dict[str, int]],
                  walls: list[float]) -> tuple[dict, list[str]]:
    """Per-layer means over the traced batches, and the trace's own
    consistency errors."""
    per_group, untraced, _total, errors = account_jobs(tracer, log)
    errors += tracer.check_nesting()
    n_ops = len(tracer.op_windows)
    self_t = tracer.self_times()
    agg = {layer: dict.fromkeys(LAYER_SUFFIXES, 0.0) for layer in LAYERS}
    for s in tracer.spans:
        if s["group"] is None:
            continue
        a = agg[s["name"]]
        g = log["by_group"].get(s["group"], {})
        a["self_s"] += self_t[s["id"]]
        a["jobs"] += per_group.get(s["group"], 0)
        a["shuffle_bytes"] += g.get("shuffle_bytes", 0)
        a["spill_bytes"] += g.get("spill_bytes", 0)
        a["files_written"] += s.get("files_written", 0)
    units = {"self_s": "s", "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
    metrics = {
        f"{layer}.{suf}": {"value": agg[layer][suf] / n_ops, "unit": units.get(suf, "count")}
        for layer in LAYERS
        for suf in LAYER_SUFFIXES
    }
    for dim in DIMS:
        # a changed key adds one closed row, a new key one current row:
        # rows added / staged rows is the share of keys the apply versioned
        fracs = []
        for d, added in enumerate(dim_added, start=2):
            fracs.append(added[dim] / gen.staged[d][dim])
            if added[dim] != gen.changed[d][dim]:
                errors.append(f"dim_{dim} batch {d}: {added[dim]} rows added, "
                              f"{gen.changed[d][dim]} keys changed or new")
        metrics[f"scd2.{dim}.changed_frac"] = {"value": sum(fracs) / len(fracs), "unit": "ratio"}
    metrics["untraced.jobs"] = {"value": untraced / n_ops, "unit": "count"}
    metrics["tracing_overhead_frac"] = {"value": tracer.overhead_s / sum(walls), "unit": "ratio"}
    metrics["batch_wall_s"] = {"value": statistics.median(walls), "unit": "s"}
    return metrics, errors
