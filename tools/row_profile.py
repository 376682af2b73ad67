#!/usr/bin/env python
"""Profile registered driver rows under a driver-like plain session
(local[8], none of the engine's confs: the grading driver builds its
own session).

  python tools/row_profile.py time SF_DIR [row ...] [--reps N]
      Wall time of each row's count(); every row when none is named.
  python tools/row_profile.py phases SF_DIR row [row ...] [--reps N]
      Wall time per phase: construct (the query function call, with
      any plan-time probes), analyze (df.schema), optimize, physical
      plan, and exec (noop sink). The noop write builds its own
      QueryExecution, so exec repeats analysis and planning: the
      phases are a breakdown, not additive accounting.
  python tools/row_profile.py plans SF_DIR [row ...] [--formatted DIR]
      Facts from each row's AQE-final plan (joins by strategy,
      exchanges, pushed filters, read schemas) as markdown in PLANS.md
      at the repo root, for the headline rows when none is named.
      --formatted DIR also writes each row's full formatted plan to
      DIR/<row>.txt, for before/after comparisons. The plans are the
      ones the driver-like session picks (default 200 shuffle
      partitions, AQE on), not those under the engine's get_spark.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PLAN_QUERIES = [
    "pricing_summary",
    "multihop_revenue",
    "diff_city_short_time",
    "brute_force_hits",
    "brute_force_hits_dense",
    "ngram_jaccard_same_source",
    "lsh_embedding_neighbors",
    "text_quality_stats",
    "fraud_report",
    "user_sessions",
    "ann_cosine_topk",
    "minhash_near_duplicates",
    "asof_prev_hour_stats",
    "amount_zscore_outliers",
    "hourly_event_windows",
    "json_props_by_type",
    "cube_revenue",
    "bm25_topk_docs",
    "global_top_orders",
    "neardup_incremental_filter",
    "corpus_curation_pipeline",
    "url_curation",
    "corpus_health_report",
]


def _printable(text: str) -> str:
    # plans can embed control characters (e.g. cap_per_domain's
    # "\x00<no-url>" sentinel); escape them so the output stays text
    return re.sub(r"[\x00-\x08\x0b\x0c\x0e-\x1f]", lambda m: f"\\x{ord(m.group(0)):02x}", text)


def time_rows(spark, queries, args) -> None:
    for name in args.rows or list(queries):
        for r in range(args.reps):
            t0 = time.perf_counter()
            n = queries[name](spark, args.sf_dir).count()
            print(f"{name} rep{r}: {time.perf_counter() - t0:.2f} s ({n} rows)", flush=True)


def phases(spark, queries, args) -> None:
    for name in args.rows:
        for r in range(args.reps):
            t = [time.perf_counter()]
            df = queries[name](spark, args.sf_dir)
            t.append(time.perf_counter())
            _ = df.schema
            t.append(time.perf_counter())
            qe = df._jdf.queryExecution()
            qe.optimizedPlan()
            t.append(time.perf_counter())
            qe.executedPlan()
            t.append(time.perf_counter())
            df.write.format("noop").mode("overwrite").save()
            t.append(time.perf_counter())
            cols = zip(("construct", "analyze", "optimize", "physplan", "exec"), t, t[1:])
            print(
                f"{name} rep{r}: " + " ".join(f"{k} {b - a:.2f}" for k, a, b in cols)
                + f" TOTAL {t[-1] - t[0]:.2f}",
                flush=True,
            )
        spark.catalog.clearCache()


def plans(spark, queries, args) -> None:
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = io.StringIO()
    out.write(
        "# PLANS — physical-plan evidence for the headline queries\n\n"
        "Generated by `python tools/row_profile.py plans <sf_dir>` at\n"
        f"{os.path.basename(os.path.normpath(args.sf_dir))} under a driver-like plain session\n"
        "(local[8], default confs).\n"
        "Summary counts come from the executed (AQE-final) plan; the\n"
        "excerpts show scan pushdown and join strategies.\n"
    )
    for name in args.rows or PLAN_QUERIES:
        df = queries[name](spark, args.sf_dir)
        # act through the DataFrame's OWN QueryExecution so the
        # AdaptiveSparkPlan finalizes: a noop write builds a separate
        # one, and reading this one afterwards gives the initial plan
        df.collect()
        qe = df._jdf.queryExecution()
        executed = qe.executedPlan().toString()
        assert "isFinalPlan=true" in executed or "AdaptiveSparkPlan" not in executed, (
            f"{name}: plan did not finalize"
        )
        # AQE prints the final plan, then the initial one
        final = executed.split("== Initial Plan ==")[0]
        full = qe.toString()
        out.write(f"\n## {name}\n\n")
        out.write(
            f"- joins: {final.count('BroadcastHashJoin')} broadcast-hash, "
            f"{final.count('ShuffledHashJoin')} shuffled-hash, "
            f"{final.count('SortMergeJoin')} sort-merge; "
            f"{final.count('Exchange')} exchange nodes (incl. broadcasts)\n"
        )
        for p in sorted(set(re.findall(r"PushedFilters: \[[^\]]*\]", full)))[:4]:
            out.write(f"- `{p[:160]}`\n")
        for s in sorted(set(re.findall(r"ReadSchema: [^\n]{0,160}", full)))[:4]:
            out.write(f"- `{s}`\n")
        lines = [ln for ln in qe.simpleString().splitlines() if ln.strip()][:30]
        out.write("\n```\n" + "\n".join(lines) + "\n```\n")
        if args.formatted:
            os.makedirs(args.formatted, exist_ok=True)
            with open(os.path.join(args.formatted, f"{name}.txt"), "w") as f:
                f.write(_printable(qe.explainString(explain_mode) + "\n\n== AQE final ==\n" + final))
    path = os.path.join(ROOT, "PLANS.md")
    with open(path, "w") as f:
        # scan locations name the data directory, not this checkout's
        f.write(_printable(out.getvalue().replace(os.path.abspath(args.sf_dir), "<sf_dir>")))
    print(f"wrote {path}")


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = parser.add_subparsers(dest="command", required=True)
    for cmd, fn in (("time", time_rows), ("phases", phases), ("plans", plans)):
        p = sub.add_parser(cmd)
        p.set_defaults(fn=fn)
        p.add_argument("sf_dir")
        p.add_argument("rows", nargs="+" if cmd == "phases" else "*")
        if cmd == "plans":
            p.add_argument("--formatted", metavar="DIR")
        else:
            p.add_argument("--reps", type=int, default=1 if cmd == "time" else 3)
    args = parser.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName(f"profile-{args.command}")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from etl_process_for_fraud_transactions_spark.plans import QUERIES

    try:
        args.fn(spark, QUERIES, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
