"""Spans for the traced run.

A span records its name, start, end, parent span and op id. A layer
span also sets a Spark job group, so every job it starts can be found
in Spark's event log; jobs that run outside every layer span carry no
group and are counted as untraced. Spans live in memory; the event
log is read once, after the session stops.

The spans wrap the engine's public calls from here, the benchmark's
side: the daily hooks replace, for the length of one traced op, the
names `jobs/daily.py` calls (`read_excel_sheet`, `assemble_report`,
`archive_batch_files`) and the two writer methods it goes through
(`PartitionedScd2.apply_batch`, `Warehouse.append[_partitioned]`).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from common import data_files


class Tracer:
    """Spans of one run, kept in memory. `file_roots` are the directories
    whose new data files a layer span counts."""

    def __init__(self, spark, file_roots: list[str] = ()):
        self.sc = spark.sparkContext
        self.file_roots = list(file_roots)
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: int | None = None
        #: (start_ms, end_ms) of every traced op, epoch clock
        self.op_windows: list[tuple[float, float]] = []
        #: time spent in the tracer's own bookkeeping (file listings,
        #: job-group calls) while tracing
        self.overhead_s = 0.0

    def _files(self) -> set[str]:
        out: set[str] = set()
        for r in self.file_roots:
            out |= data_files(r)
        return out

    def _set_group(self, group: str | None, name: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", name)

    @contextmanager
    def op_span(self, name: str):
        """One measured op: the root span of its layers. It sets no job
        group, so its own jobs between layers count as untraced."""
        self.op = len(self.op_windows)
        t0 = time.time() * 1000
        with self._span(name, layer=False):
            yield
        self.op_windows.append((t0, time.time() * 1000))
        self.op = None

    def layer(self, name: str):
        return self._span(name, layer=True)

    @contextmanager
    def _span(self, name: str, layer: bool):
        t = time.perf_counter()
        before = self._files() if layer and self.file_roots else None
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "op": self.op,
            "group": f"perfbench-{sid}" if layer else None,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        if layer:
            self._set_group(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if layer:
                outer = next(
                    (self.spans[s] for s in reversed(self.stack) if self.spans[s]["group"]),
                    None,
                )
                self._set_group(outer and outer["group"], outer and outer["name"])
            if before is not None:
                rec["files_written"] = len(self._files() - before)
            self.overhead_s += time.perf_counter() - rec["end"]

    def dump(self, path: str, log: dict) -> None:
        """Write the spans, with their self time and job count, as JSON."""
        jobs = defaultdict(int)
        for _job, _submit, group in log["jobs"]:
            jobs[group] += 1
        self_t = self.self_times()
        with open(path, "w", encoding="utf-8") as f:
            json.dump([dict(s, self_s=self_t[s["id"]], jobs=jobs.get(s["group"], 0))
                       for s in self.spans], f, indent=1)

    # -- analysis ------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover
        (children of one span run one after another)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def check_nesting(self) -> list[str]:
        errors = []
        by_id = {s["id"]: s for s in self.spans}
        last_end: dict = {}
        for s in self.spans:
            if s["end"] < s["start"]:
                errors.append(f"span {s['name']} ends before it starts")
            p = by_id.get(s["parent"])
            if p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
                errors.append(f"span {s['name']} is not inside its parent {p['name']}")
            prev = last_end.get(s["parent"])
            if prev is not None and s["start"] < prev:
                errors.append(f"span {s['name']} overlaps its previous sibling")
            last_end[s["parent"]] = s["end"]
        return errors


def read_event_log(path: str) -> dict:
    """Jobs and task metrics from an uncompressed Spark event log:
    {"jobs": [(job_id, submit_ms, group)], "by_group": {group: {...}}}
    where the per-group sums are shuffle bytes written and bytes spilled
    (memory + disk)."""
    jobs = []
    stage_group: dict[int, str | None] = {}
    by_group: dict = defaultdict(lambda: defaultdict(int))
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs.append((ev["Job ID"], ev["Submission Time"], group))
                for st in ev.get("Stage IDs", []):
                    stage_group.setdefault(st, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                g = by_group[stage_group.get(ev["Stage ID"])]
                g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "by_group": by_group}


def account_jobs(tracer: Tracer, log: dict) -> tuple[dict[str, int], int, int, list[str]]:
    """Attribute the jobs submitted during traced ops. Returns (jobs
    per layer group, untraced jobs, total jobs in the traced ops,
    errors). The total is counted from submission times alone; the
    layer and untraced counts from job groups. They only add up when
    every layer job ran inside a traced op and no job carries a group
    that no span set."""
    groups = {s["group"] for s in tracer.spans if s["group"]}
    per_group: dict[str, int] = defaultdict(int)
    untraced = total = 0
    for _job, submit, group in log["jobs"]:
        if any(a <= submit <= b for a, b in tracer.op_windows):
            total += 1
            untraced += group is None
        if group in groups:
            per_group[group] += 1
    errors = []
    if sum(per_group.values()) + untraced != total:
        errors.append(
            f"layer jobs {sum(per_group.values())} + untraced {untraced} != total {total}"
        )
    return per_group, untraced, total, errors


def hooked(obj, attr: str, tracer: Tracer, name_of):
    """Replace obj.attr with a wrapper that runs the call inside the
    layer span `name_of(*args)` (no span when it returns None). Returns
    a function that puts the original back."""
    orig = getattr(obj, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        name = name_of(*args, **kwargs)
        if name is None:
            return orig(*args, **kwargs)
        with tracer.layer(name):
            return orig(*args, **kwargs)

    setattr(obj, attr, wrapper)
    return lambda: setattr(obj, attr, orig)


@contextmanager
def daily_hooks(tracer: Tracer):
    """Wrap the daily job's layers in spans for the length of the block."""
    from etl_process_for_fraud_transactions_spark.jobs import daily
    from etl_process_for_fraud_transactions_spark.operators.scd2_partitioned import PartitionedScd2
    from etl_process_for_fraud_transactions_spark.sources.warehouse import Warehouse

    facts = {"fact_transactions": "fact.transactions", "rep_fraud": "report.write"}
    undo = [
        hooked(daily, "read_excel_sheet", tracer, lambda *a, **k: "ingest.xlsx"),
        hooked(daily, "assemble_report", tracer, lambda *a, **k: "report.rules"),
        hooked(daily, "archive_batch_files", tracer, lambda *a, **k: "files.archive"),
        hooked(PartitionedScd2, "apply_batch", tracer,
               lambda self, *a, **k: "scd2." + self.table.removeprefix("dim_")),
        hooked(Warehouse, "append", tracer,
               lambda self, table, *a, **k: "fact.blacklist" if table == "fact_passport_blacklist" else None),
        hooked(Warehouse, "append_partitioned", tracer,
               lambda self, table, *a, **k: facts.get(table)),
    ]

    try:
        yield
    finally:
        for u in reversed(undo):
            u()
