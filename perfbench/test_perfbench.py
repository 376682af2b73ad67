"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import daily  # noqa: E402
from daily_gen import EV, DailyGen  # noqa: E402
from spans import Tracer, account_jobs  # noqa: E402
from xlsx import write_xlsx  # noqa: E402

SMALL = {"clients": 60, "terminals": 36, "txns_per_day": 200, "churn": 0.05,
         "new_clients_per_day": 3, "blacklist_per_day": 2}


def _write(tmp_path, seed: int, tag: str) -> dict[str, bytes]:
    gen = DailyGen(seed, days=3, **SMALL)
    root = tmp_path / tag
    for day in (1, 2, 3):
        gen.write_day(day, str(root / "in"), str(root / "src"))
    return {
        os.path.relpath(os.path.join(d, f), root): open(os.path.join(d, f), "rb").read()
        for d, _, files in os.walk(root)
        for f in files
    }


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = _write(tmp_path, 7, "a"), _write(tmp_path, 7, "b"), _write(tmp_path, 8, "c")
    assert len(a) == 3 * 3 + 3  # three dated files per day plus the source DB
    assert a == b
    assert set(a) == set(c)
    assert all(a[k] != c[k] for k in a if k.startswith("in/transactions"))


def test_expected_report_plants_every_rule_and_follows_report_mode(tmp_path):
    gen = DailyGen(3, days=3, **SMALL)
    for day in (1, 2, 3):
        gen.write_day(day, str(tmp_path / "in"), str(tmp_path / "src"))
    full = gen.expected_report(3, incremental=False)
    inc = gen.expected_report(3, incremental=True)
    assert {row[4] for row in full} == set(EV.values())
    assert inc and not inc - full
    # full-history rescan: report 3 holds every hit of batches 1..3
    assert sum(full.values()) == sum(
        sum(gen.expected_report(d, incremental=True).values()) for d in (1, 2, 3)
    )


def test_churn_counts_match_the_source_db(tmp_path):
    import pyarrow.parquet as pq

    gen = DailyGen(5, days=2, **SMALL)
    gen.write_day(1, str(tmp_path / "in"), str(tmp_path / "src"))
    gen.write_day(2, str(tmp_path / "in"), str(tmp_path / "src"))
    assert pq.read_table(tmp_path / "src" / "clients.parquet").num_rows == gen.live_keys("clients")
    assert gen.closed[2]["clients"] > 0 and gen.closed[1]["clients"] == 0
    assert gen.changed[2]["cards"] == gen.closed[2]["cards"] + 2 * SMALL["new_clients_per_day"]


def test_xlsx_reads_back_through_the_engine_reader(tmp_path):
    from etl_process_for_fraud_transactions_spark.sources.ingest import read_xlsx_rows

    path = str(tmp_path / "t.xlsx")
    rows = [["T000001", "ATM", "Kazan", "a & b <c>"], ["T000002", "POS", "Omsk", "x"]]
    write_xlsx(path, "terminals", ["terminal_id", "terminal_type", "terminal_city", "addr"], rows)
    header, got = read_xlsx_rows(path, "terminals")
    assert header == ["terminal_id", "terminal_type", "terminal_city", "addr"]
    assert got == rows
    write_xlsx(path, "blacklist", ["passport", "date"], [["4000 0000001", 45352]])
    assert read_xlsx_rows(path, "blacklist")[1] == [["4000 0000001", 45352]]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == daily.metric_names(False)
    assert [m["name"] for m in bench["per_layer"]] == daily.metric_names(True)
    assert [w["name"] for w in bench["workloads"]] == list(daily.WORKLOADS)
    assert "setup_s" in daily.metric_names(False)


def _fake_tracer():
    sc = SimpleNamespace(setLocalProperty=lambda k, v: None)
    return Tracer(SimpleNamespace(sparkContext=sc))


def test_trace_spans_nest_and_jobs_add_up():
    tr = _fake_tracer()
    with tr.op_span("op"):
        with tr.layer("scd2.clients"):
            pass
        with tr.layer("report.rules"):
            pass
    (a, b), = tr.op_windows
    g1, g2 = tr.spans[1]["group"], tr.spans[2]["group"]
    log = {"jobs": [(0, a, g1), (1, a, g1), (2, b, g2), (3, b, None), (4, b + 10_000, None)]}
    per_group, untraced, total, errors = account_jobs(tr, log)
    assert errors == [] and tr.check_nesting() == []
    assert (per_group[g1], per_group[g2], untraced, total) == (2, 1, 1, 4)
    self_t = tr.self_times()
    assert abs(self_t[0] + self_t[1] + self_t[2] - (tr.spans[0]["end"] - tr.spans[0]["start"])) < 1e-9

    # a layer job submitted outside every traced op breaks the identity
    log["jobs"].append((5, b + 10_000, g1))
    assert account_jobs(tr, log)[3]
