"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_fraud --seed 1 --seconds 20 --trace 0

Runs one workload from the root of a checkout and prints, as the last
line of standard output, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics of a traced run with `--trace 1`.
Exits non-zero when a correctness check fails or the engine cannot be
imported. Everything the run writes stays under `.perfbench_work/`.
Every process the run starts (the Spark JVM and its workers) has ended
before it exits, on every path out.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    import daily
    from common import stop_processes

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(daily.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, os.getcwd())
    try:
        import etl_process_for_fraud_transactions_spark as engine
    except ImportError as e:
        print(f"engine package not importable from {os.getcwd()}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(os.getcwd() + os.sep):
        print(f"engine package found outside the checkout: {engine.__file__}", file=sys.stderr)
        return 2

    # a SIGTERM unwinds like an exception, so the session is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = daily.run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_processes()
    print(json.dumps(result, sort_keys=True))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
