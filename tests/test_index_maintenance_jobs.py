"""Spark jobs per index maintenance cycle, per family.

Each index family (BM25, IVF, PQ, near-dup) runs one maintenance
cycle: build, absorb one epoch, a no-op delete, a one-id delete,
compact, prune_versions. Every step's Spark job count is bounded by
the count recorded in `CEILING`, so a lifecycle refactor can move
code between the families and the shared store but cannot add a job
to any step. A job count is a structural measure: host load and
clock drift cannot move it.

The ceilings are the counts measured on this cycle when the pin was
written. A step that legitimately gets cheaper keeps passing; lower
the ceiling with it. The cycle trains nothing (IVF cells come with
the corpus, PQ codebooks are frozen), because the job count of a
KMeans fit follows its iteration count, which moves with the local
core count.
"""

from __future__ import annotations

import pytest

from .conftest import spark_jobs

#: family -> step -> Spark jobs the step may run at most
CEILING = {
    "bm25": {
        "build": 6, "absorb": 6, "delete_noop": 4, "delete_one": 5,
        "compact": 11, "prune_versions": 0,
    },
    "ivf": {
        "build": 6, "absorb": 5, "delete_noop": 4, "delete_one": 5,
        "compact": 4, "prune_versions": 0,
    },
    "pq": {
        "build": 3, "absorb": 1, "delete_noop": 4, "delete_one": 5,
        "compact": 4, "prune_versions": 0,
    },
    "neardup": {
        "build": 2, "absorb": 3, "delete_noop": 4, "delete_one": 5,
        "compact": 8,
    },
}


def _vectors(spark, ids, cells=False):
    rows = [
        (i, [float(i % 3), 1.0 + 0.1 * (i % 5), float(i % 2), 0.5])
        for i in ids
    ]
    if not cells:
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return spark.createDataFrame(
        [r + (i % 2,) for i, r in zip(ids, rows)],
        "vec_id long, embedding array<double>, ivf_cell int",
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _cycle(spark, wh, family):
    """(index, ordered [(step, thunk)]) for one maintenance cycle."""
    if family == "bm25":
        from etl_process_for_fraud_transactions_spark.operators.retrieval import (
            Bm25Index,
        )

        idx = Bm25Index(wh, n_buckets=4, partitioned=True, versioned=True)
        build = lambda: idx.build(  # noqa: E731
            _docs(spark, [(1, "hash join hash"), (2, "merge sort")])
        )
        absorb = lambda: idx.absorb(  # noqa: E731
            _docs(spark, [(3, "hash probe")]), batch=1
        )
        ids = lambda i: _docs(spark, [(i, "")])  # noqa: E731
    elif family == "ivf":
        from etl_process_for_fraud_transactions_spark.operators.similarity import (
            IvfIndex,
        )

        idx = IvfIndex(wh, partitioned=True, versioned=True)
        build = lambda: idx.build(  # noqa: E731
            _vectors(spark, range(12), cells=True), assigned=True
        )
        absorb = lambda: idx.absorb(  # noqa: E731
            _vectors(spark, [20, 21]), batch=1
        )
        ids = lambda i: _vectors(spark, [i])  # noqa: E731
    elif family == "pq":
        from etl_process_for_fraud_transactions_spark.operators.pq import (
            PqIndex,
            PqModel,
        )

        books = PqModel(
            m=2, sub_dim=2, n_codes=2,
            codebooks=(((0.0, 1.0), (2.0, 1.4)), ((0.0, 0.5), (1.0, 0.5))),
        )
        idx = PqIndex(wh, partitioned=True, versioned=True)
        build = lambda: idx.build(_vectors(spark, range(12)), books=books)  # noqa: E731
        absorb = lambda: idx.absorb(  # noqa: E731
            _vectors(spark, [20, 21]), batch=1
        )
        ids = lambda i: _vectors(spark, [i])  # noqa: E731
    else:
        from etl_process_for_fraud_transactions_spark.operators.dedup_incremental import (
            NearDupIndex,
        )

        idx = NearDupIndex(wh, partitioned=True)
        build = lambda: idx.bootstrap(  # noqa: E731
            _docs(spark, [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "a completely different sentence about joins"),
            ])
        )
        absorb = lambda: idx.absorb(  # noqa: E731
            _docs(spark, [(3, "fresh epoch text about query planning")]),
            batch=1,
        )
        ids = lambda i: _docs(spark, [(i, "")])  # noqa: E731
    steps = [
        ("build", build),
        ("absorb", absorb),
        ("delete_noop", lambda: idx.delete(ids(999))),
        ("delete_one", lambda: idx.delete(ids(2))),
        ("compact", idx.compact),
    ]
    if family != "neardup":
        steps.append(("prune_versions", idx.prune_versions))
    return idx, steps


@pytest.mark.parametrize("family", sorted(CEILING))
def test_maintenance_cycle_job_counts(spark, tmp_path, family):
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    _, steps = _cycle(spark, wh, family)
    counts = {}
    for step, run in steps:
        with spark_jobs(spark) as jobs:
            run()
        counts[step] = len(jobs)
    print(f"{family} maintenance jobs: {counts}")
    assert list(counts) == list(CEILING[family])
    over = {
        s: (n, CEILING[family][s])
        for s, n in counts.items()
        if n > CEILING[family][s]
    }
    assert not over, f"{family}: steps over their job ceiling {over}"
