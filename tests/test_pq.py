"""Product quantization (operators/pq.py): lossless corpora recall
100%, measured recall floors with and without exact rerank, the
meta-guarded versioned store, and encode determinism. MLlib-backed
training is import-gated like ivf_build."""

from __future__ import annotations

import math
import random

import pytest

from pyspark.sql import functions as F


def _ml_available():
    try:
        import numpy  # noqa: F401
        from pyspark.ml.clustering import KMeans  # noqa: F401

        return True
    except ImportError:  # pragma: no cover
        return False


pytestmark = pytest.mark.skipif(
    not _ml_available(), reason="pyspark.ml/numpy unavailable"
)


def _random_corpus(spark, n=200, dim=16, seed=0):
    rnd = random.Random(seed)
    rows = [
        (i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(n)
    ]
    return rows, spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )


def _exact_top10(spark, corpus, queries):
    from pyspark.sql.window import Window

    from etl_process_for_fraud_transactions_spark.operators.similarity import (
        cosine,
    )

    w = Window.partitionBy("query_id").orderBy(
        F.desc("s"), F.asc("vec_id")
    )
    return {
        (r["query_id"], r["vec_id"])
        for r in corpus.crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine(F.col("embedding"), F.col("query_vec")), 6
            ).alias("s"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter("rk <= 10")
        .collect()
    }


def test_pq_lossless_corpus_recalls_exactly(spark):
    """Vectors drawn FROM a tiny per-sub-space alphabet encode with
    zero distortion, so ADC ordering equals exact cosine ordering and
    recall@k is 1.0 — the correctness pin that isolates the machinery
    from quantization error."""
    from etl_process_for_fraud_transactions_spark.operators.pq import (
        pq_encode,
        pq_topk,
        train_pq,
    )

    # each 2-dim sub-vector is one of 3 fixed patterns -> a 3-entry
    # codebook reconstructs every vector exactly
    pats = [(1.0, 0.0), (0.0, 1.0), (1.0, 1.0)]
    rnd = random.Random(7)
    rows = [
        (
            i,
            [x for _ in range(4) for x in pats[rnd.randrange(3)]],
        )
        for i in range(60)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )
    model = train_pq(corpus, m=4, n_codes=3, seed=1, max_iter=20)
    codes = pq_encode(corpus, model)
    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in (0, 10, 20)],
        "query_id: long, query_vec: array<double>",
    )
    exact = _exact_top10(spark, corpus, queries)
    got = {
        (r["query_id"], r["vec_id"])
        for r in pq_topk(codes, queries, model, k=10).collect()
    }
    assert got == exact
    # and every rank-1 hit is the query vector itself
    firsts = {
        r["query_id"]: r["vec_id"]
        for r in pq_topk(codes, queries, model, k=10).collect()
        if r["rank"] == 1
    }
    assert firsts == {0: 0, 10: 10, 20: 20}


def test_pq_rerank_recall_floor_on_random_corpus(spark):
    """The hard case — iid gaussian vectors (high intrinsic dimension,
    the adversarial corpus for PQ): raw ADC ordering is noisy, and the
    published shortlist-then-exact-rerank recovers it. Floors, not
    exact pins: kmeans assignments can shift with partitioning."""
    from etl_process_for_fraud_transactions_spark.operators.pq import (
        pq_encode,
        pq_topk,
        train_pq,
    )

    rows, corpus = _random_corpus(spark, n=200, dim=16, seed=0)
    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in range(0, 200, 40)],
        "query_id: long, query_vec: array<double>",
    )
    model = train_pq(corpus, m=4, n_codes=16, seed=1, max_iter=10)
    codes = pq_encode(corpus, model)
    exact = _exact_top10(spark, corpus, queries)

    raw = {
        (r["query_id"], r["vec_id"])
        for r in pq_topk(codes, queries, model, k=10).collect()
    }
    raw_recall = len(raw & exact) / len(exact)

    reranked = {
        (r["query_id"], r["vec_id"])
        for r in pq_topk(
            codes, queries, model, k=10, rerank=corpus, shortlist=60
        ).collect()
    }
    rr_recall = len(reranked & exact) / len(exact)
    assert raw_recall >= 0.3  # sanity: far above random (10/200)
    assert rr_recall >= 0.8
    assert rr_recall >= raw_recall  # rerank never hurts


def test_pq_index_store_guard_and_versioned_flip(spark, tmp_path):
    """PqIndex behind the repo's index conventions: serving parity
    with the in-plan form, loud meta-guard failures, atomic versioned
    rebuild + keep-aware pruning."""
    from etl_process_for_fraud_transactions_spark.operators.pq import (
        PqIndex,
        pq_encode,
        pq_topk,
        train_pq,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    rows, corpus = _random_corpus(spark, n=120, dim=8, seed=3)
    queries = spark.createDataFrame(
        [(0, rows[5][1]), (1, rows[50][1])],
        "query_id: long, query_vec: array<double>",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, versioned=True)
    model = idx.build(corpus, m=4, n_codes=8, seed=2, max_iter=10)

    served = sorted(tuple(r) for r in idx.topk(queries, k=5).collect())
    fresh = sorted(
        tuple(r)
        for r in pq_topk(
            pq_encode(corpus, model), queries, model, k=5
        ).collect()
    )
    assert served == fresh

    with pytest.raises(ValueError, match="rebuild or match"):
        PqIndex(wh, id_col="other_id", versioned=True).topk(queries)
    with pytest.raises(ValueError, match="no meta marker"):
        PqIndex(Warehouse(spark, str(tmp_path / "empty"))).topk(queries)

    idx.build(corpus, m=4, n_codes=8, seed=9, max_iter=10)  # v2 flip
    assert idx.codes_table == "pq_codes_v2"
    assert idx.topk(queries, k=5).count() == 10
    removed = idx.prune_versions(keep=2)
    assert removed == []  # both versions retained
    removed = idx.prune_versions()
    assert sorted(removed) == ["pq_codebooks_v1", "pq_codes_v1"]

    # absorb: encoded against the FROZEN codebooks, O(batch) append
    extra = spark.createDataFrame(
        [(1000, rows[5][1])], "vec_id: long, embedding: array<double>"
    )
    idx.absorb(extra)
    top1 = {
        r["query_id"]: {r["vec_id"]}
        for r in idx.topk(queries, k=1).collect()
    }
    assert top1[0] <= {5, 1000}  # the duplicate vector ties the query


def test_pq_encode_determinism_and_edge_rows(spark):
    """Identical vectors get identical codes; the stored norm is the
    exact float norm; a zero vector scores 0.0 (the cosine
    convention); model rows round-trip through the persisted layout."""
    from etl_process_for_fraud_transactions_spark.operators.pq import (
        PqModel,
        pq_encode,
        pq_topk,
        train_pq,
    )

    rows, corpus = _random_corpus(spark, n=50, dim=8, seed=1)
    model = train_pq(corpus, m=2, n_codes=4, seed=1, max_iter=10)

    dup = spark.createDataFrame(
        [(1, rows[3][1]), (2, rows[3][1]), (3, [0.0] * 8)],
        "vec_id: long, embedding: array<double>",
    )
    enc = {r["vec_id"]: r for r in pq_encode(dup, model).collect()}
    assert enc[1]["pq_codes"] == enc[2]["pq_codes"]
    assert enc[1]["pq_norm"] == pytest.approx(
        math.sqrt(sum(x * x for x in rows[3][1]))
    )
    assert enc[3]["pq_norm"] == 0.0

    q = spark.createDataFrame(
        [(0, rows[3][1])], "query_id: long, query_vec: array<double>"
    )
    scored = pq_topk(pq_encode(dup, model), q, model, k=3).collect()
    zero_row = [r for r in scored if r["vec_id"] == 3]
    assert zero_row and zero_row[0]["adc_sim"] == 0.0

    rt = PqModel.from_rows(
        [
            {"sub_space": j, "code": c, "centroid": list(cent)}
            for j, book in enumerate(model.codebooks)
            for c, cent in enumerate(book)
        ]
    )
    assert rt == model


def test_ivf_pq_composition(spark):
    """IVF-PQ (round 12): cells bound WHAT is scanned, codes bound
    how wide each row is. Pins: (a) a full probe (nprobe = n_cells)
    equals the flat PQ ranking exactly — the composition changes
    pruning, never arithmetic; (b) the probed scan carries a
    file-level PartitionFilter on the cell id; (c) absorb assigns
    against the frozen centroids and the new vector is servable."""
    import shutil
    import tempfile

    from etl_process_for_fraud_transactions_spark.operators.pq import (
        PqIndex,
        pq_encode,
        pq_topk,
        train_pq,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    rows, corpus = _random_corpus(spark, n=150, dim=8, seed=11)
    queries = spark.createDataFrame(
        [(0, rows[3][1]), (1, rows[77][1])],
        "query_id: long, query_vec: array<double>",
    )
    root = tempfile.mkdtemp(dir="/tmp")
    try:
        wh = Warehouse(spark, root)
        idx = PqIndex(wh)
        idx.build(corpus, m=4, n_codes=8, seed=2, max_iter=10, n_cells=4)
        stored = wh.read(idx.meta_table).collect()[0]
        assert stored["n_cells"] == 4 and stored["cell_col"] == "pq_cell"

        # (a) full probe == flat PQ (same model, same corpus)
        model = train_pq(corpus, m=4, n_codes=8, seed=2, max_iter=10)
        flat = sorted(
            tuple(r)
            for r in pq_topk(
                pq_encode(corpus, model), queries, model, k=8
            ).collect()
        )
        full_probe = sorted(
            tuple(r) for r in idx.topk(queries, k=8, nprobe=4).collect()
        )
        assert full_probe == flat

        # (b) probed serving prunes at the file level
        probed = idx.topk(queries, k=8, nprobe=1)
        probed.collect()
        plan = probed._jdf.queryExecution().executedPlan().toString()
        part = plan.split("PartitionFilters", 1)
        assert len(part) == 2 and "pq_cell" in part[1][:300]

        # narrower probes return a subset-or-equal hit quality: the
        # probed ranking is the flat ranking restricted to probed
        # cells, so every returned (query, id) is in the flat scored
        # set with the same adc_sim
        flat_scores = {
            (r[0], r[2]): r[3]
            for r in pq_topk(
                pq_encode(corpus, model), queries, model, k=150
            ).collect()
        }
        for r in probed.collect():
            assert flat_scores[(r["query_id"], r["vec_id"])] == r["adc_sim"]

        # (c) absorb: frozen-centroid assignment, new vector servable.
        # Raw ADC rank-1 self-hits are NOT guaranteed on random data
        # (quantization noise), so the pin goes through the exact
        # rerank: cosine(query 0, vec 999) == 1.0 by construction
        extra = spark.createDataFrame(
            [(999, rows[3][1])], "vec_id: long, embedding: array<double>"
        )
        idx.absorb(extra)
        assert (
            wh.read(idx.codes_table).filter("vec_id = 999").count() == 1
        )
        top = {
            r["vec_id"]
            for r in idx.topk(
                queries, k=2, nprobe=4,
                rerank=corpus.unionByName(extra), shortlist=151,
            ).collect()
            if r["query_id"] == 0
        }
        assert top == {3, 999}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_train_pq_rejects_ragged_and_indivisible(spark):
    from etl_process_for_fraud_transactions_spark.operators.pq import (
        train_pq,
    )

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id: long, embedding: array<double>",
    )
    with pytest.raises(ValueError, match="ragged"):
        train_pq(ragged, m=1, n_codes=2)
    ok = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id: long, embedding: array<double>"
    )
    with pytest.raises(ValueError, match="divisible"):
        train_pq(ok, m=2, n_codes=2)
    empty = spark.createDataFrame(
        [], "vec_id: long, embedding: array<double>"
    )
    with pytest.raises(ValueError, match="empty"):
        train_pq(empty, m=1, n_codes=2)


def _clustered_corpus(spark, n_cells=4, per_cell=40, dim=8, seed=5):
    """Planted clustered corpus: centroids 10*e_k (far apart), points
    = centroid + a structured per-sub-space offset (one of 4 unit
    directions + small noise) — the regime where residual encoding
    beats raw at the same m: residual codebooks spend all 8 codes on
    the 4-direction offset alphabet, raw codebooks must cover
    n_cells x 4 regions per sub-space with the same 8 codes."""
    rnd = random.Random(seed)
    dirs = [(1.5, 0.0), (0.0, 1.5), (-1.5, 0.0), (0.0, -1.5)]
    rows = []
    i = 0
    for k in range(n_cells):
        base = [0.0] * dim
        base[2 * k] = 10.0
        for _ in range(per_cell):
            off = []
            for _j in range(dim // 2):
                d = dirs[rnd.randrange(4)]
                off += [
                    d[0] + rnd.gauss(0, 0.15),
                    d[1] + rnd.gauss(0, 0.15),
                ]
            rows.append((i, [b + o for b, o in zip(base, off)]))
            i += 1
    return rows, spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )


def test_residual_ivf_pq_lossless_two_cells(spark, tmp_path):
    """Residual reconstruction arithmetic pin: two planted cells 100
    apart whose members repeat the SAME pattern sequence — the cell
    means differ by the constant shift only, so both cells share one
    3-point residual alphabet per sub-space and 3 residual codes
    encode losslessly: <q, centroid> + ADC(residual) reconstructs
    <q, v> exactly (integer dots — bit-exact across the fold orders)
    and full-probe residual top-10 equals exact cosine top-10. The
    layout (residual flag) must survive the meta round-trip."""
    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    pats = [(1.0, 0.0), (0.0, 1.0), (1.0, 1.0)]
    rnd = random.Random(7)
    base = [
        [x for _ in range(4) for x in pats[rnd.randrange(3)]]
        for _ in range(30)
    ]
    rows = [(i, base[i]) for i in range(30)] + [
        (30 + i, [x + 100.0 for x in base[i]]) for i in range(30)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )
    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in (0, 10, 40)],
        "query_id: long, query_vec: array<double>",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="rpq")
    idx.build(
        corpus, m=4, n_codes=3, seed=1, max_iter=20,
        n_cells=2, residual=True,
    )
    meta = wh.read(idx.meta_table).collect()[0]
    assert meta["residual"] is True and meta["n_cells"] == 2
    exact = _exact_top10(spark, corpus, queries)
    got = {
        (r["query_id"], r["vec_id"])
        for r in idx.topk(queries, k=10, nprobe=2).collect()
    }
    assert got == exact


def test_residual_beats_raw_on_clustered_corpus(spark, tmp_path):
    """Directive r12 #3: recall@10 at the SAME m/n_codes measurably
    improves with residual encoding on a planted clustered corpus —
    raw codebooks waste codes separating the far-apart cell regions,
    residual codebooks spend them all on the within-cell spread."""
    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    rows, corpus = _clustered_corpus(spark)
    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in range(0, 160, 20)],
        "query_id: long, query_vec: array<double>",
    )
    exact = _exact_top10(spark, corpus, queries)
    wh = Warehouse(spark, str(tmp_path / "wh"))

    recalls = {}
    for label, residual in (("raw", False), ("res", True)):
        idx = PqIndex(wh, name=f"c_{label}")
        idx.build(
            corpus, m=4, n_codes=8, seed=2, max_iter=10,
            n_cells=4, residual=residual,
        )
        got = {
            (r["query_id"], r["vec_id"])
            for r in idx.topk(queries, k=10, nprobe=4).collect()
        }
        recalls[label] = len(got & exact) / len(exact)
    assert recalls["res"] >= recalls["raw"] + 0.2, recalls
    assert recalls["res"] >= 0.7, recalls


def test_residual_absorb_and_pointer_layout_atomicity(spark, tmp_path):
    """(a) absorb on a residual store encodes v - centroid(cell)
    against the frozen residual codebooks — an absorbed duplicate of a
    corpus vector is servable; (b) versioned layout atomicity (ADVICE
    r12): the pointer row carries the layout, so serving ignores a
    stale/corrupted shared meta's layout fields."""
    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    rows, corpus = _clustered_corpus(spark, per_cell=25)
    queries = spark.createDataFrame(
        [(0, rows[3][1])], "query_id: long, query_vec: array<double>"
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="vr", versioned=True)
    idx.build(
        corpus, m=4, n_codes=8, seed=2, max_iter=10,
        n_cells=4, residual=True,
    )

    # (a) absorb: cell-assigned, residual-encoded, servable via rerank
    extra = spark.createDataFrame(
        [(999, rows[3][1])], "vec_id: long, embedding: array<double>"
    )
    idx.absorb(extra)
    assert wh.read(idx.codes_table).filter("vec_id = 999").count() == 1
    top = {
        r["vec_id"]
        for r in idx.topk(
            queries, k=2, nprobe=4,
            rerank=corpus.unionByName(extra), shortlist=101,
        ).collect()
    }
    assert top == {3, 999}
    before = sorted(
        tuple(r) for r in idx.topk(queries, k=5, nprobe=4).collect()
    )

    # (b) corrupt the shared meta's LAYOUT fields (identity intact):
    # serving must keep using the pointer row's layout — the r12
    # double-read bug would have paired tables with this stale meta
    good_meta = wh.read(idx.meta_table).collect()[0]
    wh.overwrite(
        idx.meta_table,
        spark.createDataFrame(
            [(
                good_meta["id_col"], good_meta["vec_col"], 99, 99, 99,
                True, None, "pq_cell", False, None, False, None, None,
                False,
            )],
            PqIndex._META_SCHEMA,
        ),
    )
    after = sorted(
        tuple(r) for r in idx.topk(queries, k=5, nprobe=4).collect()
    )
    assert after == before
    wh.overwrite(
        idx.meta_table,
        spark.createDataFrame([tuple(good_meta)], PqIndex._META_SCHEMA),
    )


def test_sampled_codebook_training_parity(spark, tmp_path):
    """Directive r12 #2: sample-based codebook training. On the
    lossless-alphabet corpus the deterministic half-sample still
    contains every pattern, so the sampled fits recover the SAME
    codebooks and recall stays 1.0; meta records the training spec;
    bad specs fail loudly."""
    from etl_process_for_fraud_transactions_spark.operators.pq import (
        PqIndex,
        train_pq,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    pats = [(1.0, 0.0), (0.0, 1.0), (1.0, 1.0)]
    rnd = random.Random(7)
    rows = [
        (i, [x for _ in range(4) for x in pats[rnd.randrange(3)]])
        for i in range(60)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )
    full = train_pq(corpus, m=4, n_codes=3, seed=1, max_iter=20)
    sampled = train_pq(
        corpus, m=4, n_codes=3, seed=1, max_iter=20,
        train_fraction=0.5, sample_id_col="vec_id",
    )
    # exact point-mass clusters: the half-sample sees all 3 patterns
    # per sub-space, so KMeans converges to identical codebooks
    assert {c for b in sampled.codebooks for c in b} == {
        c for b in full.codebooks for c in b
    }

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="spq")
    idx.build(
        corpus, m=4, n_codes=3, seed=1, max_iter=20, train_fraction=0.5
    )
    meta = wh.read(idx.meta_table).collect()[0]
    assert "fraction=0.5" in meta["train_spec"]
    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in (0, 10, 20)],
        "query_id: long, query_vec: array<double>",
    )
    got = {
        (r["query_id"], r["vec_id"])
        for r in idx.topk(queries, k=10).collect()
    }
    assert got == _exact_top10(spark, corpus, queries)

    with pytest.raises(ValueError, match="sample_id_col"):
        train_pq(corpus, m=4, n_codes=3, train_fraction=0.5)
    with pytest.raises(ValueError, match="empty"):
        train_pq(
            corpus, m=4, n_codes=3, train_fraction=1e-9,
            sample_id_col="vec_id",
        )
    # train_rows converts to a fraction via one count
    by_rows = train_pq(
        corpus, m=4, n_codes=3, seed=1, max_iter=20,
        train_rows=30, sample_id_col="vec_id",
    )
    assert {c for b in by_rows.codebooks for c in b} == {
        c for b in full.codebooks for c in b
    }


def test_pq_topk_keep_adc_carries_shortlist_scores(spark):
    """keep_adc=True (round 13, the driver-hash leg's shape) exposes
    each reranked hit's ADC score unchanged from the raw ADC ranking,
    alongside the exact cos_sim."""
    from etl_process_for_fraud_transactions_spark.operators.pq import (
        pq_encode,
        pq_topk,
        train_pq,
    )

    rows, corpus = _random_corpus(spark, n=40, dim=8, seed=2)
    model = train_pq(corpus, m=2, n_codes=4, seed=1, max_iter=5)
    codes = pq_encode(corpus, model)
    q = spark.createDataFrame(
        [(0, rows[1][1])], "query_id: long, query_vec: array<double>"
    )
    out = pq_topk(
        codes, q, model, k=3, rerank=corpus, shortlist=10, keep_adc=True
    )
    assert out.columns == ["query_id", "rank", "vec_id", "adc_sim", "cos_sim"]
    raw = {
        r["vec_id"]: r["adc_sim"]
        for r in pq_topk(codes, q, model, k=40).collect()
    }
    got = out.collect()
    assert len(got) == 3
    for r in got:
        assert r["adc_sim"] == raw[r["vec_id"]]


def test_pq_absorb_sink_replay_safe_and_in_layout(spark, tmp_path):
    """Directive r12 #5: the PQ index joins the absorb-sink family.
    (a) a replayed epoch (foreachBatch re-offer) leaves the codes
    table byte-identical — dynamic overwrite of the epoch's
    (cell, batch) partitions; (b) the sink's write keeps the hive
    layout (partition discovery intact, cell pruning preserved) on a
    RESIDUAL IVF-PQ store — the hardest layout; (c) guards: flat
    index refused by the sink, batch-on-flat / no-batch-on-
    partitioned absorbs fail loudly; (d) an end-to-end availableNow
    file stream lands rows that serving then finds."""
    import json

    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )
    from etl_process_for_fraud_transactions_spark.streaming.upsert import (
        pq_absorb_sink,
        run_foreach_batch,
    )

    rows, corpus = _clustered_corpus(spark, per_cell=25)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="spq", partitioned=True)
    idx.build(
        corpus, m=4, n_codes=8, seed=2, max_iter=10,
        n_cells=4, residual=True,
    )
    base = wh.read(idx.codes_table).count()

    # (a)+(b) direct double delivery
    new = spark.createDataFrame(
        [(900, rows[3][1]), (901, rows[60][1])],
        "vec_id long, embedding array<double>",
    )
    sink = pq_absorb_sink(idx)
    sink(new, 7)
    snap = sorted(
        tuple(r)
        for r in wh.read(idx.codes_table)
        .filter("vec_id >= 900")
        .collect()
    )
    assert len(snap) == 2
    sink(new, 7)  # replayed epoch
    again = sorted(
        tuple(r)
        for r in wh.read(idx.codes_table)
        .filter("vec_id >= 900")
        .collect()
    )
    assert again == snap
    assert wh.read(idx.codes_table).count() == base + 2
    # layout intact: cell pruning still applies on the probed scan
    probed = idx.topk(
        spark.createDataFrame(
            [(0, rows[3][1])], "query_id: long, query_vec: array<double>"
        ),
        k=2, nprobe=4,
        rerank=corpus.unionByName(new), shortlist=110,
    )
    assert {r["vec_id"] for r in probed.collect()} == {3, 900}

    # (d) end-to-end stream
    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.jsonl").write_text(
        "\n".join(
            json.dumps({"vec_id": 950 + i, "embedding": rows[10 + i][1]})
            for i in range(2)
        )
    )
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).json(str(src))
    run_foreach_batch(stream, pq_absorb_sink(idx), str(tmp_path / "ck"))
    assert (
        wh.read(idx.codes_table).filter("vec_id >= 950").count() == 2
    )

    # (c) guards
    with pytest.raises(ValueError, match="batch id"):
        idx.absorb(new)
    flat = PqIndex(Warehouse(spark, str(tmp_path / "wh2")), name="fpq")
    flat.build(corpus, m=4, n_codes=8, seed=2, max_iter=10)
    with pytest.raises(ValueError, match="partitioned"):
        flat.absorb(new, batch=1)
    with pytest.raises(ValueError, match="partitioned"):
        pq_absorb_sink(flat)
    # layout mismatch caught by the meta guard (flat reader on a
    # partitioned store)
    with pytest.raises(ValueError, match="rebuild or match"):
        PqIndex(wh, name="spq").absorb(new)


def test_pq_versioned_partitioned_residual_compose(spark, tmp_path):
    """The three layout flags compose: a versioned + partitioned +
    residual IVF-PQ store absorbs epochs exactly-once, then a
    LAYOUT-CHANGING rebuild (flat, raw) flips pointer + layout
    atomically — the new version serves raw-ADC arithmetic, absorb
    routes to the new epoch layout, and prune removes every v1
    table including cells."""
    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )
    from etl_process_for_fraud_transactions_spark.streaming.upsert import (
        pq_absorb_sink,
    )

    rows, corpus = _clustered_corpus(spark, per_cell=20)
    queries = spark.createDataFrame(
        [(0, rows[3][1])], "query_id: long, query_vec: array<double>"
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="vpr", versioned=True, partitioned=True)
    idx.build(
        corpus, m=4, n_codes=8, seed=2, max_iter=10,
        n_cells=4, residual=True,
    )
    v, layout = idx.store.version_row()
    assert (v, layout["residual"], layout["n_cells"]) == (1, True, 4)

    sink = pq_absorb_sink(idx)
    extra = spark.createDataFrame(
        [(900, rows[3][1])], "vec_id long, embedding array<double>"
    )
    sink(extra, 3)
    sink(extra, 3)  # replay
    assert wh.read(idx.codes_table).filter("vec_id = 900").count() == 1

    # layout-changing rebuild: flat raw codes, same instance
    idx.build(corpus, m=4, n_codes=8, seed=9, max_iter=10)
    v, layout = idx.store.version_row()
    assert (v, layout["residual"], layout["n_cells"]) == (2, False, None)
    assert idx.codes_table == "vpr_codes_v2"
    # v2 serves (raw arithmetic, no cells) and absorb lands in v2
    assert idx.topk(queries, k=5).count() == 5
    idx.absorb(extra, batch=7)
    assert wh.read("vpr_codes_v2").filter("vec_id = 900").count() == 1
    removed = idx.prune_versions()
    assert sorted(removed) == [
        "vpr_cells_v1", "vpr_codebooks_v1", "vpr_codes_v1"
    ]
    assert idx.topk(queries, k=5).count() == 5


def test_celled_absorb_keeps_duplicate_id_rows(spark, tmp_path):
    """Round-13 self-review: cell assignment is per ROW, not per id —
    a batch that repeats a vec_id (update stream emitting two
    revisions in one epoch) must land BOTH rows in the celled store,
    exactly like the flat path appends both (duplicate handling is
    the caller's contract, same as Bm25Index/IvfIndex absorb)."""
    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    rows, corpus = _clustered_corpus(spark, per_cell=20)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="dup")
    idx.build(corpus, m=4, n_codes=8, seed=2, max_iter=10, n_cells=4)
    dup = spark.createDataFrame(
        [(777, rows[3][1]), (777, rows[45][1])],
        "vec_id long, embedding array<double>",
    )
    idx.absorb(dup)
    got = wh.read(idx.codes_table).filter("vec_id = 777")
    assert got.count() == 2
    # and each row was assigned its OWN nearest cell (two different
    # source vectors from two different planted clusters)
    assert got.select("pq_cell").distinct().count() == 2


def test_pq_calibrate_nprobe_measured_default(spark, tmp_path):
    """Round 13: auto-nprobe for the IVF-PQ store — the measured-gate
    convention applied to the compression rung. Planted arc corpus
    (the IvfIndex calibration fixture): cells are arc segments, a
    boundary query's true neighbors straddle cells, so nprobe=1
    provably under-recalls; calibration walks nprobe up, stores the
    default in the meta AND the versioned pointer row, and
    topk(nprobe=None) serves at it. build(nprobe_recall_target=)
    commits a freshly measured default WITH the new version; a plain
    rebuild resets it (new geometry, stale measurement)."""
    import math

    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    rows = [
        (i, [math.cos(math.radians(t)), math.sin(math.radians(t))])
        for i, t in enumerate([i * (180.0 / 39.0) for i in range(40)])
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="cal", versioned=True)
    idx.build(corpus, m=2, n_codes=8, seed=7, max_iter=10, n_cells=4)

    calib = idx.calibrate_nprobe(
        corpus, recall_target=0.95, n_probes=16, k=5, seed=7
    )
    assert calib["trace"][1] < 0.95  # nprobe=1 provably under-recalls
    assert calib["met_target"] and calib["default_nprobe"] > 1
    meta = wh.read(idx.meta_table).collect()[0].asDict()
    assert meta["default_nprobe"] == calib["default_nprobe"]
    _, layout = idx.store.version_row()
    assert layout["default_nprobe"] == calib["default_nprobe"]

    probes = corpus.filter(
        F.col("vec_id").isin([0, 7, 14, 21, 28, 35])
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    key = lambda df: sorted(
        (r["query_id"], r["rank"], r["vec_id"]) for r in df.collect()
    )
    assert key(idx.topk(probes, k=5)) == key(
        idx.topk(probes, k=5, nprobe=calib["default_nprobe"])
    )
    assert key(idx.topk(probes, k=5)) != key(
        idx.topk(probes, k=5, nprobe=1)
    )

    # build-time calibration: the new version's pointer row carries a
    # default measured on ITS geometry
    idx.build(
        corpus, m=2, n_codes=8, seed=9, max_iter=10, n_cells=4,
        nprobe_recall_target=0.95,
    )
    v, layout = idx.store.version_row()
    assert v == 2 and layout["default_nprobe"] is not None

    # a plain rebuild RESETS the default
    idx.build(corpus, m=2, n_codes=8, seed=11, max_iter=10, n_cells=4)
    _, layout = idx.store.version_row()
    assert layout["default_nprobe"] is None
    assert wh.read(idx.meta_table).collect()[0]["default_nprobe"] is None

    # flat stores have no probe width to calibrate
    flat = PqIndex(wh, name="flatcal")
    flat.build(corpus, m=2, n_codes=8, seed=7, max_iter=10)
    with pytest.raises(ValueError, match="probe width"):
        flat.calibrate_nprobe(corpus)
    with pytest.raises(ValueError, match="probe width"):
        flat.build(
            corpus, m=2, n_codes=8, seed=7, max_iter=10,
            nprobe_recall_target=0.95,
        )


def test_hybrid_topk_composes_with_pq_index(spark, tmp_path):
    """Round 13: the hybrid serving path is duck-typed on the vector
    leg — swapping the IvfIndex for its compressed PqIndex rung is a
    one-argument change. Pins: the fused output has both leg ranks,
    the PQ leg serves at its calibrated default (nprobe=None), and a
    doc surfaced only by the keyword leg still fuses in."""
    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
        hybrid_topk,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    rows, corpus = _clustered_corpus(spark, per_cell=15)
    docs = spark.createDataFrame(
        [
            (i, "hash join merge" if i % 3 == 0 else "window sort group")
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    bm = Bm25Index(wh, name="hb")
    bm.build(docs)
    pq = PqIndex(wh, name="hp", id_col="vec_id")
    pq.build(corpus, m=4, n_codes=8, seed=2, max_iter=10, n_cells=4)
    pq.calibrate_nprobe(corpus, recall_target=0.9, n_probes=8, k=5)

    vq = spark.createDataFrame(
        [("q0", rows[3][1])], "query_id string, query_vec array<double>"
    )
    fused = hybrid_topk(
        {"q0": ["hash", "join"]}, vq, bm, pq, k=10, leg_k=20
    )
    got = fused.collect()
    assert {"query_id", "rank", "doc_id", "bm25_rank", "vec_rank"} <= set(
        fused.columns
    )
    assert len(got) == 10
    # both legs contributed: some hits have a vec rank, some a bm25
    # rank (doc ids 3-adjacent vectors vs 'hash join' docs)
    assert any(r["vec_rank"] is not None for r in got)
    assert any(r["bm25_rank"] is not None for r in got)


def test_pq_cell_skew_and_sink_drift_gate(spark, tmp_path):
    """Round 13: the PQ sink gains the ivf_absorb_sink drift gate.
    (a) cell_skew is a measured probe — a planted-hot-cell stream
    (every absorbed vector lands in one cell) trips needs_retrain
    while the balanced build does not; (b) a probing epoch writes the
    durable one-row health marker and replays converge; (c) flat
    stores refuse cell_skew and max_skew up front."""
    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )
    from etl_process_for_fraud_transactions_spark.streaming.upsert import (
        pq_absorb_sink,
    )

    rows, corpus = _clustered_corpus(spark, per_cell=15)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="sk", partitioned=True)
    idx.build(corpus, m=4, n_codes=8, seed=2, max_iter=10, n_cells=4)
    s0 = idx.cell_skew()
    assert s0["n_vectors"] == 60 and s0["n_cells_stored"] == 4
    assert not idx.needs_retrain(max_skew=2.0)

    # drift: a stream that piles into cluster 0's frozen cell
    drift = spark.createDataFrame(
        [(2000 + i, rows[3][1]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    sink = pq_absorb_sink(idx, max_skew=2.0)
    sink(drift, 1)
    s1 = idx.cell_skew()
    assert s1["skew"] > 2.0 and idx.needs_retrain(max_skew=2.0)
    health = wh.read("sk_health").collect()[0]
    assert health["needs_retrain"] is True
    assert health["as_of_batch"] == "1"
    sink(drift, 1)  # replayed probing epoch: idempotent marker + rows
    assert wh.read(idx.codes_table).count() == 60 + 120
    assert wh.read("sk_health").count() == 1

    # flat stores refuse loudly
    flat = PqIndex(wh, name="skflat", partitioned=True)
    flat.build(corpus, m=4, n_codes=8, seed=2, max_iter=10)
    with pytest.raises(ValueError, match="no cells"):
        flat.cell_skew()
    with pytest.raises(ValueError, match="cells to probe"):
        pq_absorb_sink(flat, max_skew=2.0)


def test_build_with_frozen_books_skips_training(spark, tmp_path):
    """books= (round 14): the offline-train/online-serve split — the
    index persists the caller's frozen codebooks verbatim, encode runs
    through the index's own pass with IDENTICAL codes to an in-plan
    pq_encode against the same model, and the guards fire (training
    knobs rejected, dim mismatch rejected before silent prefix
    encoding)."""
    from etl_process_for_fraud_transactions_spark.operators.pq import (
        PqIndex,
        PqModel,
        pq_encode,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    _, corpus = _random_corpus(spark, n=60, dim=8, seed=11)
    books = PqModel(
        m=2,
        sub_dim=4,
        n_codes=2,
        codebooks=(
            ((0.5, 0.0, 0.0, 0.0), (0.0, -0.5, 0.0, 0.0)),
            ((0.0, 0.0, 0.5, 0.0), (0.0, 0.0, 0.0, -0.5)),
        ),
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="frozen")
    out = idx.build(corpus, books=books)
    assert out is books
    # persisted codebooks round-trip exactly (dyadic literals)
    stored = idx._model()
    assert stored.codebooks == books.codebooks
    # codes identical to an in-plan encode against the same model
    got = {
        (r["vec_id"], tuple(r["pq_codes"]))
        for r in wh.read(idx.codes_table).collect()
    }
    want = {
        (r["vec_id"], tuple(r["pq_codes"]))
        for r in pq_encode(corpus, books).collect()
    }
    assert got == want
    # training knobs are meaningless with frozen books
    with pytest.raises(ValueError, match="offline-trained"):
        idx.build(corpus, books=books, train_fraction=0.5)
    # dim mismatch fails loudly instead of silently encoding prefixes
    _, wide = _random_corpus(spark, n=10, dim=16, seed=12)
    with pytest.raises(ValueError, match="dim"):
        idx.build(wide, books=books)
    # the serving path composes: delete a vector, topk never returns it
    queries = corpus.filter(F.col("vec_id") < 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    victim = idx.topk(queries, k=3).collect()[0]["vec_id"]
    idx.delete(spark.createDataFrame([(int(victim),)], "vec_id: long"))
    left = {r["vec_id"] for r in idx.topk(queries, k=3).collect()}
    assert victim not in left


def _anisotropic_corpus(spark, n=300, seed=3):
    """Planted OPQ case: per-sub-space cluster structure in z-space,
    then a fixed 45-degree Givens mixing across the sub-space boundary
    — raw PQ's independent sub-quantizers each see mixed clusters,
    while an orthogonal rotation recovers the product structure."""
    import math
    import random as _random

    import numpy as np

    d, nc = 8, 16
    rnd = _random.Random(seed)
    centers = [
        [[rnd.gauss(0, 1) for _ in range(4)] for _ in range(nc)]
        for _ in range(2)
    ]
    Q = np.eye(d)
    for k in range(4):
        G = np.eye(d)
        c = s = 1 / math.sqrt(2)
        G[k, k] = c
        G[k, k + 4] = -s
        G[k + 4, k] = s
        G[k + 4, k + 4] = c
        Q = G @ Q
    rows = []
    for i in range(n):
        z = [
            v + rnd.gauss(0, 0.02)
            for j in range(2)
            for v in centers[j][rnd.randrange(nc)]
        ]
        rows.append((i, (Q @ np.asarray(z)).tolist()))
    return spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )


def _adc_recall(spark, corpus, queries, model, rotation):
    from etl_process_for_fraud_transactions_spark.operators.pq import (
        pq_encode,
        pq_topk,
    )

    codes = pq_encode(corpus, model, rotation=rotation)
    approx = pq_topk(codes, queries, model, k=10, rotation=rotation)
    exact = _exact_top10(spark, corpus, queries)
    got = {
        (r["query_id"], r["vec_id"]) for r in approx.collect()
    }
    return len(exact & got) / len(exact)


def test_opq_rotation_beats_raw_pq_on_anisotropic_corpus(spark):
    """The round-14 rung (Ge et al., CVPR 2013): on the planted
    anisotropic corpus OPQ's learned rotation recovers ADC recall raw
    PQ cannot reach at the same m/n_codes — the residual-pin pattern.
    Also pins: the rotation is orthogonal, and the eigen-allocation
    init (not identity — a measured fixed point) is load-bearing."""
    import numpy as np

    from etl_process_for_fraud_transactions_spark.operators.pq import (
        train_opq,
        train_pq,
    )

    corpus = _anisotropic_corpus(spark)
    queries = corpus.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    pq = train_pq(corpus, m=2, n_codes=16, seed=7, max_iter=20)
    opq_model, rotation = train_opq(
        corpus, m=2, n_codes=16, seed=7, max_iter=20, opq_iters=5
    )
    R = np.asarray(rotation)
    assert np.allclose(R @ R.T, np.eye(8), atol=1e-9)
    r_pq = _adc_recall(spark, corpus, queries, pq, None)
    r_opq = _adc_recall(spark, corpus, queries, opq_model, rotation)
    assert r_opq > r_pq + 0.05, (r_pq, r_opq)
    assert r_opq >= 0.65, r_opq


def test_opq_build_calibrates_on_rotated_queries(spark, tmp_path):
    """build(nprobe_recall_target=) on an OPQ store measures recall with
    the store's rotation, so the default it commits equals a direct
    calibrate_nprobe on the same tables with the same parameters (an
    unrotated measurement scores raw query LUTs against rotated codes
    and under-reads recall)."""
    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    corpus = _anisotropic_corpus(spark, n=80, seed=3)
    idx = PqIndex(Warehouse(spark, str(tmp_path / "wh")), name="opqcal", versioned=True)
    idx.build(corpus, m=4, n_codes=4, seed=7, n_cells=4, opq_iters=2,
              nprobe_recall_target=0.9)
    _, layout = idx.store.version_row()
    direct = idx.calibrate_nprobe(corpus, recall_target=0.9, seed=7)
    assert layout["default_nprobe"] == direct["default_nprobe"], direct["trace"]


def test_pq_index_opq_lifecycle(spark, tmp_path):
    """OPQ as a store layout: the rotation persists with the `opq`
    flag riding meta + pointer (the `residual` convention), serving
    and absorb rotate symmetrically, compact/prune carry the rotation
    with its version, delete composes, and the layout guards fire."""
    import numpy as np

    from etl_process_for_fraud_transactions_spark.operators.pq import (
        PqIndex,
        PqModel,
        pq_encode,
        pq_topk,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    corpus = _anisotropic_corpus(spark, n=200, seed=4)
    queries = corpus.limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="opq", versioned=True, partitioned=True)
    # opq composes with cells/residual (the global-rotation form);
    # only a frozen caller model is mutually exclusive with training
    with pytest.raises(ValueError, match="books"):
        idx.build(
            corpus,
            opq_iters=2,
            books=PqModel(
                m=2, sub_dim=4, n_codes=1,
                codebooks=(((0.0,) * 4,), ((0.0,) * 4,)),
            ),
        )
    model = idx.build(
        corpus.filter(F.col("vec_id") < 150),
        m=2, n_codes=8, seed=7, opq_iters=2,
    )
    rotation = idx._rotation()
    assert not np.allclose(np.asarray(rotation), np.eye(8))
    # absorb rotates symmetrically: the epoch's served scores match
    # an in-plan encode of the SAME rows against the same rotation
    idx.absorb(corpus.filter(F.col("vec_id") >= 150), batch=1)
    served = sorted(
        tuple(r) for r in idx.topk(queries, k=5).collect()
    )
    reference = sorted(
        tuple(r)
        for r in pq_topk(
            pq_encode(corpus, model, rotation=rotation),
            queries,
            model,
            k=5,
            rotation=rotation,
        ).collect()
    )
    assert served == reference
    # compact + prune carry the rotation with the new version
    idx.compact()
    idx.prune_versions()
    assert sorted(tuple(r) for r in idx.topk(queries, k=5).collect()) == (
        reference
    )
    assert idx._rotation() == rotation
    # delete composes with the rotated serving path
    victim = served[0][2]
    idx.delete(
        spark.createDataFrame([(int(victim),)], "vec_id: long")
    )
    assert victim not in {
        r["vec_id"] for r in idx.topk(queries, k=5).collect()
    }


def test_opq_composes_with_residual_ivf_pq(spark, tmp_path):
    """OPQ x residual x cells (Ge §5, global-rotation form): codes
    quantize R(v - centroid), ADC approximates <Rq, R(v-c)> =
    <q, v-c>, the <q, centroid> correction stays unrotated — the
    store round-trips through build/absorb/topk/calibrate with the
    rotation riding the version like the codebooks."""
    import numpy as np

    from etl_process_for_fraud_transactions_spark.operators.pq import (
        PqIndex,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    corpus = _anisotropic_corpus(spark, n=200, seed=9)
    queries = corpus.limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="opqres", versioned=True)
    idx.build(
        corpus.filter(F.col("vec_id") < 150),
        m=2, n_codes=8, seed=7, n_cells=4, residual=True, opq_iters=2,
    )
    rotation = idx._rotation()
    assert not np.allclose(np.asarray(rotation), np.eye(8))
    # absorb encodes through the same subtract-then-rotate cascade
    idx.absorb(corpus.filter(F.col("vec_id") >= 150))
    # exact top-1 self-hit survives the full rotated-residual cascade
    # with rerank (cos(q, q) = 1 ranks first)
    hits = {
        (r["query_id"], r["rank"], r["vec_id"])
        for r in idx.topk(
            queries, k=3, nprobe=4, rerank=corpus, shortlist=50
        ).collect()
    }
    for qid in (0, 1, 2):
        assert (qid, 1, qid) in hits
    # the measured-default machinery runs with the rotation in play
    report = idx.calibrate_nprobe(corpus, recall_target=0.9, k=3)
    assert report["recall"] >= 0.9 or report["default_nprobe"] == 4


def _drifted_corpus(spark, n=300, seed=11, theta_deg=-60, id_base=1000):
    """The drifted stream: same per-sub-space product structure as
    _anisotropic_corpus but NEW cluster centers and a DIFFERENT
    cross-boundary mixing angle — a rotation learned pre-drift cannot
    recover this distribution's product structure."""
    import math
    import random as _random

    import numpy as np

    d, nc = 8, 16
    rnd = _random.Random(seed)
    centers = [
        [[rnd.gauss(0, 1) for _ in range(4)] for _ in range(nc)]
        for _ in range(2)
    ]
    Q = np.eye(d)
    th = math.radians(theta_deg)
    c, s = math.cos(th), math.sin(th)
    for k in range(4):
        G = np.eye(d)
        G[k, k] = c
        G[k, k + 4] = -s
        G[k + 4, k] = s
        G[k + 4, k + 4] = c
        Q = G @ Q
    rows = []
    for i in range(n):
        z = [
            v + rnd.gauss(0, 0.02)
            for j in range(2)
            for v in centers[j][rnd.randrange(nc)]
        ]
        rows.append((id_base + i, (Q @ np.asarray(z)).tolist()))
    return spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )


def test_opq_rotation_refresh_on_drifted_stream(spark, tmp_path):
    """VERDICT r14 item 5 — the OPQ rotation in the retrain
    lifecycle, measured: a drifted stream invalidates a learned
    rotation (trained on the old distribution), and the versioned
    REBUILD — PqIndex's retrain path, needs_retrain's prescribed
    remedy — re-runs the rotation training and commits it with the
    same pointer flip as the codebooks.

    Planted drift: v1 trains books+rotation on corpus A (mixing
    +45deg), then absorbs 3x as much drifted data B (new centers,
    mixing -60deg) under the FROZEN v1 artifacts — the real absorb
    contract. Measured on this fixture (deterministic seeds):

      recall(B-queries, stale v1 artifacts)        = 0.14
      recall after plain-PQ rebuild (no rotation)  = 0.34
      recall after OPQ rebuild (rotation refresh)  = 0.44

    so the refresh is load-bearing twice over: the rebuild beats the
    stale store by 3x, and re-learning the ROTATION beats refreshing
    codebooks alone — the rotation is distribution state, not a
    build-time constant. The new rotation differs from v1's and the
    pointer flip is the commit (v1's rotation table survives until
    prune_versions — lagging readers keep a consistent pair)."""
    import numpy as np

    from etl_process_for_fraud_transactions_spark.operators.pq import (
        PqIndex,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    A = _anisotropic_corpus(spark, n=100, seed=3)
    B = _drifted_corpus(spark, n=300, seed=11, theta_deg=-60)
    full = A.unionByName(B).localCheckpoint()
    queries = B.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    gt = _exact_top10(spark, full, queries)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = PqIndex(wh, name="drift", versioned=True, partitioned=True)
    idx.build(A, m=2, n_codes=8, seed=7, opq_iters=2)
    rot1 = idx._rotation()
    idx.absorb(B, batch=1)

    def recall():
        got = {
            (r["query_id"], r["vec_id"])
            for r in idx.topk(queries, k=10).collect()
        }
        return len(gt & got) / len(gt)

    rec_stale = recall()
    assert rec_stale <= 0.25, rec_stale

    # control: codebook-only refresh (plain PQ rebuild, no rotation)
    ctl = PqIndex(wh, name="driftctl", versioned=True, partitioned=True)
    ctl.build(full, m=2, n_codes=8, seed=7)
    got_ctl = {
        (r["query_id"], r["vec_id"])
        for r in ctl.topk(queries, k=10).collect()
    }
    rec_plain = len(gt & got_ctl) / len(gt)

    # the refresh: versioned rebuild re-learns rotation + codebooks,
    # committed together in the v2 pointer flip
    idx.build(full, m=2, n_codes=8, seed=7, opq_iters=2)
    rot2 = idx._rotation()
    rec_fresh = recall()

    assert idx.store.current() == 2
    assert rot2 != rot1, "rebuild must re-learn the rotation"
    assert rec_fresh >= rec_stale + 0.2, (rec_stale, rec_fresh)
    assert rec_fresh >= rec_plain + 0.05, (rec_plain, rec_fresh)
    # v1's rotation survives until prune (lagging-reader contract)
    names_v1 = idx.store.tables(1)
    assert wh.exists(idx._rotation_table_for(names_v1[1]))
    idx.prune_versions()
    assert not wh.exists(idx._rotation_table_for(names_v1[1]))
