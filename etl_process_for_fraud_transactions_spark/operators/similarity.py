"""Similarity search over embedding columns (array<float>).

Three tiers, all DataFrame-native:

- brute-force cosine top-k  : exact baseline; the dot product is a
  zip_with/aggregate expression (JVM codegen, no Python), queries are
  broadcast, and top-k is the windowed rank idiom. Cost O(|Q| x |C|) —
  fine for small query sets, the correctness oracle for the others.
- random-hyperplane LSH     : sign-bit signatures against a fixed seeded
  hyperplane set, banded exactly like MinHash; candidates only, then
  exact re-rank. The scale path for corpus-x-corpus similarity.
- IVF (inverted file)       : coarse-quantize the corpus by nearest
  centroid, probe only the nprobe closest cells per query. Cell
  assignments come from any upstream clustering column (the driver
  table's `label`) or from `ivf_build` (MLlib KMeans trained in
  place); centroids are a groupBy mean over the assignment.

`IvfIndex` persists the IVF tier (cell-partitioned vectors + stored
centroids) on the shared `VersionedStore` lifecycle
(operators/store.py). At 100 TB the corpus side stays partitioned;
only centroids/queries broadcast. Nothing here collects the corpus to
the driver.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .epochs import guard_sentinel_batch, replay_skippable
from .store import VersionedStore


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, as a single codegen'd
    aggregate expression."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k by cosine for each query vector. Queries broadcast;
    ties broken by corpus id for determinism. Returns
    (query_id, vec_id, cos_sim, rank)."""
    c = corpus.select(
        F.col(id_col), F.col(vec_col).alias("__v"), l2_norm(F.col(vec_col)).alias("__n")
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).alias("__qv"),
        l2_norm(F.col(query_vec_col)).alias("__qn"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        (dot(F.col("__v"), F.col("__qv")) / (F.col("__n") * F.col("__qn"))).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (driver-side
    constants, broadcast as literals)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def rp_signature(
    vec_col: Column,
    planes: Column,
    round_proj: int | None = None,
) -> Column:
    """Random-projection sign bits as an array<int> of 0/1.

    planes is a Column of array<array<double>> (a single value, e.g.
    from a broadcast one-row frame — constant plan size at any dim;
    what `lsh_near_neighbors` uses). The signature is a sequential
    zip_with/aggregate fold per plane.

    round_proj: round each projection to this many decimals BEFORE the
    sign test. A projection within an ulp of 0 would otherwise take a
    different sign under a different float summation order (e.g. an
    external verifier replaying the same planes), flipping a bucket
    nondeterministically; rounding makes the sign decision itself
    portable. None keeps raw doubles (engine-internal use)."""
    def sign_bit(p: Column) -> Column:
        d = dot(vec_col, p)
        if round_proj is not None:
            d = F.round(d, round_proj)
        return F.when(d >= 0, 1).otherwise(0)

    return F.transform(planes, sign_bit)


def rp_band_buckets(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 64,
    bands: int = 4,
    seed: int = 42,
    round_proj: int | None = None,
) -> DataFrame:
    """(id, band_id, band_key) banded sign-bit buckets — the ONLY
    frame the LSH candidate self-join shuffles. Deliberately carries
    no vector/norm columns: at embedding scale the exploded banded
    frame is `bands`x the corpus row count, so every extra byte on it
    is multiplied through the shuffle (a 1536-dim float vector is
    ~6 KB/row vs ~20 bytes for id+key). Vectors are fetched by id
    AFTER candidate dedup (`lsh_near_neighbors`), mirroring
    `minhash_band_buckets` + fetch in operators/dedup.py.

    Plan size: the hyperplanes ride in as ONE array<array<double>>
    value on a broadcast one-row frame, not as n_planes x dim literal
    expression nodes — at production dims (64 x 1536 ~ 100k components)
    the literal form costs minutes of Catalyst analysis before any data
    moves, while this form analyzes in constant time (pinned by
    tests/test_similarity.py::test_lsh_plan_builds_fast_at_production_dims)."""
    planes = _hyperplanes(dim, n_planes, seed)
    chunk = n_planes // bands
    planes_df = df.sparkSession.createDataFrame(
        [(planes,)], "__planes: array<array<double>>"
    )
    sig = df.crossJoin(F.broadcast(planes_df)).select(
        F.col(id_col),
        rp_signature(
            F.col(vec_col), F.col("__planes"), round_proj=round_proj
        ).alias("__sig"),
    )
    return sig.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.concat_ws(
                        "",
                        F.transform(
                            F.slice("__sig", b * chunk + 1, chunk),
                            lambda v: v.cast("string"),
                        ),
                    ).alias("band_key"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_key")


def lsh_near_neighbors(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 64,
    bands: int = 4,
    min_cosine: float = 0.7,
    seed: int = 42,
    round_sim: int | None = None,
    round_proj: int | None = None,
    persist_signatures: bool = True,
) -> DataFrame:
    """Corpus-x-corpus near-neighbor pairs: banded sign-bit buckets ->
    ids-only candidate pairs -> vector fetch by id -> exact cosine
    filter. Returns (id_a < id_b, cos_sim >= min_cosine).

    Shuffle shape (round 5): the band self-join sees ONLY
    (id, band_id, band_key) — see rp_band_buckets. Candidate pairs are
    deduped as bare (id_a, id_b) BEFORE the two id-keyed joins fetch
    vectors+norms, so each vector crosses the wire once per candidate
    side, never `bands` times through the exploded frame. Norms are
    computed once per row in the fetch frame, not per candidate pair.

    Tuning: expected candidates per band scale as
    sum_buckets(n_b^2) ~ n_rows^2 / 2^r for r = n_planes/bands key
    bits under uniform hashing — r is what keeps the candidate join
    near-linear as the corpus grows. r=8 (256 buckets/band) is the
    measured knee on this hardware (110 s -> ~8 s on 2000 vectors
    moving r from 2 to 8 bits) but still quadratic at 100x corpus:
    n^2/256 overtakes any per-band constant. The defaults use r=16
    (65,536 buckets/band), which pushes the quadratic term down by
    another 256x; recall at a given cosine c is
    1-(1-p^r)^bands with p = 1 - acos(c)/pi, so r=16 keys are the
    high-similarity regime (c >= ~0.9) — for moderate-c mining raise
    `bands` (OR of many AND-bands), never widen buckets by shrinking
    r.

    round_proj / round_sim: decimal roundings applied before the sign
    test and the threshold filter respectively, so an external
    verifier replaying the cascade cannot diverge in the last ulp.

    persist_signatures: cache the banded frame across the self-join —
    both sides would otherwise recompute all n_planes projections."""
    banded = rp_band_buckets(
        df, dim, id_col, vec_col, n_planes, bands, seed, round_proj
    )
    if persist_signatures:
        banded = banded.persist()
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    vecs = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    fetched = cand.join(
        vecs.withColumnsRenamed({id_col: "id_a", "__v": "va", "__n": "na"}), "id_a"
    ).join(
        vecs.withColumnsRenamed({id_col: "id_b", "__v": "vb", "__n": "nb"}), "id_b"
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    if round_sim is not None:
        # round before the threshold so a final-ulp divergence between
        # this plan and an external verifier can't flip the filter
        sim = F.round(sim, round_sim)
    return (
        fetched.select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_cosine)
    )


def near_dedup_embeddings(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 64,
    bands: int = 4,
    min_cosine: float = 0.9,
    seed: int = 42,
    cc_algorithm: str = "label",
) -> DataFrame:
    """Embedding-space near-duplicate clustering, end to end: LSH
    candidate pairs (ids-only band shuffle) -> exact-cosine verify ->
    connected components -> per-vector verdict
    (id, survivor_id, is_survivor), singletons included — the
    embedding-cosine rung of the dedup ladder, mirroring
    operators.dedup.near_dedup for text. Filter is_survivor for the
    deduplicated embedding set; non-survivor rows are the attribution
    lineage. cc_algorithm='star' for chain-shaped duplicate manifolds
    (see operators.graph)."""
    from .graph import dedup_components

    pairs = lsh_near_neighbors(
        df,
        dim,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        bands=bands,
        min_cosine=min_cosine,
        seed=seed,
    )
    return dedup_components(
        pairs.select("id_a", "id_b"),
        all_ids=df.select(id_col),
        id_col=id_col,
        algorithm=cc_algorithm,
    )


def ivf_centroids(
    corpus: DataFrame, cell_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-cell mean vector via a posexplode/groupBy — the coarse
    quantizer. (cell assignment comes from upstream clustering; the
    driver table's `label` plays that role.)

    Cross-engine caveat: avg() folds floats in partition order, so the
    last ulp of a centroid component may differ from a replay in
    another engine. Downstream (ivf_topk) every centroid similarity is
    rounded before the nprobe rank with a cell-id tie-break, which
    absorbs an ulp divergence unless a similarity lands exactly on a
    rounding boundary — a fixture-dependent residual risk we accept
    and pin at the current rounding (6 dp) rather than pretending the
    mean itself is portable."""
    exploded = corpus.select(
        F.col(cell_col), F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    return (
        exploded.groupBy(cell_col, "pos")
        .agg(F.avg("val").alias("mean_val"))
        .groupBy(cell_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mean_val"))
            ).alias("__pairs")
        )
        .select(
            cell_col,
            F.transform("__pairs", lambda s: s["mean_val"]).alias("centroid"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    sim_round: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: score centroids per query (tiny cross join),
    keep the nprobe best cells, then search only those cells' vectors.
    The corpus join is an equi-join on the cell id — a normal shuffle
    join pruned by the probe set, no all-pairs scan.

    sim_round: round both the centroid similarity (before the nprobe
    cut) and the final cosine (before the top-k rank) to this many
    decimals, with id tie-breaks — makes the whole cascade replayable
    by an external verifier whose float sums may differ in the last
    ulp. None (default) ranks on raw doubles.

    centroids: precomputed (cell_col, centroid) frame — pass the
    persisted table from IvfIndex so serving never re-aggregates the
    corpus; None recomputes in-plan (one-shot use)."""
    _r = (lambda c: F.round(c, sim_round)) if sim_round is not None else (lambda c: c)
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, cell_col, vec_col)
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).alias("__qv"),
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cent_sim"), F.asc(cell_col)
    )
    probes = (
        cents.crossJoin(F.broadcast(q))
        .select(
            query_id_col,
            cell_col,
            "__qv",
            _r(cosine(F.col("centroid"), F.col("__qv"))).alias("cent_sim"),
        )
        .withColumn("__pr", F.row_number().over(probe_w))
        .filter(F.col("__pr") <= nprobe)
        .select(
            query_id_col,
            cell_col,
            "__qv",
            l2_norm(F.col("__qv")).alias("__qn"),
        )
    )
    # corpus norms once per row (not once per matched probe), query
    # norms once per probe row — the scored pair pays one dot product
    corpus_n = corpus.withColumn("__n", l2_norm(F.col(vec_col)))
    scored = corpus_n.join(F.broadcast(probes), cell_col).select(
        query_id_col,
        id_col,
        _r(
            dot(F.col(vec_col), F.col("__qv")) / (F.col("__n") * F.col("__qn"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


class IvfIndex:
    """Persisted IVF index — the serving shape of the similarity tier,
    mirroring NearDupIndex for dedup: build once, query many times.
    The version pointer, tombstones, pruning and the flip commit live
    in the composed `VersionedStore` (operators/store.py).

    - `<name>_vectors`   : the assigned corpus, hive-PARTITIONED BY the
      cell id, so a probe of nprobe cells reads nprobe directories —
      dynamic partition pruning (the probe side broadcasts) skips the
      rest of the corpus at the FILE level, not just the row level.
    - `<name>_centroids` : (cell, centroid) — tiny; serving never
      re-aggregates the corpus to recover the quantizer.

    Rebuild cadence: centroids drift as the corpus grows; `cell_skew`
    measures it and `retrain` re-shards. Appending new vectors
    assigned to existing cells (`absorb`) is always safe for
    correctness — recall degrades gracefully, never silently.

    Parameter guard: build() persists (id_col, vec_col, cell_col,
    n_cells, dim) in `<name>_meta`; absorb()/topk() validate the
    instance's column layout against it AND probe the incoming
    frame's vector length against the stored dim — zip_with silently
    truncates to the shorter array, so a dim-mismatched absorb or
    query would DEGRADE RECALL SILENTLY rather than error. The dim
    probe is one small aggregate per call. A store without a meta row
    (an external writer) skips validation."""

    def __init__(
        self,
        wh,
        name: str = "ivf",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        cell_col: str = "ivf_cell",
        partitioned: bool = False,
        quantized: bool = False,
        versioned: bool = False,
    ):
        self.wh = wh
        self.name = name
        self.id_col = id_col
        self.vec_col = vec_col
        self.cell_col = cell_col
        #: quantized=True stores int8 codes + one float32 scale per
        #: vector instead of the float array — ~4x less at rest and
        #: through every scan. Serving DEQUANTIZES IN-EXPRESSION
        #: (codes * scale inside the probe scan, still map-side and
        #: partition-pruned), so ranking runs in dequantized space —
        #: recall loss is bounded by the rounding error (pinned by
        #: test). The flag freezes into meta: a float reader on a
        #: quantized store (or vice versa) fails loudly.
        self.quantized = quantized
        #: partitioned=True sub-partitions the vectors table by a
        #: `__batch` stamp under each cell dir; absorb(batch=...) is
        #: then a dynamic partition overwrite of that epoch's
        #: partitions — a replayed streaming epoch REPLACES its own
        #: rows instead of appending duplicates. Serving is unchanged:
        #: cell-level pruning still hits the first directory level.
        self.partitioned = partitioned
        #: versioned=True stores vectors/centroids as
        #: `<name>_vectors_v<N>` / `<name>_centroids_v<N>` behind a
        #: one-row `<name>_version` pointer (version, n_cells,
        #: watermark). build/retrain/compact write version N+1 off to
        #: the side and commit it with one atomic pointer flip:
        #: serving resolves the pointer once per query and reads a
        #: jointly consistent (vectors, centroids) pair.
        self.versioned = versioned
        self.store = VersionedStore(
            wh, "IvfIndex", name, ("vectors", "centroids"), versioned,
            "version int, n_cells int, compacted_through long",
        )

    @property
    def version_table(self) -> str:
        return self.store.version_table

    @property
    def vectors_table(self) -> str:
        return self.store.tables()[0]

    @property
    def centroids_table(self) -> str:
        return self.store.tables()[1]

    @property
    def meta_table(self) -> str:
        return self.store.meta_table

    def _frame_dim(self, frame: DataFrame, vec_col: str) -> int:
        """min/max vector length in one aggregate; raises on ragged."""
        lo, hi = frame.select(
            F.min(F.size(F.col(vec_col))), F.max(F.size(F.col(vec_col)))
        ).first()
        if lo is None:
            return -1  # empty frame: nothing to validate
        if lo != hi:
            raise ValueError(
                f"'{vec_col}' is ragged (lengths {lo}..{hi}) — an IVF "
                "index requires a fixed embedding dimension"
            )
        return lo

    def _write_meta(
        self,
        n_cells: int,
        dim: int,
        default_nprobe: int | None = None,
        compacted_through: int | None = None,
    ) -> None:
        # default_nprobe: the MEASURED serving default calibrate_nprobe
        # writes — NULL until a calibration runs, reset by
        # build/retrain (new geometry invalidates the old measurement)
        # unless they re-calibrate. compacted_through: the unversioned
        # store's replay watermark (build resets it, retrain carries
        # it — operators/epochs.py)
        self.wh.overwrite_rows(
            self.meta_table,
            [
                (
                    self.id_col,
                    self.vec_col,
                    self.cell_col,
                    n_cells,
                    dim,
                    self.partitioned,
                    self.quantized,
                    self.versioned,
                    default_nprobe,
                    compacted_through,
                )
            ],
            "id_col string, vec_col string, cell_col string, "
            "n_cells int, dim int, partitioned boolean, "
            "quantized boolean, versioned boolean, "
            "default_nprobe int, compacted_through long",
        )
        self._stored_meta = self.store.read_meta()

    def _store_cols(self, assigned: DataFrame) -> DataFrame:
        """Project the frame to its at-rest layout: float arrays, or
        int8 codes + scale in quantized mode."""
        if not self.quantized:
            return assigned
        return quantize_embeddings(assigned, self.vec_col, "qvec").drop(
            self.vec_col
        )

    def _read_vectors(self, table: str | None = None) -> DataFrame:
        """The vectors table with `vec_col` materialized — dequantized
        in-expression from the stored codes in quantized mode (a
        narrow map over the pruned scan; nothing re-quantizes).
        `table` pins an explicit (e.g. versioned) table name; default
        resolves the current layout."""
        df = self.wh.read(table or self.vectors_table)
        if not self.quantized:
            return df
        return df.withColumn(
            self.vec_col, dequantize(F.col("qvec"), F.col("qvec_scale"))
        ).drop("qvec", "qvec_scale")

    def _meta(self) -> dict | None:
        """The meta row, cached once it exists."""
        if getattr(self, "_stored_meta", None) is None:
            self._stored_meta = self.store.read_meta()
        return self._stored_meta

    def _validate(
        self, frame: DataFrame | None = None, vec_col: str | None = None
    ) -> None:
        """Fail loudly on a column-layout mismatch with the persisted
        store, and on a vector-length mismatch in `frame` — both would
        otherwise degrade recall silently (see class docstring)."""
        stored = self._meta()
        if stored is None:
            return  # no meta row: nothing to check
        self.store.check_identity(
            stored,
            {
                "id_col": self.id_col,
                "vec_col": self.vec_col,
                "cell_col": self.cell_col,
                "partitioned": self.partitioned,
                "quantized": self.quantized,
                "versioned": self.versioned,
            },
            "rebuild the index or match its layout",
        )
        if frame is not None:
            d = self._frame_dim(frame, vec_col or self.vec_col)
            if d not in (-1, stored["dim"]):
                raise ValueError(
                    f"IvfIndex '{self.name}' stores {stored['dim']}-dim "
                    f"vectors but '{vec_col or self.vec_col}' has {d} — "
                    "zip_with would silently truncate every dot product "
                    "to the shorter length and degrade recall; fix the "
                    "input or rebuild the index"
                )

    def _write_cells(self, assigned, vec_t, cent_t, calibrate, seed):
        """Write the assigned corpus to `vec_t` and its centroids to
        `cent_t`; return (n_cells, dim, default_nprobe). Centroids are
        the per-cell means of the PERSISTED (in quantized mode:
        dequantized) vectors, so serving and quantizer see the same
        vectors; the dim/ragged scan reads the same table and overlaps
        the centroid job (guide §2.6). `calibrate` is a recall target
        or None."""
        from ..session import run_concurrently
        from ..sources.warehouse import atomic_overwrite

        parts = [self.cell_col] + (["__batch"] if self.partitioned else [])
        atomic_overwrite(
            self._store_cols(assigned), self.wh.path(vec_t),
            partition_by=parts,
        )
        _, dim = run_concurrently(
            lambda: self.wh.overwrite(
                cent_t,
                ivf_centroids(
                    self._read_vectors(vec_t), self.cell_col, self.vec_col
                ),
            ),
            lambda: self._frame_dim(self._read_vectors(vec_t), self.vec_col),
        )
        # one row per occupied cell, counted from the parquet footers
        n_cells = self.wh.count_rows(cent_t)
        nprobe = None
        if calibrate is not None:
            nprobe = self.calibrate_nprobe(
                recall_target=calibrate, seed=seed, _tables=(vec_t, cent_t)
            )["default_nprobe"]
        return n_cells, dim, nprobe

    def build(
        self,
        corpus: DataFrame,
        n_cells: int = 16,
        seed: int = 42,
        max_iter: int = 20,
        nprobe_recall_target: float | None = None,
        assigned: bool = False,
    ) -> None:
        """Build the index. `nprobe_recall_target`: when set, runs
        `calibrate_nprobe` against the freshly written tables and
        stores the measured serving default in meta.

        `assigned=True` — bring-your-own-quantizer: the corpus arrives
        with `cell_col` ALREADY populated (an external partitioner —
        category/tenant/shard keys, an offline clustering) and the
        kmeans training is skipped; the serving centroids derive as
        the per-cell means of the persisted assignment, exactly as in
        the trained path. The caller owns assignment quality: a
        partitioner uncorrelated with the vector space degrades recall
        gracefully (the probed cells still score exactly).

        Versioned: the new version is written off to the side and
        committed with one pointer flip, with no tombstones (a
        rebuild's corpus is the caller's statement of record), and
        the replay watermark resets."""
        flip = self.store.begin(
            f"IvfIndex('{self.name}').build", self.store.version_or_none()
        )
        if assigned:
            if self.cell_col not in corpus.columns:
                raise ValueError(
                    f"IvfIndex '{self.name}': build(assigned=True) "
                    f"needs the corpus to carry '{self.cell_col}' — "
                    "the external quantizer's assignment column"
                )
        else:
            corpus = ivf_build(
                corpus, n_cells, self.vec_col, self.cell_col, seed,
                max_iter,
            )
        if self.partitioned:
            corpus = corpus.withColumn("__batch", F.lit("__build__"))
        vec_t, cent_t = self.store.tables(flip.version)
        out = {}

        def _write():
            counted, out["dim"], out["nprobe"] = self._write_cells(
                corpus, vec_t, cent_t, nprobe_recall_target, seed
            )
            # an external assignment's cell count is measured
            out["n_cells"] = counted if assigned else n_cells

        self.store.commit(
            flip,
            _write,
            meta=lambda: self._write_meta(
                out["n_cells"], out["dim"], default_nprobe=out["nprobe"]
            ),
            layout=out,
        )

    def absorb(self, new_vectors: DataFrame, batch=None) -> None:
        """Assign new vectors to their nearest EXISTING centroid and
        add them to the cell layout (centroids unchanged — see class
        docstring for the rebuild policy).

        Unpartitioned index: a plain append (pass no `batch`).
        Partitioned index: `batch` is required and the write is a
        dynamic partition overwrite of that epoch's (cell, batch)
        partitions — assignment is deterministic given the (frozen)
        centroids, so a replayed streaming epoch rewrites exactly the
        same rows instead of duplicating them.

        Compacted stores (operators/epochs.py): an epoch <= the
        recorded `compacted_through` watermark is a REPLAY of rows
        already merged into the `__compacted__` partition — absorb
        no-ops instead of duplicating them."""
        self._validate(new_vectors, self.vec_col)
        if batch is not None:
            guard_sentinel_batch(batch)
        # version, tables, tombstones AND the replay watermark all
        # resolve from ONE pointer read so the skip decision and the
        # tables it protects are jointly consistent across a
        # concurrent compact(live=True) flip
        v, layout = self.store.resolve()
        if (
            batch is not None
            and self.partitioned
            and replay_skippable(batch, layout.get("compacted_through"))
        ):
            return
        vec_t, cent_t = self.store.tables(v)
        from .tombstones import anti_join_tombstones

        # a deleted id stays deleted until a purging compaction: the
        # ban is a size-gated anti-join against the tombstone id set
        # — deterministic, so replays converge
        new_vectors = anti_join_tombstones(
            new_vectors, self.wh, self.store.tombstones(v), self.id_col
        )
        cents = self.wh.read(cent_t)
        # assignment is per ROW, not per id: an id_col-partitioned
        # argmax window silently drops all but one row of a batch
        # that repeats an id — duplicate handling belongs to the
        # caller (class docstring contract)
        w = Window.partitionBy("__row").orderBy(
            F.desc("__sim"), F.asc(self.cell_col)
        )
        assigned = (
            new_vectors.withColumn(
                "__row", F.monotonically_increasing_id()
            )
            .crossJoin(F.broadcast(cents))
            .withColumn(
                "__sim", cosine(F.col(self.vec_col), F.col("centroid"))
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__sim", "__rn", "centroid", "__row")
        )
        assigned = self._store_cols(assigned)
        if self.partitioned:
            if batch is None:
                raise ValueError(
                    "a partitioned index requires a batch id for absorb()"
                )
            self.wh.append_partitioned(
                vec_t,
                assigned.withColumn("__batch", F.lit(str(batch))),
                [self.cell_col, "__batch"],
            )
        else:
            if batch is not None:
                raise ValueError(
                    "batch stamps need a partitioned index "
                    "(IvfIndex(partitioned=True))"
                )
            assigned.write.mode("append").partitionBy(self.cell_col).parquet(
                self.wh.path(vec_t)
            )

    def delete(self, ids: DataFrame) -> dict:
        """Tombstone vectors: takedowns on the immutable cell layout.
        `ids` holds `self.id_col`; every stored occurrence of a
        tombstoned id is filtered out of topk() by a size-gated
        anti-join over the probed rows, and absorb() refuses to
        re-admit it. Exact cosine results are unaffected for every
        surviving row. cell_skew() keeps counting tombstoned rows
        until they are purged — its verdict is about the physical
        layout, which still holds them.

        Idempotent; ids not in the store tombstone nothing. Physical
        purge happens at a FULL versioned compact() (atomic in the
        pointer flip); retrain() carries tombstones to the new
        version; build() starts a fresh lineage without them.

        Returns {"deleted_ids": n} — ids actually tombstoned by THIS
        call."""
        self._validate()
        v = self.store.version_or_none()
        vec_t = self.store.tables(v)[0]
        if not self.wh.exists(vec_t):
            # day-zero store: nothing indexed, nothing to tombstone
            return {"deleted_ids": 0}
        got = self.store.delete(
            self.wh.read(vec_t).select(self.id_col), ids, self.id_col,
            self.store.tombstones(v),
        )
        return {"deleted_ids": got["n"]}

    def compact(
        self,
        files_per_partition: int = 1,
        through: int | None = None,
        live: bool = False,
    ) -> dict:
        """Epoch-partition maintenance (operators/epochs.py has the
        full semantics): collapse every `__batch` partition into one
        `__compacted__` stamp, preserving the cell level — a pure
        LAYOUT rewrite (one shuffle keyed on the partition columns;
        nothing is re-assigned or re-trained, unlike retrain()),
        recording the `compacted_through` replay watermark that
        absorb() skips against. Serving output is bit-identical.

        `through` bounds WHICH epochs merge (integer epoch ids
        <= through; maintenance stamps always merge); `live=True`
        derives `through = newest epoch - 1` for a LIVE stream. The
        default (merge everything) is for a quiesced stream. A FULL
        merge on a versioned store also purges tombstoned vectors.

        Returns {"stamps_merged", "compacted_through", "purged",
        "files_before", "files_after"}."""
        from ..sources.warehouse import atomic_overwrite
        from .epochs import (
            collapse_epochs,
            hive_partition_values,
            parquet_file_count,
            plan_merge,
        )

        self._validate()
        if not self.partitioned:
            raise ValueError(
                f"IvfIndex '{self.name}': compact() is epoch-partition "
                "maintenance — only a partitioned=True store "
                "accumulates __batch partitions"
            )
        meta = self._meta()
        if not meta:
            raise ValueError(
                f"IvfIndex '{self.name}': compact() needs the meta "
                "marker to record the replay watermark — stores without "
                "one must rebuild once"
            )
        # one pointer (or meta) read → jointly consistent (version, wm)
        v, layout = self.store.resolve()
        flip = self.store.begin(f"IvfIndex('{self.name}').compact", v)
        cur_vec, cur_cent = self.store.tables(v)
        new_vec, new_cent = self.store.tables(flip.version)
        cur_tomb = self.store.tombstones(v)
        # raw at-rest read: quantized stores keep their int8 codes
        # byte-identical through the rewrite. The stamp column is cast
        # to string up front — partition-type inference reads an
        # all-numeric-epoch store's __batch as int, and the
        # restamp-to-__compacted__ union must not mix types
        vecs = self.wh.read(cur_vec).withColumn(
            "__batch", F.col("__batch").cast("string")
        )
        stamps = hive_partition_values(self.wh.path(cur_vec), "__batch")
        merged, wm = plan_merge(
            stamps, through, live, layout.get("compacted_through")
        )
        purge = (
            self.versioned
            and set(merged) == stamps
            and self.wh.exists(cur_tomb)
        )
        files_before = parquet_file_count(self.wh.path(cur_vec))
        collapsed = collapse_epochs(
            vecs.filter(F.col("__batch").isin(merged)),
            "__batch",
            [self.cell_col, "__batch"],
            self.id_col,
            files_per_partition,
        ).unionByName(vecs.filter(~F.col("__batch").isin(merged)))
        if purge:
            # size-gated, like serving: a mass takedown followed by a
            # full compaction degrades to a shuffle anti-join
            from .tombstones import anti_join_tombstones

            collapsed = anti_join_tombstones(
                collapsed, self.wh, cur_tomb, self.id_col
            )

        def _write():
            atomic_overwrite(
                collapsed,
                self.wh.path(new_vec),
                partition_by=[self.cell_col, "__batch"],
            )
            if self.versioned:
                self.wh.copy_table(cur_cent, new_cent)

        self.store.commit(
            flip,
            _write,
            meta=lambda: self._write_meta(
                meta["n_cells"],
                meta["dim"],
                default_nprobe=meta.get("default_nprobe"),
                compacted_through=wm,
            ),
            layout={"n_cells": meta["n_cells"], "compacted_through": wm},
            carry_tombstones=not purge,
            meta_first=True,
        )
        return {
            "stamps_merged": len(merged),
            "compacted_through": wm,
            "purged": purge,
            "files_before": files_before,
            "files_after": parquet_file_count(self.wh.path(new_vec)),
        }

    def cell_skew(self) -> dict:
        """Measured cell-balance probe: (n_vectors, n_cells_stored,
        n_cells_occupied, max_cell_rows, skew), where skew =
        max_cell_rows / (n_vectors / n_cells_stored), i.e. how many
        times fatter than uniform the fattest cell is. Absorb keeps
        centroids frozen forever, so a drifting embedding distribution
        silently piles new vectors into few cells — degrading both
        balance and recall; this probe is the measured retrain
        trigger. The vectors table and n_cells come from ONE pointer
        read, so a concurrent retrain flip cannot produce a phantom
        verdict."""
        self._validate()
        v, layout = self.store.resolve()
        n_cells = layout.get("n_cells") if self.versioned else (
            (self._meta() or {}).get("n_cells")
        )
        return self.store.cell_skew(
            self.store.tables(v)[0], self.cell_col, n_cells
        )

    def needs_retrain(self, max_skew: float = 4.0) -> bool:
        """True when the measured cell skew exceeds `max_skew` (the
        fattest cell holds more than max_skew times the uniform
        share). The default 4.0 tolerates healthy non-uniformity
        while catching the absorb-under-drift failure mode where one
        frozen cell eats most of the stream."""
        return self.cell_skew()["skew"] > max_skew

    def calibrate_nprobe(
        self,
        recall_target: float = 0.95,
        n_probes: int = 32,
        k: int = 5,
        seed: int = 42,
        _tables: tuple[str, str] | None = None,
    ) -> dict:
        """Measured auto-nprobe: derive the default probe width from a
        HELD-OUT probe set's measured recall against exact brute
        force, instead of guessing.

        Method: `n_probes` stored vectors are drawn deterministically
        (xxhash64 order, seeded) as queries; exact top-k over the full
        stored corpus is the ground truth (ONE corpus scan — the probe
        set is bounded by construction, so every collect here is
        bounded); nprobe doubles from 1 until measured recall@k
        reaches `recall_target` or every cell is probed. The chosen
        value is stored in meta as `default_nprobe` — served by
        topk(nprobe=None) — and returned with the full
        {nprobe: recall} trace. Both rankings round similarity to 6 dp
        with id tie-breaks so the recall measurement is tie-stable.

        build()/retrain() reset the stored default to NULL (new
        geometry invalidates the old measurement) unless called with
        `nprobe_recall_target`, which measures on the new tables
        (`_tables`; the caller then persists the default with its own
        commit)."""
        self._validate()
        persist = _tables is None
        if persist and not self._meta():
            raise ValueError(
                f"IvfIndex '{self.name}': calibrate_nprobe needs the "
                "meta marker a build() writes — there is no place to "
                "persist the measured default"
            )
        vec_t, cent_t = _tables if not persist else self.store.tables()
        corpus = self._read_vectors(vec_t)
        cents = self.wh.read(cent_t)
        n_cells = cents.count()
        probes = (
            corpus.select(
                F.col(self.id_col).alias("query_id"),
                F.col(self.vec_col).alias("query_vec"),
            )
            .orderBy(F.xxhash64(F.col("query_id"), F.lit(int(seed))))
            .limit(int(n_probes))
            .localCheckpoint()
        )
        corpus_n = corpus.withColumn("__n", l2_norm(F.col(self.vec_col)))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("__sim"), F.asc(self.id_col)
        )
        exact = (
            corpus_n.crossJoin(F.broadcast(probes))
            .select(
                "query_id",
                self.id_col,
                F.round(
                    dot(F.col(self.vec_col), F.col("query_vec"))
                    / (F.col("__n") * l2_norm(F.col("query_vec"))),
                    6,
                ).alias("__sim"),
            )
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
        )
        # bounded: n_probes * k rows
        truth = {
            (r["query_id"], r[self.id_col]) for r in exact.collect()
        }
        trace: dict[int, float] = {}
        nprobe = 1
        while True:
            approx = ivf_topk(
                corpus,
                probes,
                k=k,
                nprobe=nprobe,
                cell_col=self.cell_col,
                id_col=self.id_col,
                vec_col=self.vec_col,
                sim_round=6,
                centroids=cents,
            )
            got = {
                (r["query_id"], r[self.id_col]) for r in approx.collect()
            }
            recall = (
                len(got & truth) / len(truth) if truth else 1.0
            )
            trace[nprobe] = recall
            if recall >= recall_target or nprobe >= n_cells:
                break
            nprobe = min(nprobe * 2, int(n_cells))
        if persist:
            meta = self._stored_meta
            self._write_meta(
                meta["n_cells"],
                meta["dim"],
                default_nprobe=int(nprobe),
                compacted_through=meta.get("compacted_through"),
            )
        return {
            "default_nprobe": int(nprobe),
            "recall": trace[nprobe],
            "met_target": trace[nprobe] >= recall_target,
            "trace": trace,
            "n_probes": int(n_probes),
            "k": int(k),
        }

    def retrain(
        self,
        n_cells: int | None = None,
        seed: int = 42,
        max_iter: int = 20,
        nprobe_recall_target: float | None = None,
    ) -> None:
        """Re-train centroids over the FULL stored corpus and rewrite
        the cell layout — the offline answer when `needs_retrain`
        trips. Reads the store dequantized, re-runs the KMeans coarse
        quantizer, rewrites the vectors table re-partitioned by the
        NEW cells (a partitioned index keeps each row's __batch stamp,
        so epoch lineage, replay targeting and the compaction
        watermark survive the re-shard; tombstones carry too),
        recomputes centroids from the persisted assignment, and
        refreshes the meta (n_cells may change).

        Unversioned stores swap each TABLE atomically, but the
        vectors/centroids pair is NOT jointly atomic — a crash between
        the two swaps, or a concurrent topk() during a successful
        retrain, can pair the new cell layout with the old centroid
        table. That mixed view degrades RECALL only, never
        correctness: topk probes cells by centroid similarity and then
        computes exact cosines over the probed rows, so every returned
        (id, cos_sim) is true. Recovery from a crashed retrain is
        re-running it. `IvfIndex(versioned=True)` removes the recall
        dip: version N+1 is written off to the side and committed with
        one pointer flip."""
        self._validate()
        if n_cells is None:
            n_cells = (self._meta() or {}).get("n_cells") or 16
        # one pointer (or meta) read → jointly consistent (version, wm)
        v, layout = self.store.resolve()
        wm = layout.get("compacted_through")
        flip = self.store.begin(f"IvfIndex('{self.name}').retrain", v)
        cur_vec = self.store.tables(v)[0]
        new_vec, new_cent = self.store.tables(flip.version)
        corpus = self._read_vectors(cur_vec).drop(self.cell_col)
        assigned = ivf_build(
            corpus, n_cells, self.vec_col, self.cell_col, seed, max_iter
        )
        out = {"n_cells": n_cells, "compacted_through": wm}

        def _write():
            _, out["dim"], out["nprobe"] = self._write_cells(
                assigned, new_vec, new_cent, nprobe_recall_target, seed
            )

        self.store.commit(
            flip,
            _write,
            meta=lambda: self._write_meta(
                n_cells, out["dim"], default_nprobe=out["nprobe"],
                compacted_through=wm,
            ),
            layout=out,
            carry_tombstones=True,
        )

    def prune_versions(self, keep: int = 1) -> list[str]:
        """Delete the table directories of every version but the
        newest `keep` (see VersionedStore.prune_versions)."""
        return self.store.prune_versions(keep)

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        sim_round: int | None = None,
    ) -> DataFrame:
        """Serve approximate top-k from the persisted index: stored
        centroids pick the probe cells, and the cell-partitioned
        vectors table is read partition-pruned.

        nprobe=None serves at the index's MEASURED default (the
        `default_nprobe` calibrate_nprobe stored in meta), falling
        back to 2 when no calibration has run. An explicit int always
        wins."""
        self._validate(queries, query_vec_col)
        if nprobe is None:
            nprobe = (self._meta() or {}).get("default_nprobe") or 2
        # one pointer resolution for ALL tables: in versioned mode a
        # concurrent retrain flip cannot hand this query v(N) vectors
        # with v(N+1) centroids or tombstones
        v = self.store.version_or_none()
        vec_t, cent_t = self.store.tables(v)
        from .tombstones import anti_join_tombstones

        # deletion tombstones: the size-gated anti-join drops deleted
        # vectors from the probed rows; no-op without a tombstone table
        vectors = anti_join_tombstones(
            self._read_vectors(vec_t), self.wh, self.store.tombstones(v),
            self.id_col,
        )
        return ivf_topk(
            vectors,
            queries,
            k=k,
            nprobe=nprobe,
            cell_col=self.cell_col,
            id_col=self.id_col,
            vec_col=self.vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            sim_round=sim_round,
            centroids=self.wh.read(cent_t),
        )


# --- int8 quantization -----------------------------------------------------

def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "qvec"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: q_i = floor(x_i /
    scale + 0.5) with scale = max|x| / 127, stored as array<tinyint>
    + one float32 scale. 4x smaller than float32 at 100 TB (the scan,
    shuffle and cache all shrink with it); cosine in quantized space
    is scale-free, so ranking survives quantization up to rounding
    error — re-rank the shortlist in float where exactness matters.
    Pure higher-order expressions: no UDF, no shuffle.

    Determinism contract (round 10, the IvfIndex oracle leg): the tie
    rule is floor(v + 0.5) — half-values round toward +inf — because
    floor is bit-exact in every IEEE engine, while round() half-case
    conventions differ across engines/modes. Every arithmetic step
    (cast, abs, max, divide, floor) is a single IEEE op, so a DuckDB
    replay produces byte-identical codes and scales."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(
        v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("tinyint")
    )
    return df.withColumn(out_col, q).withColumn(f"{out_col}_scale", scale.cast("float"))


def dequantize(qvec: Column, scale: Column) -> Column:
    """array<tinyint> + scale -> array<double> (approximate original)."""
    return F.transform(qvec, lambda x: x.cast("double") * scale.cast("double"))


def quantize_roundtrip(vec: Column) -> Column:
    """dequantize(quantize(vec)) folded into ONE projection — for a
    plan that needs the int8-representable values but never stores the
    codes (the ivf_cosine_topk demonstration row, VERDICT r10 item 6).
    Bit-identical to the two-step cascade: same scale (max|x|/127 as
    double, zero-guarded to 1.0), same floor(x/scale + 0.5) tie rule
    (the tinyint cast it skips is numerically a no-op — floor output
    is already integral in [-127, 127]), same float32 scale round-trip
    on the way back.

    BOTH the double-cast array and the scale are let-bound via
    dedup._let (Spark re-evaluates captured expression trees on every
    lambda invocation — no CSE inside HOF lambdas), so the max runs
    once per ROW, not once per element: two array traversals total
    instead of O(d) array-max evaluations."""
    from .dedup import _let

    v = F.transform(vec, lambda x: x.cast("double"))

    def body(bound: Column) -> Column:
        amax = F.array_max(F.transform(bound, lambda x: F.abs(x)))
        scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))

        def with_scale(s: Column) -> Column:
            return F.transform(
                bound,
                lambda x: F.floor(x / s + F.lit(0.5))
                * s.cast("float").cast("double"),
            )

        return _let(scale, with_scale)

    return _let(v, body)


def ivf_build(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Train the IVF coarse quantizer from scratch: MLlib KMeans over
    the embedding column, returning the corpus with an assigned
    `cell_col` — the input `ivf_topk` expects when no upstream
    clustering exists. Gated behind an import-try (pyspark.ml needs
    numpy at runtime).

    Scale notes: KMeans fit is iterative map-reduce over the corpus
    (k tiny centroid vectors broadcast each round); the assignment
    pass is one narrow transform. Persist or write the assigned corpus
    — cell-partitioned, ideally — so queries pay only the probe join,
    never a re-fit. n_cells ~ sqrt(n_rows) is the usual starting
    point; raise nprobe (not n_cells) to trade latency for recall."""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("pyspark.ml unavailable in this runtime") from exc

    assembled = corpus.withColumn(
        "__features",
        array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
    )
    model = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="__features"
    ).fit(assembled)
    return (
        model.transform(assembled)
        .withColumnRenamed("prediction", cell_col)
        .drop("__features")
    )
