"""Product quantization (PQ) — the published next compression rung
after int8 scalar quantization.

Reference surface: none — LLM-training-data extension (SURVEY.md §2
"beyond the reference"); the method is Jégou, Douze & Schmid 2011,
"Product Quantization for Nearest Neighbor Search" (TPAMI): split a
d-dim vector into `m` sub-vectors of d/m dims, train a 256-entry
KMeans codebook PER SUB-SPACE, and store each vector as m one-byte
codes — 128-dim float32 (512 B) becomes 16 B at m=16 (32x), vs the
4x of int8. Serving uses ASYMMETRIC DISTANCE (ADC): the query stays
un-quantized; per query a lookup table LUT[j][c] = <q_j, codebook
j,c> is built once (m x n_codes floats — bounded per query), and the
approximate dot product of the query with ANY stored vector is m
table lookups: sum_j LUT[j][code_j]. Cosine needs the stored
vector's norm, which PQ codes cannot recover — so encode persists
the TRUE float norm alongside the codes (4 bytes, exact
denominator; only the numerator is approximated).

Where Python runs, and why (the documented Arrow escape-hatch
class): nearest-codebook-entry assignment (encode) and the per-query
LUT are data-dependent argmin / small-matmul kernels over a FROZEN
codebook — a JVM expression tree for them would be m x 256 x
(d/m) literal nodes (plan-compile blowup), so both run as
Arrow-batched pandas functions (numpy einsum), exactly like the
multimodal codecs and the BPE merge loop. The HOT PATH — scoring the
full codes table — is pure JVM expressions: one zip_with of the
code array against the broadcast LUT plus an exact-decimal fold, so
the corpus-sized scan stays inside whole-stage codegen and the
Python boundary only ever sees bounded frames (the query workload)
or a one-time encode pass.

Scale shape: the codes table is the ONLY corpus-sized artifact and
it is ~32x smaller than the float store — the 10^9-vector scan/IO
bill shrinks with it; scoring is map-only against a broadcast
(query, LUT) frame + one top-k window (the cosine_topk shape).
`PqIndex` persists codes on the shared `VersionedStore` lifecycle
(operators/store.py): a meta-frozen layout (mismatched readers fail
loudly), codebooks in a warehouse table (servers never retrain to
read), and an optional one-row version pointer whose row carries the
LAYOUT FIELDS committed atomically with each pointer flip. On top:
the IVF-PQ composition (cells for pruning + codes for compression),
residual encoding, sample-based codebook training and OPQ.

Determinism: codebooks come from MLlib KMeans (seeded, deterministic
given the corpus) and are FROZEN at build; encode is a deterministic
argmin with index-ASC tie-break; ADC sums fold in fixed j order
inside one expression. Correctness is pinned two ways: pytest
(exact-reconstruction corpora recall 100% — raw AND residual — a
measured recall floor vs exact cosine on a random corpus, and the
encode round-trip), and the DRIVER HASH — the
`pq_adc` leg of `ivf_cosine_topk` runs the real encode argmin /
LUT / decimal fold / rerank against a frozen dyadic literal codebook
that DuckDB replays exactly (plans/queries_llm.py::_PQ_BOOKS).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .epochs import guard_sentinel_batch, replay_skippable
from .store import VersionedStore

__all__ = [
    "PqModel",
    "train_pq",
    "pq_encode",
    "pq_query_luts",
    "pq_topk",
    "PqIndex",
]

#: decimal scale for the exact ADC fold (the repo's dsum pattern):
#: LUT entries are O(|q||c|) dot products; DECIMAL(28,12) keeps the
#: m-term sum exact and order-free far past any realistic magnitude
_ADC_SUM = "decimal(28,12)"


@dataclass(frozen=True)
class PqModel:
    """Frozen product quantizer: `codebooks[j][c]` is the c-th
    centroid of sub-space j (tuple-of-tuples of floats — plain
    portable data, the LangIdModel convention). dim = m * sub_dim."""

    m: int
    sub_dim: int
    n_codes: int
    codebooks: tuple  # m x n_codes x sub_dim

    @property
    def dim(self) -> int:
        return self.m * self.sub_dim

    def rows(self) -> list[tuple[int, int, list[float]]]:
        """(sub_space, code, centroid) rows — the persisted layout."""
        return [
            (j, c, [float(x) for x in cent])
            for j, book in enumerate(self.codebooks)
            for c, cent in enumerate(book)
        ]

    @staticmethod
    def from_rows(rows) -> "PqModel":
        books: dict[int, dict[int, tuple]] = {}
        for r in rows:
            books.setdefault(r["sub_space"], {})[r["code"]] = tuple(
                r["centroid"]
            )
        codebooks = tuple(
            tuple(books[j][c] for c in sorted(books[j]))
            for j in sorted(books)
        )
        return PqModel(
            m=len(codebooks),
            sub_dim=len(codebooks[0][0]),
            n_codes=len(codebooks[0]),
            codebooks=codebooks,
        )


def train_pq(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    train_fraction: float | None = None,
    train_rows: int | None = None,
    sample_id_col: str | None = None,
    sample_seed: str = "pq",
) -> PqModel:
    """Train the m per-sub-space codebooks: one MLlib KMeans fit per
    sub-space over the corpus's sub-vector slices (a driver loop of m
    fits — m is small by design; each fit is iterative map-reduce over
    one narrow slice projection, the ivf_build shape). The returned
    model is bounded (m x n_codes x d/m floats) and rides the driver
    like every frozen model in the repo. Gated behind an import-try
    (pyspark.ml needs numpy at runtime).

    `train_fraction` / `train_rows` — sample-based codebook training,
    the published practice (Jégou et al. 2011 §V train on bounded
    samples; FAISS recipes use 100k-1M vectors): codebooks are
    STATISTICS of the distribution, so the m x max_iter iterative fits
    need not scan the full corpus. The sample is drawn by the repo's
    own `deterministic_sample` (a pure function of (seed, id) — same
    rows every run/retrain, no randomSplit re-roll), which needs
    `sample_id_col`. `train_rows` converts to a fraction via ONE count
    (expected sample size ~train_rows; hash sampling is expectation-
    based, not exact-count). The ragged/dim guard and the ENCODE pass
    still see the full corpus — only the KMeans fits are sampled."""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "pyspark.ml unavailable in this runtime"
        ) from exc

    # one min/max aggregate: ragged vectors would otherwise slice
    # short and train silently-wrong codebooks (the IvfIndex
    # _frame_dim lesson — fail loudly instead)
    lohi = corpus.select(
        F.min(F.size(vec_col)), F.max(F.size(vec_col))
    ).first()
    if lohi is None or lohi[0] is None:
        raise ValueError("train_pq: empty corpus")
    if lohi[0] != lohi[1]:
        raise ValueError(
            f"train_pq: '{vec_col}' is ragged (lengths "
            f"{lohi[0]}..{lohi[1]}) — PQ requires a fixed dimension"
        )
    dim = int(lohi[0])
    if dim % m != 0:
        raise ValueError(
            f"train_pq: dim {dim} is not divisible by m={m} — pad the "
            "embedding or pick m from the divisors of dim"
        )
    sub = dim // m
    train_src = corpus
    if train_fraction is not None or train_rows is not None:
        from .sampling import deterministic_sample

        if sample_id_col is None:
            raise ValueError(
                "train_pq: sampled training needs sample_id_col (the "
                "deterministic sample is keyed on row identity)"
            )
        frac = train_fraction
        if train_rows is not None:
            if train_rows <= 0:
                raise ValueError("train_pq: train_rows must be positive")
            total = corpus.count()
            row_frac = min(1.0, train_rows / total) if total else 1.0
            frac = row_frac if frac is None else min(frac, row_frac)
        if not 0.0 < frac <= 1.0:
            raise ValueError(
                f"train_pq: train_fraction {frac} outside (0, 1]"
            )
        if frac < 1.0:
            # materialize the BOUNDED sample once (localCheckpoint —
            # the ivf_cosine_topk lesson) so the m iterative fits scan
            # the sample, not m re-derivations of the corpus filter
            train_src = (
                deterministic_sample(
                    corpus, frac, id_col=sample_id_col, seed=sample_seed
                )
                .select(vec_col)
                .localCheckpoint(eager=True)
            )
            # an over-aggressive fraction that samples NOTHING must
            # not fall through to an opaque MLlib failure
            if train_src.limit(1).count() == 0:
                raise ValueError(
                    f"train_pq: training sample is empty at fraction "
                    f"{frac} — raise train_fraction/train_rows"
                )
    books = []
    for j in range(m):
        sliced = train_src.select(
            array_to_vector(
                F.transform(
                    F.slice(F.col(vec_col), j * sub + 1, sub),
                    lambda x: x.cast("double"),
                )
            ).alias("__features")
        )
        model = KMeans(
            k=n_codes, seed=seed + j, maxIter=max_iter,
            featuresCol="__features",
        ).fit(sliced)
        centers = [
            tuple(float(x) for x in c) for c in model.clusterCenters()
        ]
        # a degenerate subspace (constant / near-constant dims — e.g.
        # zero-padded embeddings) makes KMeans return FEWER than k
        # centers; ragged codebooks would break the vectorized
        # m x n_codes x s encode/LUT math. Pad with copies of the last
        # center: argmin ties resolve to the lowest index, so padded
        # codes are never emitted and ADC distances are unchanged.
        if centers and len(centers) < n_codes:
            centers.extend([centers[-1]] * (n_codes - len(centers)))
        books.append(tuple(centers))
    return PqModel(m=m, sub_dim=sub, n_codes=n_codes, codebooks=tuple(books))


def _np_books(model: PqModel):
    import numpy as np

    return np.asarray(model.codebooks, dtype=np.float64)  # m x n x s


def _rotated_col(
    df: DataFrame, vec_col: str, out_col: str, rotation
) -> DataFrame:
    """Append `out_col` = R @ vec (Arrow batch, numpy matvec) —
    training-time plumbing for train_opq; serving rotates only the
    bounded query frame (pq_query_luts) and the encode pass folds the
    rotation into its own batch."""
    rot = [list(r) for r in rotation]
    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
        )
        + f", {out_col} array<double>"
    )

    def go(batches):
        import numpy as np

        R = np.asarray(rot, dtype=np.float64)
        for pdf in batches:
            out = pdf.copy()
            out[out_col] = [
                (R @ np.asarray(v, dtype=np.float64)).tolist()
                for v in pdf[vec_col]
            ]
            yield out

    return df.mapInPandas(go, schema=out_schema)


def train_opq(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    opq_iters: int = 5,
    train_fraction: float | None = None,
    train_rows: int | None = None,
    sample_id_col: str | None = None,
) -> tuple[PqModel, tuple]:
    """Optimized product quantization, non-parametric solution
    (Ge, He, Ke & Sun, CVPR 2013 §4): alternately (a) train the m
    codebooks on the ROTATED sample (train_pq — the exact machinery
    raw PQ uses) and (b) solve the orthogonal Procrustes problem for
    the rotation that best aligns data with its current
    reconstruction — R* = U V^T from the SVD of M = sum_i y_hat_i
    x_i^T (d x d, tiny), maximizing tr(R^T M), i.e. minimizing
    sum ||R x - y_hat||^2 over orthogonal R. A final codebook fit on
    the converged rotation closes the loop. Returns (model,
    rotation) with the rotation as a frozen tuple-of-tuples — the
    PqModel convention.

    The rotation INITIALIZES at Ge et al.'s parametric solution
    (§3.2), not identity: PCA the sample covariance, then greedily
    allocate eigenvectors to the m sub-spaces balancing per-bucket
    log-variance (eigenvalue-product balance). Identity is a FIXED
    POINT of the non-parametric alternation on axis-aligned data (the
    first reconstruction's M is near-symmetric-PSD, so Procrustes
    returns ~identity forever) — measured on the planted
    variance-imbalance corpus the identity start left quantization
    error unchanged while the eigen-allocation start cut it 3.3x
    (4.6x on the mixed-cluster corpus; tests/test_pq.py pins the
    recall consequence).

    Why it helps: raw PQ quantizes each d/m-dim slice independently,
    so variance that straddles a sub-space boundary (anisotropic /
    correlated dims) is unquantizable at any n_codes; an orthogonal
    rotation re-axes the data so the product structure matches it
    (measured on a planted anisotropic corpus in tests/test_pq.py —
    the residual-pin pattern).

    Scale shape: everything iterative runs on the bounded
    deterministic sample (`train_fraction`/`train_rows`, the train_pq
    sampling contract — codebooks AND the rotation are distribution
    statistics); per iteration the cost is m KMeans fits plus ONE
    Arrow pass accumulating per-partition d x d partials (collect is
    <= #partitions rows of d^2 doubles). The d x d SVD is driver-side
    numpy — d is an embedding dimension, not a corpus dimension."""
    import numpy as np

    lohi = corpus.select(
        F.min(F.size(vec_col)), F.max(F.size(vec_col))
    ).first()
    if lohi is None or lohi[0] is None:
        raise ValueError("train_opq: empty corpus")
    if lohi[0] != lohi[1]:
        raise ValueError(
            f"train_opq: '{vec_col}' is ragged (lengths "
            f"{lohi[0]}..{lohi[1]}) — PQ requires a fixed dimension"
        )
    d = int(lohi[0])
    if d % m != 0:
        raise ValueError(
            f"train_opq: dim {d} is not divisible by m={m}"
        )
    if opq_iters < 1:
        raise ValueError("train_opq: opq_iters must be >= 1")
    sample = corpus
    if train_fraction is not None or train_rows is not None:
        from .sampling import deterministic_sample

        if sample_id_col is None:
            raise ValueError(
                "train_opq: sampled training needs sample_id_col"
            )
        frac = train_fraction
        if train_rows is not None:
            total = corpus.count()
            row_frac = min(1.0, train_rows / total) if total else 1.0
            frac = row_frac if frac is None else min(frac, row_frac)
        if frac < 1.0:
            sample = deterministic_sample(
                corpus, frac, id_col=sample_id_col, seed="opq"
            )
    # ONE materialization feeds every iteration's fits + encode +
    # Procrustes pass (the train_pq sampling contract)
    sample = sample.select(
        F.transform(vec_col, lambda x: x.cast("double")).alias("__x")
    ).localCheckpoint(eager=True)
    if sample.limit(1).count() == 0:
        raise ValueError("train_opq: training sample is empty")

    def _procrustes_m(enc_df, model) -> "np.ndarray":
        books = model.codebooks
        mm = model.m

        def partials(batches):
            import numpy as np
            import pandas as pd

            B = np.asarray(books, dtype=np.float64)
            acc = np.zeros((d, d), dtype=np.float64)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["__x"]]
                )
                C = np.asarray([list(c) for c in pdf["__c"]], dtype=int)
                Y = np.concatenate(
                    [B[j][C[:, j]] for j in range(mm)], axis=1
                )
                acc += Y.T @ X
            yield pd.DataFrame({"p": [acc.flatten().tolist()]})

        parts = enc_df.mapInPandas(partials, "p array<double>").collect()
        return sum(
            np.asarray(r["p"], dtype=np.float64).reshape(d, d)
            for r in parts
        )

    # parametric init (Ge et al. §3.2): distributed covariance
    # partials (d^2 + d + 1 doubles per partition), driver-side eigh,
    # greedy balanced log-variance eigenvector allocation
    def cov_partials(batches):
        import numpy as np
        import pandas as pd

        xx = np.zeros((d, d), dtype=np.float64)
        s = np.zeros(d, dtype=np.float64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__x"]]
            )
            xx += X.T @ X
            s += X.sum(axis=0)
            n += len(X)
        yield pd.DataFrame(
            {"xx": [xx.flatten().tolist()], "s": [s.tolist()], "n": [n]}
        )

    cparts = sample.mapInPandas(
        cov_partials, "xx array<double>, s array<double>, n long"
    ).collect()
    n_tot = sum(r["n"] for r in cparts)
    xx = sum(
        np.asarray(r["xx"], dtype=np.float64).reshape(d, d)
        for r in cparts
    )
    mu = sum(np.asarray(r["s"], dtype=np.float64) for r in cparts) / n_tot
    cov = xx / n_tot - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(-evals)
    evals, evecs = evals[order], evecs[:, order]
    import math as _math

    sub = d // m
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = [0.0] * m
    for i, ev in enumerate(evals):
        free = [b for b in range(m) if len(buckets[b]) < sub]
        b = min(free, key=lambda b_: logs[b_])
        buckets[b].append(i)
        logs[b] += _math.log(max(float(ev), 1e-12))
    perm = [i for b in buckets for i in b]
    R = evecs[:, perm].T  # rows are the allocated basis: y = R x
    model = None
    for _ in range(opq_iters):
        rotated = _rotated_col(sample, "__x", "__rx", R.tolist())
        model = train_pq(
            rotated, m=m, n_codes=n_codes, vec_col="__rx",
            seed=seed, max_iter=max_iter,
        )
        enc = pq_encode(
            rotated, model, vec_col="__rx",
            codes_col="__c", norm_col="__n",
        )
        M = _procrustes_m(enc, model)
        U, _, Vt = np.linalg.svd(M)
        R = U @ Vt
    # final codebooks on the converged rotation
    model = train_pq(
        _rotated_col(sample, "__x", "__rx", R.tolist()),
        m=m, n_codes=n_codes, vec_col="__rx",
        seed=seed, max_iter=max_iter,
    )
    rotation = tuple(tuple(float(x) for x in row) for row in R)
    return model, rotation


def pq_encode(
    df: DataFrame,
    model: PqModel,
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
    norm_col: str = "pq_norm",
    center_col: str | None = None,
    rotation=None,
) -> DataFrame:
    """Replace `vec_col` with its PQ codes (array<smallint>, m
    entries) and the vector's TRUE L2 norm (double — the exact cosine
    denominator ADC cannot recover from codes). Arrow-batched numpy
    argmin per sub-space (see module docstring for why this is the
    escape-hatch class); deterministic: ties break toward the LOWEST
    code index (numpy argmin convention), pinned in tests.

    `center_col` — residual encoding (the published IVF-PQ
    composition, Jégou et al. 2011 §IV-A): codes quantize the RESIDUAL
    `vec - center` (the model must have been trained on residuals),
    while `norm_col` stays the ORIGINAL vector's norm (the cosine
    denominator is a property of v, not of v - c; serving adds the
    exact <q, center> term back). Both columns are consumed.

    `rotation` — OPQ (Ge et al., CVPR 2013): a d x d ORTHOGONAL
    matrix (tuple-of-tuples from train_opq) applied to the vector
    BEFORE the sub-space split; the model must have been trained on
    rotated vectors. Rotation preserves norms and inner products
    (<Rx, Rq> = <x, q>), so `norm_col` and the serving arithmetic are
    unchanged — only the query side must rotate symmetrically
    (pq_query_luts gets the same matrix)."""
    import pandas as pd

    books = model.codebooks
    m, sub = model.m, model.sub_dim
    rot = None if rotation is None else [list(r) for r in rotation]
    dropped = {vec_col} | ({center_col} if center_col else set())
    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name not in dropped
        )
        + f", {codes_col} array<smallint>, {norm_col} double"
    )

    def encode(batches):
        import numpy as np

        B = np.asarray(books, dtype=np.float64)  # m x n x s
        sq = (B * B).sum(axis=2)  # m x n
        for pdf in batches:
            vecs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(vecs) == 0:
                yield pdf.drop(columns=list(dropped)).assign(
                    **{codes_col: [], norm_col: []}
                )
                continue
            if center_col is not None:
                centers = np.asarray(
                    [
                        np.asarray(c, dtype=np.float64)
                        for c in pdf[center_col]
                    ]
                )
                enc = vecs - centers
            else:
                enc = vecs
            if rot is not None:
                # y = R x per row (row-major: enc @ R.T)
                enc = enc @ np.asarray(rot, dtype=np.float64).T
            n = vecs.shape[0]
            codes = np.empty((n, m), dtype=np.int16)
            for j in range(m):
                x = enc[:, j * sub : (j + 1) * sub]  # n x s
                # ||x-c||^2 = ||x||^2 - 2<x,c> + ||c||^2; the ||x||^2
                # term is constant per row, so argmin needs only the
                # last two — ties go to the lowest code (np.argmin)
                d = sq[j][None, :] - 2.0 * (x @ B[j].T)
                codes[:, j] = np.argmin(d, axis=1).astype(np.int16)
            norms = np.sqrt((vecs * vecs).sum(axis=1))
            out = pdf.drop(columns=list(dropped)).copy()
            out[codes_col] = [c.tolist() for c in codes]
            out[norm_col] = norms
            yield out

    return df.mapInPandas(encode, schema=out_schema)


def pq_query_luts(
    queries: DataFrame,
    model: PqModel,
    query_vec_col: str = "query_vec",
    lut_col: str = "__lut",
    qnorm_col: str = "__qn",
    rotation=None,
) -> DataFrame:
    """Per-query ADC lookup table: LUT[j][c] = <q_j, codebook[j][c]>
    (array<array<double>>, m x n_codes) plus the query norm. The
    query workload is BOUNDED by construction, so this Arrow batch
    touches a handful of rows; the corpus never enters.

    `rotation` — OPQ: rotate the query into the codes' space before
    slicing (the symmetric half of pq_encode's rotation); the norm
    stays the original query's (rotation preserves it)."""
    books = model.codebooks
    m, sub = model.m, model.sub_dim
    rot = None if rotation is None else [list(r) for r in rotation]

    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in queries.schema.fields
        )
        + f", {lut_col} array<array<double>>, {qnorm_col} double"
    )

    def luts(batches):
        import numpy as np

        B = np.asarray(books, dtype=np.float64)  # m x n x s
        R = None if rot is None else np.asarray(rot, dtype=np.float64)
        for pdf in batches:
            rows = []
            norms = []
            for v in pdf[query_vec_col]:
                q = np.asarray(v, dtype=np.float64)
                norms.append(float(np.sqrt((q * q).sum())))
                if R is not None:
                    q = R @ q
                rows.append(
                    [
                        (B[j] @ q[j * sub : (j + 1) * sub]).tolist()
                        for j in range(m)
                    ]
                )
            out = pdf.copy()
            out[lut_col] = rows
            out[qnorm_col] = norms
            yield out

    return queries.mapInPandas(luts, schema=out_schema)


def _adc_dot(codes: Column, lut: Column) -> Column:
    """sum_j LUT[j][code_j] as an exact-decimal fold (order-free) —
    pure JVM expressions over the broadcast LUT; element_at is
    1-based, codes are 0-based."""
    terms = F.zip_with(
        codes,
        lut,
        lambda c, l: F.element_at(l, c.cast("int") + F.lit(1)),
    )
    return F.aggregate(
        terms,
        F.lit(0).cast(_ADC_SUM),
        # decimal addition widens (p,s)+(p,s) -> (p+1,s); the re-cast
        # keeps the accumulator type fixed (exact: the m-term sum is
        # orders of magnitude inside 28,12)
        lambda acc, t: (acc + t.cast(_ADC_SUM)).cast(_ADC_SUM),
    ).cast("double")


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    model: PqModel,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    norm_col: str = "pq_norm",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    sim_round: int | None = 6,
    rerank: DataFrame | None = None,
    rerank_vec_col: str = "embedding",
    shortlist: int | None = None,
    centroids: DataFrame | None = None,
    cell_col: str = "pq_cell",
    nprobe: int = 2,
    residual: bool = False,
    keep_adc: bool = False,
    rotation=None,
) -> DataFrame:
    """Approximate cosine top-k over a PQ codes table: (query_id,
    rank, <id_col>, adc_sim). adc_sim = ADC_dot / (||q|| * stored
    norm) — the numerator is the PQ approximation, the denominator is
    exact. The corpus-sized scan is map-only JVM (codes join a
    broadcast bounded LUT frame); ranking is the usual rounded-score
    window with an id tie-break. Zero-norm rows (query or stored)
    score 0.0 — the cosine() convention.

    `rerank` — the published shortlist-then-exact pattern (the
    standard way PQ serves in production: Jégou et al. §V): ADC ranks
    a `shortlist` (default 4k) from the compressed scan, then only
    those |queries| x shortlist rows join back to the FLOAT store
    `rerank` (<id_col>, <rerank_vec_col>) for exact cosine — the
    bulk scan stays 20-30x smaller and the float table is touched
    only for a bounded shortlist (a broadcast-able join-back). The
    output column is then the exact `cos_sim`. This is the knob that
    recovers recall on hard (high intrinsic dimension) corpora where
    raw ADC ordering is noisy — measured on the sf0.1 fixture in
    BASELINE.md.

    `centroids` — the IVF-PQ composition: a (cell_col, centroid)
    frame (the IvfIndex coarse-quantizer shape) turns the ADC scan
    from a full-codes crossJoin into a PROBED equi-join — each query
    keeps its `nprobe` best cells by exact centroid cosine (a tiny
    bounded cross join, the ivf_topk probe stage) and the codes table
    is read only for probed cells; with the codes table
    hive-partitioned by `cell_col` (PqIndex(n_cells=...)) the pruning
    is file-level. Cells bound WHAT is scanned, codes bound HOW WIDE
    each row is: nprobe/n_cells of the corpus at dim*4/m x
    compression per row.

    `residual` — the codes quantize v - centroid(cell) (the model was
    trained on residuals; PqIndex(residual=True) builds this layout):
    <q, v> = <q, centroid> + <q, v - centroid>, so serving adds the
    EXACT per-(query, cell) centroid dot product — one double per
    probe row, computed in the bounded probe stage — to the ADC fold
    of the residual codes. Only the residual is approximated, which
    is why residual PQ beats raw PQ at the same m on clustered
    corpora (the offsets the codebooks must cover shrink to the
    within-cell spread). Requires `centroids`."""
    from .similarity import cosine, dot

    if residual and centroids is None:
        raise ValueError(
            "pq_topk: residual=True needs the centroids frame — "
            "residual codes are meaningless without <q, centroid>"
        )
    # OPQ composes with residual codes EXACTLY (Ge et al. §5, the
    # global-rotation form): codes quantize R(v - c), the ADC fold
    # approximates <Rq, R(v - c)> = <q, v - c> (R orthogonal), and
    # the <q, centroid> correction stays in the UNROTATED space —
    # both LUT and correction are exact-decomposition terms, so the
    # same rotation parameter serves flat, celled and residual
    # layouts with no extra arithmetic.
    q = pq_query_luts(queries, model, query_vec_col, rotation=rotation)
    if centroids is None:
        probe_luts = q.select(query_id_col, "__lut", "__qn")
        scored_src = codes_df.join(F.broadcast(probe_luts), how="cross")
    else:
        pw = Window.partitionBy(query_id_col).orderBy(
            F.desc("__cs"), F.asc(cell_col)
        )
        probes = (
            centroids.crossJoin(
                F.broadcast(
                    q.select(
                        query_id_col,
                        F.col(query_vec_col).alias("__qv"),
                        "__lut",
                        "__qn",
                    )
                )
            )
            .select(
                query_id_col,
                cell_col,
                "__lut",
                "__qn",
                F.round(
                    cosine(F.col("centroid"), F.col("__qv")), 6
                ).alias("__cs"),
                # exact <q, centroid> for the residual reconstruction
                # (bounded: one double per (query, probed cell) row)
                dot(F.col("__qv"), F.col("centroid")).alias("__qc"),
            )
            .withColumn("__pr", F.row_number().over(pw))
            .filter(F.col("__pr") <= nprobe)
            .select(query_id_col, cell_col, "__lut", "__qn", "__qc")
        )
        scored_src = codes_df.join(F.broadcast(probes), cell_col)
    adc_num = _adc_dot(F.col(codes_col), F.col("__lut"))
    if residual:
        adc_num = F.col("__qc") + adc_num
    scored = scored_src.select(
        query_id_col,
        id_col,
        F.when(
            (F.col("__qn") > 0) & (F.col(norm_col) > 0),
            adc_num / (F.col("__qn") * F.col(norm_col)),
        )
        .otherwise(F.lit(0.0))
        .alias("adc_sim"),
    )
    if sim_round is not None:
        scored = scored.withColumn(
            "adc_sim", F.round("adc_sim", sim_round)
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("adc_sim"), F.asc(id_col)
    )
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, "rank", id_col, "adc_sim")
        )
    short_k = shortlist if shortlist is not None else 4 * k
    # keep_adc: carry the approximate score alongside the exact one —
    # the serving shape that lets consumers audit the ADC/rerank gap
    # (and the driver hash pin the whole encode->LUT->fold cascade)
    short_cols = (
        [query_id_col, id_col, "adc_sim"]
        if keep_adc
        else [query_id_col, id_col]
    )
    short = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= short_k)
        .select(*short_cols)
    )
    qv = queries.select(
        query_id_col, F.col(query_vec_col).alias("__qv")
    )
    exact = (
        short.join(rerank.select(id_col, rerank_vec_col), id_col)
        .join(F.broadcast(qv), query_id_col)
        .select(
            *short_cols,
            F.round(
                cosine(F.col(rerank_vec_col), F.col("__qv")),
                sim_round if sim_round is not None else 9,
            ).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    out_cols = (
        [query_id_col, "rank", id_col, "adc_sim", "cos_sim"]
        if keep_adc
        else [query_id_col, "rank", id_col, "cos_sim"]
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(*out_cols)
    )


class PqIndex:
    """Persisted PQ index — the compression rung of the vector-serving
    family, behind the SAME conventions as IvfIndex/Bm25Index:

    - `<name>_codes`     : (<id_col>, pq_codes array<smallint>,
      pq_norm double) — the corpus at ~dim*4/m x compression.
    - `<name>_codebooks` : (sub_space, code, centroid) — bounded
      (m x n_codes rows); readers reconstruct the frozen PqModel from
      it, so serving never retrains.
    - `<name>_meta`      : frozen (id_col, vec_col, m, n_codes, dim,
      versioned) — a mismatched reader fails loudly (the meta-guard
      convention).
    - versioned=True: codes/codebooks live per-version behind a
      one-row `<name>_version` pointer; build() on a built index is
      an atomic full rebuild committed by one pointer flip
      (IvfIndex(versioned=True) verbatim) and prune_versions(keep=)
      garbage-collects drained versions.

    absorb() encodes against the FROZEN codebooks and appends —
    deterministic given the codebooks, same replay caveat as the
    unpartitioned IvfIndex.absorb.

    IVF-PQ (round 12, implemented): build(n_cells=...) trains the
    IvfIndex coarse quantizer first, hive-PARTITIONS the codes table
    by the cell id, and persists the exact float centroids in
    `<name>_cells`; topk(nprobe=) then reads only the probed cells'
    directories — cells bound WHAT is scanned (nprobe/n_cells of the
    corpus, file-level pruning), codes bound HOW WIDE each row is
    (dim*4/m x).

    Residual IVF-PQ (round 13): build(n_cells=..., residual=True)
    trains codebooks on and quantizes v - centroid(cell) — the
    published composition (Jégou et al. 2011 §IV-A) — and serving
    adds the exact <q, centroid> term back per probe row. The
    residual flag is part of the layout: it rides the meta AND, in
    versioned mode, the pointer row itself, so a reader can never
    apply raw-ADC arithmetic to residual codes (or vice versa)
    across a rebuild flip."""

    def __init__(
        self,
        wh,
        name: str = "pq",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        cell_col: str = "pq_cell",
        versioned: bool = False,
        partitioned: bool = False,
    ):
        self.wh = wh
        self.name = name
        self.id_col = id_col
        self.vec_col = vec_col
        self.cell_col = cell_col
        self.versioned = versioned
        #: partitioned=True sub-partitions the codes table by a
        #: `__batch` epoch stamp (plus the cell id in IVF-PQ mode);
        #: absorb(batch=) is then a dynamic partition overwrite of
        #: that epoch's partitions — encode is deterministic given
        #: the frozen codebooks, so a replayed streaming epoch
        #: rewrites exactly the same rows (the IvfIndex/Bm25Index
        #: exactly-once convention; pq_absorb_sink requires it)
        self.partitioned = partitioned
        self.store = VersionedStore(
            wh, "PqIndex", name, ("codes", "codebooks", "cells"),
            versioned, self._POINTER_SCHEMA,
        )

    @property
    def version_table(self) -> str:
        return self.store.version_table

    @property
    def meta_table(self) -> str:
        return self.store.meta_table

    #: layout-affecting fields committed ATOMICALLY with the version
    #: pointer: a reader pairing one version's tables with another
    #: version's layout metadata (e.g. n_cells from a mid-rebuild meta
    #: overwrite) would be silently wrong
    _LAYOUT_FIELDS = (
        "n_cells", "cell_col", "m", "n_codes", "dim", "residual",
        "partitioned", "default_nprobe", "compacted_through", "opq",
    )

    @property
    def codes_table(self) -> str:
        return self.store.tables()[0]

    @property
    def codebooks_table(self) -> str:
        return self.store.tables()[1]

    @property
    def cells_table(self) -> str:
        return self.store.tables()[2]

    def _params(
        self,
        m: int,
        n_codes: int,
        dim: int,
        n_cells: int | None,
        residual: bool = False,
        train_spec: str | None = None,
        default_nprobe: int | None = None,
        compacted_through: int | None = None,
        opq: bool = False,
    ) -> tuple:
        return (
            self.id_col, self.vec_col, int(m), int(n_codes), int(dim),
            self.versioned,
            None if n_cells is None else int(n_cells),
            self.cell_col,
            bool(residual),
            train_spec,
            self.partitioned,
            None if default_nprobe is None else int(default_nprobe),
            None if compacted_through is None else int(compacted_through),
            bool(opq),
        )

    def _validate(self) -> dict:
        stored = self.store.read_meta()
        if stored is None:
            raise ValueError(
                f"PqIndex '{self.name}': no meta marker — run build()"
            )
        mine = {
            "id_col": self.id_col,
            "vec_col": self.vec_col,
            "versioned": self.versioned,
            "partitioned": self.partitioned,
        }
        # cell_col matters only on a celled (IVF-PQ) store
        if stored.get("n_cells") is not None:
            mine["cell_col"] = self.cell_col
        self.store.check_identity(stored, mine, "rebuild or match the layout")
        return stored

    def _resolve(self) -> tuple[dict, tuple[str, str, str], str]:
        """Identity-validate against the shared meta, then resolve the
        SERVING layout + table names (codes/codebooks/cells +
        tombstones). In versioned mode the pointer is read exactly
        ONCE and its layout fields override the shared meta — so the
        tables AND the layout that interprets them (n_cells,
        residual, ...) are mutually consistent even across a
        concurrent rebuild flip."""
        stored = self._validate()
        if not self.versioned:
            return stored, self.store.tables(), self.store.tombstones()
        v, layout = self.store.version_row()
        stored = {**stored, **layout}
        if (
            stored.get("n_cells") is not None
            and stored.get("cell_col") != self.cell_col
        ):
            raise ValueError(
                f"PqIndex '{self.name}' version {v} was built "
                f"with cell_col={stored.get('cell_col')!r}, this "
                f"instance uses {self.cell_col!r}"
            )
        return stored, self.store.tables(v), self.store.tombstones(v)

    def _model(self, books_table: str | None = None) -> PqModel:
        if books_table is None:
            books_table = self.store.tables()[1]
        # bounded m x n_codes rows: driver-side read, no Spark job
        return PqModel.from_rows(self.wh.read_rows(books_table))

    @staticmethod
    def _rotation_table_for(books_table: str) -> str:
        """The OPQ rotation table is named alongside its version's
        codebooks (derived from books_t, which came from the one
        pointer read — rotation and codebooks can never split across
        a concurrent rebuild flip)."""
        return books_table.replace("_codebooks", "_rotation")

    def _rotation(self, books_table: str | None = None) -> tuple:
        """Load the frozen d x d OPQ rotation (bounded: d rows)."""
        if books_table is None:
            books_table = self.store.tables()[1]
        rows = self.wh.read_rows(self._rotation_table_for(books_table))
        return tuple(
            tuple(float(x) for x in r["r"])
            for r in sorted(rows, key=lambda x: x["i"])
        )

    #: shared-meta schema (train_spec documents the sampled-training
    #: provenance — "fraction=0.25 seed=pq" — or NULL for full-corpus)
    _META_SCHEMA = (
        "id_col string, vec_col string, m int, n_codes int, "
        "dim int, versioned boolean, n_cells int, cell_col string, "
        "residual boolean, train_spec string, partitioned boolean, "
        "default_nprobe int, compacted_through long, opq boolean"
    )

    #: one-row version-pointer schema (VersionedStore.write_pointer)
    _POINTER_SCHEMA = (
        "version int, n_cells int, cell_col string, "
        "m int, n_codes int, dim int, residual boolean, "
        "partitioned boolean, default_nprobe int, "
        "compacted_through long, opq boolean"
    )

    def _write_meta(self, meta: dict) -> None:
        """Overwrite the shared meta row from a dict keyed by the
        `_META_SCHEMA` columns."""
        cols = [c.split()[0] for c in self._META_SCHEMA.split(",")]
        self.wh.overwrite_rows(
            self.meta_table, [tuple(meta.get(c) for c in cols)],
            self._META_SCHEMA,
        )

    def build(
        self,
        corpus: DataFrame,
        m: int = 8,
        n_codes: int = 256,
        seed: int = 42,
        max_iter: int = 20,
        n_cells: int | None = None,
        residual: bool = False,
        train_fraction: float | None = None,
        train_rows: int | None = None,
        nprobe_recall_target: float | None = None,
        books: "PqModel | None" = None,
        opq_iters: int | None = None,
        rotation: tuple | None = None,
    ) -> PqModel:
        """Train codebooks and persist the codes table. `n_cells`
        turns the store into IVF-PQ: the corpus is cell-assigned by
        the IvfIndex coarse quantizer first, the codes table is
        hive-partitioned by the cell id (file-level probe pruning)
        and exact float centroids land in `<name>_cells`.

        `nprobe_recall_target` (round 13 — the IvfIndex auto-nprobe
        convention): when set (needs n_cells), runs calibrate_nprobe
        against the freshly written tables while the float corpus is
        still in hand, and the measured default commits WITH the
        version (inside the pointer row in versioned mode — a
        committed version always carries the default measured on its
        own geometry, and a flip to new geometry nulls the old one).

        `residual` (needs n_cells) — the published IVF-PQ refinement:
        codebooks train on and codes quantize v - centroid(cell);
        serving adds the exact <q, centroid> back (see pq_topk). The
        layout rides the meta AND (versioned) the pointer row, so a
        raw-codes reader can never misinterpret residual codes.

        `train_fraction` / `train_rows` — sample-based codebook
        training (train_pq): the m KMeans fits scan a bounded
        deterministic sample keyed on this index's id_col instead of
        the full corpus; the encode pass still covers every row.

        `books` (round 14) — bring-your-own-codebook: skip training
        entirely and persist the caller's frozen PqModel (the
        standard offline-train / online-serve split — codebooks
        trained on a reference sample, or vendored as literals, while
        the index only encodes and serves). m/n_codes are taken from
        the model (the arguments are ignored);
        train_fraction/train_rows are rejected (nothing trains). The
        corpus dim is validated against model.dim up front — zip_with
        truncates to the shorter array, so a mismatch would silently
        encode prefixes instead of erroring.

        `opq_iters` (round 14) — optimized PQ (train_opq; Ge et al.
        CVPR 2013): learn an orthogonal rotation before the sub-space
        split, persist it in `<name>_rotation` with the `opq` layout
        flag riding the meta AND (versioned) the pointer row — the
        `residual` convention, so a raw-codes reader can never
        misinterpret rotated codes. Serving rotates only the bounded
        query frame (norms and inner products are rotation-invariant,
        so every other number is unchanged). Composes with EVERY
        layout: celled stores assign cells on the unrotated vectors
        (probing is rotation-free), and residual stores train and
        encode R(v - centroid) — the global-rotation OPQ-IVF form
        (Ge §5): ADC approximates <Rq, R(v-c)> = <q, v-c> exactly as
        the unrotated decomposition, and the <q, centroid> correction
        stays in the original space. Only books= is mutually
        exclusive (a frozen model brings its own space).

        `rotation` (round 14) — the frozen twin of opq_iters for the
        books= path: an offline-learned (or vendored) orthogonal
        d x d matrix persisted verbatim with the frozen codebooks,
        for deployments that train OPQ elsewhere and ship both
        artifacts. Valid only with books= (a trained build learns its
        own rotation); validated orthogonal up front — a
        non-orthogonal matrix silently breaks the norm-invariance
        serving relies on.

        Versioned: the per-version tables are written first, the
        POINTER FLIP — which carries the layout fields — is the
        commit point, and the shared meta is refreshed after it."""
        from ..sources.warehouse import atomic_overwrite

        if residual and n_cells is None:
            raise ValueError(
                "PqIndex.build: residual=True needs n_cells (residuals "
                "are taken against the IVF cell centroids)"
            )
        if nprobe_recall_target is not None and n_cells is None:
            raise ValueError(
                "PqIndex.build: nprobe_recall_target needs n_cells "
                "(a flat store has no probe width to calibrate)"
            )
        if opq_iters is not None and books is not None:
            raise ValueError(
                "PqIndex.build: opq_iters trains a rotation — books= "
                "brings its own (already-rotated-or-not) space; pick "
                "one"
            )
        cents = None
        if n_cells is not None:
            from .similarity import ivf_build, ivf_centroids

            corpus = ivf_build(
                corpus, n_cells, self.vec_col, self.cell_col,
                seed, max_iter,
            )
            # ONE evaluation of the centroid aggregate (bounded:
            # n_cells rows). In residual mode the centroid frame feeds
            # the ragged guard, every KMeans fit, the encode pass AND
            # the cells overwrite — without the checkpoint each
            # consumer re-runs the corpus-wide posexplode/avg, and
            # avg's partial-merge order is nondeterministic across
            # evaluations, so the centroid ENCODED against could
            # differ in the last ulp from the one PERSISTED in
            # <name>_cells (round-13 self-review; the exact-<q,c>
            # reconstruction assumes they are the same doubles)
            cents = ivf_centroids(
                corpus, self.cell_col, self.vec_col
            ).localCheckpoint(eager=True)
        train_col = self.vec_col
        center_col = None
        if residual:
            center_col = "__pq_center"
            corpus = corpus.join(
                F.broadcast(
                    cents.select(
                        self.cell_col,
                        F.col("centroid").alias(center_col),
                    )
                ),
                self.cell_col,
            ).withColumn(
                "__pq_res",
                F.zip_with(
                    self.vec_col,
                    center_col,
                    lambda a, b: a.cast("double") - b,
                ),
            )
            train_col = "__pq_res"
        train_spec = None
        if rotation is not None and books is None:
            raise ValueError(
                "PqIndex.build: a frozen rotation needs frozen books "
                "(books=) — a trained build learns its own rotation "
                "via opq_iters"
            )
        if books is not None:
            if train_fraction is not None or train_rows is not None:
                raise ValueError(
                    "PqIndex.build: books= is the offline-trained "
                    "codebook path — train_fraction/train_rows do "
                    "not apply (nothing trains here)"
                )
            if rotation is not None:
                import numpy as _np

                R = _np.asarray(rotation, dtype=_np.float64)
                if R.shape != (books.dim, books.dim) or not _np.allclose(
                    R @ R.T, _np.eye(books.dim), atol=1e-9
                ):
                    raise ValueError(
                        "PqIndex.build: rotation must be an "
                        f"orthogonal {books.dim}x{books.dim} matrix — "
                        "a non-orthogonal one silently breaks the "
                        "norm invariance serving relies on"
                    )
            lo, hi = corpus.select(
                F.min(F.size(train_col)), F.max(F.size(train_col))
            ).first()
            if lo is not None and (lo != hi or lo != books.dim):
                raise ValueError(
                    f"PqIndex.build: corpus '{train_col}' dim "
                    f"{lo}..{hi} does not match the frozen model's "
                    f"dim {books.dim} — zip_with would silently "
                    "encode prefixes"
                )
            model = books
            train_spec = "frozen"
        elif opq_iters is not None:
            train_spec = f"opq_iters={opq_iters}"
            if train_fraction is not None or train_rows is not None:
                train_spec += (
                    f" fraction={train_fraction} rows={train_rows} "
                    f"id_col={self.id_col}"
                )
            model, rotation = train_opq(
                corpus, m=m, n_codes=n_codes, vec_col=train_col,
                seed=seed, max_iter=max_iter, opq_iters=opq_iters,
                train_fraction=train_fraction, train_rows=train_rows,
                sample_id_col=self.id_col,
            )
        else:
            if train_fraction is not None or train_rows is not None:
                train_spec = (
                    f"fraction={train_fraction} rows={train_rows} "
                    f"id_col={self.id_col}"
                )
            model = train_pq(
                corpus, m=m, n_codes=n_codes, vec_col=train_col,
                seed=seed, max_iter=max_iter,
                train_fraction=train_fraction, train_rows=train_rows,
                sample_id_col=self.id_col,
            )
        flip = self.store.begin(
            f"PqIndex('{self.name}').build", self.store.version_or_none()
        )
        codes_t, books_t, cells_t = self.store.tables(flip.version)
        encode_src = (
            corpus.drop(train_col) if residual else corpus
        )
        encoded = pq_encode(
            encode_src, model, self.vec_col, center_col=center_col,
            rotation=rotation,
        )
        parts = [] if n_cells is None else [self.cell_col]
        if self.partitioned:
            encoded = encoded.withColumn("__batch", F.lit("__build__"))
            parts.append("__batch")
        # the pointer layout; calibration fills in default_nprobe
        out = {
            "n_cells": n_cells,
            "cell_col": self.cell_col,
            "m": model.m,
            "n_codes": model.n_codes,
            "dim": model.dim,
            "residual": bool(residual),
            "partitioned": bool(self.partitioned),
            "default_nprobe": None,
            "compacted_through": None,
            "opq": rotation is not None,
        }

        def _write():
            atomic_overwrite(
                encoded,
                self.wh.path(codes_t),
                partition_by=parts or None,
            )
            # bounded literal table (m x n_codes rows): driver-side write
            self.wh.overwrite_rows(
                books_t,
                model.rows(),
                "sub_space int, code int, centroid array<double>",
            )
            if rotation is not None:
                self.wh.overwrite_rows(
                    self._rotation_table_for(books_t),
                    [
                        (i, [float(x) for x in row])
                        for i, row in enumerate(rotation)
                    ],
                    "i int, r array<double>",
                )
            elif not self.versioned:
                # a non-OPQ rebuild of a store that previously carried
                # a rotation must not leave the stale table behind
                self.wh.remove_table(self._rotation_table_for(books_t))
            if n_cells is not None:
                self.wh.overwrite(cells_t, cents)
            if nprobe_recall_target is not None:
                # measured on the freshly written tables, BEFORE the
                # flip — the committed version carries the default
                # measured on its own geometry
                out["default_nprobe"] = self.calibrate_nprobe(
                    corpus.drop(
                        *(
                            c
                            for c in ("__pq_res", "__pq_center")
                            if c in corpus.columns
                        )
                    ),
                    recall_target=nprobe_recall_target,
                    seed=seed,
                    _tables=(codes_t, books_t, cells_t),
                    _layout=out,
                )["default_nprobe"]

        # the replay watermark RESETS: a rebuild indexes a fresh corpus
        # under a fresh __build__ stamp (operators/epochs.py)
        self.store.commit(
            flip,
            _write,
            meta=lambda: self.wh.overwrite_rows(
                self.meta_table,
                [
                    self._params(
                        model.m, model.n_codes, model.dim, n_cells,
                        residual=residual, train_spec=train_spec,
                        default_nprobe=out["default_nprobe"],
                        opq=rotation is not None,
                    )
                ],
                self._META_SCHEMA,
            ),
            layout=out,
        )
        return model

    def absorb(self, new_vectors: DataFrame, batch=None) -> None:
        """Encode against the frozen codebooks and add to the codes
        layout — O(batch). In IVF-PQ mode the batch is cell-assigned
        against the FROZEN centroids first (the IvfIndex.absorb
        contract: assignment deterministic, centroids never move on
        absorb; residual stores subtract the assigned centroid before
        encoding).

        Unpartitioned index: a plain append (pass no `batch`) — a
        replayed batch duplicates rows. Partitioned index: `batch` is
        required and the write is a dynamic partition overwrite of
        that epoch's partitions — encode is deterministic given the
        frozen codebooks, so a replayed streaming epoch rewrites
        exactly the same rows (pq_absorb_sink rides this).

        Compacted stores (round 13, operators/epochs.py): an epoch
        <= the `compacted_through` watermark — which rides the same
        resolved row as the tables it guards — is a REPLAY of rows
        already merged into the `__compacted__` partitions; absorb
        no-ops instead of duplicating them. A batch id colliding with
        a maintenance stamp is always refused (it would
        dynamic-overwrite the build or compacted partition itself)."""
        stored, (codes_t, books_t, cells_t), tomb_t = self._resolve()
        # write mode follows the RESOLVED layout (atomic with the
        # version in versioned mode — a rebuild that changed
        # `partitioned` must not get epoch directories appended into a
        # flat layout, or vice versa)
        partitioned = stored["partitioned"]
        if batch is not None:
            guard_sentinel_batch(batch)
            if partitioned and replay_skippable(
                batch, stored.get("compacted_through")
            ):
                return
        from .tombstones import anti_join_tombstones

        # a deleted id stays deleted until a purging compaction: the
        # ban is a size-gated anti-join against the tombstone id set
        # — deterministic, so replays converge
        new_vectors = anti_join_tombstones(
            new_vectors, self.wh, tomb_t, self.id_col
        )
        frame = new_vectors
        center_col = None
        if stored.get("n_cells") is not None:
            from .similarity import cosine

            cents = self.wh.read(cells_t)
            # assignment is per ROW, not per id: partitioning the
            # argmax window by id_col would silently drop all but one
            # row of a batch that repeats an id (round-13 self-review;
            # the flat path appends every row — the family contract is
            # that duplicate handling belongs to the caller)
            w = Window.partitionBy("__row").orderBy(
                F.desc("__sim"), F.asc(self.cell_col)
            )
            frame = (
                frame.withColumn(
                    "__row", F.monotonically_increasing_id()
                )
                .crossJoin(F.broadcast(cents))
                .withColumn(
                    "__sim",
                    cosine(F.col(self.vec_col), F.col("centroid")),
                )
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__sim", "__rn", "__row")
            )
            if stored.get("residual"):
                # residual layout: encode v - centroid(cell) against
                # the frozen residual codebooks (same contract as
                # build — the centroid column feeds pq_encode)
                center_col = "centroid"
            else:
                frame = frame.drop("centroid")
        encoded = pq_encode(
            frame, self._model(books_t), self.vec_col,
            center_col=center_col,
            rotation=(
                self._rotation(books_t) if stored.get("opq") else None
            ),
        )
        parts = (
            [] if stored.get("n_cells") is None else [self.cell_col]
        )
        if partitioned:
            if batch is None:
                raise ValueError(
                    "a partitioned index requires a batch id for absorb()"
                )
            self.wh.append_partitioned(
                codes_t,
                encoded.withColumn("__batch", F.lit(str(batch))),
                parts + ["__batch"],
            )
            return
        if batch is not None:
            raise ValueError(
                "batch stamps need a partitioned index "
                "(PqIndex(partitioned=True))"
            )
        if parts:
            # the append must keep the hive cell layout — a root-level
            # file in a partitioned table corrupts partition discovery
            encoded.write.mode("append").partitionBy(*parts).parquet(
                self.wh.path(codes_t)
            )
        else:
            self.wh.append(codes_t, encoded)

    def delete(self, ids: DataFrame) -> dict:
        """Tombstone vectors (round 13 — deletion propagation, the
        IvfIndex.delete contract on the compression rung): `ids`
        holds `self.id_col`; tombstoned ids are broadcast-anti-joined
        out of every topk() scan and refused by absorb(). ADC scores
        of surviving rows are untouched (no corpus-size statistics
        here). Idempotent; ids not in the store tombstone nothing.
        Physical purge at a FULL versioned compact() (atomic in the
        pointer flip); build() starts a fresh lineage without
        tombstones.

        Returns {"deleted_ids": n} — ids actually tombstoned by THIS
        call."""
        _, (codes_t, _, _), tomb_t = self._resolve()
        got = self.store.delete(
            self.wh.read(codes_t).select(self.id_col), ids, self.id_col,
            tomb_t,
        )
        return {"deleted_ids": got["n"]}

    def compact(
        self,
        files_per_partition: int = 1,
        through: int | None = None,
        live: bool = False,
    ) -> dict:
        """Epoch-partition maintenance (operators/epochs.py has the
        full semantics): collapse the codes table's `__batch`
        partitions into one `__compacted__` stamp, preserving the
        cell level in IVF-PQ mode — probe pruning is unchanged, and
        the codes are rewritten byte-identical (a pure LAYOUT rewrite:
        nothing is re-encoded, codebooks and centroids are carried
        unchanged). Records the `compacted_through` replay watermark
        that absorb() skips against.

        `through` bounds WHICH epochs merge (ids <= through;
        maintenance stamps always merge); `live=True` derives
        `through = newest epoch - 1` for a LIVE stream; the default
        merges everything and is for a quiesced stream. A FULL merge
        on a versioned store also purges tombstoned codes.

        Returns {"stamps_merged", "compacted_through", "purged",
        "files_before", "files_after"}."""
        from ..sources.warehouse import atomic_overwrite
        from .epochs import (
            collapse_epochs,
            hive_partition_values,
            parquet_file_count,
            plan_merge,
        )

        meta = self._validate()
        # ONE pointer (or meta) read drives the whole compaction: the
        # tables rewritten, the layout republished, and the previous
        # watermark all come from this row
        v, layout = self.store.resolve()
        stored = {**meta, **layout}
        if not stored["partitioned"]:
            raise ValueError(
                f"PqIndex '{self.name}': compact() is epoch-partition "
                "maintenance — only a partitioned=True store "
                "accumulates __batch partitions"
            )
        flip = self.store.begin(f"PqIndex('{self.name}').compact", v)
        cur_codes, cur_books, cur_cells = self.store.tables(v)
        new_codes, new_books, new_cells = self.store.tables(flip.version)
        cur_tomb = self.store.tombstones(v)
        # partition-type inference reads an all-numeric-epoch store's
        # __batch as int; cast up front so the restamp union can't mix
        # types (and collected stamps compare as strings)
        codes = self.wh.read(cur_codes).withColumn(
            "__batch", F.col("__batch").cast("string")
        )
        stamps = hive_partition_values(self.wh.path(cur_codes), "__batch")
        merged, wm = plan_merge(
            stamps, through, live, stored.get("compacted_through")
        )
        purge = (
            self.versioned
            and set(merged) == stamps
            and self.wh.exists(cur_tomb)
        )
        files_before = parquet_file_count(self.wh.path(cur_codes))
        parts = (
            [] if stored.get("n_cells") is None else [self.cell_col]
        ) + ["__batch"]
        collapsed = collapse_epochs(
            codes.filter(F.col("__batch").isin(merged)),
            "__batch",
            parts,
            self.id_col,
            files_per_partition,
        ).unionByName(codes.filter(~F.col("__batch").isin(merged)))
        if purge:
            # size-gated, like serving: a mass takedown followed by a
            # full compaction degrades to a shuffle anti-join
            from .tombstones import anti_join_tombstones

            collapsed = anti_join_tombstones(
                collapsed, self.wh, cur_tomb, self.id_col
            )

        def _write():
            atomic_overwrite(
                collapsed, self.wh.path(new_codes), partition_by=parts
            )
            if not self.versioned:
                return
            # version-carries: byte-identical file copies, no Spark jobs
            # (an OPQ rotation rides the version like its codebooks)
            for cur_t, new_t in (
                (cur_books, new_books),
                (
                    self._rotation_table_for(cur_books),
                    self._rotation_table_for(new_books),
                ),
                (cur_cells, new_cells),
            ):
                if self.wh.exists(cur_t):
                    self.wh.copy_table(cur_t, new_t)

        # versioned: the shared meta is untouched (no identity field
        # changed, and the watermark's source of truth is the pointer)
        self.store.commit(
            flip,
            _write,
            meta=(
                None
                if self.versioned
                else lambda: self._write_meta(
                    {**meta, "compacted_through": wm}
                )
            ),
            layout={
                **{k: stored.get(k) for k in self._LAYOUT_FIELDS},
                "compacted_through": wm,
            },
            carry_tombstones=not purge,
            meta_first=True,
        )
        return {
            "stamps_merged": len(merged),
            "compacted_through": wm,
            "purged": purge,
            "files_before": files_before,
            "files_after": parquet_file_count(self.wh.path(new_codes)),
        }

    def calibrate_nprobe(
        self,
        corpus: DataFrame,
        recall_target: float = 0.95,
        n_probes: int = 32,
        k: int = 10,
        seed: int = 42,
        rerank: bool = True,
        shortlist: int | None = None,
        _tables: tuple[str, str, str] | None = None,
        _layout: dict | None = None,
    ) -> dict:
        """Measured auto-nprobe for the IVF-PQ store (round 13 — the
        IvfIndex.calibrate_nprobe convention applied to the
        compression rung): derive the serving probe width from a
        held-out probe set's measured recall against exact brute
        force, instead of the hand-set 2.

        The PQ store holds codes + norms, never float vectors, so the
        calibration takes the FLOAT `corpus` (<id_col>, <vec_col>) —
        available at build time (build(nprobe_recall_target=) calls
        this on the freshly written tables, pre-flip in versioned
        mode) or from the rerank store an operator serves hybrid
        queries against. Probes are n_probes corpus vectors drawn
        deterministically (xxhash64 order, seeded); ground truth is
        exact cosine top-k over the corpus (one scan, bounded
        collects); nprobe doubles from 1 until measured recall@k
        reaches `recall_target` or every cell is probed.

        `rerank=True` (default) measures the PRODUCTION serving shape
        — ADC shortlist then exact rerank against `corpus` — where
        probe pruning is the dominant loss; rerank=False measures raw
        ADC recall, which is bounded above by quantization error and
        may honestly never reach the target (met_target=False, the
        full trace returned either way).

        Persistence: called directly (post-build), the measured
        default lands in the meta AND, in versioned mode, in the
        pointer row, atomic with the version it was measured on.
        Called from build() the default commits with the version
        instead."""
        from .similarity import cosine

        persist = _tables is None
        if persist:
            stored, (codes_t, books_t, cells_t), _ = self._resolve()
            residual = bool(stored.get("residual"))
            opq = bool(stored.get("opq"))
            if stored.get("n_cells") is None:
                raise ValueError(
                    f"PqIndex '{self.name}': calibrate_nprobe needs an "
                    "IVF-PQ store (n_cells) — a flat store has no "
                    "probe width to calibrate"
                )
        else:
            codes_t, books_t, cells_t = _tables
            residual = bool((_layout or {}).get("residual"))
            opq = bool((_layout or {}).get("opq"))
        rotation = self._rotation(books_t) if opq else None
        model = self._model(books_t)
        cents = self.wh.read(cells_t)
        # bounded centroids table: count from parquet footers (r16)
        n_cells = self.wh.count_rows(cells_t)
        probes = (
            corpus.select(
                F.col(self.id_col).alias("query_id"),
                F.col(self.vec_col).alias("query_vec"),
            )
            .orderBy(F.xxhash64(F.col("query_id"), F.lit(int(seed))))
            .limit(int(n_probes))
            .localCheckpoint()
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("__sim"), F.asc(self.id_col)
        )
        truth_df = (
            corpus.crossJoin(F.broadcast(probes))
            .select(
                "query_id",
                self.id_col,
                F.round(
                    cosine(F.col(self.vec_col), F.col("query_vec")), 6
                ).alias("__sim"),
            )
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
        )
        # bounded: n_probes * k rows
        truth = {
            (r["query_id"], r[self.id_col]) for r in truth_df.collect()
        }
        codes = self.wh.read(codes_t)
        trace: dict[int, float] = {}
        nprobe = 1
        while True:
            approx = pq_topk(
                codes,
                probes,
                model,
                k=k,
                id_col=self.id_col,
                sim_round=6,
                rerank=corpus if rerank else None,
                rerank_vec_col=self.vec_col,
                shortlist=shortlist,
                centroids=cents,
                cell_col=self.cell_col,
                nprobe=nprobe,
                residual=residual,
                rotation=rotation,
            )
            got = {
                (r["query_id"], r[self.id_col]) for r in approx.collect()
            }
            recall = len(got & truth) / len(truth) if truth else 1.0
            trace[nprobe] = recall
            if recall >= recall_target or nprobe >= n_cells:
                break
            nprobe = min(nprobe * 2, int(n_cells))
        if persist:
            self._write_meta(
                {**self.store.read_meta(), "default_nprobe": int(nprobe)}
            )
            if self.versioned:
                # a calibration is NOT a compaction or rebuild: the
                # layout (watermark included) carries through
                # unchanged, only default_nprobe updates
                v, layout = self.store.version_row()
                self.store.write_pointer(
                    v, {**layout, "default_nprobe": int(nprobe)}
                )
        return {
            "default_nprobe": int(nprobe),
            "recall": trace[nprobe],
            "met_target": trace[nprobe] >= recall_target,
            "trace": trace,
            "n_probes": int(n_probes),
            "k": int(k),
            "rerank": bool(rerank),
        }

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        sim_round: int | None = 6,
        rerank: DataFrame | None = None,
        shortlist: int | None = None,
        keep_adc: bool = False,
    ) -> DataFrame:
        """Serve ADC top-k; in IVF-PQ mode only the `nprobe` probed
        cells' partitions are read (file-level pruning — the probe
        frame broadcasts). nprobe=None (default) serves at the
        MEASURED `default_nprobe` calibrate_nprobe stored (atomic
        with the version in versioned mode), falling back to 2 when
        no calibration ran — the IvfIndex.topk convention.
        `rerank`/`shortlist`/`keep_adc` — see pq_topk."""
        # ONE pointer read resolves tables + layout together — a
        # concurrent rebuild flip can no longer pair one version's
        # codes with another's codebooks or layout (ADVICE r12)
        stored, (codes_t, books_t, cells_t), tomb_t = self._resolve()
        if nprobe is None:
            nprobe = stored.get("default_nprobe") or 2
        model = self._model(books_t)
        cents = (
            self.wh.read(cells_t)
            if stored.get("n_cells") is not None
            else None
        )
        from .tombstones import anti_join_tombstones

        # deletion tombstones (round 13): the size-gated anti-join
        # drops deleted vectors from the probed codes; purge happens
        # at full versioned compaction
        codes = anti_join_tombstones(
            self.wh.read(codes_t), self.wh, tomb_t, self.id_col
        )
        return pq_topk(
            codes,
            queries,
            model,
            k=k,
            id_col=self.id_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            sim_round=sim_round,
            rerank=rerank,
            rerank_vec_col=self.vec_col,
            shortlist=shortlist,
            centroids=cents,
            cell_col=self.cell_col,
            nprobe=nprobe,
            residual=bool(stored.get("residual")),
            keep_adc=keep_adc,
            # OPQ: rotation resolved from the SAME pointer read as
            # the codebooks (name derives from books_t)
            rotation=(
                self._rotation(books_t)
                if stored.get("opq")
                else None
            ),
        )

    def cell_skew(self) -> dict:
        """Measured cell-balance probe for the IVF-PQ store — the
        IvfIndex.cell_skew convention on the codes table: one
        column-pruned aggregate over cell ids (map-side partial
        aggregation to <= n_cells rows). Absorb freezes BOTH the
        centroids and the codebooks, so a drifting stream degrades
        balance (a fat cell slows every probe that touches it) AND
        quantization fit (residuals/vectors leave the region the
        codebooks were trained on) — this probe measures the first,
        which is the observable proxy for the second. One _resolve()
        call: the codes table and n_cells come from the same pointer
        read, so a concurrent rebuild flip cannot produce a phantom
        verdict. Raises on flat stores (no cells to balance)."""
        stored, (codes_t, _, _), _ = self._resolve()
        if stored.get("n_cells") is None:
            raise ValueError(
                f"PqIndex '{self.name}': cell_skew needs an IVF-PQ "
                "store (n_cells) — a flat store has no cells"
            )
        return self.store.cell_skew(
            codes_t, self.cell_col, int(stored["n_cells"])
        )

    def needs_retrain(self, max_skew: float = 4.0) -> bool:
        """True when the measured cell skew exceeds `max_skew` — the
        IvfIndex convention (4.0 tolerates healthy non-uniformity
        while catching absorb-under-drift). The remedy is a rebuild
        (versioned stores flip atomically); rebuilds retrain the
        coarse quantizer AND the codebooks AND (opq_iters) the
        ROTATION — the rotation is distribution state like the
        codebooks, so a drifted stream invalidates it too. Measured
        (r15, tests/test_pq.py::
        test_opq_rotation_refresh_on_drifted_stream): on a planted
        drift the stale store serves 0.14 recall, a codebook-only
        refresh 0.34, the rotation+codebook refresh 0.44 — re-learning
        the rotation is load-bearing beyond the codebooks, and it
        commits in the SAME pointer flip, so lagging readers always
        pair a rotation with the codes it encoded."""
        return self.cell_skew()["skew"] > max_skew

    def prune_versions(self, keep: int = 1) -> list[str]:
        """Delete the tables (OPQ rotation included) of every version
        but the newest `keep` (see VersionedStore.prune_versions)."""
        return self.store.prune_versions(keep, extra=("rotation",))
