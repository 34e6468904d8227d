"""Decompositions & iterative solvers (SURVEY.md §2.8) — the
"driver-loop" pattern: distributed passes produce small (k×k or
k-vector) aggregates; the driver does the tiny dense algebra (numpy);
big-matrix products stay distributed.

This mirrors the reference's division of labor exactly: RAFT's eig/svd
wrap cuSOLVER on device-resident small matrices while the data-sized
products run as kernels (``linalg/eig.cuh:32``, ``svd.cuh:36``); here
the "device" is the cluster and the small matrices live on the driver.

Operators and reference parity:
- lstsq (normal equations): ``linalg/lstsq.cuh:31-219``
- PCA fit/transform (cov → eig, sign-flip): ``linalg/pca.cuh:41-178``,
  ``matrix/sign_flip.cuh:22``
- truncated SVD: ``linalg/tsvd.cuh:34-160``
- randomized SVD (oversampling + power iters): ``linalg/rsvd.cuh:41-236``,
  defaults from ``python/pylibraft/.../svds.pyx:73``
- QR (tall-skinny, Cholesky-QR): ``linalg/qr.cuh:29``
- power iteration / eigsh largest eigenpair: the Lanczos entry point
  ``sparse/solver/lanczos.cuh:35`` (thick-restart replaced by the
  simplest convergent scheme; restarts are a later refinement)
- MST (Borůvka rounds): ``sparse/solver/mst.cuh``, ``mst_solver.cuh:32``
- connected components / merge_labels: ``label/merge_labels.cuh:18``
- LAP (Hungarian, batched): ``solver/linear_assignment.cuh:50``
- cholesky rank-1 update: ``linalg/cholesky_r1_update.cuh:19``

Scale notes: every full-data pass is a DataFrame job (join/agg); the
driver only ever holds O(k²) or O(#components) state. MST collects
min-edges per component per round — bounded by the shrinking component
count; the fully-distributed hash-min variant is the documented scale
path for the first rounds on billion-node graphs.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raft_spark.operators import statestore as SS


# ---------------------------------------------------------------------------
# least squares (linalg/lstsq.cuh) — normal equations
# ---------------------------------------------------------------------------

def lstsq_normal(df: DataFrame, x_cols: list[str], y_col: str) -> np.ndarray:
    """OLS via normal equations: w = (XᵀX)⁻¹Xᵀy with intercept.

    XᵀX is (p+1)² scalars from ONE distributed aggregate pass
    (map-side combinable sums); the solve is driver-side numpy —
    the lstsqEig path of linalg/lstsq.cuh:72.
    """
    cols = ["_one"] + list(x_cols)
    base = df.withColumn("_one", F.lit(1.0))
    aggs = []
    for i, ci in enumerate(cols):
        for cj in cols[i:]:
            aggs.append(F.sum(F.col(ci) * F.col(cj)).alias(f"xx_{ci}_{cj}"))
        aggs.append(F.sum(F.col(ci) * F.col(y_col)).alias(f"xy_{ci}"))
    # probe discipline: a global agg collapses partitions map-side, so
    # AQE's per-stage jobs are pure overhead (see statestore._no_aqe)
    with SS._no_aqe(base.sparkSession):
        row = base.agg(*aggs).collect()[0].asDict()
    p = len(cols)
    xtx = np.zeros((p, p))
    xty = np.zeros(p)
    for i, ci in enumerate(cols):
        for j in range(i, p):
            v = row[f"xx_{ci}_{cols[j]}"]
            xtx[i, j] = xtx[j, i] = v
        xty[i] = row[f"xy_{ci}"]
    return np.linalg.solve(xtx, xty)


# ---------------------------------------------------------------------------
# covariance → PCA / tSVD (linalg/pca.cuh, tsvd.cuh)
# ---------------------------------------------------------------------------

def gram_matrix(df: DataFrame, features: str = "features") -> tuple[np.ndarray, np.ndarray, int]:
    """One distributed pass → (XᵀX [d×d], column sums [d], n).

    Physical plan: per-partition numpy ``XᵀX`` inside mapInPandas
    (Arrow-batched, BLAS-backed) emitting d²+d+1 partial scalars per
    partition; a tiny groupBy-sum merges partials. This replaces the
    naive double-posexplode formulation whose shuffle is d²× the input
    rows — here the shuffle is O(partitions·d²) regardless of n, the
    same work division as the reference's two-phase device reductions
    (stats/cov.cuh:18 runs gemm then subtracts the mean outer product).
    """
    import pandas as pd

    def pp(batches):
        from raft_spark.functions.xp import to_np, xp

        ap = xp()  # cupy iff RAFT_SPARK_GPU=1 (CPU is source of truth)
        acc = None
        s = None
        cnt = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = ap.asarray(np.stack(pdf[features].to_numpy()).astype(float))
            g = m.T @ m
            acc = g if acc is None else acc + g
            s = m.sum(0) if s is None else s + m.sum(0)
            cnt += m.shape[0]
        if acc is None:
            return
        acc, s = to_np(acc), to_np(s)
        d = acc.shape[0]
        i, j = np.triu_indices(d)
        out = pd.DataFrame({"i": i, "j": j, "v": acc[i, j]})
        sums = pd.DataFrame({"i": np.arange(d), "j": np.full(d, -1), "v": s})
        n_row = pd.DataFrame({"i": [-1], "j": [-1], "v": [float(cnt)]})
        yield pd.concat([out, sums, n_row], ignore_index=True)

    with SS._no_aqe(df.sparkSession):  # probe: map-side collapse
        rows = (
            df.select(features)
            .mapInPandas(pp, "i int, j int, v double")
            .groupBy("i", "j")
            .agg(F.sum("v").alias("v"))
            .collect()
        )
    if not rows:
        raise ValueError("gram_matrix: empty input (no feature rows)")
    d = max(r["i"] for r in rows) + 1
    g = np.zeros((d, d))
    sx = np.zeros(d)
    n = 0
    for r in rows:
        if r["i"] == -1:
            n = int(r["v"])
        elif r["j"] == -1:
            sx[r["i"]] = r["v"]
        else:
            g[r["i"], r["j"]] = g[r["j"], r["i"]] = r["v"]
    return g, sx, n


def gram_matrix_exact(
    df: DataFrame, features: str = "features", scale: float = 1e6
) -> tuple[list[list[int]], list[int], int]:
    """One distributed pass → EXACT integer (XᵀX, column sums, n) over
    the half-up-quantized matrix ``q = floor(x·scale + 0.5)``.

    Same physical shape as :func:`gram_matrix` (per-partition matmul
    inside mapInPandas, O(partitions·d²) shuffle scalars), but every
    sum is exact-integer and order-independent, so two engines that
    quantize identically produce bit-identical results regardless of
    partitioning or scan order (stats/cov.cuh:18 semantics,
    cross-engine-exact variant).

    Physical strategy — exact BLAS, no int64 matmul: numpy integer
    matmul is a scalar loop (no BLAS dispatch), ~6× slower than dgemm
    at d=64 and worse at larger d. Instead each ≤4096-row chunk splits
    q = hi·2¹³ + lo (arithmetic shift ⇒ floor semantics, valid for
    negative q; lo ∈ [0, 2¹³)) and runs THREE float64 dgemms —
    hiᵀhi, hiᵀlo, loᵀlo — whose entries stay below 2⁵³ (exactly
    representable) whenever |q| ≤ 2.6e9, i.e. |x| ≤ ~2600 at the
    default scale. qᵀq = 2²⁶·hiᵀhi + 2¹³·(hiᵀlo + (hiᵀlo)ᵀ) + loᵀlo
    is then reassembled in arbitrary-precision Python ints, so the
    per-partition accumulator never overflows no matter how many rows
    a partition holds; the cross-partition merge sums decimal(38,0).
    A chunk whose |q| exceeds the dgemm-exactness bound falls back to
    Python-int dot products for that chunk (exact, slower) rather
    than silently losing bits.
    """
    import decimal

    import pandas as pd

    import math as _math

    CHUNK = 4096
    # hiᵀhi is the BINDING exactness term: its entries reach
    # CHUNK·hi_max², which must stay < 2⁵³ ⇒ hi_max ≤ √(2⁵³/CHUNK)
    # ≈ 1.48e6 (the hiᵀlo bound CHUNK·hi_max·(2¹³−1) < 2⁵³ is ~180×
    # looser and was WRONGLY used as the gate before — chunks with
    # |q| ≈ 2e10 passed it while hiᵀhi silently lost bits)
    HI_MAX = _math.isqrt(2**53 // CHUNK)

    def pp(batches):
        acc = None  # object ndarray of Python ints — exact, unbounded
        s = None
        cnt = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[features].to_numpy()).astype(float)
            q_all = np.floor(m * scale + 0.5).astype(np.int64)
            for c0 in range(0, q_all.shape[0], CHUNK):
                q = q_all[c0 : c0 + CHUNK]
                hi_i = q >> 13
                if np.abs(hi_i).max(initial=0) <= HI_MAX:
                    hi = hi_i.astype(np.float64)
                    lo = (q & 8191).astype(np.float64)
                    hh = (hi.T @ hi).astype(np.int64).astype(object)
                    hl = (hi.T @ lo).astype(np.int64).astype(object)
                    ll = (lo.T @ lo).astype(np.int64).astype(object)
                    g = hh * (1 << 26) + (hl + hl.T) * (1 << 13) + ll
                else:  # exact fallback for extreme magnitudes
                    qo = q.astype(object)
                    g = qo.T @ qo
                acc = g if acc is None else acc + g
                qs = q.sum(0, dtype=object)
                s = qs if s is None else s + qs
                cnt += q.shape[0]
        if acc is None:
            return
        d = acc.shape[0]
        i, j = np.triu_indices(d)
        dec = decimal.Decimal
        out = pd.DataFrame(
            {"i": i, "j": j, "v": [dec(int(v)) for v in acc[i, j]]}
        )
        sums = pd.DataFrame(
            {
                "i": np.arange(d),
                "j": np.full(d, -1),
                "v": [dec(int(v)) for v in s],
            }
        )
        n_row = pd.DataFrame({"i": [-1], "j": [-1], "v": [dec(cnt)]})
        yield pd.concat([out, sums, n_row], ignore_index=True)

    with SS._no_aqe(df.sparkSession):  # probe: map-side collapse
        rows = (
            df.select(features)
            .mapInPandas(pp, "i int, j int, v decimal(38,0)")
            .groupBy("i", "j")
            .agg(F.sum("v").alias("v"))
            .collect()
        )
    if not rows:
        raise ValueError("gram_matrix_exact: empty input (no feature rows)")
    d = max(r["i"] for r in rows) + 1
    g = [[0] * d for _ in range(d)]
    sx = [0] * d
    n = 0
    for r in rows:
        v = int(r["v"])
        if r["i"] == -1:
            n = v
        elif r["j"] == -1:
            sx[r["i"]] = v
        else:
            g[r["i"]][r["j"]] = g[r["j"]][r["i"]] = v
    return g, sx, n


def covariance_matrix(df: DataFrame, features: str = "features") -> np.ndarray:
    """Driver-side d×d covariance from one distributed Gram pass
    (stats/cov.cuh:18): (XᵀX − n·μμᵀ)/(n−1)."""
    g, sx, n = gram_matrix(df, features)
    mu = sx / n
    return (g - n * np.outer(mu, mu)) / (n - 1)


def sign_flip(components: np.ndarray) -> np.ndarray:
    """Stabilize eigenvector signs: each component's max-|.| coordinate
    made positive (matrix/sign_flip.cuh:22)."""
    flip = np.sign(components[np.arange(components.shape[0]),
                              np.abs(components).argmax(axis=1)])
    flip[flip == 0] = 1.0
    return components * flip[:, None]


def pca_fit(df: DataFrame, n_components: int, features: str = "features"):
    """PCA via covariance eigendecomposition (linalg/pca.cuh:41,
    solver COV_EIG_DQ → numpy eigh). Returns (components [k×d],
    explained_var [k], explained_var_ratio [k], mean [d])."""
    g, sx, n = gram_matrix(df, features)
    mu = sx / n
    cov = (g - n * np.outer(mu, mu)) / (n - 1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:n_components]
    comps = sign_flip(v[:, order].T)
    ev = w[order]
    return comps, ev, ev / w.sum(), mu


def _project(df: DataFrame, mat: np.ndarray, offset=None,
             features: str = "features", prefix: str = "pc",
             id_col: str = "id") -> DataFrame:
    """Distributed narrow projection (X − offset)·matᵀ, mat k×d on the
    driver (broadcast-sized literals)."""
    outs = []
    for ci, c in enumerate(mat):
        vec = F.array(*[F.lit(float(x)) for x in c])
        dot = F.aggregate(
            F.zip_with(features, vec, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if offset is not None:
            dot = dot - F.lit(float(np.dot(offset, c)))
        outs.append(dot.alias(f"{prefix}{ci}"))
    return df.select(id_col, *outs)


def pca_transform(
    df: DataFrame, components: np.ndarray, mean: np.ndarray | None = None,
    features: str = "features",
) -> DataFrame:
    """Distributed projection (X − μ)·Wᵀ (linalg/pca.cuh:126) — one
    narrow pass; the mean-shift folds into a per-component constant
    (x−μ)·w = x·w − μ·w, so centering costs nothing distributed."""
    return _project(df, components, offset=mean, features=features)


def pca_inverse_transform(
    scores: DataFrame, components: np.ndarray, mean: np.ndarray | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Inverse PCA map scores·W + μ → (id, features) —
    linalg/pca.cuh:126's pcaInverseTransform. One narrow pass; W is
    k×d driver-side."""
    k, d = components.shape
    pcs = [F.col(f"pc{i}") for i in range(k)]
    cols = []
    for j in range(d):
        acc = sum(
            (pcs[i] * float(components[i, j]) for i in range(1, k)),
            pcs[0] * float(components[0, j]),
        )
        if mean is not None:
            acc = acc + F.lit(float(mean[j]))
        cols.append(acc)
    return scores.select(id_col, F.array(*cols).alias("features"))


def tsvd_singular_values(df: DataFrame, k: int, features: str = "features") -> np.ndarray:
    """Truncated SVD singular values via XᵀX eigenvalues
    (linalg/tsvd.cuh:34 cal_eig path): σᵢ = √λᵢ(XᵀX)."""
    g, _, _ = gram_matrix(df, features)
    w = np.linalg.eigvalsh(g)
    return np.sqrt(np.clip(np.sort(w)[::-1][:k], 0, None))


def tsvd_factors(
    df: DataFrame, k: int, features: str = "features"
) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    """Full truncated-SVD factors (linalg/svd.cuh:36 svdQR returns
    U,S,V; tsvd.cuh fit): V from the Gram eigenvectors (driver d×d),
    σ = √λ, and U = X·V·Σ⁻¹ as a DISTRIBUTED narrow projection —
    (U_df (id, u: array[k]), s [k], V [d×k]).

    U columns are unit-norm left singular vectors; reconstruction
    X ≈ U·Σ·Vᵀ (svd.cuh:382 svd_reconstruction) is one more narrow
    pass over U_df.
    """
    g, _, _ = gram_matrix(df, features)
    w, v = np.linalg.eigh(g)
    order = np.argsort(w)[::-1][:k]
    s = np.sqrt(np.clip(w[order], 0, None))
    vk = sign_flip(v[:, order].T)  # k×d, sign-stabilized
    proj = vk / np.where(s > 0, s, 1.0)[:, None]  # rows = vᵢ/σᵢ
    u = _project(df, proj, features=features, prefix="u")
    u = u.select("id", F.array(*[F.col(f"u{i}") for i in range(k)]).alias("u"))
    return u, s, vk.T


def svd_reconstruction(
    u_df: DataFrame, s: np.ndarray, v: np.ndarray, id_col: str = "id"
) -> DataFrame:
    """X̂ = U·Σ·Vᵀ (linalg/svd.cuh:382) — narrow pass over the
    distributed U frame; Σ·Vᵀ (k×d) is a driver-side constant."""
    sv = (v * s[None, :]).T  # k×d
    k, d = sv.shape
    us = [F.col("u")[i] for i in range(k)]
    cols = [
        sum((us[i] * float(sv[i, j]) for i in range(1, k)),
            us[0] * float(sv[0, j]))
        for j in range(d)
    ]
    return u_df.select(id_col, F.array(*cols).alias("features"))


# ---------------------------------------------------------------------------
# tall-skinny Cholesky-QR and randomized SVD (linalg/qr.cuh, rsvd.cuh)
# ---------------------------------------------------------------------------

def cholesky_qr_r(df: DataFrame, features: str = "features") -> np.ndarray:
    """R factor of a tall-skinny QR via Gram + Cholesky
    (linalg/qr.cuh:29; one distributed Gram pass, driver chol)."""
    g, _, _ = gram_matrix(df, features)
    return np.linalg.cholesky(g).T  # upper-triangular R


def rsvd_singular_values(
    df: DataFrame, k: int, n_oversamples: int = 10, n_power_iters: int = 2,
    seed: int = 42, features: str = "features", _factors: bool = False,
):
    """Randomized truncated SVD (linalg/rsvd.cuh:41; defaults mirror
    svds.pyx:73 — oversampling 10, 2 power iterations).

    The sketch basis Y = A·W is never materialized: W (d×ell) lives on
    the driver, and each stabilized power iteration is ONE Arrow-batched
    mapInPandas pass that accumulates z = AᵀAW (d×ell) and
    g = (AW)ᵀ(AW) (ell×ell) per partition — shuffle volume
    O(partitions·d·ell), independent of n. Re-orthonormalization is the
    eigh whitening Q = A·W·G^{-1/2} applied in W-space (plain
    Cholesky-QR breaks once cond(G) ~ (σ₁/σℓ)^{2(2q+1)} overflows
    doubles), and the final projection B = QᵀA = mixᵀ·zᵀ falls out of
    the same pass, so the whole algorithm is n_power_iters+1 passes.
    """
    import pandas as pd

    rng = np.random.default_rng(seed)
    d = df.select(F.size(features).alias("d")).first()["d"]
    ell = min(k + n_oversamples, d)
    w = rng.standard_normal((d, ell))

    def zg_pass(wmat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        wb = wmat.copy()

        def pp(batches):
            from raft_spark.functions.xp import to_np, xp

            ap = xp()
            wd = ap.asarray(wb)
            z = None
            g = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = ap.asarray(np.stack(pdf[features].to_numpy()).astype(float))
                y = m @ wd
                z = m.T @ y if z is None else z + m.T @ y
                g = y.T @ y if g is None else g + y.T @ y
            if z is None:
                return
            z, g = to_np(z), to_np(g)
            di, dj = np.meshgrid(np.arange(d), np.arange(ell), indexing="ij")
            gi, gj = np.meshgrid(np.arange(ell), np.arange(ell), indexing="ij")
            yield pd.concat(
                [
                    pd.DataFrame({"tag": 0, "i": di.ravel(), "j": dj.ravel(), "v": z.ravel()}),
                    pd.DataFrame({"tag": 1, "i": gi.ravel(), "j": gj.ravel(), "v": g.ravel()}),
                ],
                ignore_index=True,
            )

        rows = (
            df.select(features)
            .mapInPandas(pp, "tag int, i int, j int, v double")
            .groupBy("tag", "i", "j")
            .agg(F.sum("v").alias("v"))
            .collect()
        )
        z = np.zeros((d, ell))
        g = np.zeros((ell, ell))
        for r in rows:
            (z if r["tag"] == 0 else g)[r["i"], r["j"]] = r["v"]
        return z, g

    def whiten(g: np.ndarray) -> np.ndarray:
        vals, vecs = np.linalg.eigh(g)
        vals = np.clip(vals, np.max(vals) * 1e-14, None)
        return vecs @ np.diag(1.0 / np.sqrt(vals)) @ vecs.T

    for _ in range(n_power_iters):
        z, g = zg_pass(w)
        w = z @ whiten(g)  # Y ← A·AᵀQ with Q = A·W·G^{-1/2}, in W-space
    z, g = zg_pass(w)
    wh = whiten(g)
    b = wh.T @ z.T  # B = QᵀA  (ell×d)
    if not _factors:
        return np.linalg.svd(b, compute_uv=False)[:k]
    ub, s, vt = np.linalg.svd(b, full_matrices=False)
    # U = Q·Ub = A·(W·G^{-1/2}·Ub): one distributed narrow projection
    mix = (w @ wh @ ub[:, :k]).T  # k×d
    u = _project(df, mix, features=features, prefix="u")
    u = u.select("id", F.array(*[F.col(f"u{i}") for i in range(k)]).alias("u"))
    return u, s[:k], vt[:k].T


# ---------------------------------------------------------------------------
# power iteration (largest eigenpair of a sparse symmetric matrix)
# ---------------------------------------------------------------------------

def rsvd_perc(
    df: DataFrame,
    pc_perc: float,
    ups_perc: float = 0.15,
    n_power_iters: int = 2,
    seed: int = 42,
    features: str = "features",
) -> np.ndarray:
    """rsvdPerc (linalg/rsvd.cuh:98): rank and oversampling chosen as
    FRACTIONS of the column dimension — k = max(1, round(pc_perc·d)),
    oversamples = max(2, round(ups_perc·d)) — then the same randomized
    pass as :func:`rsvd_singular_values`."""
    d = df.select(F.size(features).alias("d")).first()["d"]
    k = max(1, int(round(pc_perc * d)))
    ups = max(2, int(round(ups_perc * d)))
    return rsvd_singular_values(
        df, k, n_oversamples=ups, n_power_iters=n_power_iters,
        seed=seed, features=features,
    )


def rsvd_factors(
    df: DataFrame, k: int, n_oversamples: int = 10, n_power_iters: int = 2,
    seed: int = 42, features: str = "features",
) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    """Randomized SVD with factors (linalg/rsvd.cuh:41 gen_U/gen_V
    paths): (U_df (id, u: array[k]), s [k], V [d×k]); U distributed,
    V/s driver-side — same pass count as the values-only path."""
    return rsvd_singular_values(
        df, k, n_oversamples, n_power_iters, seed, features, _factors=True
    )


def _pin(df: DataFrame) -> DataFrame:
    """localCheckpoint + rewrap as a FRESH DataFrame over the
    materialized RDD.

    A checkpointed Dataset still carries a hidden reference chain to
    its origin plan; in a loop whose iterations checkpoint ≥2 frames
    derived from each other (the CGS2 Lanczos recurrence), the chains
    BRANCH and JVM-side planning (`Dataset.localCheckpoint` → `toRdd`)
    becomes exponentially slow across iterations (measured: 0.1 s →
    12 s per call by iteration 13 on a 16-row frame) while job
    execution stays flat. Rebuilding the DataFrame from the
    checkpointed InternalRow RDD drops the chain: planning cost stays
    O(1) per iteration. The primary path stays JVM-side
    (internalCreateDataFrame — the same API PySpark's Arrow conversion
    uses); the fallback roundtrips rows through Python."""
    ck = df.localCheckpoint(eager=True)
    spark = df.sparkSession
    try:
        jdf = ck._jdf
        jrdd = jdf.queryExecution().toRdd()
        njdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        return DataFrame(njdf, spark)
    except Exception:
        return spark.createDataFrame(ck.rdd, df.schema)


def spmv(coo: DataFrame, v: DataFrame) -> DataFrame:
    """Distributed SpMV: (row,col,value) × (idx,val) → (idx,val).
    The per-iteration kernel of the Lanczos/power loops
    (sparse/solver/lanczos.cuh:35's apply step)."""
    vv = v.select(F.col("idx").alias("col"), F.col("val").alias("_v"))
    return (
        coo.join(vv, "col")
        .groupBy("row")
        .agg(F.sum(F.col("value") * F.col("_v")).alias("val"))
        .select(F.col("row").alias("idx"), "val")
    )


def power_iteration(
    spark: SparkSession, coo: DataFrame, n: int, iters: int = 30
) -> tuple[float, DataFrame]:
    """Largest-|λ| eigenpair by power iteration with per-step
    normalization. Each step = one join+agg job; the vector stays
    distributed (collected only for the n≤driver-scale norm, computed
    as an aggregate)."""
    v = spark.range(n).select(F.col("id").alias("idx"), F.lit(1.0).alias("val"))
    lam = 0.0
    for _ in range(iters):
        # localCheckpoint per step: without it the logical plan grows by
        # one join+agg per iteration and Catalyst analysis dominates.
        w = spmv(coo, v).localCheckpoint(eager=True)
        with SS._no_aqe(w.sparkSession):  # probe: map-side collapse
            nrm_lam = w.agg(
                F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nrm")
            ).collect()[0]["nrm"]
        if nrm_lam == 0:
            break
        lam = nrm_lam
        v = w.select("idx", (F.col("val") / F.lit(nrm_lam)).alias("val"))
    # Rayleigh quotient for the signed eigenvalue
    av = spmv(coo, v)
    num = (
        v.join(av.select(F.col("idx"), F.col("val").alias("_av")), "idx")
        .agg(F.sum(F.col("val") * F.col("_av")).alias("q"))
        .collect()[0]["q"]
    )
    return float(num), v


# ---------------------------------------------------------------------------
# MST (Borůvka) and connected components (label/merge_labels.cuh)
# ---------------------------------------------------------------------------

def mst(coo: DataFrame) -> list[tuple[int, int, float]]:
    """Borůvka MST, small-graph variant: cheapest outgoing edges are
    picked distributed (min_by), but the union-find runs on the driver
    over an O(V) node map — fine up to millions of nodes, after which
    use ``mst_edges`` above (fully distributed labels, O(1) driver
    state). O(log V) rounds either way.
    """
    edges = coo.select("row", "col", "value").filter(F.col("row") < F.col("col")).cache()
    nodes = [r["n"] for r in edges.select(F.explode(F.array("row", "col")).alias("n")).distinct().collect()]
    comp = {n: n for n in nodes}

    def find(x):
        while comp[x] != x:
            comp[x] = comp[comp[x]]
            x = comp[x]
        return x

    result: list[tuple[int, int, float]] = []
    spark = edges.sparkSession
    for _ in range(64):
        mapping = spark.createDataFrame(
            [(n, find(n)) for n in nodes], "node long, comp long"
        )
        e = (
            edges.join(mapping.withColumnRenamed("node", "row").withColumnRenamed("comp", "ca"), "row")
            .join(mapping.withColumnRenamed("node", "col").withColumnRenamed("comp", "cb"), "col")
            .filter(F.col("ca") != F.col("cb"))
        )
        if e.isEmpty():
            break
        # cheapest outgoing edge per component (both directions)
        both = e.select(F.col("ca").alias("c"), "row", "col", "value").unionAll(
            e.select(F.col("cb").alias("c"), "row", "col", "value")
        )
        picks = (
            both.groupBy("c")
            .agg(F.min_by(F.struct("value", "row", "col"), F.struct("value", "row", "col")).alias("e"))
            .select("e.value", "e.row", "e.col")
            .collect()
        )
        added = False
        for r in sorted(picks, key=lambda r: (r["value"], r["row"], r["col"])):
            ra, rb = find(r["row"]), find(r["col"])
            if ra != rb:
                comp[ra] = rb
                result.append((r["row"], r["col"], r["value"]))
                added = True
        if not added:
            break
    return result


def mst_edges(coo: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Fully distributed Borůvka MST (sparse/solver/mst.cuh) →
    DataFrame (row, col, value) of tree edges. Driver state: NONE per
    node — unlike ``mst`` below (which union-finds node ids on the
    driver), labels live in a distributed (node, comp) frame and each
    round's merges are resolved by the distributed smallest-label
    propagation (connected_components) over the COMPONENT graph.

    Per round: each component picks its cheapest outgoing edge under
    the TOTAL order (value, row, col) — a total order makes parallel
    picks between the same component pair impossible (both sides pick
    the same minimal edge), so the picked set is a forest and a
    distinct() dedup suffices. O(log V) rounds.
    """
    edges = (
        coo.select("row", "col", "value")
        .filter(F.col("row") < F.col("col"))
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.explode(F.array("row", "col")).alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    chosen: DataFrame | None = None
    converged = False
    for _ in range(max_rounds):
        e = (
            edges.join(
                labels.select(F.col("node").alias("row"), F.col("comp").alias("ca")),
                "row",
            )
            .join(
                labels.select(F.col("node").alias("col"), F.col("comp").alias("cb")),
                "col",
            )
            .filter(F.col("ca") != F.col("cb"))
        )
        if e.isEmpty():
            converged = True
            break
        both = e.select(F.col("ca").alias("c"), "ca", "cb", "row", "col", "value").unionAll(
            e.select(F.col("cb").alias("c"), "ca", "cb", "row", "col", "value")
        )
        picks = (
            both.groupBy("c")
            .agg(
                F.min_by(
                    F.struct("value", "row", "col", "ca", "cb"),
                    F.struct("value", "row", "col"),
                ).alias("e")
            )
            .select("e.value", "e.row", "e.col", "e.ca", "e.cb")
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_edges = picks.select("row", "col", "value")
        if chosen is not None:
            # defense-in-depth: a re-pick of an already-chosen edge would
            # mean the labels below failed to converge — never admit a
            # duplicate tree edge (the silent-corruption mode ADVICE r2
            # flagged); connected_components raising is the primary guard.
            new_edges = new_edges.join(
                chosen.select("row", "col"), ["row", "col"], "left_anti"
            )
        chosen = new_edges if chosen is None else chosen.unionAll(new_edges)
        chosen = chosen.localCheckpoint(eager=True)
        # merge: connected components OF THE COMPONENT GRAPH, then one
        # relabel join — comp count shrinks ≥2× per round. The merge
        # graph can be a LONG CHAIN (e.g. a path with monotone weights
        # merges all V components in round 1), so the label solver must
        # converge regardless of chain length — pointer-jumping inside
        # connected_components makes that O(log V), verified-fixpoint.
        merge_graph = picks.select(F.col("ca").alias("row"), F.col("cb").alias("col"))
        cc = connected_components(
            merge_graph.withColumn("value", F.lit(1.0))
        ).select(F.col("node").alias("comp"), F.col("label").alias("_newc"))
        labels = (
            labels.join(cc, "comp", "left")
            .select("node", F.coalesce("_newc", F.col("comp")).alias("comp"))
            .localCheckpoint(eager=True)
        )
    if not converged:
        raise RuntimeError(
            f"mst_edges: {max_rounds} Boruvka rounds exhausted before all "
            "components merged — raise max_rounds (forest would be partial)"
        )
    if chosen is None:
        return coo.sparkSession.createDataFrame([], "row long, col long, value double")
    return chosen


def mst_edges_auto(
    coo: DataFrame, driver_threshold: int = 500_000, max_rounds: int = 40
) -> DataFrame:
    """Strategy-probed MST → (row, col, value) tree edges: when the
    edge table fits comfortably on the driver, one collect + Kruskal
    (sort + union-find) beats O(log V) Borůvka rounds whose per-round
    fixed cost (two joins, a distinct, a checkpoint, a nested CC call)
    dominates on small graphs; above the threshold the fully
    distributed :func:`mst_edges` runs unchanged — the
    connected_components_auto / knn_brute size-probe discipline.

    Both paths compare edges by the SAME refined total order
    (value, row, col) — Kruskal scans it sorted, Borůvka min_by's the
    struct — and an MST is UNIQUE under any strict total order on
    edges, so the two strategies return the identical tree (ties
    included), pinned by tests/test_single_linkage.py.
    """
    edges = coo.select("row", "col", "value") \
        .filter(F.col("row") < F.col("col"))
    # one probe job (the connected_components_auto discipline): under
    # the threshold the collected rows ARE the edge table
    rows = SS.collect_capped_rows(edges, driver_threshold)
    if rows is None:
        return mst_edges(
            edges.localCheckpoint(eager=True), max_rounds=max_rounds
        )
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    tree: list[tuple[int, int, float]] = []
    for e in sorted(rows, key=lambda e: (e["value"], e["row"], e["col"])):
        a, b = int(e["row"]), int(e["col"])
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            tree.append((a, b, float(e["value"])))
    return coo.sparkSession.createDataFrame(
        tree, "row long, col long, value double"
    )


def triangle_count(coo: DataFrame, driver_threshold: int = 500_000) -> int:
    """Exact triangle count of an undirected graph (edge table in any
    orientation; self-loops dropped) — the node-iterator wedge join:
    edges canonicalized to a < b, one self-join builds the a<b<c
    wedges, one semi-join closes them, so each triangle is counted
    exactly once. Extension beyond the reference surface (graph
    analytics live downstream in cuGraph) — included because corpus
    link graphs use it as the standard clustering-coefficient/
    community-density probe.

    Scale: both joins are hash equi-joins on node keys; the classic
    skew (wedges of a hot node) is bounded by the canonical ordering —
    each wedge is generated only at its MIDDLE node and only over its
    higher-id neighbors.

    Strategy probe (the connected_components_auto / mst discipline):
    when the DISTINCT canonical edge table fits on the driver, the
    count runs there as a packed-bitset adjacency intersection
    (popcount over row-AND — exact, vectorized) instead of
    materializing the wedge join: the distributed path's wedge table
    is |Σ C(deg,2)| rows (orders of magnitude above the edge count on
    dense-ish graphs) and its cost is pure intermediate volume, not
    answer size. The two paths count the same closed wedges exactly.
    """
    e = (
        coo.select(
            F.least("row", "col").alias("a"), F.greatest("row", "col").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # one probe job: under the threshold the collected rows ARE the
    # canonical edge table (the connected_components_auto discipline)
    rows = SS.collect_capped_rows(e, driver_threshold)
    n_edges = len(rows or ())
    if n_edges:
        a = np.fromiter((r["a"] for r in rows), np.int64, n_edges)
        b = np.fromiter((r["b"] for r in rows), np.int64, n_edges)
        node_ids = np.unique(np.concatenate([a, b]))
        n = len(node_ids)
        if n <= 8192:  # adj bitset ≤ 8 MB packed — driver-safe
            ai = np.searchsorted(node_ids, a)
            bi = np.searchsorted(node_ids, b)
            adj = np.zeros((n, n), dtype=bool)
            adj[ai, bi] = True
            adj[bi, ai] = True
            packed = np.packbits(adj, axis=1)
            pop8 = np.unpackbits(
                np.arange(256, dtype=np.uint8)[:, None], axis=1
            ).sum(1).astype(np.int64)  # per-byte popcount table
            # for every canonical edge (u,v) count common neighbors w;
            # each triangle {x<y<z} is hit once per its 3 edges ⇒ //3
            total = 0
            for c0 in range(0, n_edges, 65536):  # bound the AND buffer
                s = slice(c0, c0 + 65536)
                inter = np.bitwise_and(packed[ai[s]], packed[bi[s]])
                total += int(pop8[inter].sum())
            return total // 3
    # distributed branch: the wedge build probes e three ways — cut the
    # upstream lineage once
    e = e.localCheckpoint(eager=True)
    wedges = e.select(F.col("a").alias("u"), F.col("b").alias("v")).join(
        e.select(F.col("a").alias("v"), F.col("b").alias("w")), "v"
    )
    closed = wedges.join(
        e.select(F.col("a").alias("u"), F.col("b").alias("w")), ["u", "w"],
        "left_semi",
    )
    return closed.count()


def k_core(coo: DataFrame, k: int, max_iters: int = 64) -> DataFrame:
    """Nodes of the k-core (maximal subgraph where every node has
    degree ≥ k) → (node,). Iterative peeling: drop nodes under degree
    k, re-check, until fixpoint — each round is one degree aggregate +
    two semi-joins, lineage cut per round; raises if ``max_iters`` is
    exhausted before the fixpoint (never returns a partial peel).
    The curation use: restrict a near-dup/link graph to its dense core
    before expensive community analysis.
    """
    cur = (
        coo.select(
            F.least("row", "col").alias("a"), F.greatest("row", "col").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_cur = cur.count()
    for _ in range(max_iters):
        if n_cur == 0:
            break
        sym = cur.select(F.col("a").alias("u")).unionAll(
            cur.select(F.col("b").alias("u"))
        )
        keep = (
            sym.groupBy("u").agg(F.count("*").alias("_d"))
            .filter(F.col("_d") >= k)
            .select("u")
        )
        nxt = (
            cur.join(keep.withColumnRenamed("u", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("u", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        if n_nxt == n_cur:
            nodes = (
                cur.select(F.col("a").alias("node"))
                .unionAll(cur.select(F.col("b").alias("node")))
                .distinct()
            )
            return nodes
        cur, n_cur = nxt, n_nxt
    if n_cur == 0:
        return coo.sparkSession.createDataFrame([], "node long")
    raise RuntimeError(
        f"k_core: no fixpoint after {max_iters} peeling rounds"
    )


def connected_components_auto(
    coo: DataFrame, driver_threshold: int = 500_000, max_iters: int = 64
) -> DataFrame:
    """Strategy-probed connected components → (node, label): when the
    EDGE table (not the vertex set) fits comfortably on the driver,
    one collect + union-find beats ~5 rounds of join/agg/checkpoint
    whose per-round fixed cost dominates at candidate-graph scale
    (dedup/DBSCAN candidate graphs are bounded by the upstream LSH/ε
    caps, typically ≪ the corpus). Above the threshold, the fully
    distributed pointer-jumped propagation runs unchanged — the same
    size-probe pattern as knn_brute's strategy switch and mst's
    small-graph variant. Labels are component minima in both paths.

    The probe is ONE ``limit(threshold+1).collect()`` job — when the
    result stops under the threshold those rows ARE the edge table, so
    no separate checkpoint/count/collect triple is paid (r13; the
    3-job fixed cost was most of a candidate-graph solve). CollectLimit
    short-circuits after enough partitions at scale, and the
    distributed branch still materializes its edge table exactly once
    (:func:`connected_components` checkpoints the symmetrized edges).
    """
    probe = probe_edges_driver(coo, driver_threshold)
    if probe is None:
        edges = coo.select("row", "col").filter(F.col("row") != F.col("col"))
        return connected_components(edges.withColumn("value", F.lit(1.0)),
                                    max_iters=max_iters)
    labels = driver_union_find(
        (int(row["row"]), int(row["col"])) for row in probe
    )
    return labels_frame(coo.sparkSession, labels)


def labels_frame(spark, labels: dict[int, int]) -> DataFrame:
    """{node: label} → a (node long, label long) frame built from two
    Arrow int64 columns (an Arrow-backed local relation — no per-row
    pickling of the label map)."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table({
        "node": pa.array(list(labels), pa.int64()),
        "label": pa.array(list(labels.values()), pa.int64()),
    }))


def probe_edges_driver(coo: DataFrame, driver_threshold: int = 500_000):
    """The ONE-job edge probe shared by :func:`connected_components_auto`
    and driver-finish consumers (dedup.dedup_clusters): the
    self-loop-filtered (row, col) rows through
    :func:`statestore.collect_capped_rows` — the collected rows ARE the
    edge table when they fit; None above the threshold (the caller runs
    the distributed solve)."""
    edges = coo.select("row", "col").filter(F.col("row") != F.col("col"))
    return SS.collect_capped_rows(edges, driver_threshold)


def driver_union_find(pairs) -> dict[int, int]:
    """Union-find over an edge iterable → {node: component MIN} for
    every node that appears in an edge — the driver-side component
    solve shared by :func:`connected_components_auto` and the
    driver-rendered small-delta ingests (dedup.py). Labels are
    component minima, matching the distributed propagation exactly."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN so the representative is the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(coo: DataFrame, max_iters: int = 64) -> DataFrame:
    """Smallest-label propagation WITH pointer jumping
    (label/merge_labels.cuh:18 semantics, O(log V) rounds):

    each round does (1) label(v) ← min(label(v), min label(neighbors))
    — one join+agg — then (2) label(v) ← label(label(v)) — one
    self-join (every label value is itself a node id, so the lookup is
    total). The jump contracts label chains exponentially, so a path
    graph of length L converges in O(log L) rounds where plain
    propagation needs L — the failure mode ADVICE r2 flagged for
    Boruvka merge chains. Runs to a VERIFIED fixpoint and raises if
    max_iters (default 64 ≈ log₂ of any int64 node space) is exhausted,
    rather than returning unconverged labels silently. Lineage cut by
    localCheckpoint per round (checkpointing at real scale)."""
    edges = coo.select("row", "col").filter(F.col("row") != F.col("col"))
    sym = edges.unionAll(
        edges.select(F.col("col").alias("row"), F.col("row").alias("col"))
    # materialize ONCE: every propagation round joins against `sym`, and
    # an un-checkpointed edge table re-executes its whole upstream DAG
    # (e.g. a full MinHash-LSH candidate pipeline) per round — measured
    # 15x slower end-to-end on dedup_clusters at sf0.1
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("row").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neigh = (
            sym.join(labels.withColumnRenamed("node", "col").withColumnRenamed("label", "_nl"), "col")
            .groupBy("row")
            .agg(F.min("_nl").alias("_min_nl"))
            .withColumnRenamed("row", "node")
        )
        prop = labels.join(neigh, "node", "left").select(
            "node",
            F.col("label").alias("_old"),
            F.least(F.col("label"), F.coalesce("_min_nl", F.col("label"))).alias("label"),
        )
        # pointer jump: label ← label(label). min-propagation keeps every
        # label a node id present in `labels`, so the left join is total;
        # least() guards monotonicity (jump can only lower a label).
        # The pre-round label rides along as _old so the fixpoint check
        # below is a scan of the checkpointed result — not an extra
        # join+shuffle job per round.
        new_labels = (
            prop.join(
                labels.select(F.col("node").alias("label"), F.col("label").alias("_ll")),
                "label",
                "left",
            )
            .select(
                "node",
                "_old",
                F.least(F.col("label"), F.coalesce("_ll", F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)  # cut lineage per round (SURVEY §7 hard part 4)
        )
        stable = new_labels.filter(F.col("label") != F.col("_old")).isEmpty()
        labels = new_labels.select("node", "label")
        if stable:
            return labels
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_iters} rounds — "
        "labels would be unconverged (graph larger than 2^max_iters?)"
    )


def pagerank(
    coo: DataFrame,
    alpha: float = 0.85,
    max_iters: int = 50,
    tol: float = 1e-6,
) -> DataFrame:
    """PageRank over a directed edge table (row → col) → (node, rank),
    Σrank = 1. Extension beyond the reference surface (RAFT's spectral
    partitioning covers the adjacent eigen-problem; PageRank itself
    lives downstream in cuGraph) — included because it is THE canonical
    iterative join-agg on the engine's COO model.

    Distributed shape per iteration: one edges⋈ranks join + one groupBy
    (shuffle O(edges)), one scalar agg for the dangling mass, lineage
    cut via localCheckpoint. Driver state: two scalars. Converges when
    the L1 delta < tol (checked on the same pass that computes it).
    """
    edges = coo.select("row", "col").filter(F.col("row") != F.col("col"))
    nodes = (
        edges.select(F.col("row").alias("node"))
        .unionAll(edges.select(F.col("col").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return coo.sparkSession.createDataFrame([], "node long, rank double")
    deg = edges.groupBy("row").agg(F.count("*").alias("_deg"))
    # out-degree rides on the node table; dangling nodes keep _deg NULL
    base = nodes.join(deg.withColumnRenamed("row", "node"), "node", "left") \
        .localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    ranks = base.select("node", "_deg", F.lit(1.0 / n).alias("rank"))
    for _ in range(max_iters):
        with SS._no_aqe(ranks.sparkSession):  # probe: map-side collapse
            dangling = (
                ranks.filter(F.col("_deg").isNull())
                .agg(F.sum("rank").alias("s"))
                .collect()[0]["s"] or 0.0
            )
        contrib = (
            edges.join(
                ranks.select(F.col("node").alias("row"),
                             (F.col("rank") / F.col("_deg")).alias("_c")),
                "row",
            )
            .groupBy("col")
            .agg(F.sum("_c").alias("_in"))
            .withColumnRenamed("col", "node")
        )
        new_ranks = (
            base.join(contrib, "node", "left")
            .select(
                "node",
                "_deg",
                (
                    F.lit((1.0 - alpha) / n)
                    + F.lit(alpha) * (F.coalesce("_in", F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        delta = (
            new_ranks.select("node", F.col("rank").alias("_new"))
            .join(ranks.select("node", "rank"), "node")
            .agg(F.sum(F.abs(F.col("_new") - F.col("rank"))).alias("d"))
            .collect()[0]["d"]
        )
        ranks = new_ranks
        if delta < tol:
            break
    return ranks.select("node", "rank")


def pagerank_exact(
    coo: DataFrame,
    iters: int = 12,
    alpha_num: int = 17,
    alpha_den: int = 20,
    scale: int = 10**12,
    driver_threshold: int = 500_000,
) -> DataFrame:
    """Integer-exact PageRank → (node, rank_int): the float recurrence
    of :func:`pagerank` re-expressed over ``scale``-quantized int64
    ranks with explicit floor divisions, so EVERY engine that mirrors
    the integer recurrence produces bit-identical output regardless of
    partitioning or scan order (the streaming-moments / covariance
    int64-exactness trick extended to an iterative solver — this is
    the oracle-checkable face of the power-iteration family).

    Recurrence (all ops integer, α = alpha_num/alpha_den):
        r⁰(v)   = scale div n
        c(u)    = r(u) div deg(u)                 (per out-edge share)
        share   = (Σ_{deg(u)=0} r(u)) div n       (dangling mass)
        rᵗ⁺¹(v) = (((alpha_den−alpha_num)·scale) div alpha_den) div n
                  + (alpha_num · (Σ_{u→v} c(u) + share)) div alpha_den

    Overflow: r ≤ scale ⇒ inbound sums ≤ n·scale; alpha_num·that must
    stay < 2⁶³ ⇒ n·scale < 5.4e17 at the defaults — lower ``scale``
    for graphs beyond ~5e5 nodes (the relative quantization error is
    1/scale per node per round).

    Distributed shape per iteration = identical to :func:`pagerank`:
    one edges⋈ranks join + groupBy (shuffle O(edges)), one scalar
    collect for the dangling mass, lineage cut per round.

    Strategy probe (the connected_components_auto / mst discipline):
    when the DISTINCT edge table fits comfortably on the driver, the
    integer recurrence runs there in one vectorized numpy pass —
    ``iters`` rounds of join/agg/checkpoint plus a dangling collect
    each cost a full scheduled Spark job whose fixed cost dominates at
    small-graph scale (~2 jobs/round → 2 jobs total). Because every
    operation is INTEGER and order-independent, both paths are
    bit-identical by construction (that is the point of the exact
    recurrence); numpy int64 matches Spark's long exactly under the
    documented ``n·scale < 5.4e17`` overflow contract, and all
    quantities are non-negative so floor division == Spark's ``div``.
    """
    edges = coo.select("row", "col").filter(F.col("row") != F.col("col")) \
        .distinct()
    # one probe job (CollectLimit short-circuits at scale): under the
    # threshold the collected rows ARE the edge table — no separate
    # checkpoint/count/collect triple
    rows = SS.collect_capped_rows(edges, driver_threshold)
    if rows is not None:
        if not rows:
            return coo.sparkSession.createDataFrame(
                [], "node long, rank_int long"
            )
        n_edges = len(rows)
        src = np.fromiter((r["row"] for r in rows), np.int64, n_edges)
        dst = np.fromiter((r["col"] for r in rows), np.int64, n_edges)
        node_ids = np.unique(np.concatenate([src, dst]))
        n = len(node_ids)
        si = np.searchsorted(node_ids, src)
        di = np.searchsorted(node_ids, dst)
        deg = np.bincount(si, minlength=n).astype(np.int64)
        dangling = deg == 0
        basec = ((alpha_den - alpha_num) * scale // alpha_den) // n
        r = np.full(n, scale // n, dtype=np.int64)
        for _ in range(iters):
            share = int(r[dangling].sum()) // n
            c = np.zeros(n, dtype=np.int64)
            np.floor_divide(r, deg, out=c, where=~dangling)
            # exact int64 segment sum (np.add.at — no float widening)
            inbound = np.zeros(n, dtype=np.int64)
            np.add.at(inbound, di, c[si])
            r = (basec
                 + (alpha_num * (inbound + share)) // alpha_den
                 ).astype(np.int64)
        return coo.sparkSession.createDataFrame(
            [(int(node), int(rv)) for node, rv in zip(node_ids, r)],
            "node long, rank_int long",
        )
    # distributed branch: edges feed every iteration's join — cut the
    # upstream lineage once
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("row").alias("node"))
        .unionAll(edges.select(F.col("col").alias("node")))
        .distinct()
    )
    deg = edges.groupBy("row").agg(F.count("*").alias("_d"))
    base = (
        nodes.join(deg.withColumnRenamed("row", "node"), "node", "left")
        .localCheckpoint(eager=True)
    )
    n = base.count()
    if n == 0:
        return coo.sparkSession.createDataFrame([], "node long, rank_int long")
    basec = ((alpha_den - alpha_num) * scale // alpha_den) // n
    ranks = base.select(
        "node", "_d", F.lit(scale // n).cast("long").alias("r")
    )
    for _ in range(iters):
        with SS._no_aqe(ranks.sparkSession):  # probe: map-side collapse
            dang = (
                ranks.filter(F.col("_d").isNull())
                .agg(F.sum("r").alias("s"))
                .collect()[0]["s"] or 0
            )
        share = int(dang) // n
        contrib = (
            edges.join(
                ranks.select(
                    F.col("node").alias("row"), F.expr("r div _d").alias("_c")
                ),
                "row",
            )
            .groupBy("col")
            .agg(F.sum("_c").alias("_in"))
            .withColumnRenamed("col", "node")
        )
        ranks = (
            base.join(contrib, "node", "left")
            .select(
                "node",
                "_d",
                (
                    F.lit(basec)
                    + F.expr(
                        f"({alpha_num} * (coalesce(_in, cast(0 as bigint))"
                        f" + {share})) div {alpha_den}"
                    )
                ).cast("long").alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("r").alias("rank_int"))


# ---------------------------------------------------------------------------
# batched linear assignment (solver/linear_assignment.cuh)
# ---------------------------------------------------------------------------

def _hungarian(cost: np.ndarray) -> np.ndarray:
    """O(n³) Hungarian (potentials / JV-style) — exact LAP on one small
    cost matrix; numpy only (no scipy in this environment)."""
    n = cost.shape[0]
    INF = float("inf")
    u = np.zeros(n + 1)
    v = np.zeros(n + 1)
    p = np.zeros(n + 1, dtype=int)  # p[j] = row matched to column j (1-based)
    way = np.zeros(n + 1, dtype=int)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = np.full(n + 1, INF)
        used = np.zeros(n + 1, dtype=bool)
        while True:
            used[j0] = True
            i0 = p[j0]
            delta = INF
            j1 = 0
            for j in range(1, n + 1):
                if not used[j]:
                    cur = cost[i0 - 1, j - 1] - u[i0] - v[j]
                    if cur < minv[j]:
                        minv[j] = cur
                        way[j] = j0
                    if minv[j] < delta:
                        delta = minv[j]
                        j1 = j
            for j in range(n + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    assign = np.zeros(n, dtype=int)
    for j in range(1, n + 1):
        assign[p[j] - 1] = j - 1
    return assign


def lap_batched(problems: DataFrame) -> DataFrame:
    """Batched LAP (solver/linear_assignment.cuh:50): input long form
    (batch, i, j, cost); one applyInPandas group per batch (cost
    matrices are per-problem small — the batch dim is the parallelism,
    exactly like the reference's batched solver)."""
    import pandas as pd

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        n = int(pdf["i"].max()) + 1
        c = np.zeros((n, n))
        c[pdf["i"].to_numpy(), pdf["j"].to_numpy()] = pdf["cost"].to_numpy()
        a = _hungarian(c)
        obj = float(c[np.arange(n), a].sum())
        return pd.DataFrame(
            {
                "batch": pdf["batch"].iloc[0],
                "i": np.arange(n),
                "assigned_j": a,
                "objective": obj,
            }
        )

    return problems.groupBy("batch").applyInPandas(
        solve, schema="batch long, i long, assigned_j long, objective double"
    )


def shifted_spmv(coo: DataFrame, v: DataFrame, sigma: float) -> DataFrame:
    """(A − σI)·v for COO long form. Unlike the bare ``spmv`` (whose
    inner join drops structurally-empty rows), the output keeps every
    index of ``v`` — the σ·v term is nonzero even where A's row is
    empty, so the shifted apply must be total."""
    av = spmv(coo, v).select("idx", F.col("val").alias("_av"))
    return v.join(av, "idx", "left").select(
        "idx",
        (
            F.coalesce(F.col("_av"), F.lit(0.0))
            - F.lit(float(sigma)) * F.col("val")
        ).alias("val"),
    )


def minres_solve(
    spark: SparkSession,
    coo: DataFrame,
    b: DataFrame,
    n: int,
    sigma: float = 0.0,
    tol: float = 1e-10,
    max_iters: int | None = None,
) -> DataFrame:
    """Distributed MINRES for the symmetric (possibly INDEFINITE)
    system (A − σI)x = b — the inner solve of shift-invert Lanczos
    (sparse/solver/lanczos.cuh:35 heritage; scipy's ``eigsh(sigma=…)``
    is the familiar contract). CG requires definiteness; MINRES is the
    Krylov method for symmetric-indefinite, which is exactly what
    A − σI is for an interior shift.

    One SpMV + two scalar aggregates per iteration; the driver holds
    only the Givens-rotation scalars, all vectors stay distributed in
    ONE state frame (idx, x, w, w_old, v, v_old) updated by a single
    narrow select per step (no per-column joins). Returns x as
    (idx, val).
    """
    max_iters = max_iters if max_iters is not None else min(n, 200)
    beta1 = float(
        b.agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("n")).collect()[0]["n"]
        or 0.0
    )
    if beta1 == 0.0:
        return b.select("idx", F.lit(0.0).alias("val"))
    st = _pin(
        b.select(
            "idx",
            F.lit(0.0).alias("x"),
            F.lit(0.0).alias("w"),
            F.lit(0.0).alias("w_old"),
            (F.col("val") / beta1).alias("v"),
            F.lit(0.0).alias("v_old"),
        )
    )
    eta = beta1
    c_prev2 = c_prev = 1.0
    s_prev2 = s_prev = 0.0
    beta_k = 0.0
    for _ in range(max_iters):
        av = shifted_spmv(coo, st.select("idx", F.col("v").alias("val")), sigma)
        j = _pin(st.join(av.select("idx", F.col("val").alias("_av")), "idx"))
        alpha = float(
            j.agg(F.sum(F.col("v") * F.col("_av")).alias("a")).collect()[0]["a"] or 0.0
        )
        j = j.withColumn(
            "_r",
            F.col("_av") - F.lit(alpha) * F.col("v") - F.lit(beta_k) * F.col("v_old"),
        )
        beta_next = float(
            j.agg(F.sqrt(F.sum(F.col("_r") * F.col("_r"))).alias("b")).collect()[0]["b"]
            or 0.0
        )
        # QR of the tridiagonal via Givens: apply the two previous
        # rotations to column k, then form the new one.
        delta = c_prev * alpha - c_prev2 * s_prev * beta_k
        rho1 = float(np.hypot(delta, beta_next))
        if rho1 == 0.0:
            # zero rotated diagonal AND zero next off-diagonal: the
            # Krylov subspace became invariant with (A−σI) singular on
            # it — can occur at ANY step (step 1: b in an eigenspace of
            # σ); same singular-shift condition the factorize path
            # reports via np.linalg.inv
            raise ValueError(
                f"A - {sigma}*I is singular on the Krylov subspace — "
                "sigma hits an eigenvalue; perturb the shift"
            )
        rho2 = s_prev * alpha + c_prev2 * c_prev * beta_k
        rho3 = s_prev2 * beta_k
        c = delta / rho1
        s = beta_next / rho1
        w_new = (
            F.col("v") - F.lit(rho2) * F.col("w") - F.lit(rho3) * F.col("w_old")
        ) / F.lit(rho1)
        done = beta_next < 1e-13 * beta1 or abs(s * eta) <= tol * beta1
        st = _pin(
            j.select(
                "idx",
                (F.col("x") + F.lit(c * eta) * w_new).alias("x"),
                w_new.alias("w"),
                F.col("w").alias("w_old"),
                (
                    (F.col("_r") / F.lit(beta_next))
                    if beta_next > 0
                    else F.lit(0.0)
                ).alias("v"),
                F.col("v").alias("v_old"),
            )
        )
        eta = -s * eta
        c_prev2, c_prev = c_prev, c
        s_prev2, s_prev = s_prev, s
        beta_k = beta_next
        if done:
            break
    return st.select("idx", F.col("x").alias("val"))


_FACTORIZE_MAX_N = 8192


def lanczos_eigsh(
    spark: SparkSession,
    coo: DataFrame,
    n: int,
    k: int = 3,
    m: int | None = None,
    which: str = "LM",
    reorthogonalize: bool = True,
    return_vectors: bool = False,
    max_restarts: int = 8,
    tol: float = 1e-8,
    sigma: float | None = None,
    inner: str = "auto",
    inner_tol: float = 1e-10,
    inner_iters: int | None = None,
) -> tuple[np.ndarray, np.ndarray | DataFrame]:
    """Thick-restart Lanczos eigsh (TRLan) for a sparse symmetric
    matrix in COO long form (sparse/solver/lanczos.cuh:35 — the
    reference is thick-restart, detail/lanczos.cuh; Python entry
    lanczos.pyx:100,138-142).

    Each iteration runs ONE distributed SpMV (join+agg); the driver
    holds only the m×m projected matrix T. The Lanczos basis stays
    distributed as a (idx, array<double>) frame CAPPED AT m COLUMNS:
    when a cycle's m steps don't converge the k wanted pairs, the
    basis is contracted to [k Ritz vectors, residual direction] in one
    narrow per-row pass and the recurrence continues — restarts bound
    the frame width and driver state for hard (clustered / interior /
    SM) spectra where plain Lanczos would need m to grow unboundedly.

    T is built column-by-column from the first-pass CGS coefficients
    (c_i = <A q_j, q_i>), which stays exact under restarts where the
    tridiagonal bookkeeping would break (post-restart T is arrowhead +
    tridiagonal). Full reorthogonalization is two CGS passes per step
    (Parlett's "twice is enough") — each a narrow join + tiny agg.

    Returns (eigenvalues[k], residual-estimates[k]); with
    ``return_vectors=True`` the second element is instead the
    distributed Ritz-vector frame (idx, evec: array<double>[k]).

    which: "LM"/"LA" largest magnitude/algebraic, "SA"/"SM" smallest
    algebraic/magnitude (the full lanczos_types.hpp:23-28 enum).
    ``reorthogonalize=False`` falls back to the plain three-term
    recurrence, single cycle (no restarts).

    ``sigma`` enables SHIFT-INVERT (scipy's ``eigsh(sigma=…)``
    contract): the recurrence runs on (A − σI)⁻¹, so eigenvalues
    NEAREST σ become the extremal (fast-converging) ones — interior
    pairs of indefinite spectra converge at m ≈ 2k where the plain
    |λ| ranking needs m ≈ n. ``which`` then ranks the TRANSFORMED
    spectrum θ = 1/(λ−σ) (scipy semantics; the default "LM" = nearest
    σ); returned eigenvalues are back-transformed λ = σ + 1/θ and the
    Ritz vectors are eigenvectors of A unchanged. The inverse apply is
    ``inner="minres"`` — a distributed MINRES solve per step (MINRES,
    not CG: A − σI is symmetric-indefinite for interior shifts) — or
    ``inner="factorize"``: collect the COO once, invert the shifted
    dense matrix on the driver, O(n²) driver memory, each apply one
    BLAS matvec on a collected vector (the same size-probed driver
    seam as mst/connected_components_auto; guarded at n ≤ 8192).
    ``inner="auto"`` picks factorize when n fits, else MINRES.
    """
    m = m or min(n, max(4 * k, 20))
    if sigma is not None:
        use_fact = inner == "factorize" or (inner == "auto" and n <= _FACTORIZE_MAX_N)
        if use_fact:
            if n > _FACTORIZE_MAX_N:
                raise ValueError(
                    f"inner='factorize' needs n ≤ {_FACTORIZE_MAX_N} (got {n}); "
                    "use inner='minres' for the distributed solve"
                )
            a_dense = np.zeros((n, n))
            for r in coo.collect():
                a_dense[int(r["row"]), int(r["col"])] = float(r["value"])
            shifted = a_dense - float(sigma) * np.eye(n)
            try:
                minv = np.linalg.inv(shifted)
            except np.linalg.LinAlgError as e:
                raise ValueError(
                    f"A - {sigma}*I is singular — sigma hits an eigenvalue; "
                    "perturb the shift"
                ) from e

            def opmv(vf: DataFrame) -> DataFrame:
                import pandas as pd

                vec = np.zeros(n)
                for r in vf.select("idx", "val").collect():
                    vec[int(r["idx"])] = float(r["val"])
                y = minv @ vec
                return spark.createDataFrame(
                    pd.DataFrame({"idx": np.arange(n), "val": y}),
                    "idx long, val double",
                )
        else:

            def opmv(vf: DataFrame) -> DataFrame:
                return minres_solve(
                    spark, coo, vf, n, sigma=float(sigma),
                    tol=inner_tol, max_iters=inner_iters,
                )
    else:

        def opmv(vf: DataFrame) -> DataFrame:
            return spmv(coo, vf)
    # v0: seeded counter-RNG vector, normalized. NOT the constant
    # vector — that is the exact null vector of an unnormalized graph
    # Laplacian, which makes the first residual vanish and kills the
    # recurrence at step 0.
    from raft_spark.functions.rng import uniform as _uniform

    raw = spark.range(n).select(
        F.col("id").alias("idx"), (_uniform("id", seed=1234) - 0.5).alias("val")
    )
    nrm0 = raw.agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("n")).collect()[0]["n"]
    v = raw.select("idx", (F.col("val") / F.lit(float(nrm0))).alias("val")).localCheckpoint(
        eager=True
    )
    basis = v.select("idx", F.array("val").alias("vs"))  # columns so far

    def _order(evals: np.ndarray) -> np.ndarray:
        if which == "LM":
            return np.argsort(-np.abs(evals))
        if which == "LA":
            return np.argsort(-evals)
        if which == "SA":
            return np.argsort(evals)
        if which == "SM":
            # smallest magnitude (lanczos_types.hpp:23-28
            # MAGNITUDE_SMALLEST): rank Ritz values by |λ|; restarts
            # make interior pairs converge without growing m.
            return np.argsort(np.abs(evals))
        raise ValueError(f"unknown which: {which}")

    if not reorthogonalize:
        # plain three-term recurrence, single cycle (legacy path)
        alphas: list[float] = []
        betas: list[float] = []
        v_prev = None
        for j in range(m):
            w = opmv(v)
            alpha = (
                w.join(v.select("idx", F.col("val").alias("_v")), "idx")
                .agg(F.sum(F.col("val") * F.col("_v")).alias("a"))
                .collect()[0]["a"]
            ) or 0.0
            if v_prev is not None and betas:
                w = (
                    w.join(v.select("idx", F.col("val").alias("_v")), "idx")
                    .join(v_prev.select("idx", F.col("val").alias("_p")), "idx")
                    .select(
                        "idx",
                        (
                            F.col("val")
                            - F.lit(alpha) * F.col("_v")
                            - F.lit(betas[-1]) * F.col("_p")
                        ).alias("val"),
                    )
                )
            else:
                w = (
                    w.join(v.select("idx", F.col("val").alias("_v")), "idx")
                    .select("idx", (F.col("val") - F.lit(alpha) * F.col("_v")).alias("val"))
                )
            w = w.localCheckpoint(eager=True)
            alphas.append(alpha)
            beta = float(
                w.agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("b")).collect()[0]["b"]
                or 0.0
            )
            if j == m - 1 or beta < 1e-12:
                break
            betas.append(beta)
            v_prev = v
            v = _pin(w.select("idx", (F.col("val") / beta).alias("val")))
            basis = _pin(
                basis.join(v, "idx").select("idx", F.concat("vs", F.array("val")).alias("vs"))
            )
        t = np.diag(np.array(alphas))
        if betas:
            off = np.array(betas[: len(alphas) - 1])
            t += np.diag(off, 1) + np.diag(off, -1)
        evals, tvecs = np.linalg.eigh(t)
        filled = len(alphas)
        last_beta = beta if alphas else 0.0  # ‖w‖ at the final step
    else:
        # thick-restart cycles: grow the basis to m columns with CGS2,
        # then contract to [k Ritz vectors, residual] until converged
        t_full = np.zeros((m, m))
        ncols = 1
        last_beta = 0.0
        r_frame = None
        for cycle in range(max_restarts + 1):
            broke = False
            for j in range(ncols - 1, m):
                w = opmv(v)
                # two-pass CGS (Parlett's "twice is enough"): one pass
                # leaves orthogonality error ~ ε·‖w‖/β, and β ≪ ‖w‖ on
                # clustered spectra — a single pass let the basis lose
                # orthonormality and produced Ritz values OUTSIDE the
                # spectral range (caught by solver_spectra invariants).
                cfirst = None
                for _pass in range(2):
                    joined = w.join(basis, "idx")
                    coefs = joined.agg(
                        *[
                            F.sum(F.col("val") * F.col("vs")[i]).alias(f"c{i}")
                            for i in range(j + 1)
                        ]
                    ).collect()[0]
                    w = _pin(
                        joined.select(
                            "idx",
                            (
                                F.col("val")
                                - sum(
                                    (
                                        F.col("vs")[i] * float(coefs[f"c{i}"])
                                        for i in range(j + 1)
                                    ),
                                    F.lit(0.0),
                                )
                            ).alias("val"),
                        )
                    )
                    if cfirst is None:
                        cfirst = [float(coefs[f"c{i}"]) for i in range(j + 1)]
                # T column j from first-pass coefficients (exact under
                # restarts, where tridiagonal bookkeeping breaks)
                t_full[: j + 1, j] = cfirst
                t_full[j, : j + 1] = cfirst
                beta = float(
                    w.agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("b")).collect()[
                        0
                    ]["b"]
                    or 0.0
                )
                last_beta = beta
                filled = j + 1
                if beta < 1e-12:
                    broke = True  # invariant subspace: Ritz pairs exact
                    break
                vq = _pin(w.select("idx", (F.col("val") / beta).alias("val")))
                if j < m - 1:
                    v = vq
                    basis = _pin(
                        basis.join(v, "idx").select(
                            "idx", F.concat("vs", F.array("val")).alias("vs")
                        )
                    )
                    ncols = j + 2
                else:
                    r_frame = vq  # residual direction for the restart
            evals, tvecs = np.linalg.eigh(t_full[:filled, :filled])
            resid = np.abs(last_beta * tvecs[filled - 1, :])
            sel_order = _order(evals)
            kk = min(k, filled)
            keepi = sel_order[:kk]
            scale = max(float(np.max(np.abs(evals))), 1e-30)
            if (
                broke
                or r_frame is None
                or cycle == max_restarts
                or float(resid[keepi].max()) <= tol * scale
            ):
                break
            # contract: basis ← [Ritz vectors, residual] in ONE narrow
            # per-row pass; T ← diag(θ); the arrow column <A·r, y_i> is
            # recomputed naturally by the next cycle's CGS pass
            y = tvecs[:, keepi]
            nb = basis.join(r_frame.select("idx", F.col("val").alias("_r")), "idx")
            cols = [
                sum(
                    (F.col("vs")[i] * float(y[i, c]) for i in range(1, filled)),
                    F.col("vs")[0] * float(y[0, c]),
                ).alias(f"v{c}")
                for c in range(kk)
            ]
            basis = _pin(nb.select("idx", F.array(*cols, F.col("_r")).alias("vs")))
            v = basis.select("idx", F.col("vs")[kk].alias("val"))
            t_full = np.zeros((m, m))
            t_full[:kk, :kk] = np.diag(evals[keepi])
            ncols = kk + 1
            r_frame = None

    order = _order(evals)
    keep = order[:k]
    if sigma is None:
        desc = np.argsort(-evals[keep])
        sel = evals[keep][desc]
    else:
        # back-transform: θ of (A − σI)⁻¹ → λ = σ + 1/θ (θ ≠ 0 for
        # any converged pair — θ→0 means λ→∞, outside the shortlist)
        lam = sigma + 1.0 / evals[keep]
        desc = np.argsort(-lam)
        sel = lam[desc]
    if not return_vectors:
        resid = np.abs(last_beta * tvecs[filled - 1, :]) if filled else np.array([])
        if filled and sigma is not None:
            # residual estimate in λ-space: |dλ/dθ| = 1/θ²
            resid = resid / np.square(evals)
        return sel, resid[keep][desc] if filled else np.array([])
    # Ritz vectors = distributed basis × T-eigenvectors: one narrow
    # per-row pass (basis row is ≤m doubles, Y is m×k on the driver)
    y = tvecs[:, keep][:, desc]
    m_used = y.shape[0]
    cols = [
        sum(
            (F.col("vs")[i] * float(y[i, c]) for i in range(1, m_used)),
            F.col("vs")[0] * float(y[0, c]),
        ).alias(f"v{c}")
        for c in range(y.shape[1])
    ]
    vecs = basis.select("idx", F.array(*cols).alias("evec"))
    return sel, vecs


def cholesky_r1_update(L: np.ndarray, x: np.ndarray, sign: float = 1.0) -> np.ndarray:
    """Rank-1 Cholesky update/downdate: factor of A ± xxᵀ given L with
    A = LLᵀ (linalg/cholesky_r1_update.cuh:19). Driver-side O(d²) —
    the factor is small by the engine's driver-memory contract; the
    distributed part is producing x (one aggregate pass upstream)."""
    L = L.copy().astype(float)
    x = x.copy().astype(float)
    n = L.shape[0]
    for i in range(n):
        a = L[i, i] ** 2 + sign * x[i] ** 2
        if a <= 0:
            raise np.linalg.LinAlgError("downdate breaks positive definiteness")
        r = np.sqrt(a)
        c = r / L[i, i]
        s = x[i] / L[i, i]
        L[i, i] = r
        if i + 1 < n:
            L[i + 1 :, i] = (L[i + 1 :, i] + sign * s * x[i + 1 :]) / c
            x[i + 1 :] = c * x[i + 1 :] - s * L[i + 1 :, i]
    return L
