"""Sparse (COO long-form) operators: filters, dedup, symmetrize, degree,
row norms/normalize, Laplacian, diagonal ops, SpMM/SDDMM/masked-matmul,
GEMM in long form, and label utilities (SURVEY.md §2.4, §2.5, §2.9).

The canonical sparse representation is the long-form DataFrame
``(row: long, col: long, value: double)`` — the Spark rendering of
``coo_matrix``/``csr_matrix`` (reference: ``core/coo_matrix.hpp:195``,
``core/csr_matrix.hpp:207``). CSR vs COO is a physical-layout detail
with no Spark equivalent; ordering/compression is Catalyst's problem.

Reference semantics per function are cited inline.

Scale notes: all ops are joins/aggregations keyed on row or col —
co-partitioned shuffles that AQE sizes; the dense sides of SpMM/SDDMM
broadcast when small and shuffle-join on the contraction key when not.
No driver-side collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from raft_spark.operators import statestore as SS


# ---------------------------------------------------------------------------
# filters / dedup (sparse/op/filter.cuh, reduce.cuh)
# ---------------------------------------------------------------------------

def coo_remove_scalar(coo: DataFrame, scalar: float) -> DataFrame:
    """Drop entries equal to scalar (sparse/op/filter.cuh:38);
    coo_remove_zeros (:81) is scalar=0."""
    return coo.filter(F.col("value") != scalar)


def coo_sort(coo: DataFrame, by_weight: bool = False) -> DataFrame:
    """sparse/op/sort.cuh:31 (row,col) / :60 (by value). Ordering is a
    physical detail in Spark; exposed for API parity."""
    return coo.orderBy("value" if by_weight else ["row", "col"])


def max_duplicates(coo: DataFrame) -> DataFrame:
    """Reduce duplicate (row,col) entries by max, keeping the duplicate
    count (sparse/op/reduce.cuh:39 compute_duplicates_mask, :62
    max_duplicates)."""
    return coo.groupBy("row", "col").agg(
        F.max("value").alias("value"), F.count("*").alias("n_dup")
    )


def sparse_add(a: DataFrame, b: DataFrame) -> DataFrame:
    """CSR+CSR sum over the union of patterns (sparse/linalg/add.cuh:18)."""
    return (
        a.select("row", "col", "value")
        .unionAll(b.select("row", "col", "value"))
        .groupBy("row", "col")
        .agg(F.sum("value").alias("value"))
    )


def transpose(coo: DataFrame) -> DataFrame:
    """CSR/COO transpose = column relabel (sparse/linalg/transpose.cuh:34)."""
    return coo.select(
        F.col("col").alias("row"), F.col("row").alias("col"), "value"
    )


def symmetrize(coo: DataFrame) -> DataFrame:
    """A ∪ Aᵀ with summed values (sparse/linalg/symmetrize.cuh:19).

    Emitted as a per-row 2-element explode, NOT union(A, Aᵀ): a union
    duplicates the upstream lineage (the input subplan — scan, filters,
    aggregations — runs once per branch), while the explode reads the
    input ONCE and doubles rows map-side, so the whole op is one narrow
    pass plus the single groupBy shuffle at any scale.
    """
    both = F.explode(
        F.array(
            F.struct(F.col("row").alias("r"), F.col("col").alias("c"), F.col("value").alias("v")),
            F.struct(F.col("col").alias("r"), F.col("row").alias("c"), F.col("value").alias("v")),
        )
    )
    return (
        coo.select(both.alias("_e"))
        .select(
            F.col("_e.r").alias("row"), F.col("_e.c").alias("col"), F.col("_e.v").alias("value")
        )
        .groupBy("row", "col")
        .agg(F.sum("value").alias("value"))
    )


# ---------------------------------------------------------------------------
# per-row structure (sparse/linalg/degree.cuh, norm.cuh; op/slice.cuh)
# ---------------------------------------------------------------------------

def degree(coo: DataFrame, weighted: bool = True) -> DataFrame:
    """Per-row nonzero count (+ weighted degree) —
    sparse/linalg/degree.cuh:19; count_if(value != s) variants :47,:80."""
    aggs = [F.count("*").alias("deg")]
    if weighted:
        aggs.append(F.sum("value").alias("wdeg"))
    return coo.groupBy("row").agg(*aggs)


def csr_row_normalize(coo: DataFrame, kind: str = "l1") -> DataFrame:
    """Row normalization of a sparse matrix (sparse/linalg/norm.cuh:20
    L1, :41 Linf; L2 by extension). Zero-sum rows pass through (the
    reference's row_normalize skips empty rows)."""
    if kind == "l1":
        norm = F.sum(F.abs(F.col("value")))
    elif kind == "l2":
        norm = F.sqrt(F.sum(F.col("value") * F.col("value")))
    elif kind == "linf":
        norm = F.max(F.abs(F.col("value")))
    else:
        raise ValueError(kind)
    w = Window.partitionBy("row")
    n = norm.over(w)
    return coo.select(
        "row",
        "col",
        F.when(n == 0, F.col("value")).otherwise(F.col("value") / n).alias("value"),
    )


def csr_row_slice(coo: DataFrame, row_start: int, row_end: int) -> DataFrame:
    """Row-range slice (sparse/op/slice.cuh:30) — pure predicate, pushed
    into the scan."""
    return coo.filter((F.col("row") >= row_start) & (F.col("row") <= row_end))


# ---------------------------------------------------------------------------
# diagonal (sparse/matrix/diagonal.cuh)
# ---------------------------------------------------------------------------

def get_diagonal(coo: DataFrame) -> DataFrame:
    """sparse/matrix/diagonal.cuh:21."""
    return coo.filter(F.col("row") == F.col("col")).select("row", "value")


def scale_by_diagonal(coo: DataFrame, diag: DataFrame, symmetric: bool = True) -> DataFrame:
    """Scale values by 1/d_row (and 1/d_col when symmetric) —
    sparse/matrix/diagonal.cuh:44 scale_by_diagonal_symmetric."""
    dr = diag.select(F.col("row").alias("row"), F.col("value").alias("_dr"))
    out = coo.join(dr, "row").withColumn("value", F.col("value") / F.col("_dr")).drop("_dr")
    if symmetric:
        dc = diag.select(F.col("row").alias("col"), F.col("value").alias("_dc"))
        out = out.join(dc, "col").withColumn("value", F.col("value") / F.col("_dc")).drop("_dc")
    return out


# ---------------------------------------------------------------------------
# graph Laplacian (sparse/linalg/laplacian.cuh)
# ---------------------------------------------------------------------------

def laplacian(adj: DataFrame, normalized: bool = False) -> DataFrame:
    """L = D − A, or normalized L = I − D^{-1/2} A D^{-1/2}
    (sparse/linalg/laplacian.cuh:20 compute_graph_laplacian, :60
    laplacian_normalized). ``adj`` must be symmetric with no self
    loops; weighted degrees used (like the reference).

    Plan: one degree aggregate + broadcast-or-shuffle joins on row/col
    — 2 shuffles total, both keyed on node id.
    """
    deg = adj.groupBy("row").agg(F.sum("value").alias("d"))
    if not normalized:
        diag = deg.select("row", F.col("row").alias("col"), F.col("d").alias("value"))
        off = adj.select("row", "col", (-F.col("value")).alias("value"))
        return diag.unionAll(off)
    dr = deg.select("row", F.col("d").alias("_dr"))
    dc = deg.select(F.col("row").alias("col"), F.col("d").alias("_dc"))
    off = (
        adj.join(dr, "row")
        .join(dc, "col")
        .select(
            "row",
            "col",
            (-F.col("value") / F.sqrt(F.col("_dr") * F.col("_dc"))).alias("value"),
        )
    )
    diag = deg.select("row", F.col("row").alias("col"), F.lit(1.0).alias("value"))
    return diag.unionAll(off)


# ---------------------------------------------------------------------------
# products (sparse/linalg/spmm.hpp, sddmm.hpp, masked_matmul.cuh; linalg/gemm.cuh)
# ---------------------------------------------------------------------------

def spmm(coo: DataFrame, dense_long: DataFrame) -> DataFrame:
    """Sparse × dense: C[i,j] = Σ_k A[i,k]·B[k,j]
    (sparse/linalg/spmm.hpp:42). ``dense_long`` is (row, col, value)
    long form of B; join key = contraction index."""
    b = dense_long.select(
        F.col("row").alias("col"), F.col("col").alias("j"), F.col("value").alias("b")
    )
    return (
        coo.join(b, "col")
        .groupBy("row", "j")
        .agg(F.sum(F.col("value") * F.col("b")).alias("value"))
        .select("row", F.col("j").alias("col"), "value")
    )


def sddmm(pattern: DataFrame, u_long: DataFrame, v_long: DataFrame,
          alpha: float = 1.0, beta: float = 0.0) -> DataFrame:
    """Sampled dense-dense matmul: C = α·(U·Vᵀ)∘spy(C) + β·C
    (sparse/linalg/sddmm.hpp:43). ``pattern`` carries the sparsity and
    the existing C values; U,V are (row, k, value) long form.

    masked_matmul (sparse/linalg/masked_matmul.cuh:47) is the same
    computation with a 0/1 mask as the pattern — call with beta=0.
    """
    u = u_long.select(F.col("row").alias("_i"), F.col("col").alias("k"), F.col("value").alias("u"))
    v = v_long.select(F.col("row").alias("_j"), F.col("col").alias("k"), F.col("value").alias("v"))
    base = pattern.select(
        F.col("row").alias("_i"), F.col("col").alias("_j"),
        F.col("value").alias("c0"),
    )
    # the β·C term must survive pattern entries whose row has NO U
    # entries or no matching (col,k) in V — inner joins would drop
    # them. It rides into the SAME aggregation as the α·u·v terms via
    # a union branch (one row per pattern entry), so no extra join or
    # shuffle is added: the groupBy both merges the dot products and
    # guarantees every pattern cell surfaces.
    uv_terms = (
        base.select("_i", "_j")
        .join(u, "_i")
        .join(v, ["_j", "k"])
        .select("_i", "_j", (F.lit(alpha) * F.col("u") * F.col("v")).alias("_t"))
    )
    if beta != 0.0:
        # β ≠ 0 re-reads the pattern in a second union branch (cells
        # with no U/V matches still need their β·c0 row); β = 0 — the
        # masked_matmul case — keeps the 2-join/1-agg plan untouched
        uv_terms = uv_terms.unionByName(
            base.select("_i", "_j", (F.lit(beta) * F.col("c0")).alias("_t"))
        )
    prod = uv_terms.groupBy("_i", "_j").agg(F.sum("_t").alias("value"))
    return prod.select(F.col("_i").alias("row"), F.col("_j").alias("col"), "value")


def gemm(a_long: DataFrame, b_long: DataFrame) -> DataFrame:
    """Dense GEMM in long form: C = A·B via join on the contraction key
    (linalg/gemm.cuh:51). For matrices that fit a broadcast, Catalyst
    turns the join into a broadcast-hash join automatically.

    This join-agg plan is the right shape for SPARSE-ish operands (the
    engine's real matmuls: text encodings, graph ops) — the join output
    is one row per nonzero scalar product. For genuinely DENSE operands
    that is m·n·K intermediate rows; use :func:`dense_gemm` there (the
    gram_matrix blocked-BLAS pattern generalized to A·B)."""
    a = a_long.select(F.col("row").alias("i"), F.col("col").alias("k"), F.col("value").alias("a"))
    b = b_long.select(F.col("row").alias("k"), F.col("col").alias("j"), F.col("value").alias("b"))
    return (
        a.join(b, "k")
        .groupBy("i", "j")
        .agg(F.sum(F.col("a") * F.col("b")).alias("value"))
        .select(F.col("i").alias("row"), F.col("j").alias("col"), "value")
    )


def dense_gemm(
    a_long: DataFrame,
    b_long: DataFrame,
    row_block: int = 256,
    col_block: int = 256,
) -> DataFrame:
    """Dense GEMM as block-partitioned BLAS: C = A·B with one dgemm per
    (row-block, col-block) output tile (the cuBLAS analogue of
    linalg/gemm.cuh:51 — the physical strategy gram_matrix/_partial_topk
    already use, generalized from XᵀX to A·B).

    Plan shape: A's long-form entries are replicated once per COLUMN
    block of B (⌈n/col_block⌉×) and B's once per ROW block of A — block-
    level replication, versus the join-agg plan's per-SCALAR-product
    blowup (each A entry × n rows). One applyInPandas group per output
    tile scatters its slice of A (row_block×K) and B (K×col_block) into
    dense arrays and runs a single BLAS dgemm; no post-aggregation —
    the group holds the full contraction axis, so the tile is final.
    Shuffle volume: |A|·n/col_block + |B|·m/row_block + m·n output rows,
    vs m·n·K intermediate rows for join-agg — at 2k³ that is ~80× less.
    Tiles are independent ⇒ scales with executors; per-task memory is
    O(row_block·K + K·col_block) doubles, bounded by the block sizes.
    """
    import numpy as np
    import pandas as pd

    a = a_long.select(
        F.col("row").cast("long").alias("row"),
        F.col("col").cast("long").alias("col"),
        F.col("value").cast("double").alias("value"),
        (F.col("row").cast("long") / row_block).cast("long").alias("ri"),
    )
    b = b_long.select(
        F.col("row").cast("long").alias("row"),
        F.col("col").cast("long").alias("col"),
        F.col("value").cast("double").alias("value"),
        (F.col("col").cast("long") / col_block).cast("long").alias("cj"),
    )
    # the block-id dimension tables are tiny (⌈m/rb⌉, ⌈n/cb⌉ rows) —
    # broadcast them so replication is a map-side nested loop over a
    # handful of ids, never a shuffle
    cjs = F.broadcast(b.select("cj").distinct())
    ris = F.broadcast(a.select("ri").distinct())
    aexp = a.crossJoin(cjs).select(
        "ri", "cj", F.lit(0).alias("_side"), "row", "col", "value"
    )
    bexp = b.crossJoin(ris).select(
        "ri", "cj", F.lit(1).alias("_side"), "row", "col", "value"
    )

    def tile(key, pdf: pd.DataFrame):
        asub = pdf[pdf["_side"] == 0]
        bsub = pdf[pdf["_side"] == 1]
        if len(asub) == 0 or len(bsub) == 0:
            return pd.DataFrame({"row": [], "col": [], "value": []}).astype(
                {"row": "int64", "col": "int64", "value": "float64"}
            )
        arows = np.sort(asub["row"].unique())
        bcols = np.sort(bsub["col"].unique())
        # shared contraction axis: index k by its global id over the
        # union seen in this tile (absent k contribute zero anyway)
        ks = np.union1d(asub["col"].unique(), bsub["row"].unique())
        kinv = {int(v): i for i, v in enumerate(ks)}
        rinv = {int(v): i for i, v in enumerate(arows)}
        cinv = {int(v): i for i, v in enumerate(bcols)}
        # summed scatter (bincount over linearized indices), not fancy-
        # index assignment: duplicate (row, col) entries (COO-style
        # input) must SUM — assignment is last-write-wins and would
        # silently diverge from the join-agg gemm plan on the same input
        def scatter_sum(ridx, cidx, vals, nr, nc):
            lin = ridx.astype(np.int64) * nc + cidx.astype(np.int64)
            return np.bincount(lin, weights=vals, minlength=nr * nc).reshape(nr, nc)

        am = scatter_sum(
            asub["row"].map(rinv).to_numpy(), asub["col"].map(kinv).to_numpy(),
            asub["value"].to_numpy(), len(arows), len(ks),
        )
        bm = scatter_sum(
            bsub["row"].map(kinv).to_numpy(), bsub["col"].map(cinv).to_numpy(),
            bsub["value"].to_numpy(), len(ks), len(bcols),
        )
        cm = am @ bm  # the one BLAS call per tile
        rr, cc = np.meshgrid(arows, bcols, indexing="ij")
        return pd.DataFrame(
            {"row": rr.ravel(), "col": cc.ravel(), "value": cm.ravel()}
        )

    return (
        aexp.unionByName(bexp)
        .groupBy("ri", "cj")
        .applyInPandas(tile, "row long, col long, value double")
    )


# ---------------------------------------------------------------------------
# labels (label/classlabels.cuh)
# ---------------------------------------------------------------------------

def make_monotonic(df: DataFrame, label_col: str = "label") -> DataFrame:
    """Relabel arbitrary labels to dense 0..k-1 (label/classlabels.cuh:81).

    dense_rank over the distinct label set — the rank table is k rows,
    broadcast back; the big table never sorts globally.
    """
    distinct = df.select(label_col).distinct()
    ranked = distinct.withColumn(
        "_mono",
        (F.dense_rank().over(Window.orderBy(label_col)) - 1).cast("long"),
    )
    return df.join(F.broadcast(ranked), label_col)


def get_unique_labels(df: DataFrame, label_col: str = "label") -> DataFrame:
    """label/classlabels.cuh:55 getUniquelabels."""
    return df.select(label_col).distinct()


def binarize_ovr(df: DataFrame, label_col: str, positive) -> DataFrame:
    """One-vs-rest binarization (label/classlabels.cuh getOvrlabels)."""
    return df.withColumn(
        "ovr", (F.col(label_col) == F.lit(positive)).cast("int")
    )


# ---------------------------------------------------------------------------
# sparse pairwise distances (the reference's sparse distance family —
# migrated to cuVS in this snapshot, README.md:126-148)
# ---------------------------------------------------------------------------

#: bigger = closer; everything else in _SPARSE_METRICS is a distance
_SPARSE_SIMILARITIES = frozenset({"inner", "cosine", "overlap"})
_SPARSE_METRICS = _SPARSE_SIMILARITIES | {"sqeuclidean", "jaccard", "dice"}


def _sparse_finish(
    pairs: DataFrame,
    norms_a: DataFrame,
    norms_b: DataFrame,
    metric: str,
    threshold: float | None,
) -> DataFrame:
    """Shared tail of sparse_pairwise / sparse_lookup: metric value
    from (_ip, _shared) + the two norm frames, rounding, and the
    threshold cut — ONE formula table so the self-join and the
    persisted-index lookup can never disagree on a metric."""
    if threshold is not None and metric == "sqeuclidean":
        # the inverted-index join only generates CO-OCCURRING pairs, but
        # a zero-overlap pair has a finite sqeuclidean distance
        # (||a||²+||b||²) that can satisfy the cut — so 'all pairs with
        # dist ≤ t' is NOT what this operator can deliver. Reject rather
        # than silently under-return; callers wanting the co-occurring
        # subset thresholded can filter the unthresholded output.
        raise ValueError(
            "threshold with metric='sqeuclidean' would silently omit "
            "zero-overlap pairs whose true distance (||a||^2+||b||^2) "
            "satisfies the cut; filter the unthresholded output instead"
        )

    def _cut(out: DataFrame) -> DataFrame:
        if threshold is None:
            return out
        if metric in _SPARSE_SIMILARITIES:
            return out.filter(F.col("dist") >= threshold)
        return out.filter(F.col("dist") <= threshold)  # distances

    if metric == "inner":
        return _cut(pairs.select("a", "b", F.round("_ip", 6).alias("dist")))
    na = norms_a.select(F.col("row").alias("a"), F.col("_nn").alias("_nna"),
                        F.col("_nz").alias("_nza"))
    nb = norms_b.select(F.col("row").alias("b"), F.col("_nn").alias("_nnb"),
                        F.col("_nz").alias("_nzb"))
    j = pairs.join(na, "a").join(nb, "b")
    if metric == "cosine":
        d = F.col("_ip") / F.sqrt(F.col("_nna") * F.col("_nnb"))
    elif metric == "sqeuclidean":
        d = F.col("_nna") + F.col("_nnb") - 2 * F.col("_ip")
    elif metric == "jaccard":  # distance: 1 − |∩|/|∪|
        d = F.lit(1.0) - F.col("_shared") / (
            F.col("_nza") + F.col("_nzb") - F.col("_shared"))
    elif metric == "dice":  # distance: 1 − 2|∩|/(|a|+|b|)
        d = F.lit(1.0) - 2 * F.col("_shared") / (
            F.col("_nza") + F.col("_nzb"))
    else:  # overlap similarity
        d = F.col("_shared") / F.least("_nza", "_nzb")
    return _cut(j.select("a", "b", F.round(d, 6).alias("dist")))


def sparse_pairwise(
    coo: DataFrame,
    metric: str = "cosine",
    max_col_df: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Pairwise similarity/distance between sparse rows in long form →
    (a, b, dist), a < b, over pairs sharing ≥1 column.

    THE sparse-vectors-at-scale shape: instead of materializing dense
    arrays, the product is an inverted-index self-join on ``col`` —
    only co-occurring row pairs are ever generated, so cost is
    Σ_col df(col)² (the true support of the result), not n². Rows with
    no shared column are omitted: for cosine/inner/jaccard their value
    is the 0 a sparse engine never stores; for sqeuclidean callers
    needing absent pairs add ||a||²+||b||² from the norms frame.

    ``max_col_df`` drops columns occurring in more rows than the cap
    before the join — the stop-shingle discipline of the dedup family:
    a degenerate hot column (a stopword term) contributes df² pairs and
    ~0 information. Explicit opt-in, off by default (exactness first).

    ``threshold`` bounds the OUTPUT (the result-shuffle write, the
    dominant cost when the support is large): similarity metrics keep
    dist ≥ threshold, distances keep dist ≤ threshold. The pair
    generation itself is still Σ df(col)² — thresholds can't prune an
    inverted-index join below its support; cap hot columns for that.
    REJECTED for ``sqeuclidean``: zero-overlap pairs (never generated
    here) have finite distance ||a||²+||b||² that can satisfy the cut,
    so 'all pairs with dist ≤ t' would silently under-return — filter
    the unthresholded output if the co-occurring subset is what you
    want.

    Metrics — CONVENTIONS MATCH the dense ``similarity._METRICS``
    table: inner / cosine / overlap are SIMILARITIES (bigger =
    closer); sqeuclidean (exact: non-shared coordinates enter through
    the row norms) and jaccard / dice (DISTANCES, 1 − the set
    similarity over the column-support sets) are distances — so a
    caller moving a corpus between the dense and sparse paths under
    the same metric name gets the same orientation.

    Duplicate (row, col) entries must be pre-reduced
    (:func:`max_duplicates`); this is asserted cheaply via groupBy
    count upstream in tests, not here (a full-pass assert would double
    the scan).
    """
    if metric not in _SPARSE_METRICS:
        raise ValueError(f"unknown sparse metric {metric!r}; "
                         f"one of {sorted(_SPARSE_METRICS)}")
    base = coo.select("row", "col", "value")
    if max_col_df is not None:
        keep = (base.groupBy("col").count()
                .filter(F.col("count") <= max_col_df).select("col"))
        base = base.join(keep, "col")
    lhs = base.select(F.col("row").alias("a"), "col",
                      F.col("value").alias("_va"))
    rhs = base.select(F.col("row").alias("b"), "col",
                      F.col("value").alias("_vb"))
    pairs = (
        lhs.join(rhs, "col")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.sum(F.col("_va") * F.col("_vb")).alias("_ip"),
            F.count("*").alias("_shared"),
        )
    )
    norms = base.groupBy("row").agg(
        F.sum(F.col("value") * F.col("value")).alias("_nn"),
        F.count("*").alias("_nz"),
    )
    return _sparse_finish(pairs, norms, norms, metric, threshold)


# postings-index store schemas (data columns in file order, partition
# columns last). write_postings/postings_add pin these types at write,
# so every reader can skip Spark's per-read schema-inference job. A
# pre-r13 store written from un-cast caller columns reads through the
# widening path (int32 -> long is a legal parquet promotion) or fails
# loudly — never silently wrong.
_POSTINGS_SCHEMA = "col long, row long, value double, _dv long, _shard long"
_NORMS_SCHEMA = "row long, _nn double, _nz long, _dv long"


def write_postings(coo: DataFrame, path: str, n_shards: int = 64) -> None:
    """Persist a sparse corpus as an inverted index for delta lookup:
    ``<path>/postings`` holds (col, row, value) partitioned by
    ``_shard = pmod(xxhash64(col), n_shards)`` (raw ``col`` as the
    partition key would mint one directory per distinct column —
    millions; a shard keeps directory count fixed while still letting
    a probe batch PRUNE to the shards its columns hash into), and
    ``<path>/norms`` holds the (row, _nn, _nz) sidecar so lookups never
    rescan the corpus for norms. The write is one narrow pass each.

    The batch/streaming delta twin of :func:`sparse_pairwise` — the
    persisted-state ingest discipline of the dedup family
    (band_table / write_semantic_index). The build writes everything
    under the ``_dv=0`` base delivery and a ``[0]`` commits ledger —
    the manifest-commit layout every later :func:`postings_add`
    delivery extends (see :mod:`raft_spark.operators.statestore`).
    """
    zero = F.lit(0).alias("_dv")
    # explicit casts pin the STORE TYPES (long ids, double values) so
    # every later read can carry the known schema instead of paying a
    # schema-inference job — the types join n_shards as index format
    coo = coo.select(
        F.col("col").cast("long").alias("col"),
        F.col("row").cast("long").alias("row"),
        F.col("value").cast("double").alias("value"),
    )
    coo.select(
        zero, "col", "row", "value",
        F.pmod(F.xxhash64("col"), F.lit(n_shards)).alias("_shard"),
    ).write.mode("overwrite").partitionBy("_dv", "_shard") \
        .parquet(f"{path}/postings")
    coo.groupBy("row").agg(
        F.sum(F.col("value") * F.col("value")).alias("_nn"),
        F.count("*").alias("_nz"),
    ).select(zero, "row", "_nn", "_nz") \
        .write.mode("overwrite").partitionBy("_dv").parquet(f"{path}/norms")
    # persist the shard modulus WITH the index: a reader hashing with a
    # different n_shards would silently exclude every posting stored
    # under a shard id outside its range — the modulus is part of the
    # index format, not a tuning knob of the call
    # driver-side sidecar write (pyarrow): one row of metadata does not
    # need a scheduled Spark job
    SS.write_meta(path, {"n_shards": int(n_shards)})
    SS.reset_ledger(coo.sparkSession, path, [0])


def _postings_n_shards(spark, path: str) -> int:
    meta = SS.read_meta(path)
    if meta is None:
        raise FileNotFoundError(f"{path}/meta: postings index sidecar missing")
    return int(meta["n_shards"])


def postings_add(new_coo: DataFrame, path: str) -> None:
    """APPEND a delta corpus into a persisted postings index — O(delta)
    IO into the shard partitions plus a norms append (the ivf_pq_
    index_add discipline: never rewrite the corpus per delivery). The
    shard modulus comes from the index's own meta sidecar (a caller-
    supplied value that disagreed with the build would scatter the
    delta into unreachable shards).
    REPLAY-safe (the ivf_pq_index_add discipline): delta row ids
    already present in the index are anti-joined out against the norms
    sidecar (one row per corpus row — the cheap id registry), so
    at-least-once redelivery can never double-count _ip/_shared or
    duplicate norm rows.

    CRASH-ATOMIC (r12, manifest commit): the two store appends land
    under one ``_dv=<delivery id>`` partition and the id is published
    LAST to the index's ``commits`` ledger; every reader (this
    anti-join, :func:`sparse_lookup`, :func:`compact_postings`)
    restricts its scan to published deliveries. A crash between the
    two appends leaves the delivery invisible, and — because the
    replay anti-join only sees committed norm rows — the retry
    re-appends it in full under a new id; no double-count window
    remains (same protocol as dedup_state_ingest)."""
    spark = new_coo.sparkSession
    if _postings_add_driver(new_coo, path):
        return
    n_shards = _postings_n_shards(spark, path)
    committed = SS.adopt_commit_ledger(spark, path, ("postings", "norms"))
    delta = (
        new_coo.select(
            F.col("row").cast("long").alias("row"),
            F.col("col").cast("long").alias("col"),
            F.col("value").cast("double").alias("value"),
        )
        .join(SS.visible(
            spark.read.schema(_NORMS_SCHEMA).parquet(f"{path}/norms"),
            committed).select("row"),
              "row", "left_anti")
        .localCheckpoint(eager=True)  # materialize BEFORE appending to
        # the norms store the anti-join reads
    )
    # small deliveries take append_store's driver-side Arrow path (no
    # Spark committer staging per append) — the dedup-family discipline
    small = delta.count() < 1_000_000
    dv = SS.new_delivery_id()
    tag = F.lit(dv).alias("_dv")
    SS.append_store(
        delta.select(
            tag, "col", "row", "value",
            F.pmod(F.xxhash64("col"), F.lit(n_shards)).alias("_shard"),
        ),
        f"{path}/postings", ("_dv", "_shard"), small=small,
        sort_by=("col", "row"),
    )
    SS.append_store(
        delta.groupBy("row").agg(
            F.sum(F.col("value") * F.col("value")).alias("_nn"),
            F.count("*").alias("_nz"),
        ).select(tag, "row", "_nn", "_nz"),
        f"{path}/norms", ("_dv",), small=small,
    )
    SS.publish_commit(spark, path, dv)  # THE commit point


# driver-path cap on the delta's coo rows (~32 bytes each)
_DRIVER_DELTA_NNZ = 1_000_000


def _postings_add_driver(new_coo: DataFrame, path: str) -> bool:
    """Driver-side rendering of one SMALL postings delivery into a
    DRIVER-SIZED index — the dedup-family discipline: ONE Spark job
    collects the cast delta (row, col, value, _shard — the same
    expressions as the distributed path), the replay anti-join and the
    norms aggregate run driver-side, both appends ride the same
    append_store seam in the same order. Returns False to fall back to
    the distributed path. (The _nn double sums are order-sensitive in
    the last ulp on EITHER path — Spark's partial aggregation order is
    itself nondeterministic — so norm bytes are not pinned across
    paths; every consumer rounds.)"""
    spark = new_coo.sparkSession
    import os

    for s in ("postings", "norms"):
        if not os.path.isdir(path + "/" + s):
            return False  # distributed path raises on the missing store
        if SS.store_row_count(path + "/" + s) >= SS.SMALL_STORE_ROWS:
            return False
    n_shards = _postings_n_shards(spark, path)
    committed = SS.adopt_commit_ledger(spark, path, ("postings", "norms"))
    probe = new_coo.select(
        F.col("row").cast("long").alias("row"),
        F.col("col").cast("long").alias("col"),
        F.col("value").cast("double").alias("value"),
    ).select(
        "row", "col", "value",
        F.pmod(F.xxhash64("col"), F.lit(n_shards)).alias("_shard"),
    )
    t = SS.collect_capped(probe, _DRIVER_DELTA_NNZ)
    if t is None:
        return False
    import pyarrow as pa

    keep = SS.replay_keep(path + "/norms", committed,
                          t.column("row").to_pylist(), "row")
    if keep is not None:
        t = t.take(pa.array(keep, pa.int64()))
    rows = t.column("row").to_pylist()
    if any(r is None for r in rows):
        return False  # null row ids: sorted(nz) below would compare
        # None with int; the distributed groupBy('row') tolerates them
        # and writes a null-row norm row — keep that shape there (the
        # null/duplicate-id gate discipline of the dedup driver paths)
    nn: dict = {}
    nz: dict = {}
    for r, v in zip(rows, t.column("value").to_pylist()):
        nz[r] = nz.get(r, 0) + 1
        if v is not None:  # Spark sum skips nulls, count does not
            nn[r] = nn.get(r, 0.0) + v * v
    rkeys = sorted(nz)
    SS.commit_delivery(spark, path, [
        ("postings", {"_shard": t.column("_shard"), "col": t.column("col"),
                      "row": t.column("row"), "value": t.column("value")},
         ("_shard",), ("col", "row")),
        ("norms", {"row": pa.array(rkeys, pa.int64()),
                   "_nn": pa.array([nn.get(r) for r in rkeys], pa.float64()),
                   "_nz": pa.array([nz[r] for r in rkeys], pa.int64())},
         (), ()),
    ])
    return True


def compact_postings(spark, path: str) -> int:
    """Compact a delta-extended postings index: every
    :func:`postings_add` appends one file set per shard directory, so
    after many deliveries each shard is a pile of small files (the same
    small-file tax compact_dedup_state documents). Rewrites postings
    one sorted file set per shard and norms coalesced — content
    identical over the COMMITTED rows (crashed-delivery orphans are
    garbage-collected here), collapsed to ``_dv=0`` with the ledger
    reset last; each store staged to a ``.__new`` sibling and swapped
    by rename, so no crash window destroys the index. The shard modulus
    sidecar is untouched. Returns the postings row count."""
    committed = SS.committed_ids(spark, path)
    if committed is None or 0 not in committed:
        SS.publish_commit(spark, path, 0)
    zero = F.lit(0).alias("_dv")
    postings = SS.visible(
        spark.read.schema(_POSTINGS_SCHEMA).parquet(f"{path}/postings"),
        committed,
    )
    n_postings = SS.compact_leg(
        f"{path}/postings",
        postings.select(zero, "_shard", "col", "row", "value"),
        ("_dv", "_shard"), sort_by=("col", "row"),
        shape=lambda o: o.repartition("_shard")
        .sortWithinPartitions("col", "row"),
    )
    n_par = max(1, spark.sparkContext.defaultParallelism // 8)
    SS.compact_leg(
        f"{path}/norms",
        SS.visible(
            spark.read.schema(_NORMS_SCHEMA).parquet(f"{path}/norms"),
            committed,
        ).select(zero, "row", "_nn", "_nz"),
        ("_dv",), shape=lambda o: o.coalesce(n_par),
    )
    SS.reset_ledger(spark, path, [0])
    return n_postings


def sparse_lookup(
    new_coo: DataFrame,
    spark,
    path: str,
    metric: str = "cosine",
    threshold: float | None = None,
    max_col_df: int | None = None,
) -> DataFrame:
    """Score a NEW batch of sparse rows against a persisted postings
    index → (a = batch row, b = corpus row, dist) without rescanning
    the corpus: the batch's distinct columns hash to a shard list
    (small driver collect — bounded by the index's shard count) and
    the postings scan prunes to those partitions, so IO is
    proportional to the TOUCHED slice of the index, not the corpus.
    The shard modulus is read from the index's meta sidecar (see
    :func:`write_postings`). Same metrics, conventions and semantics
    as :func:`sparse_pairwise` (rectangular: batch × corpus; batch and
    corpus row-id spaces are disjoint by contract).

    ``max_col_df`` applies the stop-column discipline AT LOOKUP TIME,
    scoped to the COLUMNS THE BATCH TOUCHES: the document frequency of
    each touched column is counted over the pruned postings slice
    (+ the batch's own contribution) and touched columns above the cap
    leave the join — and BOTH norm sides are adjusted to that capped
    column set, so surviving pairs keep exact metric values over the
    remaining TOUCHED columns: batch norms are recomputed from the
    col-filtered batch, and corpus norms subtract the capped touched
    columns' contributions, which is exact because every posting of a
    column lives in that column's hash shard and every capped touched
    column's shard is inside the pruned slice. A corpus row's over-cap
    column the batch never touches keeps its norm contribution (its df
    is never counted here), so values can differ from a from-scratch
    ``sparse_pairwise(batch ∪ corpus, max_col_df)`` — the lookup-time
    cap is a property of the probe, not a rewrite of the corpus-wide
    stop-column set. Cost: two extra aggs over the already-pruned
    slice, never the whole index.
    """
    if metric not in _SPARSE_METRICS:
        raise ValueError(f"unknown sparse metric {metric!r}; "
                         f"one of {sorted(_SPARSE_METRICS)}")
    n_shards = _postings_n_shards(spark, path)
    committed = SS.committed_ids(spark, path)
    batch = new_coo.select("row", "col", "value")
    # AQE off for the shard probe: partial aggregation collapses every
    # input partition to ≤n_shards rows before the exchange, so AQE's
    # per-stage jobs are pure overhead (the dedup-probe discipline)
    with SS._no_aqe(spark):
        shards = [
            r["_shard"] for r in batch.select(
                F.pmod(F.xxhash64("col"), F.lit(n_shards)).alias("_shard")
            ).distinct().collect()
        ]
    postings = (
        SS.visible(
            spark.read.schema(_POSTINGS_SCHEMA).parquet(f"{path}/postings"),
            committed,
        )
        .filter(F.col("_shard").isin(shards))  # partition pruning
        .select(F.col("row").alias("b"), "col", F.col("value").alias("_vb"))
    )
    lhs = batch.select(F.col("row").alias("a"), "col",
                       F.col("value").alias("_va"))
    corpus_norms = SS.visible(
        spark.read.schema(_NORMS_SCHEMA).parquet(f"{path}/norms"),
        committed).select("row", "_nn", "_nz")
    if max_col_df is not None:
        df_counts = (
            postings.groupBy("col").agg(F.count("*").alias("_dfp"))
            .join(batch.groupBy("col").agg(F.count("*").alias("_dfb")),
                  "col", "full")
            .select("col", (F.coalesce("_dfp", F.lit(0))
                            + F.coalesce("_dfb", F.lit(0))).alias("_df"))
            .localCheckpoint(eager=True)  # feeds 3 branches below
        )
        ok_cols = df_counts.filter(F.col("_df") <= max_col_df).select("col")
        capped_cols = df_counts.filter(F.col("_df") > max_col_df) \
            .select("col")
        # corpus norms over the SURVIVING columns: subtract each touched
        # row's capped-column contributions — exact over the pruned
        # slice, because all postings of a capped column live in its
        # (touched) shard
        cut = (
            postings.join(capped_cols, "col", "left_semi")
            .groupBy(F.col("b").alias("row")).agg(
                F.sum(F.col("_vb") * F.col("_vb")).alias("_nn_cut"),
                F.count("*").alias("_nz_cut"),
            )
        )
        corpus_norms = (
            corpus_norms.join(cut, "row", "left")
            .select(
                "row",
                (F.col("_nn") - F.coalesce("_nn_cut", F.lit(0.0)))
                .alias("_nn"),
                (F.col("_nz") - F.coalesce("_nz_cut", F.lit(0)))
                .alias("_nz"),
            )
        )
        lhs = lhs.join(ok_cols, "col", "left_semi")
        postings = postings.join(ok_cols, "col", "left_semi")
    pairs = lhs.join(postings, "col").groupBy("a", "b").agg(
        F.sum(F.col("_va") * F.col("_vb")).alias("_ip"),
        F.count("*").alias("_shared"),
    )
    # batch norms from the col-filtered batch (== the raw batch when no
    # cap is set), so the norm side agrees with the join side
    batch_norms = lhs.groupBy(F.col("a").alias("row")).agg(
        F.sum(F.col("_va") * F.col("_va")).alias("_nn"),
        F.count("*").alias("_nz"),
    )
    return _sparse_finish(pairs, batch_norms, corpus_norms, metric, threshold)
