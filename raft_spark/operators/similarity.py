"""Similarity search over embedding columns: brute-force cosine top-k
and LSH/IVF-bucketed approximate variants.

Extends the reference surface (neighbors/ANN migrated to cuVS in this
snapshot, README.md:126-148); the Spark re-derivation keeps the same
two-phase select_k shape as ``matrix/select_k.cuh`` on the score side.

Scale design (100 TB):
- Brute force is O(Q·N·d): exact baseline; right answer when Q is
  small (broadcast the queries, scan the corpus once, partial top-k
  per partition then merge — never a global sort).
- Random-hyperplane LSH buckets vectors once (one narrow pass), then
  joins only within buckets — candidate volume ∝ bucket occupancy.
  Multi-probe = more tables (stream index), not bigger buckets.
- IVF: k-means-ish coarse centroids via reduce_rows_by_key, probe the
  nprobe nearest lists. Same join shape as LSH with learned buckets.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from raft_spark.functions import arrays as A
from raft_spark.functions.rng import uniform
from raft_spark.operators import statestore as SS
from raft_spark.operators.selectk import select_k


def _norm_table(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("_id"),
        A.normalize(vec_col, "l2").alias("_v"),
    )


MAX_COLLECT_QUERIES = 20_000


def _resolve_scan_strategy(qn: DataFrame, strategy: str, limit: int):
    """ONE-JOB strategy resolution for the collected-query scans
    (:func:`_topk_scan`): a single bounded ``limit(n+1).collect()`` both
    PROBES the query-side size (strategy="auto" → numpy when it fits the
    Q≪N contract, expr otherwise) and DELIVERS the rows the numpy path
    ships as a closure. Returns (strategy, rows-or-None); rows is None
    exactly when the expr path was chosen. strategy="numpy" raises with
    a remedy on an oversized query side instead of silently OOMing the
    driver when handed a corpus-sized frame."""
    if strategy not in ("auto", "numpy", "expr"):
        raise ValueError(
            f"strategy {strategy!r} (one of 'auto', 'numpy', 'expr')")
    if strategy == "expr":
        return "expr", None
    rows = SS.collect_capped_rows(qn, limit)
    if rows is not None:
        return "numpy", rows
    if strategy == "numpy":
        raise ValueError(
            f"ANN query side exceeds the Q<<N contract ({limit} rows): "
            "batch the queries (or use knn_brute strategy='expr' for "
            "corpus-scale query sides)"
        )
    return "expr", None  # degrade gracefully, never OOM the driver


def _blocked_cross(
    left: DataFrame,
    right: DataFrame,
    symmetric: bool,
    n_blocks: int = 16,
    grouped: bool = False,
) -> DataFrame:
    """The blocked cross-product scaffold shared by every exact
    pairwise operator: each side gets a deterministic block id
    (hash mod n_blocks), the tiny block-pair table broadcasts, and two
    shuffle equi-joins realize the product with bounded task memory —
    never a BroadcastNestedLoopJoin or a full-table broadcast.

    ``left`` must have columns (a, _va); ``right`` (b, _vb). With
    ``symmetric`` the self-product is restricted to a < b (block-pair
    ordering + within-block id ordering; a pair whose blocks are
    unordered surfaces with ids swapped, so consumers should emit
    least/greatest if they need the canonical orientation).

    ``grouped``: both sides carry a ``_g`` column and the product is
    taken WITHIN groups (``_g`` joins alongside the block id) — the
    per-stratum pairwise (per-language near-dup, per-tenant
    similarity): cost Σ_g n_g², never (Σ n_g)², and a hot group still
    spreads over the block grid instead of one task.
    """
    spark = left.sparkSession
    lb = left.withColumn(
        "_ba", F.pmod(F.xxhash64(F.col("a")), F.lit(n_blocks))
    )
    rb = right.withColumn(
        "_bb", F.pmod(F.xxhash64(F.col("b")), F.lit(n_blocks))
    )
    blocks = spark.range(n_blocks * n_blocks).select(
        (F.col("id") / n_blocks).cast("long").alias("_ba"),
        (F.col("id") % n_blocks).alias("_bb"),
    )
    if symmetric:
        blocks = blocks.filter(F.col("_ba") <= F.col("_bb"))
    cand = lb.join(F.broadcast(blocks), "_ba").join(
        rb, ["_bb", "_g"] if grouped else "_bb"
    )
    if symmetric:
        cand = cand.filter(
            (F.col("_ba") < F.col("_bb"))
            | ((F.col("_ba") == F.col("_bb")) & (F.col("a") < F.col("b")))
        )
    return cand


def cosine_pairs(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "features",
    min_cosine: float = 0.8,
    n_blocks: int = 16,
) -> DataFrame:
    """EXACT all pairs (a < b) with cosine ≥ threshold — embedding
    near-dup.

    Exact pairwise is inherently O(n²) work, so the scale question is
    execution shape, not asymptotics: the naive ``a < b`` theta-join
    compiles to a BroadcastNestedLoopJoin (one side fully broadcast —
    dies when the table outgrows the driver). Here the product is
    realized as the classic BLOCKED matrix: each vector is assigned a
    deterministic block (hash mod n_blocks), the n_blocks(n_blocks+1)/2
    block PAIRS form a tiny broadcast table, and two shuffle equi-joins
    materialize exactly the (a, b) candidates of each block pair — so
    work is spread over block-pair tasks with bounded memory and no
    full-table broadcast. For sub-quadratic candidates accept
    approximate recall and use knn_lsh/knn_ivf instead.
    """
    n = _norm_table(df, id_col, vec_col)
    cand = _blocked_cross(
        n.select(F.col("_id").alias("a"), F.col("_v").alias("_va")),
        n.select(F.col("_id").alias("b"), F.col("_v").alias("_vb")),
        symmetric=True, n_blocks=n_blocks,
    )
    cos = F.round(A.dot("_va", "_vb"), 6)
    return cand.select(
        F.least("a", "b").alias("a"),
        F.greatest("a", "b").alias("b"),
        cos.alias("cosine"),
    ).filter(F.col("cosine") >= min_cosine)


def _zsum(a, b, f):
    """Σᵢ f(aᵢ, bᵢ) as one JVM higher-order expression (whole-stage
    codegen; no Python in the loop)."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), f), F.lit(0.0), lambda acc, v: acc + v
    )


def _correlation_dist(a, b):
    # 1 − Pearson corr, from five Σ-aggregates + n (single expression;
    # Catalyst CSEs the repeated size()). Contract: non-constant vectors.
    n = F.size(F.col(a)).cast("double")
    sx = F.aggregate(F.col(a), F.lit(0.0), lambda acc, v: acc + v)
    sy = F.aggregate(F.col(b), F.lit(0.0), lambda acc, v: acc + v)
    sxx = _zsum(a, a, lambda x, y: x * y)
    syy = _zsum(b, b, lambda x, y: x * y)
    sxy = _zsum(a, b, lambda x, y: x * y)
    num = sxy - sx * sy / n
    den = F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
    return F.lit(1.0) - num / den


def _jensenshannon(a, b):
    # √(½·KL(x‖m) + ½·KL(y‖m)), m=(x+y)/2; 0·log0 terms drop (x=0 or
    # y=0 contributes only the other side's term). Nonneg contract.
    def _term(x, y):
        m = (x + y) / F.lit(2.0)
        return (
            F.when(x > 0, x * F.log(x / m)).otherwise(F.lit(0.0))
            + F.when(y > 0, y * F.log(y / m)).otherwise(F.lit(0.0))
        )

    return F.sqrt(F.greatest(F.lit(0.0), F.lit(0.5) * _zsum(a, b, _term)))


def _minkowski(p: float):
    pc = F.lit(float(p))
    return lambda a, b: F.pow(
        _zsum(a, b, lambda x, y: F.pow(F.abs(x - y), pc)), F.lit(1.0) / pc
    )


_METRICS = {
    # similarities (descending = closer)
    "inner": lambda a, b: A.dot(a, b),
    "cosine": lambda a, b: A.cosine_similarity(a, b),
    # distances (ascending = closer) — the reference's pairwise metric
    # family (distance namespace, migrated to cuVS in this snapshot,
    # README.md:126-148); scipy-standard formulas, each ONE JVM
    # higher-order expression over the zipped arrays
    "sqeuclidean": lambda a, b: F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v,
    ),
    "l2": lambda a, b: F.sqrt(_METRICS["sqeuclidean"](a, b)),
    "l1": lambda a, b: F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: F.abs(x - y)),
        F.lit(0.0), lambda acc, v: acc + v,
    ),
    # Linf / Chebyshev: max |x−y|
    "chebyshev": lambda a, b: F.array_max(
        F.zip_with(F.col(a), F.col(b), lambda x, y: F.abs(x - y))
    ),
    # Σ |x−y|/(|x|+|y|), 0/0 → 0
    "canberra": lambda a, b: _zsum(
        a, b,
        lambda x, y: F.when(
            F.abs(x) + F.abs(y) > 0, F.abs(x - y) / (F.abs(x) + F.abs(y))
        ).otherwise(F.lit(0.0)),
    ),
    # Σ|x−y| / Σ|x+y|
    "braycurtis": lambda a, b: _zsum(a, b, lambda x, y: F.abs(x - y))
    / _zsum(a, b, lambda x, y: F.abs(x + y)),
    # fraction of unequal coordinates
    "hamming": lambda a, b: _zsum(
        a, b, lambda x, y: F.when(x != y, F.lit(1.0)).otherwise(F.lit(0.0))
    ) / F.size(F.col(a)).cast("double"),
    # expanded Jaccard distance 1 − a·b/(‖a‖²+‖b‖²−a·b); on 0/1
    # vectors this IS set-Jaccard
    "jaccard": lambda a, b: F.lit(1.0)
    - A.dot(a, b)
    / (_zsum(a, a, lambda x, y: x * y) + _zsum(b, b, lambda x, y: x * y)
       - A.dot(a, b)),
    # √(1 − Σ√(x·y)) — nonneg contract; clamped at 0 for float noise
    "hellinger": lambda a, b: F.sqrt(
        F.greatest(
            F.lit(0.0),
            F.lit(1.0) - _zsum(a, b, lambda x, y: F.sqrt(x * y)),
        )
    ),
    # Σ_{x>0} x·ln(x/y) — contract: y>0 wherever x>0
    "kl_divergence": lambda a, b: _zsum(
        a, b,
        lambda x, y: F.when(x > 0, x * F.log(x / y)).otherwise(F.lit(0.0)),
    ),
    "jensenshannon": _jensenshannon,
    "correlation": _correlation_dist,
    # great-circle distance on the unit sphere over 2-element
    # [lat, lon] radian vectors (scale by radius outside)
    "haversine": lambda a, b: F.lit(2.0) * F.asin(F.sqrt(
        F.pow(F.sin((F.element_at(F.col(a), 1)
                     - F.element_at(F.col(b), 1)) / 2), 2)
        + F.cos(F.element_at(F.col(a), 1)) * F.cos(F.element_at(F.col(b), 1))
        * F.pow(F.sin((F.element_at(F.col(a), 2)
                       - F.element_at(F.col(b), 2)) / 2), 2)
    )),
    # binary-vector set metrics (x≠0 is membership): Russell–Rao
    # (n − |x∩y|)/n, Dice 1 − 2|x∩y|/(|x|+|y|)
    "russellrao": lambda a, b: (
        F.size(F.col(a)).cast("double")
        - _zsum(a, b, lambda x, y: F.when((x != 0) & (y != 0),
                                          F.lit(1.0)).otherwise(F.lit(0.0)))
    ) / F.size(F.col(a)).cast("double"),
    "dice": lambda a, b: F.lit(1.0)
    - F.lit(2.0)
    * _zsum(a, b, lambda x, y: F.when((x != 0) & (y != 0),
                                      F.lit(1.0)).otherwise(F.lit(0.0)))
    / (
        F.aggregate(F.col(a), F.lit(0.0),
                    lambda acc, v: acc + F.when(v != 0, F.lit(1.0))
                    .otherwise(F.lit(0.0)))
        + F.aggregate(F.col(b), F.lit(0.0),
                      lambda acc, v: acc + F.when(v != 0, F.lit(1.0))
                      .otherwise(F.lit(0.0)))
    ),
}

#: metrics where SMALLER means closer (knn/refine order ascending)
DISTANCE_METRICS = frozenset(_METRICS) - {"inner", "cosine"}

#: true symmetric distances — what neighborhood/linkage algorithms may
#: use: kl_divergence is ASYMMETRIC (dbscan edges would flip with id
#: assignment), correlation degenerates on near-constant vectors
#: (den→0 gives rounding-noise-signed huge values)
SYMMETRIC_DISTANCES = DISTANCE_METRICS - {"kl_divergence", "correlation"}


def _resolve_metric(metric: str, p: float | None = None):
    """Shared metric resolution → (column fn, ascending): the ONE
    place the name→expression table and the similarity-vs-distance
    ordering decision live (previously copy-pasted at three call
    sites, each phrasing `ascending` differently)."""
    if metric == "minkowski":
        if p is None:
            raise ValueError("metric='minkowski' requires p")
        return _minkowski(p), True
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of "
                         f"{sorted(_METRICS) + ['minkowski']}")
    return _METRICS[metric], metric not in ("inner", "cosine")


def pairwise_distances(
    left: DataFrame,
    right: DataFrame | None = None,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "features",
    n_blocks: int = 16,
    p: float | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """All-pairs distance/similarity table → (a, b, dist) — the
    reference's pairwise-distance family (distance namespace; moved to
    cuVS in this snapshot) over the blocked-join execution shape of
    :func:`cosine_pairs`: both sides get a deterministic block id, the
    block-pair table broadcasts, and two shuffle equi-joins realize the
    product with bounded task memory — never a BroadcastNestedLoopJoin.

    With ``right=None`` computes the symmetric self-product (a < b).
    Metrics: the full family — l2, sqeuclidean, l1, chebyshev,
    canberra, braycurtis, hamming, jaccard, hellinger, kl_divergence,
    jensenshannon, correlation, russellrao, dice, minkowski (pass
    ``p``), cosine, inner. O(n·m) work is inherent — this is the
    exact-computation primitive; use the knn_* tiers when a shortlist
    is enough.

    ``group_cols`` restricts pairs to rows agreeing on those columns
    (per-language near-dup, per-tenant similarity) and prepends them
    to the output → (group_cols…, a, b, dist). Work drops from
    (Σ n_g)² to Σ n_g², and the group key joins ALONGSIDE the block
    id, so a hot group still spreads over the block grid instead of
    one task. Group names may not collide with the output columns
    ('a', 'b', 'dist' — rejected). NULL-group semantics: the group key
    joins as a struct, and struct equality is null-safe, so rows whose
    group columns are all NULL pair with each other (NULL is one group,
    not excluded) — filter them upstream if NULL means 'ungrouped'.
    """
    if group_cols:
        bad = sorted(set(group_cols) & {"a", "b", "dist"})
        if bad:
            raise ValueError(
                f"group_cols {bad} collide with the output columns "
                "(a, b, dist); alias them before calling"
            )
    mfn, _ = _resolve_metric(metric, p)
    symmetric = right is None
    right = left if right is None else right
    grouped = bool(group_cols)
    gexpr = F.struct(*group_cols) if grouped else None

    def _side(df, id_alias, vec_alias):
        cols = [F.col(id_col).alias(id_alias), F.col(vec_col).alias(vec_alias)]
        if grouped:
            cols.append(gexpr.alias("_g"))
        return df.select(*cols)

    cand = _blocked_cross(
        _side(left, "a", "_va"), _side(right, "b", "_vb"),
        symmetric=symmetric, n_blocks=n_blocks, grouped=grouped,
    )
    if symmetric:
        # canonicalize to a ≤ b AND swap the vectors with the ids, so
        # asymmetric metrics (kl_divergence) always measure
        # metric(v_min_id ‖ v_max_id) — id-deterministic, not
        # block-orientation-dependent
        swap = F.col("a") > F.col("b")
        keep = ["_g"] if grouped else []
        cand = cand.select(
            *keep,
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"),
            F.when(swap, F.col("_vb")).otherwise(F.col("_va")).alias("_va"),
            F.when(swap, F.col("_va")).otherwise(F.col("_vb")).alias("_vb"),
        )
    d = F.round(mfn("_va", "_vb"), 6)
    if grouped:
        return cand.select(
            *[F.col("_g")[c].alias(c) for c in group_cols],
            "a", "b", d.alias("dist"),
        )
    return cand.select("a", "b", d.alias("dist"))


def knn_metric(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "features",
    n_blocks: int = 16,
    p: float | None = None,
) -> DataFrame:
    """Exact top-k under ANY metric of the pairwise family → (qid,
    nid, dist, rank): the metric-general face of knn_brute (whose
    numpy/BLAS fast path is cosine-specialized). Rectangular blocked
    product (bounded task memory, no BroadcastNestedLoopJoin) +
    bounded two-phase select_k; distances rank ascending, similarities
    descending, nid tie-break. O(Q·N·d) — exact by construction; pair
    with an index tier + :func:`knn_refine` when a shortlist is
    enough.
    """
    _, ascending = _resolve_metric(metric, p)
    d = pairwise_distances(
        queries, corpus, metric=metric, id_col=id_col, vec_col=vec_col,
        n_blocks=n_blocks, p=p,
    ).filter(F.col("a") != F.col("b")).select(
        F.col("a").alias("qid"), F.col("b").alias("nid"), "dist"
    )
    return select_k(
        d, group_cols=["qid"], order_col="dist", k=k,
        ascending=ascending, payload_cols=["nid"],
    )


def knn_refine(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "features",
    p: float | None = None,
) -> DataFrame:
    """Exact re-rank of an ANN candidate shortlist → (qid, nid, dist,
    rank): the reference family's ``refine`` step (neighbors migrated
    to cuVS in this snapshot, README.md:126-148 — cuVS exposes
    ``neighbors::refine(dataset, queries, candidates, k)`` with exactly
    this contract). Feed it candidates from ANY index tier (IVF / PQ /
    LSH / graph, typically k′ = 2–4× k) and it recomputes the TRUE
    metric on the shortlist only, recovering most of the exact path's
    recall at O(|candidates|·d) instead of O(Q·N·d).

    Scale shape: two shuffle equi-joins (candidates⋈queries on qid,
    ⋈corpus on nid) — never a cross product; the shortlist bounds the
    joined volume, and select_k's partial-then-merge bounds the final
    cut. Works under every metric in :data:`_METRICS` (plus
    ``minkowski`` with ``p``); similarities rank descending, distances
    ascending, ties broken by nid for a deterministic cut.
    """
    mfn, ascending = _resolve_metric(metric, p)
    if metric == "cosine":
        qv = _norm_table(queries, id_col, vec_col).select(
            F.col("_id").alias("qid"), F.col("_v").alias("_vq"))
        cv = _norm_table(corpus, id_col, vec_col).select(
            F.col("_id").alias("nid"), F.col("_v").alias("_vc"))
        mfn = _METRICS["inner"]  # cosine of l2-normalized = dot
    else:
        qv = queries.select(F.col(id_col).alias("qid"),
                            F.col(vec_col).alias("_vq"))
        cv = corpus.select(F.col(id_col).alias("nid"),
                           F.col(vec_col).alias("_vc"))
    scored = (
        candidates.select("qid", "nid").distinct()
        .join(qv, "qid").join(cv, "nid")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", F.round(mfn("_vq", "_vc"), 6).alias("dist"))
    )
    return select_k(
        scored, group_cols=["qid"], order_col="dist", k=k,
        ascending=ascending, payload_cols=["nid"],
    )


# eps_pairs_exact driver strategy gates (the triangle_count /
# pagerank_exact discipline): measured data size, never core count. The
# row cap bounds the collected matrix (16384 x 64 int64 = 8 MB) and the
# O(n^2 d) Gram (1.6e10 flop at the cap — seconds of threaded BLAS);
# the pair cap bounds what createDataFrame ships back.
_DRIVER_EPS_ROWS = 16_384
_DRIVER_EPS_MAX_PAIRS = 3_000_000

# label-assembly driver-finish gate (dbscan — the dedup_clusters
# discipline): caps the one-job Arrow collect of the id table (1M int64
# ids = 8 MB). Measured data size, never core count.
_DRIVER_LABEL_IDS = 1_000_000


def _plan_is_local_relation(df: DataFrame) -> bool:
    """True when the frame's OPTIMIZED logical plan is a LocalRelation —
    the rows are literal driver-resident data (a createDataFrame
    result, e.g. :func:`_eps_pairs_driver`'s output), so ``collect()``
    schedules one trivial LocalTableScan job and recomputes NOTHING.
    Used as a strategy gate: a LocalRelation can only exist for data
    that already passed a driver-size cap upstream, and at corpus scale
    (distributed plans, RDD-backed checkpoints) this is False, so the
    distributed compositions stay untouched — and, unlike a
    ``limit(T+1)`` probe, a False here costs no extra pass over the
    pair pipeline."""
    try:
        return (df._jdf.queryExecution().optimizedPlan()
                .getClass().getSimpleName() == "LocalRelation")
    except Exception:  # pragma: no cover — plan introspection missing
        return False


def _dbscan_driver_finish(df, pairs, min_pts: int, id_col: str):
    """Driver-side rendering of dbscan's post-pair composition
    (canonicalize → degree → core → CC → border attach → per-id label),
    taken when the ε-pair table is already driver-resident
    (:func:`_plan_is_local_relation`) AND the id table fits a capped
    one-job Arrow collect. Mirrors the distributed composition row for
    row: canonicalization drops null-endpoint and self pairs exactly
    like the least/greatest + ``a != b`` + distinct chain; degree is
    the distinct-neighbor count over the symmetrized edge set; core is
    ``deg ≥ min_pts − 1`` over nodes that APPEAR in an edge; labels are
    component minima over core–core edges (driver_union_find = the
    pinned CC contract); border points take the smallest adjacent core
    cluster; everything else is noise (−1). Duplicate ids in ``df``
    replicate their label per occurrence, exactly like the distributed
    left joins. Returns None (distributed fallback) when the id table
    overflows the cap or contains nulls (null-id join semantics stay
    with Spark)."""
    import pyarrow as pa

    from raft_spark.operators.solvers import driver_union_find

    spark = df.sparkSession
    t = SS.collect_capped(
        df.select(F.col(id_col).cast("long").alias("id")), _DRIVER_LABEL_IDS)
    if t is None:
        return None
    ids = t.column("id").to_pylist()
    if any(i is None for i in ids):
        return None
    canon: set = set()
    # endpoints cast by Spark exactly like the distributed
    # canonicalization (a string "01" is the id 1 there too)
    for a, b in pairs.select(F.col("a").cast("long"),
                             F.col("b").cast("long")).collect():
        if a is None or b is None or a == b:
            continue
        canon.add((a, b) if a < b else (b, a))
    deg: dict = {}
    for a, b in canon:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    thr = min_pts - 1
    core = {n for n, d in deg.items() if d >= thr}
    lab = driver_union_find(
        (a, b) for a, b in canon if a in core and b in core
    )
    border: dict = {}
    for a, b in canon:
        if (a in core) != (b in core):
            c, nc = (a, b) if a in core else (b, a)
            cl = lab.get(c, c)
            if nc not in border or cl < border[nc]:
                border[nc] = cl
    out_c, out_k = [], []
    for i in ids:
        if i in core:
            out_c.append(lab.get(i, i))
            out_k.append("core")
        elif i in border:
            out_c.append(border[i])
            out_k.append("border")
        else:
            out_c.append(-1)
            out_k.append("noise")
    return spark.createDataFrame(pa.table({
        "id": pa.array(ids, pa.int64()),
        "cluster": pa.array(out_c, pa.int64()),
        "kind": pa.array(out_k, pa.string()),
    }))


def _eps_pairs_driver(qdf, id_col: str, vec_col: str, eps_q: int):
    """Driver-side exact ε-pair scan over the quantized frame — taken
    when ONE capped ``limit(cap+1).toArrow()`` job shows the frame fits
    (and every integer stays inside the f64-exact BLAS regime).
    Returns the (a, b) DataFrame, or None to run the distributed
    blocked join.

    Exactness: with d·qmax² < 2⁵², every dot product, squared norm and
    partial sum is an integer below 2⁵², so float64 BLAS computes them
    EXACTLY; the predicate na + nb − 2·s ≤ eps_q² is then evaluated in
    int64 (|terms| ≤ 2⁵³ ≪ 2⁶³). Pair multiset parity with the blocked
    join: each unordered ROW pair with distinct ids surfaces exactly
    once as (least, greatest); equal-id row pairs are dropped there
    (same hash block, a < b fails) and skipped here."""
    import numpy as np
    import pyarrow as pa

    spark = qdf.sparkSession
    t = SS.collect_capped(qdf, _DRIVER_EPS_ROWS)
    if t is None:
        return None
    if t.num_rows < 2:
        return spark.createDataFrame([], "a long, b long")
    ids_arr = t.column(id_col)
    if ids_arr.null_count:
        return None  # null ids: join-orientation semantics belong to
        # the distributed path
    vec = t.column(vec_col).combine_chunks()
    if vec.null_count or vec.values.null_count:
        return None  # null vectors/elements null the Spark predicate
        # per pair — keep that shape distributed
    n = t.num_rows
    off = vec.offsets.to_numpy(zero_copy_only=False)
    lens = np.diff(off)
    d = int(lens[0]) if n else 0
    if d == 0 or not (lens == d).all():
        return None  # ragged dims: zip_with pads with null — distributed
    Q = vec.values.to_numpy(zero_copy_only=False).astype(
        np.float64).reshape(n, d)
    qmax = float(np.abs(Q).max())
    if d * qmax * qmax >= float(1 << 52) or eps_q * eps_q >= (1 << 62):
        return None  # outside the f64-exact / int64 regime: the
        # distributed decimal(38,0) branch handles it
    ids = ids_arr.to_numpy(zero_copy_only=False)
    n2 = np.rint((Q * Q).sum(axis=1)).astype(np.int64)
    thr = np.int64(eps_q) * np.int64(eps_q)
    out_a: list = []
    out_b: list = []
    total = 0
    chunk = max(1, min(n, (1 << 27) // max(n, 1)))  # ≤1 GB f64 buffer
    for c0 in range(0, n, chunk):
        c1 = min(c0 + chunk, n)
        S = np.rint(Q[c0:c1] @ Q.T).astype(np.int64)  # exact (guard)
        d2 = (n2[c0:c1, None] + n2[None, :]) - 2 * S
        hit = d2 <= thr
        # upper triangle in ROW index (i < j): each row pair once
        hit[:, : c1] = np.triu(hit[:, : c1], k=c0 + 1)
        hi, hj = np.nonzero(hit)
        ia, ib = ids[hi + c0], ids[hj]
        keep = ia != ib  # equal-id row pairs are dropped distributed too
        ia, ib = ia[keep], ib[keep]
        total += len(ia)
        if total > _DRIVER_EPS_MAX_PAIRS:
            return None  # degenerate ε-graph — distributed path
        out_a.append(np.minimum(ia, ib))
        out_b.append(np.maximum(ia, ib))
    tbl = pa.table({
        "a": pa.array(np.concatenate(out_a), pa.int64()),
        "b": pa.array(np.concatenate(out_b), pa.int64()),
    })
    return spark.createDataFrame(tbl)


def eps_pairs_exact(
    df: DataFrame,
    eps: float,
    scale: float = 1e6,
    id_col: str = "id",
    vec_col: str = "features",
    n_blocks: int = 16,
) -> DataFrame:
    """ε-neighborhood pairs (a < b) under int64-quantized L2 — EXACT
    and engine-portable: both coordinates are half-up-quantized to
    ``q = floor(x·scale + 0.5)`` and the predicate is the integer
    comparison ``Σ(qa−qb)² ≤ round(eps·scale)²``, so any engine that
    mirrors the quantization admits the identical pair set (no float
    boundary pairs — the property that makes a DBSCAN run adjudicable
    across engines). Same blocked-join execution shape as
    :func:`pairwise_distances` (bounded task memory, no
    BroadcastNestedLoopJoin). Overflow: per-coordinate diff ≤ 2·|q|max
    and Σ over d terms must stay under 2⁶² — 64·(2·6e5)² ≈ 1e14 ≪ 2⁶³
    for unit-scale embeddings, but the bound is CHECKED (one
    column-pruned agg over the quantized frame, the gram_matrix_exact
    chunk-gate philosophy): inputs past it switch the accumulator to
    decimal(38,0), so extreme magnitudes slow down instead of silently
    wrapping int64 and corrupting the pair set.
    """
    eps_q = int(math.floor(eps * scale + 0.5))
    qdf = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.transform(
            vec_col, lambda x: F.floor(x * scale + F.lit(0.5)).cast("long")
        ).alias(vec_col),
    )
    # strategy probe (the triangle_count / mst_edges_auto discipline):
    # ONE capped collect; when the quantized frame is driver-sized the
    # whole n² scan runs as an exactness-guarded BLAS Gram there —
    # the blocked join's O(n²) shuffle volume is pure intermediate
    # traffic at these sizes. Above the caps (row count, f64-exact
    # bound, pair volume) the distributed path below is untouched.
    drv = _eps_pairs_driver(qdf, id_col, vec_col, eps_q)
    if drv is not None:
        return drv
    # probe discipline: the global agg collapses map-side, so AQE's
    # per-stage jobs are pure overhead (3 jobs -> 1; statestore._no_aqe)
    with SS._no_aqe(qdf.sparkSession):
        probe = qdf.agg(
            F.max(F.array_max(F.transform(vec_col, F.abs))).alias("qmax"),
            F.max(F.size(vec_col)).alias("d"),
        ).first()
    qmax, dim = int(probe["qmax"] or 0), int(probe["d"] or 1)
    # Σ_d (2·qmax)² < 2⁶² ⇔ qmax < 2³⁰/√d (int64-exact regime)
    int64_safe = qmax <= (1 << 30) // max(int(math.isqrt(dim)), 1)
    if int64_safe:
        sq = F.aggregate(
            F.zip_with(
                F.col("_va"), F.col("_vb"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
    else:
        dec = "decimal(38,0)"
        sq = F.aggregate(
            F.zip_with(
                F.col("_va"),
                F.col("_vb"),
                lambda x, y: (x.cast(dec) - y) * (x.cast(dec) - y),
            ),
            F.lit(0).cast(dec),
            lambda acc, v: acc + v,
        )
    if int64_safe and eps_q * eps_q < 2**63:
        thr = F.lit(eps_q * eps_q)
    else:
        import decimal as _dec

        thr = F.lit(_dec.Decimal(eps_q * eps_q))
    cand = _blocked_cross(
        qdf.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va")),
        qdf.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb")),
        symmetric=True, n_blocks=n_blocks,
    )
    return cand.filter(sq <= thr).select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    )


def dbscan(
    df: DataFrame,
    eps: float,
    min_pts: int = 4,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "features",
    n_blocks: int = 16,
    pairs: DataFrame | None = None,
    p: float | None = None,
) -> DataFrame:
    """DBSCAN from the engine's own primitives → (id, cluster, kind)
    with kind ∈ {core, border, noise} and cluster = −1 for noise.

    Composition (no new physical machinery): ε-neighborhood pairs from
    the blocked :func:`pairwise_distances`; core points by a degree
    count (≥ min_pts−1 neighbors, the point itself supplies the
    min_pts-th); clusters = connected components over CORE–CORE edges
    (pointer-jumped, checkpointed); border points attach to the
    smallest adjacent core cluster (deterministic). Exact ε-pairing is
    O(n²) like the reference's pairwise kernels — at corpus scale feed
    precomputed ``pairs`` (a, b) from LSH/IVF buckets or
    :func:`eps_pairs_exact` instead; the composition after the pair
    table is unchanged.
    """
    from raft_spark.operators.solvers import connected_components_auto

    if pairs is None:
        if metric != "minkowski" and metric not in SYMMETRIC_DISTANCES:
            # cosine/inner are SIMILARITIES (dist <= eps would keep the
            # LEAST similar pairs); kl_divergence is ASYMMETRIC (edges
            # would depend on id order); correlation degenerates on
            # near-constant vectors — none define a usable ε-graph
            raise ValueError(
                f"dbscan: metric {metric!r} is not a symmetric "
                f"distance; use one of "
                f"{sorted(SYMMETRIC_DISTANCES) + ['minkowski']}, or "
                "precompute `pairs` with your own threshold direction"
            )
        pairs = pairwise_distances(
            df, metric=metric, id_col=id_col, vec_col=vec_col,
            n_blocks=n_blocks, p=p,
        ).filter(F.col("dist") <= eps).select("a", "b")
    # driver finish (r14): when the ε-pair table is already a
    # driver-resident LocalRelation (the _eps_pairs_driver strategy
    # fired, so its size passed the measured caps) the whole
    # checkpoint + degree + CC-probe + border-join composition below is
    # distributed machinery shuffling driver-sized data — render the
    # labels driver-side instead (one capped id collect; the
    # dedup_clusters discipline). Distributed pairs never take this
    # branch, so the corpus-scale composition is untouched.
    if _plan_is_local_relation(pairs):
        out = _dbscan_driver_finish(df, pairs, min_pts, id_col)
        if out is not None:
            return out
    # canonicalize + dedupe caller-supplied pairs: LSH band joins emit
    # a candidate once PER MATCHING BAND and callers may emit both
    # orientations — duplicate rows would inflate the degree count and
    # misclassify points as core
    pairs = (
        pairs.select(
            F.least(F.col("a").cast("long"), F.col("b").cast("long")).alias("a"),
            F.greatest(F.col("a").cast("long"), F.col("b").cast("long")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = pairs.unionAll(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count("*").alias("_deg"))
    core = deg.filter(F.col("_deg") >= min_pts - 1).select(F.col("a").alias("_c"))
    core_edges = (
        pairs.join(core.withColumnRenamed("_c", "a"), "a", "left_semi")
        .join(core.withColumnRenamed("_c", "b"), "b", "left_semi")
    )
    labels = connected_components_auto(
        core_edges.select(F.col("a").alias("row"), F.col("b").alias("col"))
    )
    ids = df.select(F.col(id_col).cast("long").alias("id"))
    core_ids = core.select(F.col("_c").cast("long").alias("id")).localCheckpoint(
        eager=True
    )
    # isolated core points (min_pts=1 style, no core neighbor) keep
    # their own id as cluster
    core_lab = (
        core_ids.join(labels.withColumnRenamed("node", "id"), "id", "left")
        .select("id", F.coalesce("label", F.col("id")).alias("cluster"))
    )
    # border: non-core with ≥1 core neighbor → smallest adjacent core cluster
    border_lab = (
        sym.withColumnRenamed("a", "id")
        .join(core_ids.withColumnRenamed("id", "b"), "b", "left_semi")
        .join(core_lab.select(F.col("id").alias("b"), "cluster"), "b")
        .join(core_ids, "id", "left_anti")
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )
    out = (
        ids.join(core_lab.withColumn("kind", F.lit("core")), "id", "left")
        .join(
            border_lab.withColumnRenamed("cluster", "_bc").withColumn(
                "_bk", F.lit("border")
            ),
            "id",
            "left",
        )
        .select(
            "id",
            F.coalesce("cluster", "_bc", F.lit(-1)).cast("long").alias("cluster"),
            F.coalesce("kind", "_bk", F.lit("noise")).alias("kind"),
        )
    )
    return out


def _slink_tree(
    df: DataFrame,
    pairs: DataFrame | None,
    metric: str,
    id_col: str,
    vec_col: str,
    n_blocks: int,
    p: float | None = None,
) -> DataFrame:
    """Weighted MST (row, col, value) of the pairwise distance graph —
    the single-linkage dendrogram's edge set (Gower–Ross)."""
    from raft_spark.operators.solvers import mst_edges_auto

    if pairs is None:
        if metric != "minkowski" and metric not in SYMMETRIC_DISTANCES:
            # cosine/inner are SIMILARITIES (an MST over them would
            # link the LEAST similar pairs first); kl is asymmetric,
            # correlation degenerate on near-constant vectors —
            # same metric surface as dbscan (minkowski allowed, p threads)
            raise ValueError(
                f"single_linkage: metric {metric!r} is not a symmetric "
                f"distance; use one of "
                f"{sorted(SYMMETRIC_DISTANCES) + ['minkowski']}, "
                "or precompute weighted `pairs` with your own distance"
            )
        pairs = pairwise_distances(
            df, metric=metric, id_col=id_col, vec_col=vec_col,
            n_blocks=n_blocks, p=p,
        )
    if "dist" not in pairs.columns:
        raise ValueError(
            "single_linkage: n_clusters/dendrogram mode needs weighted "
            "pairs (a, b, dist) — eps_pairs_exact emits (a, b) only"
        )
    # canonicalize orientation, drop self-pairs, collapse duplicates
    # from candidate generators (LSH emits one row per matching band)
    # to the MINIMUM observed distance — the single-linkage distance
    coo = (
        pairs.select(
            F.least(F.col("a").cast("long"), F.col("b").cast("long")).alias("row"),
            F.greatest(F.col("a").cast("long"), F.col("b").cast("long")).alias("col"),
            F.col("dist").cast("double").alias("value"),
        )
        .filter(F.col("row") != F.col("col"))
        .groupBy("row", "col")
        .agg(F.min("value").alias("value"))
    )
    return mst_edges_auto(coo)


def single_linkage(
    df: DataFrame,
    n_clusters: int | None = None,
    distance_threshold: float | None = None,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "features",
    n_blocks: int = 16,
    pairs: DataFrame | None = None,
    p: float | None = None,
) -> DataFrame:
    """Single-linkage agglomerative (hierarchical) clustering →
    (id, cluster) flat labels, cluster = the smallest member id.

    Built on the SLINK/Gower–Ross identity: the single-linkage
    dendrogram IS the minimum spanning tree of the pairwise distance
    graph. The two flat-cut modes map to existing engine primitives —
    no new physical machinery:

    - ``distance_threshold=t``: clusters = connected components of the
      graph restricted to pairs with dist ≤ t. No MST needed — with no
      explicit ``pairs`` the edge table comes from
      :func:`eps_pairs_exact` (int64-quantized predicate, so the flat
      labeling is engine-exact and SQL-adjudicable, the dbscan
      discipline); labels via pointer-jumped components.
    - ``n_clusters=k``: cut the k−1 LARGEST MST edges under the total
      order (value, row, col), components of the rest. Distance ties
      are broken by that order — any tie-break yields a valid
      single-linkage cut; this one is deterministic and
      partitioning-independent. The cut ranks tree edges with
      ``global_rank`` (range-repartitioned two-phase rank), never a
      single-partition window: the tree has V−1 edges and V can be
      corpus-sized.

    Exact pairwise generation is O(n²) like the reference's distance
    kernels — at corpus scale feed precomputed ``pairs`` from LSH/IVF
    candidates (same seam as :func:`dbscan`; for n_clusters mode the
    candidate graph should contain the true MST — the standard
    approximate single-linkage contract, and the realized cut heights
    are auditable via :func:`single_linkage_dendrogram`).
    """
    from raft_spark.operators.reductions import global_rank
    from raft_spark.operators.solvers import connected_components_auto

    if (n_clusters is None) == (distance_threshold is None):
        raise ValueError(
            "single_linkage: pass exactly one of n_clusters / "
            "distance_threshold"
        )
    ids = df.select(F.col(id_col).cast("long").alias("id"))
    if distance_threshold is not None:
        if pairs is None:
            pairs = eps_pairs_exact(
                df, eps=distance_threshold, id_col=id_col, vec_col=vec_col,
                n_blocks=n_blocks,
            )
        elif "dist" in pairs.columns:
            pairs = pairs.filter(F.col("dist") <= distance_threshold)
        kept = (
            pairs.select(
                F.least(F.col("a").cast("long"), F.col("b").cast("long")).alias("row"),
                F.greatest(F.col("a").cast("long"), F.col("b").cast("long")).alias("col"),
            )
            .filter(F.col("row") != F.col("col"))
            .distinct()
        )
        labels = connected_components_auto(kept)
    else:
        tree = _slink_tree(df, pairs, metric, id_col, vec_col, n_blocks, p=p)
        tree = tree.localCheckpoint(eager=True)  # count + rank + CC consumers
        n_nodes = ids.count()
        base = n_nodes - tree.count()  # forest components before any cut
        if n_clusters < base:
            raise ValueError(
                f"single_linkage: the pairs graph already has {base} "
                f"components before any cut — n_clusters={n_clusters} is "
                "unreachable (densify the candidate pairs)"
            )
        cut = n_clusters - base
        if cut > 0:
            ranked = global_rank(
                tree,
                [F.col("value").desc(), F.col("row"), F.col("col")],
                rank_name="_r",
            )
            tree = ranked.filter(F.col("_r") > cut).drop("_r")
        labels = connected_components_auto(tree.select("row", "col"))
    return (
        ids.join(labels.withColumnRenamed("node", "id"), "id", "left")
        .select(
            "id",
            F.coalesce("label", F.col("id")).cast("long").alias("cluster"),
        )
    )


def single_linkage_dendrogram(
    df: DataFrame,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "features",
    n_blocks: int = 16,
    pairs: DataFrame | None = None,
    p: float | None = None,
) -> DataFrame:
    """The single-linkage merge sequence → (merge_order, row, col,
    height): MST edges globally ranked by (height, row, col). Merge i
    joins the two clusters containing ``row`` and ``col`` at linkage
    distance ``height`` — the information content of scipy's linkage
    matrix (children arrays are a driver-side union-find walk of this
    frame, O(V) state; the distributed artifact is the edge list)."""
    from raft_spark.operators.reductions import global_rank

    tree = _slink_tree(df, pairs, metric, id_col, vec_col, n_blocks, p=p)
    return global_rank(
        tree,
        [F.col("value"), F.col("row"), F.col("col")],
        rank_name="merge_order",
    ).select("merge_order", "row", "col", F.col("value").alias("height"))


def _partial_topk(s, nids, qid_vals, k):
    """Tie-exact local top-k under (cosine desc, nid asc) for a scored
    block ``s`` (B×Q, −inf = excluded): one batched argpartition across
    all queries, then the exact total order applied only to candidates
    (every row tied with the kth score joins the candidate set, so the
    cut matches a full lexsort bit-for-bit). Returns list-of-arrays
    triples (qid, nid, cosine)."""
    import numpy as np

    b = s.shape[0]
    kk = min(k, b)
    if b > kk:
        part = np.argpartition(-s, kk - 1, axis=0)[:kk]
    else:
        part = np.tile(np.arange(b)[:, None], (1, s.shape[1]))
    out_q, out_n, out_c = [], [], []
    for qi in range(s.shape[1]):
        col = s[:, qi]
        thresh = col[part[:, qi]].min()
        if thresh == -np.inf:  # ≤ kk real candidates
            cand = np.nonzero(col > -np.inf)[0]
        else:
            cand = np.nonzero(col >= thresh)[0]
        if len(cand) == 0:
            continue
        take = min(kk, len(cand))
        order = np.lexsort((nids[cand], -col[cand]))
        top = cand[order[:take]]
        out_q.append(np.full(len(top), qid_vals[qi]))
        out_n.append(nids[top])
        out_c.append(col[top])
    return out_q, out_n, out_c


def _cosine6(m, qt):
    """Cosine block ``m @ qt`` (B×d unit rows · d×|Q| unit columns)
    through the :mod:`raft_spark.functions.xp` matmul hook (the GPU
    does the matmul only; rank/cut/round stay host float64), rounded
    half-AWAY-from-zero to 1e-6 to match F.round / DuckDB round()
    (np.round is banker's half-to-even: a cosine landing exactly on
    .5e-6 would flip rank across engines)."""
    import numpy as np

    from raft_spark.functions.xp import to_np, xp

    ap = xp()
    raw = to_np(ap.asarray(m) @ ap.asarray(qt))
    return np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6


def _topk_scan(
    corpus: DataFrame,
    queries,
    make_score,
    k: int,
    order_col: str,
    ascending: bool = False,
    strategy: str = "numpy",
    expr=None,
    max_collect: int = MAX_COLLECT_QUERIES,
) -> DataFrame:
    """The collected-query partial top-k shared by every ANN tier —
    RAFT's batched ``matrix::select_k`` cut (local top-k per block,
    then one merge) → (qid, nid, ``order_col``, rank).

    ``queries`` is the query frame, sized and collected by
    :func:`_resolve_scan_strategy` under ``strategy``, or its rows
    already collected by the caller. On the numpy leg
    ``make_score(rows)`` builds the tier's scorer on the driver;
    ``score(pdf)`` yields ``(s, nids, qids)`` blocks for one Arrow batch
    of ``corpus`` (``s``: B×|Q| float64, −inf = excluded). Each corpus
    partition drops self-matches, keeps its tie-exact local top-k per
    query (:func:`_partial_topk`) so the shuffle carries
    O(partitions·|Q|·k) rows, and one ``agg`` select_k merges the
    survivors. ``ascending`` ranks ``order_col`` low-first (Hamming).

    The expr leg scores ``expr`` (a Column over ``_va`` = query vector,
    ``_vb`` = corpus vector) on the blocked equi-join product of the
    first two columns (id, vector) of each frame: a query side too big
    to collect is too big to broadcast, so never a nested-loop join.
    The chosen leg is recorded on the result as ``_knn_strategy``."""
    if isinstance(queries, DataFrame):
        chosen, rows = _resolve_scan_strategy(queries, strategy, max_collect)
    else:
        chosen, rows = "numpy", queries
    if rows is None:
        qid, qv = queries.columns[:2]
        nid, nv = corpus.columns[:2]
        scored = _blocked_cross(
            queries.select(F.col(qid).alias("a"), F.col(qv).alias("_va")),
            corpus.select(F.col(nid).alias("b"), F.col(nv).alias("_vb")),
            symmetric=False,
        ).filter(F.col("a") != F.col("b")).select(
            F.col("a").alias("qid"), F.col("b").alias("nid"),
            expr.alias(order_col),
        )
        merge = "auto"
    else:
        import numpy as np
        import pandas as pd

        score = make_score(rows)

        def pp(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out_q, out_n, out_c = [], [], []
                for s, nids, qids in score(pdf):
                    if ascending:
                        s = -s
                    # self-matches drop out of every ranking up front;
                    # the batched tie-exact cut replaces a per-query
                    # lexsort (measured 73 s → ~8 s at 1M×100q)
                    s[nids[:, None] == qids[None, :]] = -np.inf
                    q_, n_, c_ = _partial_topk(s, nids, qids, k)
                    out_q += q_
                    out_n += n_
                    out_c += c_
                if out_q:
                    c = np.concatenate(out_c)
                    yield pd.DataFrame({
                        "qid": np.concatenate(out_q),
                        "nid": np.concatenate(out_n),
                        order_col: -c if ascending else c,
                    })

        scored = corpus.mapInPandas(
            pp, f"qid long, nid long, {order_col} double")
        merge = "agg"  # ≤ partitions·k rows per query survive
    out = select_k(
        scored, group_cols=["qid"], order_col=order_col, k=k,
        ascending=ascending, payload_cols=["nid"], strategy=merge,
    )
    out._knn_strategy = chosen
    return out


def _apply_id_filter(df, col, filter_ids, filter_mode):
    """Shared allow/deny id-mask seam of the filtered-search paths
    (cuVS filtering::bitset_filter semantics). filter_ids: a one-column
    frame of corpus ids; allow = left_semi, deny = left_anti."""
    if filter_ids is None:
        return df
    if filter_mode not in ("allow", "deny"):
        raise ValueError(
            f"filter_mode {filter_mode!r} (one of 'allow', 'deny')")
    ids = filter_ids.select(
        F.col(filter_ids.columns[0]).cast("long").alias(col))
    how = "left_semi" if filter_mode == "allow" else "left_anti"
    return df.join(ids, col, how)


def knn_brute(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "id",
    vec_col: str = "features",
    strategy: str = "auto",
    max_collect_queries: int = 20_000,
    filter_ids: DataFrame | None = None,
    filter_mode: str = "allow",
) -> DataFrame:
    """Exact cosine top-k neighbors per query (self-matches excluded)
    → (qid, nid, cosine, rank).

    strategy="numpy": query matrix ships to every partition as a
    closure (queries small relative to the corpus by contract); each
    corpus partition scores its batch with one BLAS matmul and emits
    only its LOCAL top-k per query, so the shuffle carries
    O(partitions·|Q|·k) rows — the literal partial-then-merge design
    of the reference's select_k (matrix/select_k.cuh:75) with the dot
    products batched instead of per-pair expressions (the shared
    :func:`_topk_scan` kernel).

    strategy="expr": JVM-expression scoring over the blocked equi-join
    product through the bounded two-phase select_k — no driver collect
    of the query side at all.

    strategy="auto" (default): ONE capped collect probes the query
    side; ≤ ``max_collect_queries`` rows (the Q≪N regime, ~10 MB of
    closure at d=64) takes the numpy path, anything larger degrades
    gracefully to the expr path instead of OOMing the driver on the
    collect. The chosen path is recorded on the result as
    ``_knn_strategy`` (for tests/plan audits). Any other strategy
    raises ValueError.

    ``filter_ids`` (one id column) restricts the NEIGHBOR side before
    scoring — the reference family's filtered search (cuVS
    ``filtering::bitset_filter``: deletions/tenancy masks applied
    during list traversal). ``filter_mode="allow"`` keeps only listed
    ids (semi-join), ``"deny"`` removes them (anti-join) — either way
    the top-k is exact over the surviving corpus, and Catalyst pushes
    the join below the scan so filtered candidates are never scored.
    The other ANN tiers compose the same way (pre-join their corpus);
    :func:`knn_ivf_pq` additionally threads the filter into its ADC
    scan for index-side filtering without a rebuild.
    """
    c = _norm_table(corpus, id_col, vec_col).select(
        F.col("_id").alias("nid"), F.col("_v").alias("_vc")
    )
    c = _apply_id_filter(c, "nid", filter_ids, filter_mode)
    q = _norm_table(queries, id_col, vec_col).select(
        F.col("_id").alias("qid"), F.col("_v").alias("_vq")
    )

    def make_score(rows):
        import numpy as np

        qids = np.array([r["qid"] for r in rows])
        qt = np.array([r["_vq"] for r in rows]).T  # d×|Q|
        return lambda pdf: [(
            _cosine6(np.stack(pdf["_vc"].to_numpy()).astype(float), qt),
            pdf["nid"].to_numpy(), qids,
        )]

    return _topk_scan(
        c, q, make_score, k, "cosine", strategy=strategy,
        expr=F.round(A.dot("_va", "_vb"), 6),
        max_collect=max_collect_queries,
    )


def nn_descent_graph(
    df: DataFrame,
    k: int = 10,
    n_iters: int = 4,
    cand_per_node: int | None = None,
    seed: int = 97,
    id_col: str = "id",
    vec_col: str = "features",
) -> DataFrame:
    """Approximate all-neighbors kNN GRAPH via NN-descent → (id, nid,
    cosine, rank): every node's top-k cosine neighbors, built WITHOUT
    the O(n²) pairwise product (the CAGRA/nn-descent capability of the
    reference's ANN ecosystem, re-expressed as join rounds).

    The algorithm is the classic neighbor-of-a-neighbor-is-likely-a-
    neighbor iteration (Dong et al., WWW'11): start from random
    k-regular candidates (seeded hash buckets of ~k+1 nodes — a narrow
    projection, no id universe collected), then each round (1) builds
    candidate pairs by joining the SYMMETRIZED current graph with
    itself (u→v, v→w ⇒ u candidate w), (2) caps candidates per node at
    ``cand_per_node`` (default 2k², the paper's (2k)² candidate order)
    by a seeded deterministic hash rank
    so a hub node cannot quadratically explode the round — the same
    skew-cap contract as the LSH/shingle joins, (3) scores survivors
    with one exact cosine expression, (4) keeps the best k per node
    through the bounded two-phase select_k union'd with the previous
    graph. Every step is a hash join / bounded top-k on O(n·k) rows;
    seeded hashes make the whole build deterministic across
    partitionings and retries.

    Rounds: diameter-style convergence, typically 3-5; recall is
    pinned by tests vs knn_brute and a floor rides in the gate's
    ann_recall_suite. Use this to build the offline graph; serve
    queries against it via knn_* or a graph walk downstream.
    """
    # the paper's iteration examines up to (2k)² neighbor-of-neighbor
    # pairs per node; 2k² keeps that order while bounding hub blowup
    # (cap lower to trade recall for join volume at corpus scale)
    cand_per_node = cand_per_node or 2 * k * k
    n = _norm_table(df, id_col, vec_col).localCheckpoint(eager=True)
    vecs_a = n.select(F.col("_id").alias("a"), F.col("_v").alias("_va"))
    vecs_b = n.select(F.col("_id").alias("b"), F.col("_v").alias("_vb"))
    cos = F.round(A.dot("_va", "_vb"), 6)

    def score(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(vecs_a, "a")
            .join(vecs_b, "b")
            .select("a", "b", cos.alias("cosine"))
        )

    def topk(scored: DataFrame) -> DataFrame:
        return select_k(
            scored.distinct(), group_cols=["a"], order_col="cosine", k=k,
            ascending=False, payload_cols=["b"], strategy="partial",
        ).select("a", "b", "cosine")

    # init + per-round random probes: seeded buckets of ~k+1 nodes.
    # ONE bucketing makes disjoint cliques — neighbor-of-neighbor can
    # never leave its clique and recall stalls near zero. Overlapping
    # bucketings under DIFFERENT seeds make the candidate graph an
    # expander, and one fresh bucketing per round keeps global mixing
    # (the random-restart half of NN-descent's convergence argument).
    ids = n.select(F.col("_id"))
    n_rows = ids.count()
    n_buckets = max(n_rows // (k + 1), 1)

    def bucket_pairs(s: int) -> DataFrame:
        bucketed = ids.withColumn(
            "_bk", F.pmod(F.xxhash64("_id", F.lit(s)), F.lit(n_buckets))
        )
        return (
            bucketed.select(F.col("_id").alias("a"), "_bk")
            .join(bucketed.select(F.col("_id").alias("b"), "_bk"), "_bk")
            .filter(F.col("a") != F.col("b"))
            .select("a", "b")
        )

    init_pairs = bucket_pairs(seed).unionByName(bucket_pairs(seed + 1000))
    graph = topk(score(init_pairs)).localCheckpoint(eager=True)

    for it in range(n_iters):
        sym = graph.select("a", "b").unionAll(
            graph.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        non = (
            sym.join(
                sym.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
            )
            .select("a", F.col("c").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionByName(bucket_pairs(seed + 2000 + it))  # fresh probes
            .distinct()
        )
        # deterministic per-node candidate cap (seeded hash order)
        capped = select_k(
            non.withColumn(
                "_h", F.xxhash64("a", "b", F.lit(seed + 1))
            ),
            group_cols=["a"], order_col="_h", k=cand_per_node,
            ascending=True, payload_cols=["b"], strategy="partial",
        ).select("a", "b")
        graph = topk(
            score(capped).unionByName(graph)
        ).localCheckpoint(eager=True)

    w_rank = F.row_number().over(
        Window.partitionBy("a").orderBy(F.desc("cosine"), F.asc("b"))
    )
    return graph.select(
        F.col("a").alias(id_col), F.col("b").alias("nid"), "cosine",
        w_rank.alias("rank"),
    )


def lsh_buckets(
    df: DataFrame,
    n_planes: int = 8,
    seed: int = 77,
    id_col: str = "id",
    vec_col: str = "features",
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane signature per vector → (id, bucket).

    Planes are generated from the deterministic LCG (plane p, dim j ←
    uniform(p·dim+j)), so buckets are reproducible anywhere. One
    narrow projection pass; no shuffle.

    ``dim`` defaults to the width of the first row (one-row probe): a
    plane shorter/longer than the vector would zip_with-pad with nulls
    and silently NULL every bucket.

    Plane bank size governs the physical strategy: small banks inline
    as JVM expressions (SQL-reproducible, zero Python); large banks
    (n_planes·dim > 1024) switch to an Arrow-batched numpy pass with
    the planes in the closure — same LCG, bit-identical buckets, plan
    size O(1) instead of O(n_planes·dim) literals.
    """
    if dim is None:
        dim = df.select(F.size(F.col(vec_col))).first()[0]
    if n_planes * dim > 1024:
        import numpy as np

        from raft_spark.functions.rng import uniform_np

        P = (
            uniform_np(np.arange(n_planes * dim), seed).reshape(n_planes, dim)
            * 2.0 - 1.0
        )
        weights = (1 << np.arange(n_planes)).astype(np.int64)

        def pp(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.stack(pdf[vec_col].to_numpy()).astype(float)
                bits = (M @ P.T) > 0
                yield pdf[[id_col]].rename(columns={id_col: "id"}).assign(
                    bucket=(bits @ weights)
                )

        return df.select(id_col, vec_col).mapInPandas(pp, "id long, bucket long")
    planes = [
        F.array(*[
            (uniform(F.lit(p * dim + j), seed) * 2 - 1) for j in range(dim)
        ])
        for p in range(n_planes)
    ]
    bucket = None
    for p, plane in enumerate(planes):
        bit = (A.dot(vec_col, plane) > 0).cast("long") * (2 ** p)
        bucket = bit if bucket is None else bucket + bit
    return df.select(F.col(id_col).alias("id"), bucket.alias("bucket"))


def knn_graph_search(
    corpus: DataFrame,
    queries: DataFrame,
    graph: DataFrame | None = None,
    k: int = 10,
    beam: int = 32,
    n_rounds: int = 3,
    n_entry: int = 8,
    graph_k: int = 10,
    id_col: str = "id",
    vec_col: str = "features",
) -> DataFrame:
    """Graph-ANN query serving: the greedy beam walk over a prebuilt
    kNN graph — the search half of the nn_descent build path (the
    CAGRA-style graph-ANN of the reference's neighbors ecosystem;
    build = :func:`nn_descent_graph`, this is the promised downstream
    graph walk) → (qid, nid, cosine, rank).

    Distributed shape: ALL queries advance together. The frontier is a
    (qid, nid) frame cut to ``beam`` rows per query each round by the
    bounded select_k; expansion is one equi-join against the adjacency
    list; scoring is the exact JVM cosine on pre-normalized vectors.
    One join + one score + one bounded top-k per round — no Python
    crossing, no driver state, work O(Q·beam·degree) per round
    independent of corpus size (the point of graph ANN: the scan is
    replaced by ≤ n_rounds hops). Recall is monotone in both beam and
    n_rounds: the frontier is always unioned into its own expansion,
    so the per-query best-beam set never regresses.

    Entry points are the ``n_entry`` corpus ids with smallest seeded
    hash — deterministic, shared by every query, broadcast.
    """
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1 (got {n_rounds})")
    if graph is None:
        graph = nn_descent_graph(
            corpus, k=graph_k, id_col=id_col, vec_col=vec_col
        )
    adj = graph.select(
        F.col("id").alias("_u"), F.col("nid").alias("_w")
    ).localCheckpoint(eager=True)
    cn = _norm_table(corpus, id_col, vec_col).select(
        F.col("_id").alias("nid"), F.col("_v").alias("_vc")
    ).localCheckpoint(eager=True)
    qn = _norm_table(queries, id_col, vec_col).select(
        F.col("_id").alias("qid"), F.col("_v").alias("_vq")
    ).localCheckpoint(eager=True)
    entries = (
        corpus.select(F.col(id_col).alias("nid"))
        .orderBy(F.xxhash64(F.col("nid").cast("string")), F.col("nid"))
        .limit(n_entry)
    )
    frontier = qn.select("qid").crossJoin(F.broadcast(entries))
    scored = None
    for _ in range(n_rounds):
        expand = (
            frontier.join(adj, frontier["nid"] == adj["_u"])
            .select("qid", F.col("_w").alias("nid"))
        )
        cand = frontier.unionByName(expand).distinct()
        scored = (
            cand.join(qn, "qid")
            .join(cn, "nid")
            .select("qid", "nid", F.round(A.dot("_vq", "_vc"), 6).alias("cosine"))
        )
        top = select_k(
            scored, ["qid"], "cosine", beam, ascending=False, payload_cols=["nid"]
        )
        frontier = top.select("qid", "nid").localCheckpoint(eager=True)
    return select_k(
        scored.filter(F.col("qid") != F.col("nid")),
        ["qid"], "cosine", k, ascending=False, payload_cols=["nid"],
    )


def lsh_buckets_multi(
    df: DataFrame,
    n_planes: int = 8,
    n_tables: int = 1,
    seed: int = 77,
    id_col: str = "id",
    vec_col: str = "features",
    dim: int | None = None,
) -> DataFrame:
    """(id, table, bucket) for ALL tables in ONE Arrow pass: the
    per-table plane banks (table t ≡ ``lsh_buckets(seed + 9973·t)``,
    same LCG) stack into a single (n_tables·n_planes × dim) matrix so
    every signature falls out of one BLAS matmul per batch. The naive
    per-table loop unions 2·n_tables scan branches and (on the inline
    path) n_tables·n_planes·dim literal expressions into one plan —
    Catalyst analysis alone dominated past ~4 tables; here the plan is
    O(1) in both knobs, which is the only shape that survives a
    100 TB corpus × 16 tables."""
    import numpy as np

    from raft_spark.functions.rng import uniform_np

    if dim is None:
        dim = df.select(F.size(F.col(vec_col))).first()[0]
    P = np.vstack([
        uniform_np(np.arange(n_planes * dim), seed + 9973 * t)
        .reshape(n_planes, dim) * 2.0 - 1.0
        for t in range(n_tables)
    ])
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    tables = np.arange(n_tables, dtype=np.int32)

    def pp(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(float)
            bits = (M @ P.T) > 0  # (n, n_tables·n_planes)
            buckets = bits.reshape(len(M), n_tables, n_planes) @ weights
            import pandas as pd

            yield pd.DataFrame({
                "id": np.repeat(pdf[id_col].to_numpy(), n_tables),
                "table": np.tile(tables, len(M)),
                "bucket": buckets.reshape(-1),
            })

    return df.select(id_col, vec_col).mapInPandas(
        pp, "id long, table int, bucket long"
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
    seed: int = 77,
    id_col: str = "id",
    vec_col: str = "features",
) -> DataFrame:
    """Approximate top-k: candidates restricted to same-bucket pairs,
    then exact cosine + select_k on the shortlist.

    ``n_tables`` is the MULTI-PROBE knob (the "more tables" path the
    module docstring documents): every table hashes with an
    independent seeded plane bank — one Arrow pass computes all of
    them (lsh_buckets_multi) — candidate (qid, nid) pairs surface via
    one (table, bucket) equi-join and are deduped BEFORE the vectors
    are joined in, so each survivor is scored exactly once. Recall is
    monotonically non-decreasing in n_tables by construction — table
    t's bank does not depend on n_tables (per-table seeds), so the
    candidate set at t tables is a superset of the set at fewer, and
    exact scoring of a superset can only add true neighbors to the
    top-k.
    """
    dim = corpus.select(F.size(F.col(vec_col))).first()[0]
    cb = lsh_buckets_multi(
        corpus, n_planes, n_tables, seed, id_col, vec_col, dim
    ).select(F.col("id").alias("nid"), "table", "bucket")
    qb = lsh_buckets_multi(
        queries, n_planes, n_tables, seed, id_col, vec_col, dim
    ).select(F.col("id").alias("qid"), "table", "bucket")
    cand = (
        qb.join(cb, ["table", "bucket"])
        .select("qid", "nid")
        .filter(F.col("qid") != F.col("nid"))
        .distinct()
    )
    c = _norm_table(corpus, id_col, vec_col).select(
        F.col("_id").alias("nid"), F.col("_v").alias("_vc")
    )
    q = _norm_table(queries, id_col, vec_col).select(
        F.col("_id").alias("qid"), F.col("_v").alias("_vq")
    )
    scored = (
        cand.join(q, "qid")
        .join(c, "nid")
        .select("qid", "nid", F.round(A.dot("_vq", "_vc"), 6).alias("cosine"))
    )
    return select_k(
        scored, ["qid"], "cosine", k, ascending=False, payload_cols=["nid"]
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the scale path beyond LSH buckets
# ---------------------------------------------------------------------------

def _assign_lists(
    df: DataFrame,
    cents,
    vec_col: str = "features",
    n_probe: int = 1,
    list_col: str = "list_id",
    dist_col: str | None = None,
    weights=None,
) -> DataFrame:
    """Attach the ``n_probe`` nearest-centroid list ids via one
    Arrow-batched numpy pass (mapInPandas).

    The centroid matrix rides in the task closure (k×d floats — a few
    MB even at n_lists=10⁴, broadcast once per executor), so the PLAN
    stays O(1) regardless of k — the previous formulation inlined k·d
    literal expressions, capping n_lists at O(100) before Catalyst
    analysis blew up. Each batch computes all distances with one BLAS
    matmul. With n_probe > 1 the output has one row per (input, probe).

    ``weights``: optional per-centroid penalty vector — selection
    minimizes d²·wⱼ (the kmeans_balanced assignment) while ``dist_col``
    still reports the TRUE geometric d².
    """
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=float)
    cc = (C * C).sum(1)
    W = None if weights is None else np.asarray(weights, dtype=float)
    in_cols = df.columns
    schema = df.schema.simpleString()[7:-1]  # strip struct<...>
    out_schema = f"{schema},{list_col} int"
    if dist_col is not None:
        out_schema += f",{dist_col} double"

    def pp(batches):
        from raft_spark.functions.xp import to_np, xp

        ap = xp()
        cd = ap.asarray(C.T)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(float)
            d2 = (M * M).sum(1)[:, None] - 2.0 * to_np(ap.asarray(M) @ cd) + cc[None, :]
            # selection key: penalized on the balanced path, geometric
            # otherwise (dist_col always reports true d²)
            sel = d2 if W is None else np.maximum(d2, 0.0) * W[None, :]
            if dist_col is not None and n_probe == 1:
                a = sel.argmin(1)
                yield pdf.assign(**{
                    list_col: a.astype("int32"),
                    dist_col: np.maximum(d2[np.arange(len(M)), a], 0.0),
                })
                continue
            if n_probe == 1:
                yield pdf.assign(**{list_col: sel.argmin(1).astype("int32")})
            else:
                p = min(n_probe, C.shape[0])
                idx = np.argpartition(sel, p - 1, axis=1)[:, :p]
                # order probes by selection key for determinism
                row = np.arange(len(M))[:, None]
                order = np.argsort(sel[row, idx], axis=1)
                idx = idx[row, order]
                rep = pdf.loc[pdf.index.repeat(p)].reset_index(drop=True)
                cols = {list_col: idx.ravel().astype("int32")}
                if dist_col is not None:  # schema declares it → emit it
                    cols[dist_col] = np.maximum(
                        d2[row, idx].ravel(), 0.0
                    )
                yield rep.assign(**cols)

    extra = [list_col] if dist_col is None else [list_col, dist_col]
    return df.mapInPandas(pp, out_schema).select(*in_cols, *extra)


def kmeans_centroids(
    df: DataFrame,
    k: int,
    n_iters: int = 5,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "features",
    balance_power: float = 0.0,
    return_weights: bool = False,
    init_cents=None,
):
    """Lloyd iterations built from the engine's own primitives: assign =
    argmin via the Arrow-batched numpy pass (_assign_lists), update =
    the reduce_rows_by_key shape (posexplode + map-side-combined
    groupBy, linalg/reduce_rows_by_key.cuh:31). Returns k×d numpy
    centroids; the driver never holds more than k×d floats.

    Init: k deterministic data points (ids hashed by seed).

    ``balance_power`` > 0 turns this into SIZE-PENALIZED Lloyd (the
    cluster::kmeans_balanced role the reference family's IVF builds
    train with — balanced lists are what keep IVF probe work and
    partition sizes even at 100 TB): assignment minimizes
    d²(x,cⱼ)·wⱼ with wⱼ = clip((nⱼ/n̄)^power, ¼, 4) from the previous
    iteration's counts, so oversized lists get progressively more
    expensive to join and the centroids migrate into dense regions.
    With ``return_weights`` the final (cents, w) pair is returned so
    the SAME penalty can be applied at assignment time
    (:func:`ivf_assign` ``weights=``) — training-time balance alone
    under-delivers because plain argmin re-crowds the dense blob.

    ``init_cents``: optional k×d warm-start centroids (skip the seeded
    draw) — the cuVS build discipline of training the quantizer on a
    sample and refining on the full corpus, and the hook hierarchical/
    incremental trainers start from.
    """
    import numpy as np

    if init_cents is not None:
        cents = np.asarray(init_cents, dtype=float)
    else:
        # seeded init: the k rows with the smallest xxhash64(id, seed) —
        # a deterministic uniform draw over WHATEVER id space the frame
        # has (the previous hash-mod-n scheme assumed dense 0..n-1 ids
        # and collected zero seeds on offset/sparse id spaces, crashing
        # the first Lloyd pass). orderBy+limit compiles to TakeOrdered
        # (per-partition top-k, no global sort shuffle).
        cents = np.array(
            [
                r[vec_col]
                for r in df.select(id_col, vec_col)
                .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
                .limit(k)
                .collect()
            ]
        )
    if len(cents) == 0:
        raise ValueError("kmeans_centroids: empty input (no rows to seed from)")
    import pandas as pd

    vecs = df.select(vec_col)
    w = np.ones(len(cents)) if balance_power > 0 else None
    for _ in range(n_iters):
        # fused assign+update in ONE Arrow pass: each partition argmins
        # its batch against the closure centroids and emits k×d partial
        # sums + k counts (the earlier posexplode update materialized
        # n·d rows per iteration — 64M at 1M×64, several seconds/iter
        # of pure explode; the shuffle here is k×(d+1)×partitions
        # scalars). Per-cluster sums via a one-hot matmul (BLAS).
        C = np.asarray(cents, dtype=float)
        cc = (C * C).sum(1)
        kk = C.shape[0]

        def pp(batches, _C=C, _cc=cc, _kk=kk, _w=w):
            from raft_spark.functions.xp import to_np, xp

            ap = xp()
            cd = ap.asarray(_C.T)
            acc = None
            cnt = np.zeros(_kk)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.stack(pdf[vec_col].to_numpy()).astype(float)
                d2 = (M * M).sum(1)[:, None] - 2.0 * to_np(
                    ap.asarray(M) @ cd
                ) + _cc[None, :]
                # weighted argmin only on the balanced path (d2 can be
                # ~−1e-12 from float cancellation; clamp before scaling
                # so weights can't flip the sign ordering)
                a = (
                    d2.argmin(1) if _w is None
                    else (np.maximum(d2, 0.0) * _w[None, :]).argmin(1)
                )
                onehot = np.zeros((len(M), _kk))
                onehot[np.arange(len(M)), a] = 1.0
                part = onehot.T @ M
                acc = part if acc is None else acc + part
                cnt += onehot.sum(0)
            if acc is None:
                return
            cl, pos = np.divmod(np.arange(acc.size), acc.shape[1])
            yield pd.concat(
                [
                    pd.DataFrame(
                        {"cluster": cl, "pos": pos, "s": acc.ravel(),
                         "cnt": 0.0}
                    ),
                    pd.DataFrame(
                        {"cluster": np.arange(_kk), "pos": -1,
                         "s": 0.0, "cnt": cnt}
                    ),
                ],
                ignore_index=True,
            )

        sums = (
            vecs.mapInPandas(pp, "cluster int, pos int, s double, cnt double")
            .groupBy("cluster", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        counts = np.zeros(kk)
        acc = np.zeros_like(C)
        for r in sums:
            if r["pos"] < 0:
                counts[r["cluster"]] = r["cnt"]
            else:
                acc[r["cluster"], r["pos"]] = r["s"]
        new = np.array(cents)
        nz = counts > 0
        new[nz] = acc[nz] / counts[nz, None]  # empty clusters keep theirs
        cents = new
        if balance_power > 0:
            avg = max(counts.mean(), 1.0)
            # clip keeps the penalty from oscillating (an empty list
            # would otherwise get weight 0 and swallow everything next
            # iteration)
            w = np.clip((np.maximum(counts, 1.0) / avg) ** balance_power,
                        0.25, 4.0)
    if return_weights:
        return cents, (w if w is not None else np.ones(len(cents)))
    return cents


def _driver_2means(M, seed=42, n_iters=10):
    """Tiny in-memory 2-means on a bounded member sample (numpy).
    Init: sample[0] and the point farthest from it — the deterministic
    split axis of the oversized cluster."""
    import numpy as np

    c0 = M[0]
    c1 = M[np.argmax(((M - c0) ** 2).sum(1))]
    C = np.stack([c0, c1])
    for _ in range(n_iters):
        d2 = ((M[:, None, :] - C[None, :, :]) ** 2).sum(2)
        a = d2.argmin(1)
        for j in (0, 1):
            if (a == j).any():
                C[j] = M[a == j].mean(0)
    return C


def balanced_centroids(
    df: DataFrame,
    k: int,
    n_iters: int = 8,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "features",
    max_ratio: float = 2.0,
    n_adjust: int = 4,
    sample_rows: int = 20_000,
    init_cents=None,
):
    """Centroid-only balanced k-means (the quantizer-training half of
    :func:`kmeans_balanced` — what IVF builders consume, so they can
    run their own assignment pass without a redundant one here).
    Plain Lloyd, then ≤ ``n_adjust`` split rounds: each round recounts
    Voronoi occupancy and every cluster above ``max_ratio``·avg claims
    a starving slot (< avg/2); the pair's centers are replaced by a
    2-means split of the hot cluster trained on a ≤ ``sample_rows``
    hash-deterministic member sample."""
    import numpy as np

    cents = kmeans_centroids(
        df, k, n_iters=n_iters, seed=seed, id_col=id_col, vec_col=vec_col,
        init_cents=init_cents,
    )
    C = np.asarray(cents, dtype=float).copy()
    src = df.select(F.col(id_col).alias("id"), vec_col)
    for _ in range(n_adjust):
        # cache: the count AND every hot-cluster member sample read this
        # frame — without it each sample collect re-runs the full-corpus
        # Arrow assignment pass (h+1 scans per round). persist (not
        # localCheckpoint) so the round's blocks are FREED in the
        # finally below — each round's plan is fresh from src + the
        # driver-side C array, so there's no lineage growth to cut, and
        # a per-round checkpoint would pile one corpus-sized block set
        # per round per call onto executor storage
        assigned = _assign_lists(src, C, vec_col, list_col="cluster").persist()
        try:
            counts = np.zeros(len(C))
            for r in assigned.groupBy("cluster").count().collect():
                counts[r["cluster"]] = r["count"]
            avg = max(counts.mean(), 1.0)
            hot = [j for j in np.argsort(-counts) if counts[j] > max_ratio * avg]
            cold = [j for j in np.argsort(counts)
                    if counts[j] < avg / 2 and j not in hot]
            if not hot or not cold:
                break
            for j, r_ in zip(hot, cold):
                sample = np.array([
                    row[vec_col]
                    for row in assigned.filter(F.col("cluster") == int(j))
                    .orderBy(F.xxhash64("id", F.lit(seed)), "id")
                    .limit(sample_rows).collect()
                ])
                if len(sample) < 2:
                    continue
                C[[int(j), int(r_)]] = _driver_2means(sample, seed=seed)
        finally:
            assigned.unpersist()
    return C


def kmeans_balanced(
    df: DataFrame,
    k: int,
    n_iters: int = 8,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "features",
    max_ratio: float = 2.0,
    n_adjust: int = 4,
    sample_rows: int = 20_000,
    init_cents=None,
):
    """Size-balanced k-means → (assignments (id, cluster, sq_dist),
    centroids k×d, balance_ratio = max/mean cluster size): the
    cluster::kmeans_balanced role the reference family's IVF builds
    fill (neighbors migrated to cuVS in this snapshot,
    README.md:126-148 — cuVS trains IVF coarse quantizers with
    balanced hierarchical k-means precisely because even list sizes
    are what keep probe cost and shard skew bounded at scale).

    Algorithm: plain Lloyd first, then up to ``n_adjust`` SPLIT rounds
    — each round recounts Voronoi occupancy (one narrow distributed
    pass) and, for every cluster still above ``max_ratio``·avg that
    can claim a starving cluster's slot (< avg/2), replaces the pair's
    two centers with a 2-means split of the hot cluster, trained on a
    bounded hash-deterministic member sample (≤ ``sample_rows`` —
    the pq_train collect discipline). A size-penalized weighted
    Voronoi was measured first and REJECTED: the ≤16× penalty ratio is
    dwarfed by the distance ratio of a tight far-separated hot blob,
    and weight feedback oscillates (hot list swung 644→827→468 across
    rounds); explicit splitting is monotone. The final assignment is
    UNWEIGHTED, so the result is a true Voronoi partition of the final
    centers — IVF probe math and recall reasoning stay geometric, and
    ``sq_dist`` is the true squared distance.

    Balance is bought with inertia BY DESIGN (a claimed starving
    center abandons its few points to their next-nearest list) — the
    contract is even list sizes, not minimum quantization error.
    """
    C = balanced_centroids(
        df, k, n_iters=n_iters, seed=seed, id_col=id_col, vec_col=vec_col,
        max_ratio=max_ratio, n_adjust=n_adjust, sample_rows=sample_rows,
        init_cents=init_cents,
    )
    src = df.select(F.col(id_col).alias("id"), vec_col)
    # checkpoint: the ratio agg below AND the caller's consumption both
    # read this frame — the most expensive pass must run once
    out = _assign_lists(
        src, C, vec_col, list_col="cluster", dist_col="sq_dist",
    ).select("id", F.col("cluster").cast("long").alias("cluster"),
             "sq_dist").localCheckpoint(eager=True)
    with SS._no_aqe(out.sparkSession):  # probe: map-side collapse
        sizes = out.groupBy("cluster").count().agg(
            F.max("count").alias("mx"), F.avg("count").alias("av")
        ).first()
    ratio = float(sizes["mx"]) / max(float(sizes["av"]), 1.0)
    return out, C, ratio


def _weighted_kmeanspp(C, w, k, seed=42):
    """Driver-side weighted k-means++ over a BOUNDED candidate set (the
    k-means|| reduction step): pick k of the |C| candidates, first ∝
    weight, then ∝ weight·d²(candidate, chosen). Seeded — deterministic
    across runs and partitionings."""
    import numpy as np

    rng = np.random.default_rng(seed)
    w = np.asarray(w, dtype=float)
    w = np.where(w > 0, w, 1.0)
    picked = [int(rng.choice(len(C), p=w / w.sum()))]
    d2 = ((C - C[picked[0]]) ** 2).sum(1)
    while len(picked) < k:
        p = w * d2
        if p.sum() <= 0:  # all candidates coincide with chosen centers
            rest = [i for i in range(len(C)) if i not in picked]
            picked.extend(rest[: k - len(picked)])
            break
        picked.append(int(rng.choice(len(C), p=p / p.sum())))
        d2 = np.minimum(d2, ((C - C[picked[-1]]) ** 2).sum(1))
    return C[picked[:k]]


def kmeans_parallel_init(
    df: DataFrame,
    k: int,
    l: int | None = None,
    rounds: int = 5,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "features",
):
    """k-means|| initialization (Bahmani et al., VLDB 2012 — the
    scalable form of the KMeansPlusPlus init the reference's
    cluster::kmeans exposes; cluster/kmeans.cuh init options) → k×d
    numpy centroids to feed ``init_cents``.

    Instead of k sequential corpus passes (classic k-means++ — useless
    distributed), each of ``rounds`` passes OVERSAMPLES ~``l``
    candidates independently with probability min(1, l·d²/φ) where d²
    is the distance to the current candidate set and φ = Σd² — one
    Arrow argmin pass + one filtered collect per round, candidates
    bounded by rounds·4l (deterministic hash-ordered cap). The bounded
    candidate set is then weighted by its Voronoi populations (one
    more assign pass) and reduced to k centers with seeded weighted
    k-means++ ON THE DRIVER — O(rounds·l·d) driver state, never the
    corpus. All randomness is seeded (per-row xxhash64 draws, seeded
    generator in the reduction), so the init is deterministic across
    runs AND partitionings.
    """
    import numpy as np

    l = l or 2 * k
    first = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(1).collect()
    )
    if not first:
        raise ValueError("kmeans_parallel_init: empty input")
    C = np.array([first[0][vec_col]], dtype=float)
    src = df.select(F.col(id_col).alias("_kid"), vec_col)
    big = 1_000_000_007
    for r in range(rounds):
        # persisted across the two actions below (φ aggregation + the
        # sampling collect) so each round pays ONE corpus Arrow-argmin
        # pass, not two — the balanced_centroids discipline
        assigned = _assign_lists(src, C, vec_col, dist_col="_d2").persist()
        with SS._no_aqe(assigned.sparkSession):  # probe: map-side collapse
            tot = assigned.agg(F.sum("_d2")).first()[0]
        if not tot or tot <= 0:
            assigned.unpersist()
            break  # every row coincides with a candidate already
        u = (
            F.pmod(F.xxhash64(F.col("_kid"), F.lit(seed), F.lit(r)),
                   F.lit(big)).cast("double") / F.lit(float(big))
        )
        picked = (
            assigned.filter(u < F.col("_d2") * F.lit(float(l) / float(tot)))
            .orderBy(F.xxhash64(F.col("_kid"), F.lit(seed), F.lit(r + 7)),
                     F.col("_kid"))
            .limit(4 * l)  # deterministic bound on the driver collect
            .select(vec_col).collect()
        )
        assigned.unpersist()
        if picked:
            C = np.vstack(
                [C, np.array([row[vec_col] for row in picked], dtype=float)]
            )
    if len(C) < k:
        # degenerate corpus (fewer distinct regions than k): top up with
        # seeded distinct rows, the default init's draw
        extra = (
            df.select(vec_col)
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed + 1)), F.col(id_col))
            .limit(k).collect()
        )
        C = np.vstack([C, np.array([r2[vec_col] for r2 in extra],
                                   dtype=float)])[: max(k, len(C))]
    counts = np.zeros(len(C))
    for row in (
        _assign_lists(src, C, vec_col, list_col="_c")
        .groupBy("_c").count().collect()
    ):
        counts[row["_c"]] = row["count"]
    return _weighted_kmeanspp(C, counts, k, seed=seed)


def kmeans(
    df: DataFrame,
    k: int,
    n_iters: int = 10,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "features",
    init: str = "hash",
):
    """Public k-means API over the engine's Lloyd loop → (assignments
    DataFrame (id, cluster, sq_dist), centroids ndarray k×d, inertia).

    cluster::kmeans semantics (balanced driver/executor split): assign
    = one Arrow-batched BLAS argmin pass (centroids in the closure,
    plan O(1) in k), update = posexplode + map-side-combined groupBy
    (shuffle k·d rows). Driver state k×d. Deterministic seeded init:
    ``init="hash"`` draws k seeded rows; ``init="kmeans||"`` runs the
    scalable k-means++ oversampling (:func:`kmeans_parallel_init` —
    the reference kmeans' KMeansPlusPlus option, distributed).
    """
    import numpy as np

    if init == "kmeans||":
        init_cents = kmeans_parallel_init(df, k, seed=seed,
                                          id_col=id_col, vec_col=vec_col)
    elif init == "hash":
        init_cents = None
    else:
        raise ValueError(f"kmeans: unknown init {init!r} "
                         "(one of 'hash', 'kmeans||')")
    cents = kmeans_centroids(df, k, n_iters=n_iters, seed=seed,
                             id_col=id_col, vec_col=vec_col,
                             init_cents=init_cents)
    C = np.asarray(cents, dtype=float)
    out = _assign_lists(
        df.select(F.col(id_col).alias("id"), vec_col), C, vec_col,
        list_col="cluster", dist_col="sq_dist",
    ).select("id", F.col("cluster").cast("long").alias("cluster"), "sq_dist")
    with SS._no_aqe(out.sparkSession):  # probe: map-side collapse
        inertia = out.agg(F.sum("sq_dist")).collect()[0][0]
    return out, C, float(inertia)


def ivf_assign(df: DataFrame, cents, vec_col: str = "features",
               weights=None) -> DataFrame:
    """Attach the nearest-centroid list id (one Arrow-batched pass).
    ``weights``: optional per-centroid penalty (selection minimizes
    d²·wⱼ) — the assignment-time half of the kmeans_balanced
    contract."""
    return _assign_lists(df, cents, vec_col, n_probe=1, list_col="list_id",
                         weights=weights)


def pq_train(
    df: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 16,
    n_iters: int = 8,
    seed: int = 42,
    vec_col: str = "features",
    max_train_rows: int = 20_000,
):
    """Train product-quantization codebooks: the d dims are split into
    ``m_subspaces`` contiguous subvectors; each subspace gets its own
    ``n_codes``-word codebook via Lloyd k-means on a bounded training
    sample (reference semantics: RAFT's ivf_pq trains the PQ codebooks
    on a host-side subsample too — codebooks are model state, k·d
    floats, never data-sized).

    Returns a numpy array (m_subspaces, n_codes, d_sub). Driver holds
    only the sample (≤ ``max_train_rows`` rows, a deterministic
    hash-sample so the model is reproducible) and the codebooks.
    """
    import numpy as np

    frac_probe = df.select(
        F.col(vec_col), F.pmod(F.xxhash64(F.col(vec_col).cast("string")), F.lit(1_000_000)).alias("_h")
    )
    n = df.count()
    if n > max_train_rows:
        cut = int(1_000_000 * max_train_rows / n)
        sample = frac_probe.filter(F.col("_h") < cut).select(vec_col).collect()
    else:
        sample = df.select(vec_col).collect()
    # dim from the collected sample (one fewer scheduled job than a
    # separate size() probe). The hash-cut keeps >= max_train_rows rows
    # only in EXPECTATION — an empty df, or a low-distinct-vector input
    # whose few hash values all land above the cut, collects nothing,
    # so guard instead of indexing into sample[0].
    if not sample:
        raise ValueError(
            "pq_train: deterministic hash-cut sample collected 0 rows "
            f"(n={n}, max_train_rows={max_train_rows}) — the input is "
            "empty or its distinct vectors all hash above the cut; "
            "raise max_train_rows or deduplicate upstream")
    d = len(sample[0][vec_col])
    assert d % m_subspaces == 0, f"dim {d} not divisible by m={m_subspaces}"
    dsub = d // m_subspaces
    X = np.array([r[vec_col] for r in sample], dtype=float)
    rng = np.random.RandomState(seed)
    books = np.empty((m_subspaces, n_codes, dsub))
    for s in range(m_subspaces):
        Xs = X[:, s * dsub:(s + 1) * dsub]
        k = min(n_codes, len(Xs))
        cents = Xs[rng.choice(len(Xs), size=k, replace=False)]
        for _ in range(n_iters):
            d2 = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(2)
            a = d2.argmin(1)
            for c in range(k):
                pts = Xs[a == c]
                if len(pts):
                    cents[c] = pts.mean(0)
        if k < n_codes:  # degenerate tiny input: pad by repeating
            cents = np.vstack([cents, cents[np.zeros(n_codes - k, dtype=int)]])
        books[s] = cents
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "id",
    vec_col: str = "features",
) -> DataFrame:
    """Encode each vector as m_subspaces uint8-ish codes → (id, codes).

    One Arrow-batched pass; per batch each subspace is a single BLAS
    distance computation against its codebook. The codebooks ride the
    task closure (m·n_codes·d_sub floats — KBs). Output rows carry
    m_subspaces ints instead of d floats: at d=512/m=64 this is the
    64× compression that lets a 100 TB embedding corpus fit a few TB
    of code storage for in-memory ADC scanning.
    """
    import numpy as np
    import pandas as pd

    B = np.asarray(codebooks, dtype=float)  # m × k × dsub
    m, _, dsub = B.shape

    def pp(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(float)
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * dsub:(s + 1) * dsub]
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
                d2 = -2.0 * (Xs @ B[s].T) + (B[s] * B[s]).sum(1)[None, :]
                codes[:, s] = d2.argmin(1)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(pp, "id long, codes array<int>")


def _pq_lut(Q, B):
    """ADC lookup tables of a query block ``Q`` (|Q|×d) against PQ
    codebooks ``B`` (m×n_codes×d/m): LUT[qi, s, c] = <q_sub_s,
    codeword_c> — the approximate inner product decomposes per
    subspace."""
    import numpy as np

    dsub = B.shape[2]
    return np.stack(
        [Q[:, s * dsub:(s + 1) * dsub] @ B[s].T for s in range(len(B))],
        axis=1,
    )


def _adc_scores(lut, codes):
    """ADC block for one Arrow batch of PQ ``codes`` (array<int> per
    row): scores[b, qi] = Σ_s lut[qi, s, C[b, s]] → B×|Q| float64."""
    import numpy as np

    C = np.stack(codes.to_numpy()).astype(int)  # batch × m
    scores = np.zeros((len(C), lut.shape[0]))
    for s in range(lut.shape[1]):
        scores += lut[:, s, C[:, s]].T
    return scores


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_subspaces: int = 16,
    n_codes: int = 16,
    refine_factor: int = 8,
    id_col: str = "id",
    vec_col: str = "features",
    codebooks=None,
) -> DataFrame:
    """PQ-compressed approximate top-k via asymmetric distance
    computation (ADC) plus exact refinement: corpus vectors are scanned
    only as codes; each query precomputes an m×n_codes inner-product
    lookup table against the codebooks, a candidate's ADC score is the
    sum of m table entries, and the top ``k·refine_factor`` shortlist
    is re-ranked with EXACT cosines (one small join back to the raw
    vectors — the reference's refine() step, neighbors/refine.cuh).

    Scale shape: encode is one narrow pass (run once, store codes);
    the ADC scan streams code batches through one numpy gather+sum and
    emits only the local shortlist per partition (partial-then-merge,
    same as knn_brute). Refinement touches |Q|·k·refine_factor raw
    vectors — independent of corpus size. Composing with ivf_assign
    (filter candidates to probed lists before ADC) gives IVF-PQ; the
    flat variant keeps recall properties isolated.

    Output matches knn_brute's schema (qid, nid, cosine, rank) with
    exact cosines (post-refinement).
    """
    import numpy as np

    # materialize the normalized corpus once: it feeds the codebook
    # training (count + sample), the encode pass, and the refine join
    cn = (
        _norm_table(corpus, id_col, vec_col)
        .withColumnRenamed("_v", vec_col)
        .localCheckpoint(eager=True)
    )
    qn = _norm_table(queries, id_col, vec_col).withColumnRenamed("_v", vec_col)
    if codebooks is None:
        codebooks = pq_train(cn, m_subspaces, n_codes, vec_col=vec_col)
    B = np.asarray(codebooks, dtype=float)
    codes_df = pq_encode(cn, B, id_col="_id", vec_col=vec_col)
    k_short = k * refine_factor

    def make_score(rows):
        qids = np.array([r["_id"] for r in rows])
        lut = _pq_lut(np.array([r[vec_col] for r in rows], dtype=float), B)
        return lambda pdf: [
            (_adc_scores(lut, pdf["codes"]), pdf["id"].to_numpy(), qids)]

    # global shortlist cut (ADC order), then exact re-rank: join the
    # shortlist (tiny — broadcast side) back to the raw normalized
    # vectors; the corpus scan prunes to the |Q|·k_short semi-join.
    short = _topk_scan(codes_df, qn, make_score, k_short, "adc") \
        .select("qid", "nid")
    qv = qn.select(F.col("_id").alias("qid"), F.col(vec_col).alias("_vq"))
    refined = (
        cn.select(F.col("_id").alias("nid"), F.col(vec_col).alias("_vc"))
        .join(F.broadcast(short), "nid")
        .join(F.broadcast(qv), "qid")
        .select("qid", "nid", F.round(A.dot("_vq", "_vc"), 6).alias("cosine"))
    )
    return select_k(
        refined, group_cols=["qid"], order_col="cosine", k=k,
        ascending=False, payload_cols=["nid"], strategy="agg",
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    n_lists: int = 8,
    m_subspaces: int = 16,
    n_codes: int = 16,
    kmeans_iters: int = 3,
    id_col: str = "id",
    vec_col: str = "features",
    balanced: bool = False,
) -> dict:
    """Build the IVF-PQ index once → {codes: DataFrame(id, list_id,
    codes), centroids: n_lists×d, codebooks: m×n_codes×d/m}. The codes
    frame is the only corpus-sized artifact (m small ints per vector);
    persist with :func:`raft_spark.sources.sinks`-style writers via
    ``write_ivf_pq_index`` and query many times.

    ``balanced=True`` trains the coarse quantizer with
    :func:`balanced_centroids` (split rounds) — the reference family's
    IVF discipline: even list sizes bound per-probe work and shard
    skew when the corpus is hot-spotted."""
    import numpy as np

    cn = _norm_table(corpus, id_col, vec_col).withColumnRenamed("_v", vec_col)
    trainer = balanced_centroids if balanced else kmeans_centroids
    cents = trainer(cn, n_lists, n_iters=kmeans_iters,
                    id_col="_id", vec_col=vec_col)
    C = np.asarray(cents, dtype=float)
    assigned = ivf_assign(cn, C, vec_col)
    residuals = assigned.mapInPandas(
        _residual_pass(C, vec_col), "_id long, list_id int, residual array<double>"
    ).localCheckpoint(eager=True)
    books = pq_train(residuals, m_subspaces, n_codes, vec_col="residual")
    B = np.asarray(books, dtype=float)
    codes = pq_encode(residuals, B, id_col="_id", vec_col="residual").join(
        residuals.select(F.col("_id").alias("id"), "list_id"), "id"
    )
    return {"codes": codes, "centroids": C, "codebooks": B}


def _residual_pass(C, vec_col):
    import numpy as np
    import pandas as pd

    def rr(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(float)
            R = M - C[pdf["list_id"].to_numpy()]
            yield pd.DataFrame({
                "_id": pdf["_id"].to_numpy(),
                "list_id": pdf["list_id"].to_numpy(),
                "residual": list(R),
            })

    return rr


def write_ivf_pq_index(index: dict, path: str) -> None:
    """Persist the index: codes partitioned by list_id (a probe reads
    only its lists' directories), centroids/codebooks as small parquet
    sidecars — everything reloadable by any Spark job."""
    spark = index["codes"].sparkSession
    index["codes"].write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/codes"
    )
    C = index["centroids"]
    # explicit schema + plain-Python floats: schema inference over numpy
    # arrays only works when Arrow conversion is on, and the gate driver's
    # session has it off (r4 red row CANNOT_INFER_TYPE_FOR_FIELD `center`)
    spark.createDataFrame(
        [(i, [float(x) for x in C[i]]) for i in range(len(C))],
        "list_id int, center array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    B = index["codebooks"]
    m, k, _ = B.shape
    rows = [(s, c, B[s, c].tolist()) for s in range(m) for c in range(k)]
    spark.createDataFrame(
        rows, "subspace int, code int, word array<double>"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")


def read_ivf_pq_index(spark, path: str) -> dict:
    import numpy as np

    codes = spark.read.parquet(f"{path}/codes")
    # centroids/codebooks are index METADATA (k and m×k rows): read
    # driver-side via Arrow — two fewer schema-inference + collect job
    # pairs per index open (the statestore sidecar discipline)
    crows = SS.read_table_rows(f"{path}/centroids")
    C = np.array([r["center"] for r in sorted(crows, key=lambda r: r["list_id"])])
    brows = SS.read_table_rows(f"{path}/codebooks")
    m = max(r["subspace"] for r in brows) + 1
    k = max(r["code"] for r in brows) + 1
    dsub = len(brows[0]["word"])
    B = np.zeros((m, k, dsub))
    for r in brows:
        B[r["subspace"], r["code"]] = r["word"]
    return {"codes": codes, "centroids": C, "codebooks": B}


def knn_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    m_subspaces: int = 16,
    n_codes: int = 16,
    refine_factor: int = 8,
    kmeans_iters: int = 3,
    id_col: str = "id",
    vec_col: str = "features",
    index: dict | None = None,
    filter_ids: DataFrame | None = None,
    filter_mode: str = "allow",
) -> DataFrame:
    """IVF-PQ: the reference's flagship ANN index (neighbors/ivf_pq.cuh
    semantics) — coarse k-means lists bound the candidate volume
    (n_probe/n_lists of the corpus), PQ codes of the RESIDUAL
    ``r = x − centroid(list)`` bound the memory (m ints per vector),
    ADC lookup tables score candidates without touching raw floats,
    and the shortlist is exactness-refined (refine.cuh).

    Inner product decomposes as <q, c_list> + <q, r̂>: the first term
    is one scalar per (query, probed list), the second is the LUT sum
    over the residual codebooks. Index state shipped to tasks:
    centroids (n_lists·d) + codebooks (m·n_codes·d/m) — KBs–MBs,
    independent of corpus size. Pass ``index`` (from
    build_ivf_pq_index / read_ivf_pq_index) to skip the build.

    ``filter_ids``/``filter_mode``: filtered search over the SAME
    index, no rebuild (cuVS filtering::bitset_filter on ivf_pq::search)
    — the mask joins the codes scan before the ADC pass, so filtered
    vectors are never scored, and the refine stage sees only surviving
    candidates. Top-k is exact over the surviving corpus within the
    probed lists (the usual IVF recall contract).
    """
    import numpy as np

    cn = _norm_table(corpus, id_col, vec_col).withColumnRenamed("_v", vec_col)
    qn = _norm_table(queries, id_col, vec_col).withColumnRenamed("_v", vec_col)
    if index is None:
        index = build_ivf_pq_index(
            corpus, n_lists=n_lists, m_subspaces=m_subspaces, n_codes=n_codes,
            kmeans_iters=kmeans_iters, id_col=id_col, vec_col=vec_col,
        )
    C = np.asarray(index["centroids"], dtype=float)
    n_lists = len(C)
    n_probe = min(n_probe, n_lists)

    B = np.asarray(index["codebooks"], dtype=float)
    codes = _apply_id_filter(index["codes"], "id", filter_ids, filter_mode)
    k_short = k * refine_factor

    def make_score(rows):
        qids = np.array([r["_id"] for r in rows])
        Q = np.array([r[vec_col] for r in rows], dtype=float)
        qc = Q @ C.T  # |Q|×n_lists: the <q, centroid> offsets
        # per-query probe sets: n_probe nearest centroids by L2 in the
        # normalized space (same metric as the assigner)
        d2 = (Q * Q).sum(1)[:, None] - 2.0 * qc + (C * C).sum(1)[None, :]
        probes = np.argsort(d2, axis=1)[:, :n_probe]
        probe_mask = np.zeros((len(qids), n_lists), dtype=bool)
        for qi in range(len(qids)):
            probe_mask[qi, probes[qi]] = True
        lut = _pq_lut(Q, B)

        def score(pdf):
            lists = pdf["list_id"].to_numpy()
            # + <q, centroid(list)>; un-probed lists drop out
            s = _adc_scores(lut, pdf["codes"]) + qc[:, lists].T
            s[~probe_mask[:, lists].T] = -np.inf
            return [(s, pdf["id"].to_numpy(), qids)]

        return score

    short = _topk_scan(codes, qn, make_score, k_short, "adc") \
        .select("qid", "nid")
    qv = qn.select(F.col("_id").alias("qid"), F.col(vec_col).alias("_vq"))
    refined = (
        cn.select(F.col("_id").alias("nid"), F.col(vec_col).alias("_vc"))
        .join(F.broadcast(short), "nid")
        .join(F.broadcast(qv), "qid")
        .select("qid", "nid", F.round(A.dot("_vq", "_vc"), 6).alias("cosine"))
    )
    return select_k(
        refined, group_cols=["qid"], order_col="cosine", k=k,
        ascending=False, payload_cols=["nid"], strategy="agg",
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    kmeans_iters: int = 3,
    id_col: str = "id",
    vec_col: str = "features",
    balanced: bool = False,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into n_lists Voronoi
    cells (k-means coarse quantizer); each query probes its n_probe
    nearest cells only — candidate volume drops to ~n_probe/n_lists of
    brute force. The standard scale path when LSH recall is too low.
    ``balanced=True`` trains the quantizer with split-round
    :func:`balanced_centroids` (even list sizes under hot-spotted
    corpora — bounded probe cost at scale).

    Output matches knn_brute's schema (qid, nid, cosine, rank).
    """
    import numpy as np

    # spherical IVF: quantize in the L2-normalized space (the same
    # space the cosine scoring runs in). The normalized corpus is
    # materialized ONCE — the k-means iterations, the list assignment
    # and the scoring pass all re-read it (kmeans_iters + 2 full
    # passes re-evaluating the normalize expression otherwise).
    norm_c = (
        _norm_table(corpus, id_col, vec_col)
        .withColumnRenamed("_v", vec_col)
        .localCheckpoint(eager=True)
    )
    trainer = balanced_centroids if balanced else kmeans_centroids
    cents = trainer(norm_c, n_lists, n_iters=kmeans_iters,
                    id_col="_id", vec_col=vec_col)
    n_lists = len(cents)
    n_probe = min(n_probe, n_lists)
    c_assigned = ivf_assign(norm_c, cents, vec_col).select(
        F.col("_id").alias("nid"), F.col(vec_col).alias("_vc"), "list_id"
    )

    # query probes computed DRIVER-side against the k×d centroid matrix
    # (ONE capped collect both sizes and delivers the query side), then
    # the scoring ships query vectors + their probed lists in the task
    # closure and runs ONE BLAS sub-matmul per (batch, probed list):
    # same arithmetic, quantization and tie order as knn_brute, so
    # full-probe output is identical to brute force — but candidate
    # volume is n_probe/n_lists of it (the per-pair JVM dot join this
    # replaces measured 26.5 s vs brute's 4 s at 1M×100q).
    #
    # A query side BEYOND the collect guard (corpus-scale re-ranking,
    # all-pairs joins) degrades to the fully distributed probe path
    # instead of raising: probes assigned by the same Arrow-batched
    # argmin pass (_assign_lists), candidates by a (list_id) equi-join,
    # scoring by the JVM dot expression with brute's quantization.
    # Slower per pair than the closure-BLAS path but O(1) driver state
    # at ANY query count.
    qn = _norm_table(queries, id_col, vec_col).withColumnRenamed(
        "_v", vec_col
    )
    q_rows = SS.collect_capped_rows(qn, MAX_COLLECT_QUERIES)
    if q_rows is None:
        q_assigned = _assign_lists(
            qn, cents, vec_col, n_probe=n_probe
        ).select(
            F.col("_id").alias("qid"), F.col(vec_col).alias("_vq"), "list_id"
        )
        raw = F.aggregate(
            F.zip_with("_vq", "_vc", lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cos = F.signum(raw) * F.floor(F.abs(raw) * 1e6 + 0.5) / 1e6
        scored = (
            q_assigned.join(c_assigned, "list_id")
            .filter(F.col("qid") != F.col("nid"))
            .select("qid", "nid", cos.alias("cosine"))
        )
        return select_k(
            scored, group_cols=["qid"], order_col="cosine", k=k,
            ascending=False, payload_cols=["nid"], strategy="jvm",
        )
    if not q_rows:  # empty query side → empty result, not an AxisError
        return corpus.sparkSession.createDataFrame(
            [], "qid long, nid long, cosine double, rank int"
        )

    def make_score(rows):
        qids = np.array([r["_id"] for r in rows])
        qm = np.array([r[vec_col] for r in rows])  # |Q|×d
        C = np.asarray(cents, dtype=float)
        d2 = (qm * qm).sum(1)[:, None] - 2.0 * qm @ C.T \
            + (C * C).sum(1)[None, :]
        probe_lists = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
        by_list: dict[int, np.ndarray] = {}
        for li in range(n_lists):
            sub = np.nonzero((probe_lists == li).any(axis=1))[0]
            if len(sub):
                by_list[li] = sub
        qt = qm.T

        def score(pdf):
            m = np.stack(pdf["_vc"].to_numpy()).astype(float)
            nids = pdf["nid"].to_numpy()
            lists = pdf["list_id"].to_numpy()
            for li in np.unique(lists):
                qsub = by_list.get(int(li))
                if qsub is not None:
                    sel = np.nonzero(lists == li)[0]
                    yield _cosine6(m[sel], qt[:, qsub]), nids[sel], qids[qsub]

        return score

    return _topk_scan(c_assigned, q_rows, make_score, k, "cosine")


def knn_ivf_metric(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "l2",
    n_lists: int = 8,
    n_probe: int = 2,
    kmeans_iters: int = 3,
    balanced: bool = False,
    id_col: str = "id",
    vec_col: str = "features",
    p: float | None = None,
) -> DataFrame:
    """IVF approximate top-k under ANY metric of the pairwise family →
    (qid, nid, dist, rank): the metric-general IVF (the reference
    family's ivf_flat supports L2/IP — this generalizes to the whole
    :data:`_METRICS` table; :func:`knn_ivf` remains the
    cosine-specialized fast path with its closure-BLAS scoring).

    Composition of the engine's own pieces: an L2 coarse quantizer in
    the RAW vector space (``balanced=True`` → split-round
    :func:`balanced_centroids`), probe assignment via the Arrow argmin
    pass for both sides (queries get ``n_probe`` rows), candidates by
    a (list_id) equi-join, scoring by the metric's single JVM
    expression, and the bounded two-phase select_k. Fully distributed
    — no driver collect of either side, O(1) driver state at any query
    count. With ``n_probe = n_lists`` the output EQUALS
    :func:`knn_metric` (same rounding, same nid tie-break) — the
    full-probe≡exact property the cosine path pins.

    Caveat: the L2 quantizer bounds candidate volume for any metric,
    but the recall argument (near points share Voronoi cells) is
    strongest for L2-like metrics; for set metrics on binary vectors
    prefer the LSH tiers.
    """
    mfn, ascending = _resolve_metric(metric, p)
    src = corpus.select(F.col(id_col).alias("nid"),
                        F.col(vec_col).alias("_vc")) \
        .localCheckpoint(eager=True)
    trainer = balanced_centroids if balanced else kmeans_centroids
    cents = trainer(src, n_lists, n_iters=kmeans_iters,
                    id_col="nid", vec_col="_vc")
    n_probe = min(n_probe, len(cents))
    c_assigned = _assign_lists(src, cents, "_vc")
    q_assigned = _assign_lists(
        queries.select(F.col(id_col).alias("qid"),
                       F.col(vec_col).alias("_vq")),
        cents, "_vq", n_probe=n_probe,
    )
    # each corpus row sits in exactly ONE list, so the probe join
    # cannot duplicate a (qid, nid) pair — no distinct needed
    scored = (
        q_assigned.join(c_assigned, "list_id")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", F.round(mfn("_vq", "_vc"), 6).alias("dist"))
    )
    return select_k(
        scored, group_cols=["qid"], order_col="dist", k=k,
        ascending=ascending, payload_cols=["nid"],
    )


def ivf_pq_index_add(
    new_df: DataFrame,
    path: str,
    id_col: str = "id",
    vec_col: str = "features",
) -> int:
    """Delta-ADD new vectors to a PERSISTED IVF-PQ index — the
    reference's build/extend split (neighbors/ivf_pq.cuh: ``build``
    trains the coarse quantizer + codebooks, ``extend`` only assigns
    and encodes new vectors against the FROZEN model state): assign
    each new vector to its nearest frozen centroid, PQ-encode its
    residual against the frozen codebooks, and APPEND the codes into
    the existing ``list_id=`` partition directories — O(delta) IO, the
    sidecars and every previously-written file untouched.

    Because centroids/codebooks are frozen, encoding is a pure per-row
    function of the model state, so an index GROWN by deltas is
    byte-identical (codes table) to one encoded from scratch under the
    same model — queries see the same shortlists (pinned in pytest and
    the ann_recall_suite ivf_pq_delta_eq member). Quantizer refresh
    (new codebooks) is a full rebuild BY CONTRACT — codebook drift is
    a model decision, not index maintenance. Replay-safe: ids already
    present in the codes table are anti-joined out. No delivery
    manifest needed (unlike the multi-store state ingests): the append
    touches one store whose rows are per-id independent, so a crash
    mid-append converges on retry — committed ids anti-join out,
    missing ids re-append. Returns the number of rows actually
    appended."""
    import numpy as np

    spark = new_df.sparkSession
    idx = read_ivf_pq_index(spark, path)
    C = np.asarray(idx["centroids"], dtype=float)
    cn = _norm_table(new_df, id_col, vec_col).withColumnRenamed("_v", vec_col)
    fresh = cn.join(
        idx["codes"].select(F.col("id").alias("_id")), "_id", "left_anti"
    )
    assigned = ivf_assign(fresh, C, vec_col)
    residuals = assigned.mapInPandas(
        _residual_pass(C, vec_col),
        "_id long, list_id int, residual array<double>",
    ).localCheckpoint(eager=True)
    codes = pq_encode(
        residuals, idx["codebooks"], id_col="_id", vec_col="residual"
    ).join(
        residuals.select(F.col("_id").alias("id"), "list_id"), "id"
    ).localCheckpoint(eager=True)
    n = codes.count()
    if n:
        codes.write.mode("append").partitionBy("list_id").parquet(
            f"{path}/codes"
        )
    return n


def ivf_pq_index_compact(spark, path: str) -> int:
    """Compact a delta-extended IVF-PQ index: each
    :func:`ivf_pq_index_add` appends its own files into the ``list_id=``
    partition directories, so a long-lived index accumulates one small
    file per (delivery × list) — the small-file tax on every probe's
    pruned scan. Rewrites the codes coalesced within each list
    partition, content-identical (materialized before the overwrite);
    sidecars untouched. Maintenance-cadence operation. Returns the row
    count."""
    codes = spark.read.parquet(f"{path}/codes").select(
        "id", "codes", F.col("list_id").cast("int").alias("list_id")
    )
    # small indexes (footer-walk row count) rewrite via one Arrow
    # collect + driver-side file writes into a staged sibling swapped by
    # rename — no localCheckpoint materialization, no committer staging
    # (the compact_dedup_state discipline)
    if SS.store_row_count(f"{path}/codes") < SS.SMALL_STORE_ROWS:
        n = SS.compact_store_driver(
            codes, f"{path}/codes.__new", ("list_id",))
        SS.swap_in(f"{path}/codes.__new", f"{path}/codes")
        return n
    compacted = codes.repartition("list_id").localCheckpoint(eager=True)
    n = compacted.count()
    compacted.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/codes"
    )
    return n


def write_knn_graph(graph: DataFrame, path: str) -> None:
    """Persist a prebuilt kNN graph (the nn_descent_graph output — the
    build-once / serve-many artifact of the graph-ANN tier, the
    reference family's CAGRA serialize role): (id, nid[, cosine, rank])
    parquet partitioned by ``_pid = pmod(xxhash64(id), 64)`` so a
    query-time frontier join prunes its scan to the directories the
    frontier's node ids hash into. Reload with :func:`read_knn_graph`."""
    cols = [c for c in ("id", "nid", "cosine", "rank") if c in graph.columns]
    graph.select(
        *cols, F.pmod(F.xxhash64("id"), F.lit(64)).alias("_pid")
    ).write.mode("overwrite").partitionBy("_pid").parquet(path)


def read_knn_graph(spark, path: str) -> DataFrame:
    """Reload a persisted kNN graph for :func:`knn_graph_search` —
    column types recast so the walk's joins match the build-time frame
    exactly (partition-column inference returns int)."""
    g = spark.read.parquet(path)
    cols = [F.col("id").cast("long").alias("id"),
            F.col("nid").cast("long").alias("nid")]
    for c in ("cosine", "rank"):
        if c in g.columns:
            cols.append(F.col(c))
    return g.select(*cols)


def knn_merge_parts(
    parts: list[DataFrame],
    k: int = 5,
    ascending: bool = False,
    order_col: str = "cosine",
) -> DataFrame:
    """Merge per-shard top-k results into the global top-k per query —
    the reference's ``knn_merge_parts`` (brute_force.cuh: each index
    shard answers locally, a k-way merge keeps the best k overall).
    Spark rendering: union the shard results (each already k rows per
    query — the union is O(shards·Q·k), never corpus-sized) and re-cut
    with the bounded two-phase select_k under the same
    (order_col, nid) total order every tier uses. Inputs must share
    the (qid, nid, order_col) schema; rank is recomputed."""
    from raft_spark.operators.selectk import select_k

    if not parts:
        raise ValueError("knn_merge_parts: no parts")
    u = parts[0].select("qid", "nid", order_col)
    for p in parts[1:]:
        u = u.unionByName(p.select("qid", "nid", order_col))
    return select_k(
        u, group_cols=["qid"], order_col=order_col, k=k,
        ascending=ascending, payload_cols=["nid"],
    )


def _validated_dim(df: DataFrame, vec_col: str, op: str) -> int:
    """Uniform vector dimensionality of a frame, or raise — one narrow
    min/max(size) aggregation (column-pruned scan)."""
    with SS._no_aqe(df.sparkSession):  # probe: map-side collapse
        row = df.agg(
            F.min(F.size(F.col(vec_col))), F.max(F.size(F.col(vec_col)))
        ).first()
    d = int(row[0]) if row is not None and row[0] is not None else 0
    if d == 0:
        raise ValueError(f"{op}: empty input or empty vectors")
    if int(row[1]) != d:
        raise ValueError(
            f"{op}: ragged vector lengths (min {d}, max {int(row[1])}) — "
            f"packed-word Hamming requires uniform dimensionality"
        )
    return d


def binary_quantize(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "features",
    out_col: str = "bq",
    _d: int | None = None,
    strategy: str = "expr",
) -> DataFrame:
    """Sign-bit binary quantization → (id, bq: array<long>): bit j of
    word w is 1 iff x[64w+j] > 0, 64 dimensions packed per long — the
    reference ecosystem's binary quantization (cuVS preprocessing/
    quantize::binary + BFKNN over packed codes; 32× smaller than f32,
    Hamming ≈ angular proximity for roughly-centered data). Dimensions
    are zero-padded into the last word.

    strategy="expr": pure JVM BITWISE expressions — shiftleft + OR,
    never arithmetic, so the top bit of a full 64-dim word is fine
    under ANSI mode (an arithmetic acc·2+bit fold would
    overflow-raise there). Zero Python workers — right for query-sized
    frames and composed plans.

    strategy="arrow": one vectorized numpy packbits pass per Arrow
    batch — bit-identical codes (pinned in pytest), ~4× faster on a
    corpus-sized frame (the r12 1M probe measured the per-bit JVM
    expression as the dominant cost of the inline BQ tier). Used by
    the corpus side of :func:`knn_bq` and by :func:`write_bq_index`;
    LSB-first within each word matches the expr path on little-endian
    hosts (x86/ARM — asserted at runtime).

    UNIFORM-DIMS contract, validated: one narrow min/max(size) pass
    asserts every vector has the same length (a ragged corpus would
    otherwise yield NULL packed words → NULL Hamming distances with no
    error — zip_with null-pads instead of raising). ``_d`` lets a
    caller that already validated (knn_bq) skip the extra pass."""
    d = _d if _d is not None else _validated_dim(df, vec_col,
                                                 "binary_quantize")
    if strategy == "arrow":
        import sys

        import numpy as np
        import pandas as pd

        assert sys.byteorder == "little", \
            "binary_quantize(arrow) assumes little-endian word layout"
        pad = (-d) % 64

        def pk(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf[vec_col].to_numpy())
                # ~(X <= 0), NOT (X > 0): Spark SQL sorts NaN above all
                # numbers so its `x > 0` is TRUE for NaN, while numpy's
                # `X > 0` is False — the complement form gives NaN bit 1
                # on both paths (knn_bq mixes arrow corpus codes with
                # expr query codes, so the parity must hold bitwise)
                B = ~(X <= 0)
                if pad:
                    B = np.concatenate(
                        [B, np.zeros((len(B), pad), dtype=bool)], axis=1
                    )
                # LSB-first packbits + little-endian uint64 view ==
                # the expr path's shiftleft(bit, j) word layout
                words = np.packbits(
                    B, axis=1, bitorder="little"
                ).view(np.uint64).view(np.int64)
                yield pd.DataFrame({
                    "id": pdf[id_col].to_numpy().astype(np.int64),
                    out_col: list(words),
                })

        return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
            pk, f"id long, {out_col} array<long>"
        )
    n_words = (d + 63) // 64
    x = F.col(vec_col)

    def word(w):
        e = F.lit(0).cast("long")
        for j in range(min(64, d - w * 64)):
            bit = (x[w * 64 + j] > 0).cast("long")
            e = e.bitwiseOR(F.shiftleft(bit, j))
        return e

    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.array(*[word(w) for w in range(n_words)]).alias(out_col),
    )


def hamming_packed(a, b):
    """Hamming distance between two packed-bit array<long> columns:
    Σ_w popcount(a[w] XOR b[w]) — one JVM higher-order expression."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def _popcount64(x):
    """Vectorized popcount of a uint64 numpy array (SWAR bit-slices —
    numpy 1.x has no bitwise_count); returns int64."""
    import numpy as np

    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)) \
        .astype(np.int64)


def knn_bq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    refine_factor: int = 8,
    id_col: str = "id",
    vec_col: str = "features",
    strategy: str = "auto",
    max_collect_queries: int = 20_000,
    index_path: str | None = None,
) -> DataFrame:
    """Binary-quantized ANN → (qid, nid, dist, rank): rank candidates
    by packed-bit Hamming distance (integer-exact, ascending, nid
    tie-break — 32× less data scanned than f32), keep k·refine_factor
    per query, then exactness-refine the shortlist with true cosine
    (:func:`knn_refine`) — the standard quantize-then-rescore pipeline
    (cuVS binary quantization + refine). Corpus and query
    dimensionality are validated equal (a mismatch would silently
    null-pad the packed zip_with instead of erroring).

    The Hamming scan follows :func:`knn_brute`'s strategy split —
    per-pair expressions are the wrong shape for a B×Q product (the
    r11 probe measured the expression path 16× SLOWER than the f32
    numpy brute scan at 1M×100q, the opposite of what quantization is
    for):

    - strategy="numpy" (auto when |Q| ≤ ``max_collect_queries``): the
      packed query codes ship as a closure; each corpus partition
      XOR+SWAR-popcounts its code block against all queries in one
      vectorized batch and emits only its LOCAL tie-exact top-k·rf per
      query (−Hamming through the shared :func:`_partial_topk`, so the
      (hamming asc, nid asc) cut is bit-identical to the JVM total
      order), and the shuffle carries O(partitions·|Q|·k·rf) rows.
    - strategy="expr": the JVM XOR/bit_count expression over the
      blocked equi-join product through the bounded two-phase
      select_k — no driver collect (and no broadcast) at any |Q|.

    Both paths feed the same exact-cosine refine, so the result is
    byte-identical either way (Hamming is integer — no rounding seam).

    ``index_path`` serves from a persisted :func:`write_bq_index`: the
    corpus codes come from the index, so the per-query-batch corpus
    quantize pass (the f32 scan the tier exists to avoid — BASELINE
    v11 measured it as the brute-vs-bq gap) is amortized into the
    build. Byte-identical answers (BQ has no trained state — the index
    is exactly the packed codes + a d sidecar); ``corpus`` floats are
    still needed for the exact-cosine refine stage.
    """
    import numpy as np

    dc = _validated_dim(corpus, vec_col, "knn_bq")
    dq = _validated_dim(queries, vec_col, "knn_bq")
    if dc != dq:
        raise ValueError(
            f"knn_bq: corpus dimensionality {dc} != query "
            f"dimensionality {dq}"
        )
    if index_path is not None:
        cb, d_idx = read_bq_index(corpus.sparkSession, index_path)
        if d_idx != dc:
            raise ValueError(
                f"knn_bq: index at {index_path} holds d={d_idx} codes — "
                f"corpus/query d={dc}"
            )
    else:
        # corpus side packs via the Arrow numpy path (bit-identical,
        # ~4× faster at corpus scale); the query side stays on the
        # zero-worker JVM expressions (query-sized by contract)
        cb = binary_quantize(corpus, id_col=id_col, vec_col=vec_col,
                             _d=dc, strategy="arrow")
    qb = binary_quantize(queries, id_col=id_col, vec_col=vec_col, _d=dq)

    def make_score(rows):
        qids = np.array([r["id"] for r in rows], dtype=np.int64)
        qm = np.array([r["bq"] for r in rows]).astype(np.uint64)  # |Q|×W

        def score(pdf):
            cm = np.stack(pdf["bq"].to_numpy()).astype(np.uint64)
            h = np.zeros((cm.shape[0], qm.shape[0]), dtype=np.int64)
            for w in range(cm.shape[1]):
                h += _popcount64(cm[:, w:w + 1] ^ qm[None, :, w])
            return [(h.astype(float), pdf["id"].to_numpy(), qids)]

        return score

    short = _topk_scan(
        cb, qb, make_score, k * refine_factor, "hamming", ascending=True,
        strategy=strategy,
        expr=hamming_packed(F.col("_va"), F.col("_vb")).cast("double"),
        max_collect=max_collect_queries,
    ).select("qid", "nid")
    return knn_refine(short, corpus, queries, k=k, metric="cosine",
                      id_col=id_col, vec_col=vec_col)


def scalar_quantize(
    df: DataFrame,
    amax: float | None = None,
    id_col: str = "id",
    vec_col: str = "features",
    out_col: str = "sq",
    _d: int | None = None,
):
    """SYMMETRIC int8 scalar quantization → ((id, sq: array<int>),
    amax) — the reference ecosystem's scalar quantizer (cuVS
    preprocessing quantize::scalar: train a scale on the dataset,
    encode dataset AND queries with the frozen scale; 4× smaller than
    f32). code = clamp(floor(x·(127/amax) + 0.5), −127, 127) with
    ``amax`` = max|element| trained here when not supplied (one narrow
    JVM aggregation) — symmetric around zero, so the integer dot
    product of two code vectors is a PURE scaled inner product (no
    affine cross-terms), which is what lets the shortlist rank on exact
    integer arithmetic and the DuckDB oracle re-derive it bit-for-bit
    (floor(x+0.5) is round-half-UP — note: NOT the half-away-from-zero
    sign(x)·floor(|x|+0.5) knn_brute uses, so code(-x) == -code(x) can
    differ by 1 at exact half-steps; the oracle evaluates the identical
    expression, so the equality is engine-exact either way).

    Uniform dims validated (same reason as :func:`binary_quantize`).
    Callers scoring queries against a quantized corpus MUST pass the
    corpus-trained ``amax`` (the frozen-model discipline of
    ivf_pq_index_add)."""
    d = _d if _d is not None else _validated_dim(df, vec_col, "scalar_quantize")
    del d  # validation only; the encode is per-element
    x = F.col(vec_col)
    if amax is None:
        with SS._no_aqe(df.sparkSession):  # probe: map-side collapse
            row = df.agg(
                F.max(F.aggregate(
                    F.transform(x, lambda v: F.abs(v)),
                    F.lit(0.0), lambda acc, v: F.greatest(acc, v),
                ))
            ).first()
        amax = float(row[0]) if row and row[0] is not None else 0.0
    if amax <= 0:
        raise ValueError("scalar_quantize: amax must be positive "
                         "(all-zero or empty corpus?)")
    s = 127.0 / amax
    code = F.transform(
        x,
        lambda v: F.greatest(
            F.lit(-127),
            F.least(F.lit(127),
                    F.floor(v * F.lit(s) + F.lit(0.5)).cast("int")),
        ),
    )
    return df.select(
        F.col(id_col).cast("long").alias("id"), code.alias(out_col)
    ), float(amax)


def knn_sq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    refine_factor: int = 8,
    id_col: str = "id",
    vec_col: str = "features",
    strategy: str = "auto",
    max_collect_queries: int = 20_000,
    index_path: str | None = None,
) -> DataFrame:
    """Scalar-quantized ANN → (qid, nid, dist, rank): rank candidates
    by the int8-code dot product (integer-exact inner-product proxy,
    descending, nid tie-break — 4× less data scanned than f32), keep
    k·refine_factor per query, then exactness-refine the shortlist with
    true cosine (:func:`knn_refine`) — the quantize-then-rescore
    pipeline under the cuVS scalar quantizer, sitting between
    :func:`knn_bq` (32× compression, coarsest) and f32 brute. The scale
    is trained on the CORPUS and applied frozen to the queries; corpus
    vs query dimensionality validated equal.

    Same strategy split as knn_brute/knn_bq: collected query codes +
    per-partition int32 BLAS dot with tie-exact local top-k·rf
    (default when |Q| ≤ ``max_collect_queries``), or the JVM zip_with
    expression over the blocked equi-join product at any |Q| (the
    shared :func:`_topk_scan` kernel). Integer scores, so both paths cut
    bit-identically and feed the same exact-cosine refine.

    ``index_path`` serves from a persisted :func:`write_sq_index`:
    corpus codes AND the frozen amax come from the index (the corpus
    quantize pass and scale training are skipped per query batch —
    byte-identical answers, since the index holds exactly what the
    inline path computes); ``corpus`` floats are still needed for the
    exact-cosine refine stage."""
    import numpy as np

    dc = _validated_dim(corpus, vec_col, "knn_sq")
    dq = _validated_dim(queries, vec_col, "knn_sq")
    if dc != dq:
        raise ValueError(
            f"knn_sq: corpus dimensionality {dc} != query "
            f"dimensionality {dq}"
        )
    if index_path is not None:
        cq, amax, d_idx = read_sq_index(corpus.sparkSession, index_path)
        if d_idx != dc:
            raise ValueError(
                f"knn_sq: index at {index_path} holds d={d_idx} codes — "
                f"corpus/query d={dc}"
            )
    else:
        cq, amax = scalar_quantize(corpus, id_col=id_col, vec_col=vec_col,
                                   _d=dc)
    qq, _ = scalar_quantize(queries, amax=amax, id_col=id_col,
                            vec_col=vec_col, _d=dq)

    def make_score(rows):
        # int32 accumulates exactly up to d ≈ 133k at |code| ≤ 127;
        # widen to int64 beyond that
        acc_t = np.int32 if dc * 127 * 127 < 2 ** 31 else np.int64
        qids = np.array([r["id"] for r in rows], dtype=np.int64)
        qt = np.array([r["sq"] for r in rows], dtype=acc_t).T  # d×|Q|
        # B×|Q| integer dot — exact (|code| ≤ 127)
        return lambda pdf: [(
            (np.stack(pdf["sq"].to_numpy()).astype(acc_t) @ qt)
            .astype(float), pdf["id"].to_numpy(), qids,
        )]

    short = _topk_scan(
        cq, qq, make_score, k * refine_factor, "ip", strategy=strategy,
        expr=F.aggregate(
            F.zip_with("_va", "_vb", lambda a, b: (a * b).cast("long")),
            F.lit(0).cast("long"), lambda acc, v: acc + v,
        ).cast("double"),
        max_collect=max_collect_queries,
    ).select("qid", "nid")
    return knn_refine(short, corpus, queries, k=k, metric="cosine",
                      id_col=id_col, vec_col=vec_col)


def write_sq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "id",
    vec_col: str = "features",
) -> int:
    """Persist a scalar-quantized corpus as a serving index: ``codes``
    (id, sq) parquet plus a ``meta`` sidecar carrying the TRAINED scale
    (amax) and dimensionality — the quantizer's model state, which is
    exactly what must be frozen for later query encodes to share the
    codes' dot-product space (the ivf_pq sidecar discipline; unlike
    binary quantization, SQ has trained state, so recomputing codes
    from floats under a different corpus would silently change the
    scale). Serve with :func:`knn_sq` (``index_path=``) — the shortlist
    scan reads 4×-smaller codes and skips the corpus quantize pass
    per query batch. Returns the code row count."""
    spark = corpus.sparkSession
    d = _validated_dim(corpus, vec_col, "write_sq_index")
    codes, amax = scalar_quantize(corpus, id_col=id_col, vec_col=vec_col,
                                  _d=d)
    ck = codes.localCheckpoint(eager=True)
    n = ck.count()
    ck.write.mode("overwrite").parquet(f"{path}/codes")
    # driver-side sidecar (pyarrow): one row of quantizer state does
    # not need a scheduled Spark job
    SS.write_meta(path, {"amax": float(amax), "d": int(d)})
    return n


def read_sq_index(spark, path: str):
    """(codes frame (id, sq), amax, d) of a persisted SQ index."""
    meta = SS.read_meta(path)
    codes = spark.read.parquet(f"{path}/codes").select("id", "sq")
    return codes, float(meta["amax"]), int(meta["d"])


def write_bq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "id",
    vec_col: str = "features",
) -> int:
    """Persist a binary-quantized corpus as a serving index: ``codes``
    (id, bq) parquet plus a ``meta`` sidecar carrying the
    dimensionality — the :func:`write_sq_index` discipline for the BQ
    tier. Unlike SQ there is NO trained state (the sign bit needs no
    scale), so the index is exactly the packed codes; what persisting
    buys is amortizing the per-query-batch corpus quantize pass — the
    f32 corpus scan the 32×-compressed tier exists to avoid (BASELINE
    v11 measured that pass as the brute-vs-bq gap). Serve with
    :func:`knn_bq` (``index_path=``). Returns the code row count."""
    spark = corpus.sparkSession
    d = _validated_dim(corpus, vec_col, "write_bq_index")
    codes = binary_quantize(corpus, id_col=id_col, vec_col=vec_col, _d=d,
                            strategy="arrow").localCheckpoint(eager=True)
    n = codes.count()
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    SS.write_meta(path, {"d": int(d)})
    return n


def read_bq_index(spark, path: str):
    """(codes frame (id, bq), d) of a persisted BQ index."""
    meta = SS.read_meta(path)
    codes = spark.read.parquet(f"{path}/codes").select("id", "bq")
    return codes, int(meta["d"])


def sq_index_add(
    new_df: DataFrame,
    path: str,
    id_col: str = "id",
    vec_col: str = "features",
) -> int:
    """Delta-extend a persisted SQ index under its FROZEN trained scale
    (the ivf_pq_index_add discipline: new vectors are encoded with the
    index's own amax — retraining on the delta would silently move
    every existing code's dot-product space). REPLAY-safe: delta ids
    already in the codes store are anti-joined out, so at-least-once
    redelivery is a no-op.

    No delivery manifest needed here (unlike the multi-store state
    ingests): the append touches ONE store whose rows are per-id
    independent, so a crash mid-append converges on retry — committed
    ids anti-join out, missing ids re-append; there is no cross-store
    half-written window. Returns the number of code rows appended."""
    spark = new_df.sparkSession
    codes_old, amax, d = read_sq_index(spark, path)
    dn = _validated_dim(new_df, vec_col, "sq_index_add")
    if dn != d:
        raise ValueError(
            f"sq_index_add: index at {path} holds d={d} codes — "
            f"delta d={dn}"
        )
    q, _ = scalar_quantize(new_df, amax=amax, id_col=id_col,
                           vec_col=vec_col, _d=dn)
    delta = q.join(codes_old.select("id"), "id", "left_anti") \
        .localCheckpoint(eager=True)  # materialize BEFORE appending to
    # the store the anti-join reads
    n = delta.count()
    if n:
        delta.write.mode("append").parquet(f"{path}/codes")
    return n


def bq_index_add(
    new_df: DataFrame,
    path: str,
    id_col: str = "id",
    vec_col: str = "features",
) -> int:
    """Delta-extend a persisted BQ index (:func:`sq_index_add` twin —
    BQ has no trained state, so only the dimensionality is pinned).
    REPLAY-safe via the same codes-store anti-join; single-store
    per-id-independent append, so no delivery manifest is needed.
    Returns the number of code rows appended."""
    spark = new_df.sparkSession
    codes_old, d = read_bq_index(spark, path)
    dn = _validated_dim(new_df, vec_col, "bq_index_add")
    if dn != d:
        raise ValueError(
            f"bq_index_add: index at {path} holds d={d} codes — "
            f"delta d={dn}"
        )
    q = binary_quantize(new_df, id_col=id_col, vec_col=vec_col, _d=dn,
                        strategy="arrow")
    delta = q.join(codes_old.select("id"), "id", "left_anti") \
        .localCheckpoint(eager=True)
    n = delta.count()
    if n:
        delta.write.mode("append").parquet(f"{path}/codes")
    return n


def knn_route(n_corpus: int, recall_target: float = 0.95,
              small_corpus: int = 50_000) -> str:
    """Pure routing decision of :func:`knn_auto` — exposed separately
    so tests pin the route table without running a search (the
    rolling_route / asof_join_auto discipline; reference:
    cuVS selects its ANN algorithm the same way —
    matrix/detail/select_k_types taxonomy, brute vs sampled tiers):

    - small corpus (≤ ``small_corpus``) or recall_target ≥ 0.999 →
      "brute": the exact f32 scan — quantized shortcuts can't beat it
      when the corpus fits a scan budget, and nothing else is exact.
    - recall_target ≥ 0.95 → "sq": int8 codes (4× less scanned) with
      exact-cosine rescore — near-exact recall at a quarter the IO.
    - recall_target ≥ 0.85 → "bq": sign-bit codes (32× less scanned),
      Hamming shortlist + rescore — the coarsest flat tier.
    - below → "ivf_pq": probe a subset of lists instead of scanning
      every row — the only tier whose cost DROPS with recall target
      (fewer probes), at index-build cost.
    """
    if n_corpus <= small_corpus or recall_target >= 0.999:
        return "brute"
    if recall_target >= 0.95:
        return "sq"
    if recall_target >= 0.85:
        return "bq"
    return "ivf_pq"


def knn_auto(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    recall_target: float = 0.95,
    id_col: str = "id",
    vec_col: str = "features",
    small_corpus: int = 50_000,
    **tier_kwargs,
) -> DataFrame:
    """ANN tier router: pick brute / SQ / BQ / IVF-PQ from the corpus
    size and the caller's recall target (:func:`knn_route`), then run
    exactly that tier — the :func:`asof_join_auto` size-probe
    discipline applied to the ANN family. One narrow count() probes the
    corpus; every tier is individually value-oracled in the gate, so
    the router's contract is simply output ≡ chosen tier's output.
    The chosen tier is recorded on the result as ``_knn_tier``.
    ``tier_kwargs`` pass through to the chosen tier (refine_factor,
    strategy, index/list parameters...)."""
    route = knn_route(corpus.count(), recall_target, small_corpus)
    fn = {"brute": knn_brute, "sq": knn_sq, "bq": knn_bq,
          "ivf_pq": knn_ivf_pq}[route]
    out = fn(corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
             **tier_kwargs)
    out._knn_tier = route
    return out
