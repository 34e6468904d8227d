"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding near-dup.

These extend the reference's surface (BASELINE.json north star): RAFT
itself stops at the primitives (select_k, sparse ops, metrics); the
dedup pipeline composes them the way cuVS/cuML users do downstream.

Scale design (100 TB):
- Exact dedup: hash-groupBy on a 128-bit content hash — one shuffle,
  map-side combinable.
- MinHash LSH: per-doc signatures are a groupBy over (doc, perm) —
  map-side combinable min() — then candidates come from a band-bucket
  join, never an all-pairs product. Shuffle volume ∝ docs × bands.
- SimHash: one groupBy(doc) with integer bit-votes.
- N-gram Jaccard: shingle-join restricted to co-occurring shingles
  (inverted-index join), not a crossJoin; hot shingles should be
  dropped by document frequency (stop-shingle cap) at scale.
- Embedding near-dup: see similarity.py (LSH-bucketed or brute).

Token ids: the oracle-parity path ranks the distinct vocabulary
(deterministic, reproducible in ANSI SQL). At 100 TB switch
``hash_fn="xxhash64"`` — no global vocab build, same downstream plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from raft_spark.operators import statestore as SS

P31 = 2_147_483_647
NUM_PERMS = 16
BAND_ROWS = 4  # 4 bands × 4 rows


def perm_consts(i: int) -> tuple[int, int]:
    """Deterministic MinHash permutation constants (shared with SQL)."""
    return ((i + 1) * 12_582_917) % P31, ((i + 1) * 4_256_249 + 7) % P31


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash: every doc mapped to the smallest
    doc id sharing its md5 → (id, canonical_id, is_dup)."""
    h = F.md5(F.col(text_col))
    w = Window.partitionBy(h)
    # cast BEFORE the min: string ids would pick the lexicographic
    # minimum ("10" < "9") as canonical, inverting the smallest-id
    # contract
    num_id = F.col(id_col).cast("long")
    return docs.select(
        num_id.alias("doc_id"),
        F.min(num_id).over(w).alias("canonical_id"),
    ).withColumn("is_dup", (F.col("doc_id") != F.col("canonical_id")).cast("int"))


def term_ids(coo: DataFrame, term_col: str = "term") -> DataFrame:
    """Vocabulary rank table: term → tid (1-based, lexicographic).

    Deterministic and SQL-reproducible. Ranked by the two-phase
    distributed rank (range repartition + partitioned window + offset
    join) — no single-partition global window even when the vocabulary
    itself is huge. (Scale path: xxhash64(term), no vocab build at all —
    same downstream plan, loses SQL-oracle parity.)
    """
    from raft_spark.operators.reductions import global_rank

    vocab = coo.select(term_col).distinct()
    return global_rank(vocab, [term_col], rank_name="tid")


def minhash_signatures(
    coo: DataFrame, doc_col: str = "doc_id", term_col: str = "term",
    num_perms: int = NUM_PERMS,
) -> DataFrame:
    """(doc, sig: array<long>[num_perms]): sig[p] = min over the doc's
    terms of (a_p·tid + b_p) mod P — the classic MinHash estimator.

    One groupBy with num_perms min-aggregates (map-side combinable) —
    no row explosion; shuffle volume = docs × 1 row.
    """
    tids = term_ids(coo, term_col)
    with_tid = coo.join(tids, term_col).select(doc_col, "tid")
    mins = [
        F.min((F.lit(perm_consts(i)[0]) * F.col("tid") + F.lit(perm_consts(i)[1])) % P31)
        for i in range(num_perms)
    ]
    return with_tid.groupBy(doc_col).agg(F.array(*mins).alias("sig"))


MAX_BUCKET_DOCS = 256
MAX_SHINGLE_DF = 512

# dedup_clusters driver-finish gates (measured data size, never core
# count): edge cap mirrors connected_components_auto's; the doc cap
# bounds the one-job Arrow collect (1M int64 ids = 8 MB)
_DRIVER_CLUSTERS_EDGES = 500_000
_DRIVER_CLUSTERS_DOCS = 1_000_000


def _upper_triangle_pairs(list_col):
    """All ordered index pairs i < j of a sorted array column as
    struct(a, b) — the in-row pair expansion the capped inverted-index
    joins use instead of a bucket self-join. Emits each pair of
    positions exactly once (join multiplicity: a value appearing m and
    k times yields m·k cross pairs, C(m,2) self pairs — identical to
    the a×b equi-join the caller replaces), so downstream a < b filters
    and per-pair counts are unchanged."""
    c = _col(list_col)
    return F.flatten(
        F.transform(
            c,
            lambda x, i: F.transform(
                F.slice(c, i + F.lit(2), F.size(c)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def minhash_lsh_candidates(
    sigs: DataFrame, doc_col: str = "doc_id", band_rows: int = BAND_ROWS,
    num_perms: int = NUM_PERMS, max_bucket_docs: int = MAX_BUCKET_DOCS,
) -> DataFrame:
    """Band-bucket join → candidate pairs (a < b) with estimated
    Jaccard = fraction of matching minhashes across all perms.

    Each doc emits num_perms/band_rows (band, band-signature) rows; the
    join is keyed on the band signature — candidate volume is bucket
    occupancy, never an all-pairs product.

    Hot-bucket cap: a degenerate band signature (e.g. the all-empty-doc
    signature, or a boilerplate-dominated corpus) otherwise produces a
    quadratic bucket; buckets holding more than ``max_bucket_docs``
    docs are dropped BEFORE the pair join (count via one extra
    map-side-combinable agg over the band table). The cap is part of
    the operator contract and mirrored in the SQL oracle.
    """
    n_bands = num_perms // band_rows
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_",
                *[F.col("sig")[b * band_rows + r].cast("string") for r in range(band_rows)],
            ).alias("bsig"),
        )
        for b in range(n_bands)
    ])
    bands = sigs.select(F.col(doc_col).alias("_d"), F.explode(band_structs).alias("_b")).select(
        "_d", F.col("_b.band").alias("band"), F.col("_b.bsig").alias("bsig")
    )
    if max_bucket_docs is not None:
        occupancy = bands.groupBy("band", "bsig").agg(F.count("*").alias("_n"))
        # a singleton bucket cannot produce a pair — dropping _n = 1 in
        # the SAME occupancy aggregate that enforces the hot-bucket cap
        # cuts the pair-generation input to only multi-doc buckets
        # (typically a small fraction of the band table; the emitted
        # pair set is identical by construction)
        keep = occupancy.filter(
            (F.col("_n") <= max_bucket_docs) & (F.col("_n") >= 2)
        ).drop("_n")
        bands = bands.join(keep, ["band", "bsig"], "left_semi")
        # pair generation as ONE grouped in-row upper-triangle expansion
        # instead of the band self-join: the occupancy cap bounds every
        # bucket at max_bucket_docs docs, so the per-bucket list (and
        # its exploded triangle) is bounded task state — and each
        # unordered pair is EMITTED once instead of joined n² and
        # filtered to a < b. The two-phase count-then-collect keeps the
        # degenerate-bucket memory safety the cap exists for: a
        # quadratic bucket is dropped by the count before anything
        # collects it.
        grouped = bands.groupBy("band", "bsig").agg(
            F.array_sort(F.collect_list("_d")).alias("_ds")
        )
        cand = (
            grouped.select(F.explode(_upper_triangle_pairs("_ds")).alias("_p"))
            .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
            # duplicate ids inside one bucket (possible only on a
            # caller-supplied sigs frame with repeated doc ids) sort
            # adjacent and would emit a = b; the strict filter keeps the
            # self-join's a < b contract exactly
            .filter(F.col("a") < F.col("b"))
            .distinct()
        )
    else:
        left = bands.select(F.col("_d").alias("a"), "band", "bsig")
        right = bands.select(F.col("_d").alias("b"), "band", "bsig")
        cand = (
            left.join(right, ["band", "bsig"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
    sa = sigs.select(F.col(doc_col).alias("a"), F.col("sig").alias("_sa"))
    sb = sigs.select(F.col(doc_col).alias("b"), F.col("sig").alias("_sb"))
    est = F.aggregate(
        F.zip_with("_sa", "_sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(num_perms))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", est.alias("est_jaccard"))
    )


def minhash_signature_expr(text_col, num_perms: int = NUM_PERMS):
    """MinHash signature as ONE stateless per-row expression — no vocab
    build, no explode/groupBy: term ids come from xxhash64(term) (the
    documented 100 TB path) and sig[p] = array_min over the row's
    distinct tokens. Because it is a pure projection it runs identically
    on batch frames and un-watermarked streams (append mode), which is
    what makes streaming near-dup lookup possible with ZERO stream
    state. The token array (and the hashed-token array) are let-bound
    so the split/distinct/xxhash run once per row, not once per perm."""
    from raft_spark.functions.arrays import let_bind

    def perm_min(hashes, p: int):
        a, b = perm_consts(p)
        return F.array_min(
            F.transform(hashes, lambda h: (F.lit(a) * h + F.lit(b)) % P31)
        )

    return let_bind(
        F.transform(
            F.array_distinct(F.split(_col(text_col), r"\s+")),
            lambda t: F.pmod(F.xxhash64(t), F.lit(P31)),
        ),
        lambda hashes: F.array(*[perm_min(hashes, p) for p in range(num_perms)]),
    )


def band_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = NUM_PERMS,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """(doc_id, band, bsig) LSH band rows from the stateless signature
    expression — valid on batch tables AND streaming frames (pure
    projection + generator). The static side of a stream-static
    near-dup lookup is exactly this table, precomputed and stored."""
    sig = minhash_signature_expr(text_col, num_perms)
    structs = bands_from_sig(sig, num_perms, band_rows)
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.explode(structs).alias("_b")
    ).select("doc_id", F.col("_b.band").alias("band"), F.col("_b.bsig").alias("bsig"))


def _col(c):
    return F.col(c) if isinstance(c, str) else c


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Duplicate-cluster assignment: candidate pairs → connected
    components → per-doc (doc_id, cluster_id, cluster_size,
    is_canonical).

    This is the step an actual curation pipeline runs AFTER MinHash-LSH
    / Jaccard candidate generation: near-dup similarity is not
    transitive, but dedup policy treats it as if it were (keep one doc
    per connected component of the candidate graph — the standard
    MinHashLSH + union-find recipe). cluster_id = smallest doc_id in
    the component; docs in no candidate pair are singleton clusters of
    themselves; canonical = the cluster minimum (the kept doc).

    Scale: the component solve is ``connected_components``
    (solvers.py) — smallest-label propagation WITH pointer jumping,
    O(log V) join rounds, O(1) driver state, lineage checkpointed per
    round. Everything else is one left join + one count aggregation
    over the doc table. Candidate-graph size is already bounded by the
    LSH hot-bucket / stop-shingle caps upstream.
    """
    from raft_spark.operators.solvers import (
        connected_components, driver_union_find, labels_frame,
        probe_edges_driver,
    )

    spark = pairs.sparkSession
    coo = pairs.select(
        F.col(a_col).cast("long").alias("row"), F.col(b_col).cast("long").alias("col")
    )
    # driver strategy (r14): the CC probe already collects the whole
    # candidate edge table when it fits — when the DOC-ID table also
    # fits a capped one-job collect, the label/size/canonical assembly
    # runs driver-side too (Counter over per-occurrence cluster ids =
    # the window count exactly, including duplicate-doc multiplicity),
    # replacing the labels-join + window-exchange + final-count stage
    # chain with one Arrow-backed local relation. Both gates are
    # measured data size; a corpus-scale doc table (or null ids, whose
    # join/window null-group semantics stay with Spark) keeps the
    # distributed assembly below, and a corpus-scale edge table keeps
    # the fully distributed solve.
    probe = probe_edges_driver(coo, _DRIVER_CLUSTERS_EDGES)
    if probe is not None:
        lab = driver_union_find((int(r["row"]), int(r["col"])) for r in probe)
        t = SS.collect_capped(
            docs.select(F.col(id_col).cast("long").alias("doc_id")),
            _DRIVER_CLUSTERS_DOCS,
        )
        ids = None if t is None else t.column("doc_id").to_pylist()
        if ids is not None and not any(i is None for i in ids):
            from collections import Counter

            import pyarrow as pa

            cl = [lab.get(i, i) for i in ids]
            sizes = Counter(cl)
            return spark.createDataFrame(pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "cluster_id": pa.array(cl, pa.int64()),
                "cluster_size": pa.array([sizes[c] for c in cl],
                                         pa.int64()),
                "is_canonical": pa.array(
                    [int(i == c) for i, c in zip(ids, cl)], pa.int32()),
            }))
        labels = labels_frame(spark, lab)
    else:
        labels = connected_components(
            coo.select("row", "col")
            .filter(F.col("row") != F.col("col"))
            .withColumn("value", F.lit(1.0))
        )
    base = (
        docs.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    # sizes via ONE window (partitioned count) instead of a groupBy +
    # self-join: one exchange instead of two and no join, same rows
    w = Window.partitionBy("cluster_id")
    return base.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def quantized_embeddings(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "features",
    scale: float = 1e6,
    keep: tuple = (),
) -> DataFrame:
    """Stateless (id, _q, _n2) integer quantization shared by the batch
    semantic operators and the streaming lookup: q = floor(x·scale+0.5)
    per element (int64), _n2 = Σq² (exact int64). Pure projection — no
    driver action — so it evaluates identically on batch frames and
    un-watermarked streams (append mode). ``keep`` passes extra columns
    through (e.g. a precomputed ``cluster``)."""
    qv = F.transform(
        F.col(vec_col), lambda x: F.floor(x * F.lit(scale) + F.lit(0.5)).cast("long")
    )
    n2 = F.aggregate(
        "_q", F.lit(0).cast("long"), lambda acc, v: acc + v * v
    )
    return df.select(
        F.col(id_col).alias("id"), qv.alias("_q"), *[F.col(c) for c in keep]
    ).withColumn("_n2", n2)


def _check_quantized_bounds(qmax: int, n2max: int, d: int) -> None:
    """Overflow contract for the exact integer cosine predicate:
    (a) d·q_max² < 2⁶² keeps every int64 dot/norm sum exact; (b) the
    norm² envelope max(N) ≤ 3·10¹⁴ keeps the squared comparison
    10⁸·S² vs τq²·Na·Nb inside BOTH decimal(38,0)/HUGEINT (oracle
    side) and the 2⁵³ float-exact-dgemm premise (every partial sum of
    S is ≤ √(Na·Nb) ≤ max(N) by Cauchy–Schwarz). The bound is
    DELIBERATELY conservative (covers τq all the way to 10⁴, ~3.6×
    slack at τ=0.92) — intentional margin."""
    bound = int((2**62 / max(d, 1)) ** 0.5)
    if qmax > bound:
        raise ValueError(
            f"quantized magnitude {qmax} exceeds the int64-exact bound "
            f"{bound} for dim {d}: lower scale (cosine is scale-invariant)"
        )
    if n2max > 300_000_000_000_000:
        raise ValueError(
            f"quantized norm² {n2max} exceeds the decimal(38,0)-exact "
            f"bound 3e14: lower scale (cosine is scale-invariant)"
        )


def _guard_quantized(base: DataFrame, d: int) -> None:
    """One scalar aggregate applying :func:`_check_quantized_bounds`
    to a quantized frame. Applied at BATCH build time; a stream side
    shares the contract via its batch-built index. (semantic_pairs_
    exact folds the same maxima into its per-cluster sizes aggregate
    instead — no extra corpus pass there.)"""
    with _no_aqe(base.sparkSession):  # probe: map-side collapse
        guard = base.select(
            F.max(
                F.aggregate(
                    "_q", F.lit(0).cast("long"),
                    lambda acc, v: F.greatest(acc, F.abs(v)),
                )
            ).alias("m"),
            F.max("_n2").alias("n2max"),
        ).first()
    _check_quantized_bounds(guard["m"] or 0, guard["n2max"] or 0, d)


def semantic_index(
    df: DataFrame,
    assignments: DataFrame,
    id_col: str = "id",
    vec_col: str = "features",
    scale: float = 1e6,
) -> DataFrame:
    """Static side of a streaming semantic near-dup lookup: the corpus
    quantized and bucketed → (cluster, cand_id, _qc, _nc), with the
    exact-arithmetic overflow guards applied at build time (the stream
    side is a guard-free pure projection under the same scale
    contract). At corpus scale, persist partitioned/bucketed by
    ``cluster`` so each micro-batch probe prunes to its lists."""
    d = df.select(F.size(F.col(vec_col))).first()[0]
    base = quantized_embeddings(df, id_col=id_col, vec_col=vec_col, scale=scale)
    _guard_quantized(base, d)
    return base.join(
        assignments.select(F.col(id_col).alias("id"), "cluster"), "id"
    ).select(
        "cluster", F.col("id").alias("cand_id"),
        F.col("_q").alias("_qc"), F.col("_n2").alias("_nc"),
    )


def write_semantic_index(index: DataFrame, path: str) -> None:
    """Persist the streaming-lookup static side partitioned by
    ``cluster`` (the ivf-pq index pattern: one directory per list, so
    a probe job's cluster filter prunes to its directories; at corpus
    scale the arriving micro-batch touches a handful of lists, not the
    whole index). Reload with :func:`read_semantic_index`."""
    index.write.mode("overwrite").partitionBy("cluster").parquet(path)


def read_semantic_index(spark, path: str) -> DataFrame:
    """Reload a persisted semantic index. The partition column comes
    back via directory-name inference (int) — recast to long so the
    stream-static join key type matches the build-time frame exactly."""
    return spark.read.parquet(path).select(
        F.col("cluster").cast("long").alias("cluster"),
        "cand_id", "_qc", "_nc",
    )


def semantic_pairs_exact(
    df: DataFrame,
    assignments: DataFrame,
    tau: float = 0.92,
    id_col: str = "id",
    vec_col: str = "features",
    scale: float = 1e6,
    n_blocks: int = 8,
    block_threshold: int = 4096,
    jvm_threshold: int = 64,
) -> DataFrame:
    """Within-cluster embedding pairs with cosine ≥ tau, decided by
    EXACT integer arithmetic → (a, b).

    Each vector is quantized once (q = floor(x·scale + 0.5), int64);
    cos(a,b) ≥ τ is evaluated as 10⁸·S² ≥ τq²·Na·Nb ∧ S > 0 with
    S = Σ qa·qb, N = Σ q² (exact integer sums; τq = round(τ·10⁴)) —
    the decision is bit-exact in integer arithmetic (see the tiered
    evaluation below), so the pair set is engine- and partition-order-
    exact (the eps_pairs_exact / LAP discipline applied to cosine; the
    DuckDB oracle mirrors the same predicate in HUGEINT). Same
    overflow contract as eps_pairs_exact: |x|·scale must keep
    d·q_max² < 2⁶³ (guarded).

    The candidate product is the within-cluster self-join — O(Σ c_i²)
    work bounded by the clustering granularity, never all-pairs. This
    is the SemDeDup shape: the cluster assignment (k-means at scale)
    prunes the quadratic step to intra-cluster blocks.

    r6: the self-join is BLOCKED within each cluster (the
    similarity._blocked_cross discipline with cluster as an extra
    equi-key): each row gets block id hash(id) mod n_blocks, the tiny
    ordered block-pair table broadcasts, and the join key becomes
    (cluster, block) — a skewed assignment (one cluster holding 10% of
    the corpus) spreads its c² candidate work across ~n_blocks²/2
    block-pairs instead of serializing on one hot join key. Pair set
    unchanged (canonical a < b output).

    The evaluation is HYBRID by cluster size: clusters with ≤
    ``jvm_threshold`` rows (≤ ~2k candidates each) go through a plain
    JVM zip_with/decimal predicate join — zero Python crossing, the
    right shape when the corpus is thousands of tiny clusters; bigger
    clusters go through Arrow BLAS tiles (~0.3 µs/candidate vs ~76 µs
    for the JVM expression — the only form that survives a skewed
    assignment). Both branches decide the IDENTICAL exact predicate
    (pytest pins branch equality on a shared input).
    """
    base = quantized_embeddings(df, id_col=id_col, vec_col=vec_col, scale=scale)
    tau_q = int(round(tau * 10_000))
    t = base.join(
        assignments.select(F.col(id_col).alias("id"), "cluster"), "id"
    )
    # hybrid blocking: clusters above the threshold get hash-mod block
    # ids (their c² work spreads over ~n_blocks²/2 tile tasks); small
    # clusters stay one tile each so the Python per-group overhead
    # doesn't multiply by n_blocks² across 10k tiny clusters
    # per-cluster sizes, with the overflow-guard maxima AND the
    # dimensionality folded into the SAME aggregate — the guard and the
    # dim probe cost no extra corpus pass
    qm = F.aggregate(
        "_q", F.lit(0).cast("long"), lambda acc, v: F.greatest(acc, F.abs(v))
    )
    sizes = t.groupBy("cluster").agg(
        F.count("*").alias("_csz"), F.max(qm).alias("_qm"),
        F.max("_n2").alias("_nm"), F.max(F.size("_q")).alias("_dm"),
    ).localCheckpoint(eager=True)
    with _no_aqe(sizes.sparkSession):  # probe: map-side collapse
        g = sizes.agg(
            F.max("_qm").alias("m"), F.max("_nm").alias("n"),
            F.max("_dm").alias("d"), F.max("_csz").alias("csz"),
        ).first()
    _check_quantized_bounds(g["m"] or 0, g["n"] or 0, int(g["d"] or 1))
    # one materialization for the small/big branches below (and the
    # a/b sides within the tile branch) — the quantized working set
    t2 = t.join(sizes.select("cluster", "_csz"), "cluster") \
        .localCheckpoint(eager=True)

    # JVM branch: tiny clusters, per-candidate decimal predicate
    small = t2.filter(F.col("_csz") <= jvm_threshold)
    sa = small.select(
        F.col("id").cast("long").alias("a"), F.col("_q").alias("_qa"),
        F.col("_n2").alias("_na"), "cluster",
    )
    sb = small.select(
        F.col("id").cast("long").alias("b"), F.col("_q").alias("_qb"),
        F.col("_n2").alias("_nb"), "cluster",
    )
    s_expr = F.aggregate(
        F.zip_with("_qa", "_qb", lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )
    dec = "decimal(38,0)"
    sd = F.col("_s").cast(dec)
    jvm_pred = (F.col("_s") > 0) & (
        sd * sd * F.lit(100_000_000).cast(dec)
        >= F.lit(tau_q * tau_q).cast(dec)
        * F.col("_na").cast(dec) * F.col("_nb").cast(dec)
    )
    jvm_pairs = (
        sa.join(sb, "cluster")
        .filter(F.col("a") < F.col("b"))
        .withColumn("_s", s_expr)
        .filter(jvm_pred)
        .select("a", "b")
    )

    # skip the Arrow-tile stage wholesale when every cluster fits the
    # JVM branch — decided from the max cluster size already carried by
    # the sizes aggregate (zero extra jobs); the common
    # small/many-clusters case then pays zero Python machinery
    if (g["csz"] or 0) <= jvm_threshold:
        return jvm_pairs
    big = t2.filter(F.col("_csz") > jvm_threshold)

    # Arrow-tile branch: everything above the threshold
    t2 = big
    blocked = (F.col("_csz") > block_threshold).cast("int")
    blk = F.when(
        F.col("_csz") > block_threshold,
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)),
    ).otherwise(F.lit(0))
    a = t2.select(
        "cluster", blocked.alias("_blk"), blk.alias("_ba"),
        F.lit(0).alias("_side"), F.col("id").cast("long").alias("id"),
        "_q", "_n2",
    )
    b = t2.select(
        "cluster", blocked.alias("_blk"), blk.alias("_bb"),
        F.lit(1).alias("_side"), F.col("id").cast("long").alias("id"),
        "_q", "_n2",
    )
    # ordered block-pair table, flagged: unblocked clusters see only the
    # (0,0) tile, blocked ones all n_blocks·(n_blocks+1)/2 ordered pairs
    sp = df.sparkSession
    pairs_blocked = sp.range(n_blocks * n_blocks).select(
        F.lit(1).alias("_blk"),
        (F.col("id") / n_blocks).cast("long").alias("_ba"),
        (F.col("id") % n_blocks).alias("_bb"),
    ).filter(F.col("_ba") <= F.col("_bb"))
    blocks = sp.createDataFrame(
        [(0, 0, 0)], "_blk int, _ba long, _bb long"
    ).unionByName(pairs_blocked)
    aexp = a.join(F.broadcast(blocks), ["_blk", "_ba"]).select(
        "cluster", "_ba", "_bb", "_side", "id", "_q", "_n2"
    )
    bexp = b.join(F.broadcast(blocks), ["_blk", "_bb"]).select(
        "cluster", "_ba", "_bb", "_side", "id", "_q", "_n2"
    )

    # Arrow tile evaluation (the gram_matrix / _partial_topk pattern):
    # one BLAS gemm per (cluster, block-pair) tile replaces the former
    # per-pair zip_with/aggregate expression, whose measured JVM cost
    # (~76 µs per candidate pair) made skewed clusters intractable.
    # The decision stays EXACT in two tiers:
    #   1. float64 dgemm on integer-valued operands is exactly rounded
    #      at EVERY step — each product ≤ qmax² ≤ n2max ≤ 3e14 < 2⁵³,
    #      and every partial sum ≤ Σ|qa_k||qb_k| ≤ √(Na·Nb) ≤ n2max
    #      (Cauchy–Schwarz) — so S is the exact integer dot product.
    #      (The n2max ≤ 3e14 guard above makes this unconditional:
    #      qmax ≤ √3e14 ≈ 1.7e7 < ⌊√2⁵³⌋, so no wider-int fallback
    #      tier is ever needed.)
    #   2. the comparison 10⁸·S² ≥ τq²·Na·Nb runs in float64 with a
    #      relative safety band of 1e-9 (float error is ~1e-15); only
    #      candidates INSIDE the band get an arbitrary-precision
    #      Python-int recheck — the set of emitted pairs is identical
    #      to the all-decimal evaluation, including exact-tie cells.
    import pandas as pd

    chunk = 1024  # bounds the S tile at chunk × |B-side| float64

    def tile(key, pdf):
        import numpy as np

        empty = pd.DataFrame(
            {"a": pd.Series(dtype="int64"), "b": pd.Series(dtype="int64")}
        )
        aa = pdf[pdf["_side"] == 0]
        bb = pdf[pdf["_side"] == 1]
        if len(aa) == 0 or len(bb) == 0:
            return empty
        same_block = int(key[1]) == int(key[2])
        qa = np.stack(aa["_q"].to_numpy()).astype(np.int64)
        qb = np.stack(bb["_q"].to_numpy()).astype(np.int64)
        ia = aa["id"].to_numpy()
        ib = bb["id"].to_numpy()
        na = aa["_n2"].to_numpy().astype(np.float64)
        nb = bb["_n2"].to_numpy().astype(np.float64)
        rhs_row = float(tau_q * tau_q) * nb  # per-B factor, scaled by na below
        qbf = qb.astype(np.float64).T
        outs_a, outs_b = [], []
        for lo in range(0, len(ia), chunk):
            hi = min(lo + chunk, len(ia))
            s = qa[lo:hi].astype(np.float64) @ qbf
            lhs = 1e8 * s * s
            rhs = na[lo:hi, None] * rhs_row[None, :]
            acc = (s > 0) & (lhs >= rhs * (1 + 1e-9))
            band = (s > 0) & ~acc & (lhs >= rhs * (1 - 1e-9))
            if band.any():
                for i, j in zip(*np.nonzero(band)):
                    s_ = int(s[i, j])
                    acc[i, j] = (
                        100_000_000 * s_ * s_
                        >= tau_q * tau_q * int(na[lo + i]) * int(nb[j])
                    )
            if same_block:
                acc &= ia[lo:hi, None] < ib[None, :]
            ii, jj = np.nonzero(acc)
            if len(ii):
                outs_a.append(ia[lo + ii])
                outs_b.append(ib[jj])
        if not outs_a:
            return empty
        pa = np.concatenate(outs_a)
        pb = np.concatenate(outs_b)
        return pd.DataFrame(
            {"a": np.minimum(pa, pb), "b": np.maximum(pa, pb)}
        )

    tile_pairs = (
        aexp.unionByName(bexp)
        .groupBy("cluster", "_ba", "_bb")
        .applyInPandas(tile, "a long, b long")
    )
    return tile_pairs.unionByName(jvm_pairs)


def semantic_dedup(
    df: DataFrame,
    tau: float = 0.92,
    assignments: DataFrame | None = None,
    k: int = 16,
    n_iters: int = 4,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "features",
    scale: float = 1e6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, "SemDeDup" — public method): cluster the
    embeddings, drop all but one member of every within-cluster group
    of near-identical vectors → (id, cluster, group, keep).

    Pipeline: cluster assignment (k-means trained here by default;
    pass ``assignments`` (id, cluster) to reuse an IVF/LSH/bucket
    partition — the corpus-scale seam, same contract as dbscan's
    precomputed ``pairs``) → exact-integer within-cluster cosine pairs
    (semantic_pairs_exact) → connected components over the pair graph
    (size-probed driver/distributed solve) → keep = the group minimum
    id (deterministic canonical, matching dedup_clusters' policy).

    group = smallest reachable id; singletons are their own group.
    Scale: one Arrow assign pass + intra-cluster joins bounded by
    cluster sizes + O(log V) CC rounds — no all-pairs product, no
    driver state beyond the size-probed CC seam.
    """
    from raft_spark.operators.solvers import connected_components_auto

    # INTENTIONAL integer-only id contract: group ids are component
    # MINIMA over the long-typed CC node space, so id order must be
    # total and exact. Integral-valued double/decimal ids would cast
    # losslessly, but admitting them invites the fractional case (cast
    # → NULL rows under ANSI off, silently dropped from the dedup), so
    # the contract stays integer types only. (exact_dedup is the
    # operator that accepts arbitrary id types.)
    id_type = dict(df.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"semantic_dedup requires an integer id column by contract "
            f"(group = min id over a long-typed component); {id_col!r} "
            f"is {id_type} — map ids to int64 first (e.g. xxhash64) or "
            "use exact_dedup for string-id exact matching"
        )
    if assignments is None:
        from raft_spark.operators.similarity import kmeans

        asg_full, _, _ = kmeans(
            df, k, n_iters=n_iters, seed=seed, id_col=id_col, vec_col=vec_col
        )
        assignments = asg_full.select(F.col("id").alias(id_col), "cluster")
    pairs = semantic_pairs_exact(
        df, assignments, tau=tau, id_col=id_col, vec_col=vec_col, scale=scale
    )
    labels = connected_components_auto(
        pairs.select(F.col("a").alias("row"), F.col("b").alias("col"))
    )
    return (
        assignments.select(F.col(id_col).cast("long").alias("id"), "cluster")
        .join(labels.withColumnRenamed("node", "id"), "id", "left")
        .select(
            "id",
            F.col("cluster").cast("long").alias("cluster"),
            F.coalesce(F.col("label"), F.col("id")).alias("group"),
        )
        .withColumn("keep", (F.col("id") == F.col("group")).cast("int"))
    )


def span_hash_table(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Long-form n-token window hashes → (doc_id, start, h): the
    STATELESS per-row expression shared by batch duplicated_spans and
    the streaming span-flag lookup (windows built in-row with
    transform, hashed with md5 — no aggregation, no vocab, so a stream
    can evaluate it with zero state)."""
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit("")
    )
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), toks.alias("_t")
    ).withColumn("_ntok", F.size("_t"))
    return base.filter(F.col("_ntok") >= n).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("_ntok") - n),
                lambda i: F.md5(F.concat_ws(" ", F.slice("_t", i + F.lit(1), n))),
            )
        ).alias("start", "h"),
    )


def duplicated_spans(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level (substring) duplication detection — the token-window
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    public method): every n-token window whose exact content occurs
    ≥ ``min_count`` times corpus-wide marks its n positions
    duplicated → (doc_id, n_tokens, dup_tokens, dup_frac_ppm).

    Shape: one pass builds all windows per doc IN-ROW (transform over
    the token array — no per-token explode until the hash is taken),
    the window hashes groupBy-count (map-side combinable word-count
    shuffle, O(total tokens) rows), duplicated hashes join back and
    their covered positions union per doc. Everything after
    tokenization is exact integer/string equality, so the output is
    engine-exact; the duplicated fraction is emitted integer-quantized
    (ppm, exact int division) — never round(double).
    """
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit("")
    )
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), toks.alias("_t")
    ).withColumn("_ntok", F.size("_t"))
    sh = span_hash_table(docs, n=n, text_col=text_col, id_col=id_col)
    dup = (
        sh.groupBy("h")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("h")
    )
    cov = (
        sh.join(dup, "h")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + n - 1)).alias("_p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("dup_tokens"))
    )
    return (
        base.select("doc_id", F.col("_ntok").alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        )
        .withColumn(
            "dup_frac_ppm",
            F.floor(
                F.col("dup_tokens") * 1_000_000
                / F.greatest(F.col("n_tokens"), F.lit(1))
            ).cast("long"),
        )
    )


def dedup_report(clusters: DataFrame) -> DataFrame:
    """Corpus-level dedup summary from :func:`dedup_clusters` output →
    one row (n_docs, n_clusters, n_duplicates, dup_rate,
    max_cluster_size): the numbers a curation run logs per shard/day.
    One pass over the (already doc-sized) cluster table."""
    return clusters.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.sum(1 - F.col("is_canonical")).cast("long").alias("n_duplicates"),
        F.round(F.avg(1 - F.col("is_canonical")), 6).alias("dup_rate"),
        F.max("cluster_size").cast("long").alias("max_cluster_size"),
    )


def simhash(
    coo: DataFrame, doc_col: str = "doc_id", term_col: str = "term",
    value_col: str = "tf", n_bits: int = 16,
) -> DataFrame:
    """Weighted SimHash fingerprint per doc → (doc, simhash).

    bit_j votes: tf·(±1) where the sign is the j-th permuted hash's
    parity; bit set iff the vote sum is positive. Integer arithmetic
    throughout → bit-identical across engines.
    """
    tids = term_ids(coo, term_col)
    with_tid = coo.join(tids, term_col).select(doc_col, "tid", value_col)

    def vote(j: int):
        a, b = perm_consts(j)
        sign = F.when(
            ((F.lit(a) * F.col("tid") + F.lit(b)) % P31) % 2 == 1, 1
        ).otherwise(-1)
        return F.sum(F.col(value_col) * sign)

    # one groupBy with n_bits sum-aggregates (map-side combinable)
    sums = with_tid.groupBy(doc_col).agg(
        *[vote(j).alias(f"_s{j}") for j in range(n_bits)]
    )
    sim = None
    for j in range(n_bits):
        bit = F.when(F.col(f"_s{j}") > 0, F.lit(float(2 ** j))).otherwise(F.lit(0.0))
        sim = bit if sim is None else sim + bit
    return sums.select(doc_col, sim.cast("long").alias("simhash"))


def shingles(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc → (doc_id, shingle)."""
    # Materialize the token array ONCE per row before the shingle
    # lambda. Referencing F.split(...) directly inside the transform
    # would inline the split into every element_at — a huge generated
    # method that trips the JIT's compile limits (observed: the same
    # plan flip-flopping between 1s and 30s at sf0.1 depending on
    # whether the generated code got JIT-compiled).
    toked = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), r"\s+").alias("_toks")
    )
    toks = F.col("_toks")
    # guard: sequence(0, -1) would DESCEND in Spark, not return empty
    sh = F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
            ),
        )
    )
    return toked.select("doc_id", F.explode(sh).alias("shingle")).distinct()


def ngram_jaccard_pairs(
    sh: DataFrame, min_jaccard: float = 0.0,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Jaccard over shingle sets for pairs sharing ≥1 shingle
    (inverted-index join — candidate set, not a crossJoin).

    Stop-shingle cap: shingles appearing in more than ``max_shingle_df``
    docs are removed before BOTH the pair join and the set sizes (so
    Jaccard stays consistent over the filtered sets). On a real corpus
    one boilerplate shingle otherwise turns the inverted-index join
    quadratic. Mirrored in the SQL oracle.
    """
    if max_shingle_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        keep = dfreq.filter(F.col("_df") <= max_shingle_df).drop("_df")
        # materialize the filtered shingle table ONCE: it now feeds 4
        # consumers (sizes + both join sides on top of the df-cap
        # semi-join); recomputing the explode+distinct per branch
        # measured 5x slower at sf0.1
        sh = sh.join(keep, "shingle", "left_semi").localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    if max_shingle_df is not None:
        # grouped in-row pair expansion instead of the inverted-index
        # self-join: the df cap bounds every posting list at
        # max_shingle_df rows, so collect_list is bounded task state;
        # singleton shingles (most of a real corpus) group to a
        # 1-element list and emit nothing, where the self-join shipped
        # them through BOTH join sides just to drop the (d, d) row. The
        # pair multiplicities match the join exactly (see
        # _upper_triangle_pairs), so `common` is unchanged. Sizes stay
        # computed over the full capped table — only pair GENERATION
        # moves.
        grouped = sh.groupBy("shingle").agg(
            F.array_sort(F.collect_list("doc_id")).alias("_ds")
        )
        common = (
            grouped.select(F.explode(_upper_triangle_pairs("_ds")).alias("_p"))
            .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("common"))
        )
    else:
        a = sh.select(F.col("doc_id").alias("a"), "shingle")
        b = sh.select(F.col("doc_id").alias("b"), "shingle")
        common = (
            a.join(b, "shingle")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("common"))
        )
    out = (
        common.join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sa")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sb")), "b")
        .select(
            "a",
            "b",
            (F.col("common") / (F.col("sa") + F.col("sb") - F.col("common"))).alias("jaccard"),
        )
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


# ---------------------------------------------------------------------------
# Incremental cross-snapshot dedup: persisted MinHash state + delta ingest
# ---------------------------------------------------------------------------


def stable_term_id_expr(term_col):
    """Snapshot-STABLE, engine-portable term id: the first 15 hex chars
    of md5(term) as a 60-bit integer, reduced mod P31.

    Why not the vocab-rank tid (term_ids): ranks shift whenever a new
    snapshot adds vocabulary, which would invalidate every persisted
    signature; why not xxhash64: DuckDB cannot reproduce it, so the
    incremental pipeline would lose its independent oracle. md5 is
    content-derived (stable across snapshots forever) and bit-identical
    in both engines — the DuckDB mirror is a hex fold:
    ``list_reduce(list_prepend(0, list_transform(string_split(
    substring(md5(term),1,15), ''), c -> strpos('0123456789abcdef', c)
    - 1)), (a, b) -> a*16 + b) % 2147483647`` (parity pinned in
    tests/test_incremental_dedup.py)."""
    return F.pmod(
        F.conv(F.substring(F.md5(_col(term_col)), 1, 15), 16, 10).cast("long"),
        F.lit(P31),
    )


# Column-expression cache for the hot per-ingest builders. Building the
# MinHash signature expression is ~10³ py4j round trips (16 perms ×
# nested transforms) — measured 0.5-2 s of pure driver-side Python per
# call, paid per delivery by the ingest paths. Catalyst expression trees
# are immutable and unbound (resolved per-plan at analysis), so a
# Column keyed on its builder arguments is safely reusable across
# DataFrames/queries; keying on the live context's applicationId drops
# stale entries if the JVM is ever relaunched (id(gateway) was unsound:
# CPython can reuse the freed gateway object's id and serve Columns
# bound to the dead JVM).
_EXPR_CACHE: dict = {}


def _cached_expr(key: tuple, build):
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    full = (sc.applicationId if sc is not None else None,) + key
    got = _EXPR_CACHE.get(full)
    if got is None:
        got = _EXPR_CACHE[full] = build()
    return got


def minhash_signature_stable(text_col, num_perms: int = NUM_PERMS):
    """:func:`minhash_signature_expr` with :func:`stable_term_id_expr`
    term ids — one stateless per-row projection (no vocab build, no
    aggregation), so it runs identically on batch frames, streams, and
    across corpus snapshots: the signature a document gets today equals
    the signature it got in last month's state, which is what makes the
    persisted-state delta ingest (:func:`dedup_state_ingest`) sound.
    The built Column is cached per (column name, num_perms) — see
    :data:`_EXPR_CACHE`."""
    from raft_spark.functions.arrays import let_bind

    def build():
        def perm_min(hashes, p: int):
            a, b = perm_consts(p)
            return F.array_min(
                F.transform(hashes, lambda h: (F.lit(a) * h + F.lit(b)) % P31)
            )

        return let_bind(
            F.transform(
                F.array_distinct(F.split(_col(text_col), r"\s+")),
                stable_term_id_expr,
            ),
            lambda hashes: F.array(
                *[perm_min(hashes, p) for p in range(num_perms)]
            ),
        )

    if isinstance(text_col, str):
        return _cached_expr(("mh_stable", text_col, num_perms), build)
    return build()


def bands_from_sig(sig, num_perms: int = NUM_PERMS, band_rows: int = BAND_ROWS):
    """LSH band structs ``array<struct<band,bsig>>`` from a signature
    array column/expression — the one shared rendering of the banding
    (band_table and the persisted-state path must agree bit-for-bit or
    the delta ingest would miss bucket-mates)."""
    n_bands = num_perms // band_rows
    sig = _col(sig) if isinstance(sig, str) else sig
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_",
                *[sig[b * band_rows + r].cast("string") for r in range(band_rows)],
            ).alias("bsig"),
        )
        for b in range(n_bands)
    ])


def _explode_bands(sigs: DataFrame, num_perms: int, band_rows: int) -> DataFrame:
    return sigs.select(
        "doc_id", F.explode(bands_from_sig(F.col("sig"), num_perms, band_rows)).alias("_b")
    ).select("doc_id", F.col("_b.band").alias("band"), F.col("_b.bsig").alias("bsig"))


N_BAND_BUCKETS = 32  # directory buckets of the persisted corpus band table

# Known store schemas (data columns in file order, partition columns
# last — matching what the writers below produce). Passing them to the
# reader skips Spark's one-task schema-inference job per store read — a
# pure fixed tax on every ingest (4 probes) and state read. ``_dv`` is
# declared long unconditionally (delivery ids are 60-bit; partition
# value inference would flip it to int on a compacted ``_dv=0`` store).
# Only sites guaranteed the r11+ layout may use them — the migration
# paths detect legacy stores by COLUMN ABSENCE, which an explicit
# schema would mask with fabricated null columns.
_SIGS_SCHEMA = "doc_id long, sig array<long>, _dv long, _pd int"
_SIGS_SCHEMA_NOPD = "doc_id long, sig array<long>, _dv long"
_BANDS_SCHEMA = "band int, bsig string, doc_id long, _dv long, _pb int"
_OCC_SCHEMA = "band int, bsig string, n long, _dv long, _pb int"
_CLUSTERS_SCHEMA = "doc_id long, cluster_id long, _dv long"
# semantic-state stores (the ingest adopts/wraps legacy stores into the
# _dv layout before any schema'd read; a ledger-less legacy state read
# through the public reader passes committed=None, so the fabricated
# null _dv/_pd columns are never consulted)
_SEM_INDEX_SCHEMA = "cand_id long, _qc array<long>, _nc long, _dv long, cluster long"
_SEM_IDS_SCHEMA = "id long, _dv long, _pd int"
_SEM_GROUPS_SCHEMA = "id long, cluster long, group long, _dv long"
# span-state stores (same adoption guarantee; hcounts is only
# schema-read AFTER _migrate_span_state has ensured the _ph layout)
_SPAN_TOKENS_SCHEMA = "doc_id long, n_tokens int, _dv long"
_SPAN_SPANS_SCHEMA = "h string, doc_id long, start int, _dv long, _ph int"
_SPAN_HCOUNTS_SCHEMA = "h string, c long, _dv long, _ph int"
_SPAN_FLAGS_SCHEMA = "doc_id long, start int, _dv long"


def _try_parquet(spark, path: str, schema: str | None = None) -> DataFrame | None:
    return SS._try_parquet(spark, path, schema)


_no_aqe = SS._no_aqe  # shared probe discipline (see statestore)


def _band_bucket(band_col, bsig_col):
    """Stable directory bucket of an LSH bucket key — the corpus band
    table is persisted ``partitionBy(_pb)`` so a delta probe prunes its
    scan to the ≤N_BAND_BUCKETS directories its own buckets hash into
    (the bounded `_pb IN (...)` filter is a partition filter, pushed to
    the file listing, not a row filter)."""
    return F.pmod(F.xxhash64(band_col, bsig_col), F.lit(N_BAND_BUCKETS)).cast("int")


def _doc_bucket(doc_col):
    """Stable directory bucket of a doc id — the corpus signature store
    is persisted ``partitionBy(_pd)`` so the two per-delivery id probes
    (replay anti-join, est-Jaccard signature lookup) prune their scans
    to the ≤N_BAND_BUCKETS directories the probe ids hash into instead
    of reading the corpus signature table end-to-end."""
    return F.pmod(F.xxhash64(doc_col.cast("long")), F.lit(N_BAND_BUCKETS)).cast("int")


def _guard_state_meta(spark, state_path: str, op: str, params: dict) -> bool:
    """Format-parameter guard shared by the persisted-state ingests: a
    state's layout parameters (signature width, banding, quantization
    scale, …) are part of the FORMAT, not tuning knobs of a call — an
    ingest under different parameters silently mixes incompatible
    signatures (zip_with over different-length arrays null-pads, the
    match predicates go false, and the state under-merges with no
    error). Returns True if a ``meta`` sidecar existed (after raising
    on any mismatch); False if the state has never recorded one."""
    row = SS.read_meta(state_path)
    if row is None:
        return False
    got = {k: row[k] for k in params if k in row}
    missing = [k for k in params if k not in got]
    if missing:
        raise ValueError(
            f"{op}: state at {state_path} has a meta sidecar without "
            f"field(s) {missing} — not a {op} state"
        )
    bad = {
        k: (got[k], v) for k, v in params.items()
        if (abs(float(got[k]) - float(v)) > 1e-12
            if isinstance(v, float) else int(got[k]) != int(v))
    }
    if bad:
        detail = ", ".join(
            f"{k}: state={s!r} call={c!r}" for k, (s, c) in sorted(bad.items())
        )
        raise ValueError(
            f"{op}: state at {state_path} was built with different format "
            f"parameters ({detail}) — re-ingesting under mismatched "
            f"parameters would silently under-merge; rebuild the state or "
            f"pass the original parameters"
        )
    return True


def _adopt_state_format(spark, state_path: str, op: str, params: dict,
                        registry: str, migrate,
                        migrate_always: bool = False) -> bool:
    """Format adoption shared by the state ingests (driver twins and
    distributed impls alike): :func:`_guard_state_meta`, then
    ``migrate(spark, state_path)`` — on every call, or only for a state
    without a meta sidecar — then the adoption warning when a legacy
    state (``registry`` store written, no sidecar) takes this call's
    parameters as its FORMAT. Returns whether the sidecar existed."""
    import warnings

    had_meta = _guard_state_meta(spark, state_path, op, params)
    if migrate_always or not had_meta:
        migrate(spark, state_path)
    if not had_meta and SS.store_exists(state_path + "/" + registry):
        shown = ", ".join(f"{k}={v}" for k, v in params.items())
        warnings.warn(
            f"{op}: adopting this call's format parameters ({shown}) for "
            f"the legacy state at {state_path} — they become the state "
            f"FORMAT and every later ingest must match",
            stacklevel=4,
        )
    return had_meta


def _resolved_frame(spark, tbl, read_back) -> DataFrame:
    """A driver-resolved Arrow table as the ingest's answer: up to
    :data:`_DRIVER_RESOLVE_ROWS` rows it returns as an Arrow-backed
    local relation (no scheduled job; it survives state compaction or
    deletion by construction — the rows are in the plan); a larger
    resolve runs ``read_back()`` (the Spark resolve over the committed
    stores) and checkpoints it."""
    if tbl.num_rows <= _DRIVER_RESOLVE_ROWS:
        return spark.createDataFrame(tbl)
    return read_back().localCheckpoint(eager=True)


def _driver_relabel(edges: list, new_ids: list, ov_ids: list,
                    ov_labels: list):
    """Driver rendering of the touched-component solve shared by the
    MinHash and semantic ingests. Components TOUCHED by a new edge are
    the current labels (min over the overlay rows) of the edges' OLD
    endpoints; overlay rows carrying a touched label are exactly those
    components' members (labels strictly decrease, so a stale label
    never equals a live one). Each member's star edge id→label
    contracts its component into its hub, and
    :func:`solvers.driver_union_find` over new edges ∪ star edges gives
    the component-minimum labels. Returns (labels, indices of the
    overlay rows whose label changed)."""
    from raft_spark.operators.solvers import driver_union_find

    ends = {i for e in edges for i in e} - set(new_ids)
    cur: dict = {}
    for i, c in zip(ov_ids, ov_labels):
        if i in ends and (i not in cur or c < cur[i]):
            cur[i] = c
    touched = set(cur.values())
    members = [k for k, c in enumerate(ov_labels) if c in touched]
    labels = driver_union_find(edges + [
        (ov_ids[k], ov_labels[k]) for k in members
        if ov_ids[k] != ov_labels[k]
    ])
    return labels, [k for k in members if ov_ids[k] in labels
                    and labels[ov_ids[k]] != ov_labels[k]]


def _migrate_dedup_state(spark, state_path: str, num_perms: int,
                         band_rows: int) -> None:
    """One-time upgrade of a pre-r11 MinHash dedup state to the current
    layout: bucket ``sigs`` by ``_pd`` (so the per-delivery id probes
    partition-prune) and backfill the ``bands``/``occ`` stores from the
    persisted signatures when they predate r10 (an ingest that read
    such a state as delta-only would silently miss every old-vs-new
    duplicate pair). O(corpus) once, then every later delivery is back
    to O(delta). ``num_perms`` is validated against the stored
    signature width before any rewrite, and ``band_rows`` must tile the
    signature exactly (a remainder would silently change the banding
    every later delivery is committed to).

    Every rewrite is STAGED: the new store is written to a ``.__new``
    sibling directory (sourced from an eagerly-materialized read of the
    old store) and swapped in by rename — the old store stays intact
    until the replacement is fully on disk, so a driver/executor loss
    mid-migration can never destroy the corpus store (r12; the r11
    in-place overwrite had exactly that window)."""
    # hot-path probes are driver-side directory checks (no Spark jobs):
    # every ingest runs this gate, and an up-to-date state must not pay
    # three schema-inference jobs to learn nothing needs migrating
    if not SS.store_exists(state_path + "/sigs"):
        return
    need_pd = not SS.has_partition_dir(state_path + "/sigs", "_pd")
    need_bands = not SS.store_exists(state_path + "/bands")
    need_occ = not SS.store_exists(state_path + "/occ")
    if not (need_pd or need_bands or need_occ):
        return
    sigs = _try_parquet(spark, state_path + "/sigs")  # migration path only
    row = sigs.select(F.size("sig")).first()
    if row is not None and int(row[0]) != num_perms:
        raise ValueError(
            f"dedup_state_ingest: state at {state_path} holds signatures "
            f"of width {int(row[0])} — got num_perms={num_perms}"
        )
    if num_perms % band_rows != 0:
        raise ValueError(
            f"dedup_state_ingest: band_rows={band_rows} does not tile "
            f"the stored signature width {num_perms} — a legacy state "
            f"adopts the call's banding as its format, so it must be "
            f"exact"
        )
    s = sigs.select("doc_id", "sig")
    if need_pd:
        ck = (
            s.withColumn("_pd", _doc_bucket(F.col("doc_id")))
            .repartition("_pd").localCheckpoint(eager=True)
        )
        ck.write.partitionBy("_pd").mode("overwrite").parquet(
            state_path + "/sigs.__new"
        )
        SS.swap_in(state_path + "/sigs.__new", state_path + "/sigs")
        s = ck.select("doc_id", "sig")
    if need_bands or need_occ:
        b = (
            _explode_bands(s, num_perms, band_rows)
            .withColumn("_pb", _band_bucket(F.col("band"), F.col("bsig")))
            .repartition("_pb").sortWithinPartitions("band", "bsig")
            .localCheckpoint(eager=True)
        )
        if need_bands:
            b.select("_pb", "band", "bsig", "doc_id").write.partitionBy(
                "_pb"
            ).mode("overwrite").parquet(state_path + "/bands.__new")
            SS.swap_in(state_path + "/bands.__new", state_path + "/bands")
        if need_occ:
            b.groupBy("_pb", "band", "bsig").agg(
                F.count("*").alias("n")
            ).write.partitionBy("_pb").mode("overwrite").parquet(
                state_path + "/occ.__new"
            )
            SS.swap_in(state_path + "/occ.__new", state_path + "/occ")


def _resolve_cluster_overlay(overlay: DataFrame) -> DataFrame:
    """Append-only cluster overlay (doc_id, cluster_id) → the current
    full-corpus cluster table (doc_id, cluster_id, cluster_size,
    is_canonical).

    Latest-wins needs no epoch column: a label is its component's MIN
    doc_id and components only ever merge, so a doc's label STRICTLY
    DECREASES across its overlay rows — the current assignment is
    simply min(cluster_id) per doc. Sizes are derived on read via ONE
    window over the resolved narrow table (a partitioned count, not a
    groupBy + self-join — one exchange instead of two and no join;
    same rows) instead of being stored, which is what lets the ingest
    write O(delta) rows."""
    latest = overlay.groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))
    w = Window.partitionBy("cluster_id")
    return latest.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def read_dedup_state(spark, state_path: str) -> tuple[DataFrame, DataFrame] | None:
    """(signatures, resolved clusters) of a persisted dedup state, or
    None if the state has never been written. ``clusters`` is the
    overlay resolved to the current full table — same schema
    :func:`dedup_clusters` returns. Scans are restricted to PUBLISHED
    deliveries (the manifest-commit contract — see
    :mod:`raft_spark.operators.statestore`), so a crashed half-written
    delivery is invisible here."""
    committed = SS.committed_ids(spark, state_path)
    # explicit store schemas (no inference job). A legacy pre-bucketing
    # store simply yields the declared _dv/_pd as null columns — this
    # reader never consults them beyond the visibility filter, which
    # passes legacy (ledger-less) states through unfiltered anyway.
    sigs = SS.visible(
        _try_parquet(spark, state_path + "/sigs", _SIGS_SCHEMA), committed
    )
    overlay = SS.visible(
        _try_parquet(spark, state_path + "/clusters", _CLUSTERS_SCHEMA),
        committed,
    )
    if sigs is None or overlay is None:
        return None
    return sigs.select("doc_id", "sig"), _resolve_cluster_overlay(
        overlay.select("doc_id", "cluster_id")
    )


def dedup_state_ingest(
    new_docs: DataFrame,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perms: int = NUM_PERMS,
    band_rows: int = BAND_ROWS,
    max_bucket_docs: int = MAX_BUCKET_DOCS,
    return_full: bool = True,
) -> DataFrame:
    """Cross-snapshot incremental dedup — full contract on
    :func:`_dedup_state_ingest_impl`. A small delivery into a
    driver-sized state takes :func:`_dedup_state_ingest_driver`; the
    rest run the distributed impl."""
    args = (new_docs, state_path, text_col, id_col, threshold, num_perms,
            band_rows, max_bucket_docs, return_full)
    out = _dedup_state_ingest_driver(*args)
    return out if out is not None else _dedup_state_ingest_impl(*args)


# driver-rendered ingest cap: deliveries above this many docs (or any
# state store at/above statestore.SMALL_STORE_ROWS) take the distributed
# path. Measured data size, never core count — a 50k delivery into a
# small bootstrap state rides the driver path on any cluster; a 100 TB
# corpus state routes every delivery to the distributed path because its
# stores exceed the row gate.
DRIVER_DELTA_DOCS = 200_000
# candidate-pair explosion guard for the driver rendering (a degenerate
# near-cap bucket profile could square into tens of millions of pairs —
# the distributed path handles that shape, the driver list must not)
_DRIVER_MAX_CAND = 3_000_000


# resolved tables up to this many rows return as Arrow-backed local
# relations (no scheduled job); larger resolves read back through Spark
_DRIVER_RESOLVE_ROWS = 100_000


def _resolved_rows_table(pairs_iter):
    """(doc_id, cluster_id) overlay pairs → the resolved full table as
    an Arrow table — the exact :func:`_resolve_cluster_overlay`
    aggregate (min label per doc, sizes per resolved cluster, canonical
    = the cluster minimum), rendered driver-side."""
    from collections import Counter

    import pyarrow as pa

    cur: dict = {}
    for d, c in pairs_iter:
        if d not in cur or c < cur[d]:
            cur[d] = c
    sizes = Counter(cur.values())
    docs = sorted(cur)
    return pa.table({
        "doc_id": pa.array(docs, pa.int64()),
        "cluster_id": pa.array([cur[d] for d in docs], pa.int64()),
        "cluster_size": pa.array([sizes[cur[d]] for d in docs], pa.int64()),
        "is_canonical": pa.array(
            [1 if d == cur[d] else 0 for d in docs], pa.int32()
        ),
    })


def resolve_dedup_state_rows(spark, state_path: str) -> list[tuple] | None:
    """Driver-side resolved cluster table of a SMALL persisted dedup
    state as [(doc_id, cluster_id, cluster_size, is_canonical)], or
    None when the state is corpus-sized, pre-protocol, or never written
    — callers then fall back to :func:`read_dedup_state`. Zero
    scheduled jobs; same visibility (committed deliveries only) and the
    same resolve aggregate as the Spark reader."""
    store = state_path + "/clusters"
    if not os.path.isdir(state_path + "/sigs") or not os.path.isdir(store):
        return None
    if not SS.pure_dv_layout(store):
        return None
    if SS.store_row_count(store) >= SS.SMALL_STORE_ROWS:
        return None
    t = _resolved_rows_table(zip(*SS.read_store_columns(
        store, SS.committed_ids(spark, state_path), ["doc_id", "cluster_id"]
    )))
    return list(zip(*(c.to_pylist() for c in t.columns)))


def _resolve_state_clusters(spark, state_path: str, ids) -> DataFrame:
    """Full-corpus resolve from a FRESH scan of the clusters store
    restricted to ``ids`` (committed, plus the delivery just published).
    Callers checkpoint it so their frame survives state compaction or
    deletion underneath it."""
    return _resolve_cluster_overlay(
        SS.visible(
            spark.read.schema(_CLUSTERS_SCHEMA)
            .parquet(state_path + "/clusters"),
            ids,
        ).select("doc_id", "cluster_id")
    )


def _dedup_state_ingest_driver(
    new_docs: DataFrame,
    state_path: str,
    text_col: str,
    id_col: str,
    threshold: float,
    num_perms: int,
    band_rows: int,
    max_bucket_docs: int,
    return_full: bool,
):
    """Driver-side rendering of one SMALL delivery into a DRIVER-SIZED
    state — same contract, same state bytes, ~2 scheduled jobs instead
    of ~25. Returns None to fall back to the distributed
    :func:`_dedup_state_ingest_impl` (large delivery, large store, or a
    shape this rendering does not cover).

    Why: at small delivery sizes the distributed path's cost is pure
    fixed overhead — every localCheckpoint/probe/append is a scheduled
    job over a few KB (measured ~25 jobs ≈ 10 s per ingest at sf0.1,
    ~70 for the two-delivery gate query). The irreducible Spark work is
    the signature/banding computation, so this path runs exactly ONE
    job — a capped collect (:func:`statestore.collect_capped`) of the
    delta's (doc_id, sig, _pd, bands[band, bsig, _pb]) rows, every
    derived value computed by the SAME Spark expressions as the
    distributed path (zero hash/signature divergence by construction)
    — and renders the probes, the additive hot-bucket cap, the
    candidate bucket join, the est-Jaccard filter, the touched-component
    star contraction and the union-find label solve
    (:func:`_driver_relabel` — the identical component-minimum labels)
    in plain Python over the collected rows plus pruned pyarrow reads of
    the stores (:func:`statestore.read_store_arrow` — the same
    ``_dv``-committed / ``_pd``/``_pb`` IN-list pruning as the Spark
    scans). Appends go through the SAME :func:`statestore.append_store`
    seam (as Arrow tables, :func:`statestore.commit_delivery`) in the
    same order, so the manifest-commit crash discipline and the
    crash-injection tests' window semantics are unchanged. Store parity
    with the distributed path is pinned in
    tests/test_incremental_dedup.py (driver vs forced-distributed
    ingest: identical store rows, identical resolve)."""
    spark = new_docs.sparkSession
    stores = ("sigs", "bands", "occ", "clusters")
    present = SS.driver_state_gate(state_path, stores,
                                   ("sigs", "bands", "occ"))
    if present is None:
        return None
    params = {"num_perms": num_perms, "band_rows": band_rows,
              "max_bucket_docs": max_bucket_docs}
    had_meta = _adopt_state_format(
        spark, state_path, "dedup_state_ingest", params, "sigs",
        lambda sp, p: _migrate_dedup_state(sp, p, num_perms, band_rows),
    )
    if not had_meta:  # the migration may have backfilled bands/occ
        present = {s: os.path.isdir(state_path + "/" + s) for s in stores}
    committed = SS.adopt_commit_ledger(spark, state_path, stores)

    # THE one Spark job: the delta's derived rows. sig/_pd/band/bsig/_pb
    # all computed by the same expressions as the distributed path
    # (cached Columns — the banding/bucket tree is hundreds of py4j
    # calls per build and pure in (num_perms, band_rows))
    pd_expr = _cached_expr(
        ("pd_of_doc",), lambda: _doc_bucket(F.col("doc_id")).alias("_pd")
    )
    bands_expr = _cached_expr(
        ("bands_pb", num_perms, band_rows),
        lambda: F.transform(
            bands_from_sig(F.col("sig"), num_perms, band_rows),
            lambda b: F.struct(
                b["band"].alias("band"), b["bsig"].alias("bsig"),
                _band_bucket(b["band"], b["bsig"]).alias("_pb"),
            ),
        ).alias("_bands"),
    )
    row_df = new_docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        minhash_signature_stable(text_col, num_perms).alias("sig"),
    ).select("doc_id", "sig", pd_expr, bands_expr)
    t = SS.collect_capped(row_df, DRIVER_DELTA_DOCS)
    if t is None:
        return None  # large delivery — distributed path (probe cost is O(cap))
    doc_ids = t.column("doc_id").to_pylist()
    if any(d is None for d in doc_ids) or len(set(doc_ids)) != len(doc_ids):
        # null or duplicate ids inside one batch: the distributed path's
        # join multiplicities are the contract for that malformed shape
        return None

    import pyarrow as pa
    import pyarrow.compute as pc

    # replay anti-join, pruned to the delta ids' _pd directories
    keep = SS.replay_keep(state_path + "/sigs", committed, doc_ids,
                          "doc_id", "_pd", set(t.column("_pd").to_pylist()))
    if keep is not None:
        t = t.take(pa.array(keep, pa.int64()))
        doc_ids = t.column("doc_id").to_pylist()
    n_delta = t.num_rows

    if present["sigs"] and n_delta == 0:
        # pure replay (or an empty batch) — no state change
        if not return_full:
            return spark.createDataFrame([], "doc_id long, cluster_id long")
        if not present["clusters"]:
            return spark.createDataFrame(
                [], "doc_id long, cluster_id long, cluster_size long, is_canonical int"
            )
        return _resolved_frame(
            spark,
            _resolved_rows_table(zip(*SS.read_store_columns(
                state_path + "/clusters", committed, ["doc_id", "cluster_id"]
            ))),
            lambda: _resolve_state_clusters(spark, state_path, committed),
        )

    # band rows of the delta (explode the collected structs)
    bands_col = t.column("_bands")
    if isinstance(bands_col, pa.ChunkedArray):
        bands_col = bands_col.combine_chunks()
    flat = pc.list_flatten(bands_col)
    parent_idx = pc.list_parent_indices(bands_col).to_pylist()
    band_l = flat.field("band").to_pylist()
    bsig_l = flat.field("bsig").to_pylist()
    pb_l = flat.field("_pb").to_pylist()
    bdoc_l = [doc_ids[i] for i in parent_idx]

    # hot-bucket cap on the UNION occupancy (additive: persisted counts
    # pruned to the delta's buckets + the delta's own counts)
    from collections import Counter, defaultdict

    cnt_new = Counter(zip(band_l, bsig_l))
    key_pb = dict(zip(zip(band_l, bsig_l), pb_l))
    pbs = sorted(set(pb_l))
    old_n: Counter = Counter()
    for b, s_, n_ in zip(*SS.read_store_columns(
            state_path + "/occ", committed, ["band", "bsig", "n"], "_pb", pbs)):
        if (b, s_) in cnt_new:
            old_n[(b, s_)] += n_
    keep_keys = {
        k for k, c in cnt_new.items() if c + old_n.get(k, 0) <= max_bucket_docs
    }

    # candidate pairs: delta bands × (delta ∪ pruned corpus bands),
    # both sides restricted to kept buckets
    new_by_key: dict = defaultdict(list)
    for d, b, s_ in zip(bdoc_l, band_l, bsig_l):
        if (b, s_) in keep_keys:
            new_by_key[(b, s_)].append(d)
    corpus_by_key = {k: list(v) for k, v in new_by_key.items()}
    for b, s_, d in zip(*SS.read_store_columns(
            state_path + "/bands", committed, ["band", "bsig", "doc_id"],
            "_pb", pbs)):
        if (b, s_) in new_by_key:  # kept AND shared with the delta
            corpus_by_key[(b, s_)].append(d)
    cand: set = set()
    for k, newids in new_by_key.items():
        corp = corpus_by_key[k]
        for x in newids:
            for y in corp:
                if x != y:
                    cand.add((x, y) if x < y else (y, x))
        if len(cand) > _DRIVER_MAX_CAND:
            return None  # degenerate bucket profile — distributed path

    # est-Jaccard over the candidates (signature lookup: delta sigs +
    # a membership-filtered read of the persisted sigs)
    sig_by_id = dict(zip(doc_ids, t.column("sig").to_pylist()))
    need_old = sorted({i for p_ in cand for i in p_ if i not in sig_by_id})
    if need_old:
        got, got_sigs = SS.read_store_columns(
            state_path + "/sigs", committed, ["doc_id", "sig"],
            filter_in=("doc_id", need_old),
        )
        if len(set(got)) != len(got):
            return None  # historical duplicate sig rows: join
            # multiplicity belongs to the distributed path
        sig_by_id.update(zip(got, got_sigs))
    edges = []
    for a, b in cand:
        sa = sig_by_id.get(a)
        sb = sig_by_id.get(b)
        if sa is None or sb is None:
            continue  # inner-join semantics: missing sig drops the pair
        if None in sa or None in sb:
            continue  # a null element nulls the whole Spark aggregate,
            # so the est comparison is false — the pair drops there too
        matches = sum(1 for x, y in zip(sa, sb) if x == y)
        # the exact float arithmetic of the distributed predicate
        # (matches / num_perms as double, >= threshold)
        if matches / float(num_perms) >= threshold:
            edges.append((a, b))

    ov_doc, ov_lab = SS.read_store_columns(
        state_path + "/clusters", committed, ["doc_id", "cluster_id"]
    )
    labels, relabeled = _driver_relabel(edges, doc_ids, ov_doc, ov_lab)
    delta_overlay = [(d, labels.get(d, d)) for d in doc_ids] \
        + [(ov_doc[k], labels[ov_doc[k]]) for k in relabeled]

    # manifest commit: same append order and same append_store seam as
    # the distributed path (sigs, bands, occ, clusters; publish LAST)
    occ_keys = sorted(cnt_new)
    dv = SS.commit_delivery(spark, state_path, [
        ("sigs", {"_pd": t.column("_pd"), "doc_id": t.column("doc_id"),
                  "sig": t.column("sig")}, ("_pd",), ()),
        ("bands", {"_pb": flat.field("_pb"), "band": flat.field("band"),
                   "bsig": flat.field("bsig"),
                   "doc_id": pa.array(bdoc_l, pa.int64())},
         ("_pb",), ("band", "bsig")),
        ("occ", {"_pb": pa.array([key_pb[k] for k in occ_keys], pa.int32()),
                 "band": pa.array([k[0] for k in occ_keys], pa.int32()),
                 "bsig": pa.array([k[1] for k in occ_keys], pa.string()),
                 "n": pa.array([cnt_new[k] for k in occ_keys], pa.int64())},
         ("_pb",), ()),
        ("clusters",
         {"doc_id": pa.array([d for d, _ in delta_overlay], pa.int64()),
          "cluster_id": pa.array([c for _, c in delta_overlay], pa.int64())},
         (), ()),
    ], meta=None if had_meta else {k: int(v) for k, v in params.items()})

    if not return_full:
        return spark.createDataFrame(
            delta_overlay or [], "doc_id long, cluster_id long"
        )
    # driver-side resolve: the refreshed overlay is exactly the
    # committed rows read above + this delivery — no read-back scan
    import itertools

    return _resolved_frame(
        spark,
        _resolved_rows_table(
            itertools.chain(zip(ov_doc, ov_lab), delta_overlay)
        ),
        lambda: _resolve_state_clusters(
            spark, state_path, (committed or []) + [dv]),
    )


def _dedup_state_ingest_impl(
    new_docs: DataFrame,
    state_path: str,
    text_col: str,
    id_col: str,
    threshold: float,
    num_perms: int,
    band_rows: int,
    max_bucket_docs: int,
    return_full: bool,
) -> DataFrame:
    """Cross-snapshot incremental dedup: fold a NEW batch of documents
    into a persisted corpus dedup state and return the refreshed
    full-corpus cluster table (doc_id, cluster_id, cluster_size,
    is_canonical) — how a 100 TB corpus actually ingests (nobody
    re-clusters the world per delivery).

    State layout under ``state_path`` — ALL four stores are
    append-only, so every delivery writes O(delta) rows/files:

    - ``meta``      (num_perms, band_rows, max_bucket_docs): the state
      FORMAT parameters, written once and enforced on every later
      ingest (a mismatched ``num_perms`` would null-pad the zip_with
      est-Jaccard and silently under-merge — the guard raises instead).
    - ``sigs``      (doc_id, sig) partitioned by
      ``_pd = xxhash64(doc_id) % N_BAND_BUCKETS``: snapshot-stable
      MinHash signatures (:func:`minhash_signature_stable`), one row
      per corpus doc. Both per-delivery id probes — the replay
      anti-join and the est-Jaccard signature lookup — prune their
      scans to the ``_pd`` directories the probe ids hash into
      (bounded IN-list partition filters), so neither reads the corpus
      signature table end-to-end. Pre-r11 states (unbucketed sigs,
      missing bands/occ) are migrated in place once on the next ingest
      (:func:`_migrate_dedup_state`).
    - ``bands``     (band, bsig, doc_id) partitioned by
      ``_pb = xxhash64(band,bsig) % N_BAND_BUCKETS``: the corpus band
      table, persisted once instead of re-exploded from ``sigs`` per
      delivery. The delta probe reads only the ``_pb`` directories its
      own buckets hash into (bounded IN-list partition filter) and
      row-groups are sorted by (band, bsig) for min/max pruning.
    - ``occ``       (band, bsig, n) partitioned by ``_pb``: ADDITIVE
      per-delivery bucket-occupancy counts. Union occupancy of a
      delta-touched bucket = Σ persisted n + the delta's own count —
      the hot-bucket cap is decided WITHOUT re-aggregating the corpus
      band table (the r9 design's last corpus-sized shuffle).
    - ``clusters``  (doc_id, cluster_id): DELTA-OVERLAY cluster store.
      Each delivery appends rows only for (a) its new docs and (b) old
      docs whose component was relabeled by a new edge. Labels are
      component minima and components only merge, so a doc's label
      strictly decreases across rows — resolution is min(cluster_id)
      per doc (:func:`_resolve_cluster_overlay`), sizes derived on
      read.

    Per-delivery work is the DELTA: signatures + bands for the new
    batch only; occupancy = delta counts + a pruned additive lookup;
    candidate edges from an LSH band join of the new bands against the
    pruned corpus bands; est-Jaccard on candidates; connected
    components over (new edges ∪ star edges of TOUCHED components
    only — the old assignment contracts each touched component into
    its hub, so the solver never re-walks old×old pairs and never even
    sees untouched components). Byte-identical labels to from-scratch
    because cluster_id is the component min in both paths.

    EQUALITY contract (gate-checked): ingest(batch₂, state(batch₁)) ==
    from-scratch dedup of batch₁ ∪ batch₂, because (a) signatures are
    content-derived (identical across snapshots), (b) the hot-bucket
    cap is decided on the UNION's occupancy (persisted additive counts
    + delta counts = exactly what from-scratch aggregates), and (c)
    old×old candidate edges are a subset of the already-contracted
    state whenever no bucket crosses the cap between snapshots.
    Monotone-merge caveat: if new docs push a bucket OVER the cap,
    from-scratch would retroactively drop that bucket's old pairs;
    incremental keeps the committed merges (dedup never un-merges) and
    only stops producing new pairs from it — the operationally-correct
    behavior, and byte-equal whenever no bucket straddles the cap
    across the split (true on the gate corpus; asserted in tests).

    REPLAY-safe: doc_ids already present in the state are anti-joined
    out first, so at-least-once redelivery (the foreachBatch recovery
    contract) is a no-op — pinned in tests/test_incremental_dedup.py.

    ``return_full=False`` returns only this delivery's overlay rows
    (doc_id, cluster_id) — the O(delta) answer a production ingest
    consumes; the full-table resolve (one narrow O(corpus) agg, read
    path only) is for callers that want the refreshed corpus view.
    Every per-delivery term is partition-pruned or delta-sized — no
    corpus-wide scan, explode, aggregate, or rewrite survives in the
    ingest path.

    CRASH-ATOMIC (r12, manifest commit): each delivery's four store
    appends land under a fresh ``_dv=<delivery id>`` partition and the
    id is PUBLISHED last with one tiny append to the state's
    ``commits`` ledger (see :mod:`raft_spark.operators.statestore`).
    Every reader and probe here restricts its scan to published
    deliveries — a partition filter, pruned at file-listing time — so
    a crash between any two appends leaves the half-written delivery
    invisible and redelivery re-ingests it in full under a new id (the
    replay anti-join only sees committed registry rows). Orphaned
    unpublished directories are dropped by
    :func:`compact_dedup_state`. The ``meta`` sidecar is written
    BEFORE the appends: a first-delivery crash right after it leaves a
    meta-only state, which is exactly a bootstrap state with its
    format parameters pinned — benign by construction.
    """
    spark = new_docs.sparkSession
    params = {"num_perms": num_perms, "band_rows": band_rows,
              "max_bucket_docs": max_bucket_docs}
    # a meta sidecar implies the r11 layout already, so only a state
    # without one migrates
    had_meta = _adopt_state_format(
        spark, state_path, "dedup_state_ingest", params, "sigs",
        lambda sp, p: _migrate_dedup_state(sp, p, num_perms, band_rows),
    )
    committed = SS.adopt_commit_ledger(
        spark, state_path, ("sigs", "bands", "occ", "clusters")
    )
    sig = minhash_signature_stable(text_col, num_perms)
    incoming = new_docs.select(
        F.col(id_col).cast("long").alias("doc_id"), sig.alias("sig")
    )
    # post-guard reads: migration/adoption above guarantees the r11+
    # layout, so the known schemas skip the per-store inference job
    old_sigs = SS.visible(
        _try_parquet(spark, state_path + "/sigs", _SIGS_SCHEMA), committed
    )
    overlay = SS.visible(
        _try_parquet(spark, state_path + "/clusters", _CLUSTERS_SCHEMA),
        committed,
    )
    if old_sigs is not None:
        # replay anti-join pruned to the delta ids' _pd directories
        # (≤N_BAND_BUCKETS values; an id already in the state lives in
        # the same bucket, so the pruned anti-join is exact). AQE off
        # for the probe at ANY delta size: partial aggregation collapses
        # every input partition to ≤N_BAND_BUCKETS rows before the
        # exchange, so there is nothing for AQE to coalesce or split —
        # its per-stage jobs are pure overhead (3 jobs -> 1).
        with _no_aqe(spark):
            pds = sorted({
                r[0] for r in incoming.select(
                    _doc_bucket(F.col("doc_id")).alias("_pd")
                ).distinct().collect()
            })
        incoming = incoming.join(
            old_sigs.where(F.col("_pd").isin(pds)).select("doc_id"),
            "doc_id", "left_anti",
        )
    incoming = incoming.localCheckpoint(eager=True)
    n_delta = incoming.count()  # cached count, reused by the write branch

    if old_sigs is not None and n_delta == 0:
        # pure replay (or an empty batch) — no state change
        if return_full and overlay is not None:
            return _resolve_cluster_overlay(
                overlay.select("doc_id", "cluster_id")
            ).localCheckpoint(eager=True)
        if return_full:
            return spark.createDataFrame(
                [], "doc_id long, cluster_id long, cluster_size long, is_canonical int"
            )
        return spark.createDataFrame([], "doc_id long, cluster_id long")

    # broadcast hint for DELTA-BOUNDED join sides, gated on the measured
    # delta size (the coalesce(1)-append discipline): the probes below
    # join a small delta-derived side against a pruned-but-corpus-scale
    # side, and an explicit hint both removes the Exchange over the big
    # side and skips AQE's shuffle-then-convert stage round-trips. Large
    # deliveries keep the shuffle joins (a 100M-doc delta's band table
    # is not broadcastable).
    small_delta = n_delta < 1_000_000
    bcast = F.broadcast if small_delta else (lambda df_: df_)
    # AQE off for the delta-bounded probe section (through the appends;
    # the scope restores it for the corpus-scale resolve below, and on
    # any exit): every AQE stage materialization is a scheduled job, so
    # a 3-shuffle probe over a few-KB delta costs 4-5 jobs instead of 1
    # — and at this measured delivery size none of AQE's services apply
    # (nothing to coalesce below the advisory size, joins explicitly
    # broadcast-hinted, nothing to skew-split). Gated on delta size, not
    # local mode: a 50k delivery into a 10B-doc corpus takes the same
    # branch.
    with _no_aqe(spark, enabled=small_delta):
        if small_delta:
            # narrow the checkpointed delta for its MANY downstream scans:
            # the signature compute above ran at full parallelism, but every
            # later stage over `incoming` is trivial per row, and with AQE
            # off each would otherwise launch one task per inherited
            # partition. coalesce after the checkpoint is a narrow view of
            # the cached partitions — no extra job, no recompute.
            incoming = incoming.coalesce(8)

        nb = (
            _explode_bands(incoming, num_perms, band_rows)
            .withColumn("_pb", _band_bucket(F.col("band"), F.col("bsig")))
            .localCheckpoint(eager=True)  # delta-sized; probed four ways below
        )
        nb_counts = nb.groupBy("_pb", "band", "bsig").agg(
            F.count("*").alias("_n_new")
        ).localCheckpoint(eager=True)

        # hot-bucket cap on the UNION occupancy — the from-scratch decision,
        # reproduced ADDITIVELY: persisted per-delivery counts (pruned to the
        # delta's directory buckets, then to its exact bucket keys) + the
        # delta's own counts. No corpus-wide aggregation.
        old_occ = SS.visible(_try_parquet(spark, state_path + "/occ", _OCC_SCHEMA),
                             committed)
        if old_occ is not None:
            pbs = sorted(r["_pb"] for r in nb_counts.select("_pb").distinct().collect())
            old_for_delta = (
                old_occ.where(F.col("_pb").isin(pbs))  # partition filter, ≤32 values
                .join(bcast(nb_counts.select("band", "bsig")),
                      ["band", "bsig"], "left_semi")
                .groupBy("band", "bsig")
                .agg(F.sum("n").alias("_n_old"))
            )
            occ_union = nb_counts.join(bcast(old_for_delta),
                                       ["band", "bsig"], "left").select(
                "band", "bsig",
                (F.col("_n_new") + F.coalesce(F.col("_n_old"), F.lit(0))).alias("_n"),
            )
        else:
            pbs = None
            occ_union = nb_counts.select("band", "bsig", F.col("_n_new").alias("_n"))
        keep = occ_union.filter(F.col("_n") <= max_bucket_docs).select("band", "bsig")

        # candidate probe: delta bands × (pruned corpus bands ∪ delta bands),
        # both sides restricted to kept buckets; the bucket key is the join
        # key so one semi-join per side enforces the cap on both endpoints
        corpus_bands = nb.select("band", "bsig", "doc_id")
        old_bands = SS.visible(
            _try_parquet(spark, state_path + "/bands", _BANDS_SCHEMA), committed
        )
        if old_bands is not None:
            corpus_bands = corpus_bands.unionByName(
                old_bands.where(F.col("_pb").isin(pbs)).select("band", "bsig", "doc_id")
            )
        # keep is delta-bounded (≤ the delta's distinct bucket keys) — the
        # hint saves shuffling the PRUNED-CORPUS band side for the cap
        # semi-join, the largest exchange of the probe
        nbk = nb.join(bcast(keep), ["band", "bsig"], "left_semi")
        cbk = corpus_bands.join(bcast(keep), ["band", "bsig"], "left_semi")
        cand = (
            bcast(nbk.select(F.col("doc_id").alias("_x"), "band", "bsig"))
            .join(cbk.select(F.col("doc_id").alias("_y"), "band", "bsig"),
                  ["band", "bsig"])
            .filter(F.col("_x") != F.col("_y"))
            .select(F.least("_x", "_y").alias("a"), F.greatest("_x", "_y").alias("b"))
            .distinct()
            .localCheckpoint(eager=True)  # delta-bounded (hot-bucket cap);
            # materialized so the sig lookup below can prune to its ids
        )
        if old_sigs is not None:
            # est-Jaccard signature lookup pruned to the candidate ids' _pd
            # directories — the candidate set is delta-bounded, so the
            # IN-list stays ≤N_BAND_BUCKETS and the corpus signature table
            # is never scanned end-to-end
            cpds = sorted({
                r[0] for r in cand.select(
                    F.explode(F.array(
                        _doc_bucket(F.col("a")), _doc_bucket(F.col("b"))
                    )).alias("_pd")
                ).distinct().collect()
            })
            sig_lookup = (
                old_sigs.where(F.col("_pd").isin(cpds)).select("doc_id", "sig")
                if cpds else old_sigs.limit(0).select("doc_id", "sig")
            ).unionByName(incoming)
        else:
            sig_lookup = incoming
        sa = sig_lookup.select(F.col("doc_id").alias("a"), F.col("sig").alias("_sa"))
        sb = sig_lookup.select(F.col("doc_id").alias("b"), F.col("sig").alias("_sb"))
        est = F.aggregate(
            F.zip_with("_sa", "_sb", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ) / F.lit(float(num_perms))
        # cand (and the half-joined intermediate) are delta-bounded:
        # broadcasting them keeps both signature lookups (pruned corpus
        # scans) shuffle-free
        half = sa.join(bcast(cand), "a")
        edges = (
            sb.join(bcast(half), "b")
            .filter(est >= F.lit(threshold))
            .select("a", "b")
            .localCheckpoint(eager=True)  # delta-sized; reused 3× below
        )

        if overlay is not None:
            # components TOUCHED by a new edge: the current labels of the
            # edges' old endpoints (new→old edges are the only way in —
            # cand's _x side is always a new doc). Their members' star
            # edges contract each touched component into its hub; untouched
            # components never enter the solve and never get rewritten.
            new_ids = incoming.select("doc_id")
            ends = (
                edges.select(F.col("a").alias("doc_id"))
                .unionByName(edges.select(F.col("b").alias("doc_id")))
                .distinct()
                .join(new_ids, "doc_id", "left_anti")
            )
            # ends/touched are delta-bounded (edge endpoints / their
            # labels); broadcasting them keeps the CORPUS-SCALE overlay
            # store unshuffled through both membership probes — at 100 TB
            # these two joins are the only corpus-sized inputs in the
            # probe window
            touched = (
                overlay.join(bcast(ends), "doc_id", "left_semi")
                .groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))
                .select("cluster_id").distinct()
            )
            # overlay rows carrying a TOUCHED label are exactly the touched
            # components' current members: labels strictly decrease, so a
            # stale label can never equal any component's live label (the
            # doc that IS that label has itself been relabeled below it)
            members = (
                overlay.join(bcast(touched), "cluster_id", "left_semi")
                .select("doc_id", "cluster_id")
                .localCheckpoint(eager=True)
            )
            star = members.filter(F.col("doc_id") != F.col("cluster_id")).select(
                F.col("doc_id").alias("a"), F.col("cluster_id").alias("b")
            )
            pairs = edges.unionByName(star)
        else:
            members = None
            pairs = edges

        from raft_spark.operators.solvers import connected_components_auto

        labels = connected_components_auto(
            pairs.select(F.col("a").alias("row"), F.col("b").alias("col"))
        ).withColumnRenamed("node", "doc_id")

        new_rows = (
            incoming.select("doc_id")
            .join(labels, "doc_id", "left")
            .select("doc_id", F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"))
        )
        if members is not None:
            relabeled = (
                members.withColumnRenamed("cluster_id", "_old")
                .join(labels, "doc_id")
                .filter(F.col("label") != F.col("_old"))
                .select("doc_id", F.col("label").alias("cluster_id"))
            )
            delta_overlay = new_rows.unionByName(relabeled)
        else:
            delta_overlay = new_rows
        delta_overlay = delta_overlay.localCheckpoint(eager=True)

        if not had_meta:
            # meta BEFORE the appends (not between them): a crash here
            # leaves a meta-only state ≡ bootstrap with the format pinned
            SS.write_meta(state_path, {k: int(v) for k, v in params.items()})
        # manifest commit: every append lands under _dv=<delivery id>;
        # the id is published LAST, so a crash anywhere below leaves the
        # delivery invisible and redelivery re-ingests it in full
        dv = SS.new_delivery_id()
        tag = F.lit(dv).alias("_dv")
        sig_rows = incoming.withColumn("_pd", _doc_bucket(F.col("doc_id")))
        # small deliveries land via append_store's driver-side Arrow path
        # (the checkpointed delta is collected once and written file-per-
        # bucket without Spark's ~1 s/write committer staging); large
        # deliveries keep the distributed hash-spread write
        SS.append_store(
            (sig_rows if small_delta else sig_rows.repartition("_pd"))
            .select(tag, "_pd", "doc_id", "sig"),
            state_path + "/sigs", ("_dv", "_pd"), small=small_delta,
        )
        SS.append_store(
            (nb if small_delta
             else nb.repartition("_pb").sortWithinPartitions("band", "bsig"))
            .select(tag, "_pb", "band", "bsig", "doc_id"),
            state_path + "/bands", ("_dv", "_pb"), small=small_delta,
            sort_by=("band", "bsig"),
        )
        occ_rows = nb_counts.select(tag, "_pb", "band", "bsig",
                                    F.col("_n_new").alias("n"))
        SS.append_store(occ_rows, state_path + "/occ", ("_dv", "_pb"),
                        small=small_delta)
        # gate the driver-side/single-file append on the OVERLAY's own
        # size, not the delta's (it also carries relabeled old rows; a
        # small delta that relabels a huge component must not funnel the
        # whole overlay through one task or the driver). Bootstrap
        # deliveries have no relabeled rows — the overlay is exactly the
        # delta — so the already-known n_delta stands in and the extra
        # count job is skipped.
        n_overlay = n_delta if members is None else delta_overlay.count()
        SS.append_store(
            delta_overlay.select(tag, "doc_id", "cluster_id"),
            state_path + "/clusters", ("_dv",), small=n_overlay < 1_000_000,
        )
    SS.publish_commit(spark, state_path, dv)  # THE commit point
    if not return_full:
        return delta_overlay
    # resolve from a FRESH post-append scan (a new file listing sees the
    # rows just written). (A union of the pre-ingest overlay with the
    # checkpointed delta would skip the re-listing, but Spark 4.1's
    # Union constraint rewriting crashes on checkpointed plans whose
    # recorded constraints reference pruned attributes —
    # NoSuchElementException in UnionBase.rewriteConstraints — so the
    # scan stays.)
    return _resolve_state_clusters(
        spark, state_path, (committed or []) + [dv]
    ).localCheckpoint(eager=True)


def _migrate_semantic_state(spark, state_path: str) -> None:
    """One-time upgrade of a pre-r12 semantic state: backfill the
    ``ids`` registry store (one row per corpus id, bucketed by
    ``_pd = xxhash64(id) % N_BAND_BUCKETS``) from the index's cand_id
    column. The registry is what makes REPLAY SAFETY independent of the
    caller's assignment seam: the r11 replay anti-join probed the index
    pruned to the CURRENT batch's clusters, so a quantizer that drifted
    between deliveries (retrained IVF centroids) would re-ingest
    redelivered ids as duplicate index/group rows — silent state
    corruption. The ids probe prunes on the id hash instead, which no
    seam can move. Staged write + rename swap (never an in-place
    overwrite of live state). O(corpus) once, column-pruned."""
    # hot-path probe driver-side (no inference job) — every ingest
    # passes through here and almost always finds the registry present
    if SS.store_exists(state_path + "/ids"):
        return
    idx = _try_parquet(spark, state_path + "/index")
    if idx is None:
        return
    ids = idx.select(F.col("cand_id").alias("id")).withColumn(
        "_pd", _doc_bucket(F.col("id"))
    ).repartition("_pd")
    ids.write.partitionBy("_pd").mode("overwrite").parquet(
        state_path + "/ids.__new"
    )
    SS.swap_in(state_path + "/ids.__new", state_path + "/ids")


def read_semantic_state(spark, state_path: str):
    """(index, resolved groups) of a persisted semantic-dedup state, or
    None if never written. ``index`` is the :func:`semantic_index` frame
    (cluster, cand_id, _qc, _nc); ``groups`` the current assignment
    (id, cluster, group, keep) resolved from the append-only overlay.
    Scans are restricted to PUBLISHED deliveries (manifest-commit
    contract), so a crashed half-written delivery is invisible."""
    committed = SS.committed_ids(spark, state_path)
    # explicit store schemas (no inference job): a ledger-less legacy
    # state passes committed=None, so the fabricated null _dv column of
    # a pre-protocol store is never consulted (read_dedup_state note)
    idx = SS.visible(
        _try_parquet(spark, state_path + "/index", _SEM_INDEX_SCHEMA),
        committed,
    )
    overlay = SS.visible(
        _try_parquet(spark, state_path + "/groups", _SEM_GROUPS_SCHEMA),
        committed,
    )
    if idx is None or overlay is None:
        return None
    return idx.select(
        F.col("cluster").cast("long").alias("cluster"),
        "cand_id", "_qc", "_nc",
    ), _resolve_group_overlay(overlay.select("id", "cluster", "group"))


def _resolve_group_overlay(overlay: DataFrame) -> DataFrame:
    """Append-only group overlay (id, cluster, group) → the current
    (id, cluster, group, keep). Group labels are component minima and
    components only merge, so min(group) per id is latest-wins — same
    argument as :func:`_resolve_cluster_overlay`; ``cluster`` is the
    caller's pure per-row seam, constant across a given id's rows."""
    latest = overlay.groupBy("id").agg(
        F.min("cluster").alias("cluster"), F.min("group").alias("group")
    )
    return latest.select(
        "id", "cluster", "group",
        (F.col("id") == F.col("group")).cast("int").alias("keep"),
    )


def _resolve_state_groups(spark, state_path: str, ids) -> DataFrame:
    """The :func:`_resolve_state_clusters` read-back for the semantic
    state's groups overlay (callers checkpoint it)."""
    return _resolve_group_overlay(
        SS.visible(
            spark.read.schema(_SEM_GROUPS_SCHEMA)
            .parquet(state_path + "/groups"),
            ids,
        ).select("id", "cluster", "group")
    )


def semantic_state_ingest(
    new_df: DataFrame,
    assignments: DataFrame,
    state_path: str,
    tau: float = 0.92,
    id_col: str = "id",
    vec_col: str = "features",
    scale: float = 1e6,
    return_full: bool = True,
) -> DataFrame:
    """Cross-snapshot incremental semantic dedup — full contract on
    :func:`_semantic_state_ingest_impl`. A small delivery into a
    driver-sized state takes :func:`_semantic_state_ingest_driver`; the
    rest run the distributed impl."""
    args = (new_df, assignments, state_path, tau, id_col, vec_col, scale,
            return_full)
    out = _semantic_state_ingest_driver(*args)
    return out if out is not None else _semantic_state_ingest_impl(*args)


def _sem_resolved_rows_table(pairs_iter):
    """(id, cluster, group) overlay rows → the resolved
    (id, cluster, group, keep) table as Arrow — the exact
    :func:`_resolve_group_overlay` aggregate (min cluster and min group
    per id; keep = id == group), rendered driver-side."""
    import pyarrow as pa

    cur: dict = {}
    for i, c, g in pairs_iter:
        got = cur.get(i)
        if got is None:
            cur[i] = [c, g]
        else:
            if c < got[0]:
                got[0] = c
            if g < got[1]:
                got[1] = g
    ids = sorted(cur)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "cluster": pa.array([cur[i][0] for i in ids], pa.int64()),
        "group": pa.array([cur[i][1] for i in ids], pa.int64()),
        "keep": pa.array(
            [1 if i == cur[i][1] else 0 for i in ids], pa.int32()
        ),
    })


def _semantic_state_ingest_driver(
    new_df: DataFrame,
    assignments: DataFrame,
    state_path: str,
    tau: float,
    id_col: str,
    vec_col: str,
    scale: float,
    return_full: bool,
):
    """Driver-side rendering of one SMALL semantic delivery into a
    DRIVER-SIZED state — the :func:`_dedup_state_ingest_driver`
    discipline applied to the embedding twin (the r12 verdict measured
    its per-delivery fixed cost at ~6× the MinHash twin's; it is the
    same job-count overhead). ONE Spark job collects the delta's
    quantized rows (the same quantized_embeddings projection left-joined
    to the caller's assignment seam, plus the ``_pd`` replay bucket);
    the overflow guard, replay anti-join, exact integer cosine
    predicate (numpy int64 dot products — exact by the guard's
    d·q_max² < 2⁶² premise; the 10⁸S² ≥ τq²NaNb comparison in unbounded
    Python ints, ≡ the decimal(38,0) arithmetic), the star contraction
    and the union-find solve run driver-side; appends ride the same
    :func:`statestore.append_store` seam in the same order. Returns
    None to fall back to the distributed path (large delivery/stores,
    non-uniform dims, duplicate ids, or candidate explosion). Store
    parity driver-vs-distributed is pinned in
    tests/test_incremental_dedup.py."""
    spark = new_df.sparkSession
    stores = ("index", "ids", "groups")
    present = SS.driver_state_gate(state_path, stores)
    if present is None:
        return None
    params = {"tau": float(tau), "scale": float(scale)}
    had_meta = _adopt_state_format(
        spark, state_path, "semantic_state_ingest", params, "index",
        _migrate_semantic_state, migrate_always=True,
    )
    present = {s: os.path.isdir(state_path + "/" + s) for s in stores}
    committed = SS.adopt_commit_ledger(spark, state_path, stores)

    # THE one Spark job: quantized delta rows, left-joined to the
    # assignment seam (left: the overflow guard aggregates over ALL
    # batch rows in the distributed path, joined or not)
    q = quantized_embeddings(new_df, id_col=id_col, vec_col=vec_col,
                             scale=scale)
    probe_df = q.join(
        assignments.select(F.col(id_col).alias("id"), "cluster",
                           F.lit(1).alias("_asg")),
        "id", "left",
    ).select(
        F.col("id").cast("long").alias("cand_id"),
        F.col("cluster").cast("long").alias("cluster"),
        F.col("_asg"),
        F.col("_q"), F.col("_n2"),
        _doc_bucket(F.col("id").cast("long")).alias("_pd"),
    )
    t = SS.collect_capped(probe_df, DRIVER_DELTA_DOCS)
    if t is None:
        return None
    qs = t.column("_q").to_pylist()
    if any(v is None or None in v for v in qs):
        return None  # null vectors make the distributed guard's d
        # order-dependent — that malformed shape keeps Spark semantics
    lens = {len(v) for v in qs}
    if len(lens) > 1:
        return None  # non-uniform dims: the guard's d is order-dependent
    d = next(iter(lens), 0)
    if t.num_rows and d and t.num_rows * d > 25_000_000:
        return None  # heavy vectors — keep the distributed path
    # overflow guard over ALL batch rows (the _guard_quantized
    # aggregate)
    if d:
        qmax = max((max(abs(x) for x in v) for v in qs), default=0)
        n2s_all = t.column("_n2").to_pylist()
        n2max = max((n for n in n2s_all if n is not None), default=0)
        _check_quantized_bounds(qmax, n2max, d)

    # the distributed new_rows frame is the INNER join: drop unassigned.
    # An assignment row that EXISTS but carries a NULL cluster is kept
    # by that inner join (it lands in index/ids/groups there), which a
    # cluster-is-null test cannot distinguish from unassigned — the
    # marker column makes the two cases separable, and the
    # assigned-but-null shape falls back to the distributed twin.
    import pyarrow as pa

    asg_l = t.column("_asg").to_pylist()
    if any(a is not None and c is None
           for a, c in zip(asg_l, t.column("cluster").to_pylist())):
        return None
    keep_idx = [i for i, a in enumerate(asg_l) if a is not None]
    if len(keep_idx) < t.num_rows:
        t = t.take(pa.array(keep_idx, pa.int64()))
    cand_ids = t.column("cand_id").to_pylist()
    if any(i is None for i in cand_ids) \
            or len(set(cand_ids)) != len(cand_ids):
        return None  # null/duplicate ids: join multiplicities belong
        # to the distributed path

    # replay anti-join against the ids registry, pruned to _pd buckets
    keep = SS.replay_keep(state_path + "/ids", committed, cand_ids, "id",
                          "_pd", set(t.column("_pd").to_pylist()))
    if keep is not None:
        t = t.take(pa.array(keep, pa.int64()))
        cand_ids = t.column("cand_id").to_pylist()
    qs = t.column("_q").to_pylist()
    n_new = t.num_rows
    group_cols = ["id", "cluster", "group"]

    if present["ids"] and n_new == 0:
        # pure replay (or an empty batch) — no state change
        if not return_full:
            return spark.createDataFrame([], "id long, cluster long, group long")
        if not present["groups"]:
            return spark.createDataFrame(
                [], "id long, cluster long, group long, keep int"
            )
        return _resolved_frame(
            spark,
            _sem_resolved_rows_table(zip(*SS.read_store_columns(
                state_path + "/groups", committed, group_cols))),
            lambda: _resolve_state_groups(spark, state_path, committed),
        )

    clusters_l = t.column("cluster").to_pylist()
    n2s = t.column("_n2").to_pylist()
    tau_q = int(round(tau * 10_000))

    # candidate pairs per touched cluster: new × (old index rows of the
    # touched clusters ∪ new), exact integer cosine via numpy int64
    import numpy as np
    from collections import defaultdict

    new_by_cluster: dict = defaultdict(list)  # cluster -> [row idx]
    for i, c in enumerate(clusters_l):
        new_by_cluster[c].append(i)
    old_by_cluster: dict = {}
    for cid, oq, on, c in zip(*SS.read_store_columns(
            state_path + "/index", committed, ["cand_id", "_qc", "_nc",
                                               "cluster"],
            "cluster", sorted(new_by_cluster), attach_part=True,
            attach_type=pa.int64())):
        if oq is not None and len(oq) != d:
            # persisted vectors of another dim (state built under a
            # different embedding model): the distributed zip_with
            # null-pads such pairs — keep those semantics there instead
            # of a ragged np.array ValueError here
            return None
        old_by_cluster.setdefault(c, []).append((cid, oq, on))
    edges = []
    seen_pairs: set = set()
    for c, idxs in new_by_cluster.items():
        # valid new rows (no null vector/norm — a null nulls the whole
        # Spark predicate, dropping the pair there too)
        a_rows = [(cand_ids[i], qs[i], n2s[i]) for i in idxs
                  if qs[i] is not None and n2s[i] is not None
                  and None not in qs[i]]
        if not a_rows:
            continue
        b_rows = a_rows + [
            (cid, oq, on) for cid, oq, on in old_by_cluster.get(c, [])
            if oq is not None and on is not None and None not in oq
        ]
        A = np.array([r[1] for r in a_rows], dtype=np.int64)
        B = np.array([r[1] for r in b_rows], dtype=np.int64)
        S = A @ B.T  # exact: the guard bounds d*qmax^2 < 2^62
        for ai, (aid, _, na) in enumerate(a_rows):
            for bi, (bid, _, nb) in enumerate(b_rows):
                if aid == bid:
                    continue
                key = (aid, bid) if aid < bid else (bid, aid)
                if key in seen_pairs:
                    continue
                seen_pairs.add(key)
                s = int(S[ai, bi])
                # the exact integer predicate (unbounded ints ≡ the
                # decimal(38,0) arithmetic of the distributed path)
                if s > 0 and s * s * 100_000_000 >= tau_q * tau_q * int(na) * int(nb):
                    edges.append(key)
        if len(seen_pairs) > _DRIVER_MAX_CAND:
            return None  # degenerate cluster profile — distributed path

    g_id, g_cl, g_gr = SS.read_store_columns(
        state_path + "/groups", committed, group_cols)
    labels, relabeled = _driver_relabel(edges, cand_ids, g_id, g_gr)
    delta_overlay = [
        (i, c, labels.get(i, i)) for i, c in zip(cand_ids, clusters_l)
    ] + [(g_id[k], g_cl[k], labels[g_id[k]]) for k in relabeled]

    # manifest commit: same append order/seam as the distributed path
    # (index, ids, groups; publish LAST)
    dv = SS.commit_delivery(spark, state_path, [
        ("index", {"cluster": t.column("cluster"),
                   "cand_id": t.column("cand_id"),
                   "_qc": t.column("_q"), "_nc": t.column("_n2")},
         ("cluster",), ()),
        ("ids", {"_pd": t.column("_pd"), "id": t.column("cand_id")},
         ("_pd",), ()),
        ("groups", {c: pa.array([r[j] for r in delta_overlay], pa.int64())
                    for j, c in enumerate(group_cols)}, (), ()),
    ], meta=None if had_meta else params)

    if not return_full:
        return spark.createDataFrame(
            delta_overlay or [], "id long, cluster long, group long"
        )
    import itertools

    return _resolved_frame(
        spark,
        _sem_resolved_rows_table(
            itertools.chain(zip(g_id, g_cl, g_gr), delta_overlay)
        ),
        lambda: _resolve_state_groups(
            spark, state_path, (committed or []) + [dv]),
    )


def _semantic_state_ingest_impl(
    new_df: DataFrame,
    assignments: DataFrame,
    state_path: str,
    tau: float,
    id_col: str,
    vec_col: str,
    scale: float,
    return_full: bool,
) -> DataFrame:
    """Incremental CROSS-SNAPSHOT semantic dedup — the embedding-level
    sibling of :func:`dedup_state_ingest`: fold a NEW batch of vectors
    into a persisted SemDeDup state (the :func:`semantic_index` layout
    plus a delta-overlay group store) and return the refreshed
    full-corpus (id, cluster, group, keep) — identical to running
    :func:`semantic_dedup` from scratch on old ∪ new under the same
    assignment seam.

    The equality is EXACT with no caveats (unlike the MinHash twin's
    hot-bucket cap note): cluster assignment is the caller's seam and
    must be a pure per-row function (the gate's axis-sign bucket; an
    IVF quantizer frozen with the index), the cosine-≥-τ predicate is
    the exact integer 10⁸S² ≥ τq²NaNb decision, and the old groups
    enter the component solve as star edges id→group restricted to the
    components a new edge actually touches — contraction hubs whose
    label IS the component minimum — so labels match the from-scratch
    run byte-for-byte while untouched components are never read into
    the solve or rewritten.

    State is append-only in ALL three stores: ``index`` adds one file
    set per delivery (partitioned by cluster — the candidate probe
    prunes to the new batch's clusters), ``ids`` is the REPLAY-GUARD
    registry (one row per corpus id, bucketed by the id hash ``_pd`` —
    the anti-join prunes on a quantity NO assignment seam can move, so
    replay safety holds even if the caller's quantizer drifts between
    deliveries; r12, closing the r11 seam where a drifted quantizer
    would re-ingest redelivered ids as duplicate state rows), and
    ``groups`` adds rows only for the delivery's new ids and for old
    ids whose component was relabeled; resolution is min(group) per id
    (labels strictly decrease — see :func:`_resolve_group_overlay`).
    ``return_full=False`` returns just this delivery's overlay rows
    (id, cluster, group) — the O(delta) production answer.
    ``tau``/``scale`` are FORMAT parameters (persisted in ``meta``; a
    mismatched ingest raises — quantized vectors under a different
    scale share no dot-product space, and a drifted τ would change
    which committed merges the equality contract rests on). The
    EQUALITY contract (ingest ≡ from-scratch) still requires a pure
    per-row assignment seam; replay SAFETY no longer does.

    CRASH-ATOMIC (r12, manifest commit): the index/ids/groups appends
    land under one ``_dv=<delivery id>`` partition, published last to
    the ``commits`` ledger — same protocol and guarantees as
    :func:`dedup_state_ingest`.
    """
    from raft_spark.operators.solvers import connected_components_auto

    spark = new_df.sparkSession
    params = {"tau": float(tau), "scale": float(scale)}
    had_meta = _adopt_state_format(
        spark, state_path, "semantic_state_ingest", params, "index",
        _migrate_semantic_state, migrate_always=True,
    )
    committed = SS.adopt_commit_ledger(
        spark, state_path, ("index", "ids", "groups")
    )
    d = new_df.select(F.size(F.col(vec_col))).first()
    if d is None:
        d = 0
    else:
        d = d[0]
    q = quantized_embeddings(new_df, id_col=id_col, vec_col=vec_col, scale=scale)
    if d:
        _guard_quantized(q, d)  # per-batch guard ⇒ every state row guarded
    new_rows = q.join(
        assignments.select(F.col(id_col).alias("id"), "cluster"), "id"
    ).select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col("id").cast("long").alias("cand_id"),
        F.col("_q").alias("_qc"), F.col("_n2").alias("_nc"),
    )
    # post-adoption reads: adopt_commit_ledger above wrapped any legacy
    # store into the _dv layout, so the known schemas skip the
    # per-store inference job
    idx_raw = SS.visible(
        _try_parquet(spark, state_path + "/index", _SEM_INDEX_SCHEMA),
        committed,
    )
    old_index = None if idx_raw is None else idx_raw.select(
        F.col("cluster").cast("long").alias("cluster"),
        "cand_id", "_qc", "_nc",
    )
    overlay = SS.visible(
        _try_parquet(spark, state_path + "/groups", _SEM_GROUPS_SCHEMA),
        committed,
    )
    old_ids = SS.visible(
        _try_parquet(spark, state_path + "/ids", _SEM_IDS_SCHEMA),
        committed,
    )
    if old_ids is not None:
        # replay anti-join against the ids REGISTRY, pruned to the _pd
        # directories the delta ids hash into — seam-independent (a
        # redelivered id hashes to the same bucket no matter how the
        # caller's quantizer has drifted), bounded IN-list, O(delta) IO.
        # AQE off for the probe at ANY delta size: partial aggregation
        # collapses every input partition to ≤N_BAND_BUCKETS rows before
        # the exchange, so there is nothing for AQE to coalesce — its
        # per-stage jobs are pure overhead (the dedup_state_ingest
        # discipline).
        with _no_aqe(spark):
            pds = sorted({
                r[0] for r in new_rows.select(
                    _doc_bucket(F.col("cand_id")).alias("_pd")
                ).distinct().collect()
            })
        new_rows = new_rows.join(
            old_ids.where(F.col("_pd").isin(pds))
            .select(F.col("id").alias("cand_id")),
            "cand_id", "left_anti",
        )
    new_rows = new_rows.localCheckpoint(eager=True)
    n_new = new_rows.count()  # cached count, reused by the write branch

    if n_new == 0:  # pure replay (or an empty batch) — no state change
        if return_full and overlay is not None:
            return _resolve_group_overlay(
                overlay.select("id", "cluster", "group")
            ).localCheckpoint(eager=True)
        if return_full:
            return spark.createDataFrame(
                [], "id long, cluster long, group long, keep int"
            )
        return spark.createDataFrame([], "id long, cluster long, group long")

    small_delta = n_new < 1_000_000
    bcast = F.broadcast if small_delta else (lambda df_: df_)
    # AQE off for the delta-bounded probe section (through the appends;
    # the scope restores it for the corpus-scale resolve below, and on
    # any exit) — every AQE stage materialization is a scheduled job,
    # and at this measured delivery size none of its services apply (the
    # dedup_state_ingest discipline). Gated on delta size, not local
    # mode.
    with _no_aqe(spark, enabled=small_delta):
        if small_delta:
            # narrow the checkpointed delta for its many downstream scans
            # (each later stage is trivial per row; with AQE off each would
            # otherwise launch one task per inherited partition). coalesce
            # after the checkpoint is a narrow view of the cached
            # partitions — no extra job, no recompute.
            new_rows = new_rows.coalesce(8)
        tau_q = int(round(tau * 10_000))
        a = new_rows.select(
            "cluster", F.col("cand_id").alias("_a"),
            F.col("_qc").alias("_qa"), F.col("_nc").alias("_na"),
        )
        if old_index is not None:
            # probe pruned to the SURVIVING delta rows' clusters: the index
            # is partitioned by cluster on disk, so the bounded IN-list is
            # a PARTITION filter — IO tracks the batch's touched lists, not
            # the index size (the sparse_lookup shard discipline). The
            # cluster count is the caller's quantizer size (bounded).
            with _no_aqe(spark, enabled=not small_delta):
                touched_clusters = sorted(
                    r["cluster"]
                    for r in new_rows.select("cluster").distinct().collect()
                )
            corpus = old_index.where(
                F.col("cluster").isin(touched_clusters)
            ).unionByName(new_rows)
        else:
            corpus = new_rows
        b = corpus.select(
            "cluster", F.col("cand_id").alias("_b"),
            F.col("_qc").alias("_qb"), F.col("_nc").alias("_nb"),
        )
        s_expr = F.aggregate(
            F.zip_with("_qa", "_qb", lambda x, y: x * y),
            F.lit(0).cast("long"), lambda acc, v: acc + v,
        )
        dec = "decimal(38,0)"
        sd = F.col("_s").cast(dec)
        pred = (F.col("_s") > 0) & (
            sd * sd * F.lit(100_000_000).cast(dec)
            >= F.lit(tau_q * tau_q).cast(dec)
            * F.col("_na").cast(dec) * F.col("_nb").cast(dec)
        )
        edges = (
            a.join(b, "cluster")
            .filter(F.col("_a") != F.col("_b"))
            .withColumn("_s", s_expr)
            .filter(pred)
            .select(
                F.least("_a", "_b").alias("row"), F.greatest("_a", "_b").alias("col")
            )
            .distinct()
            .localCheckpoint(eager=True)  # delta-sized; reused 3× below
        )

        if overlay is not None:
            new_ids = new_rows.select(F.col("cand_id").alias("id"))
            ends = (
                edges.select(F.col("row").alias("id"))
                .unionByName(edges.select(F.col("col").alias("id")))
                .distinct()
                .join(new_ids, "id", "left_anti")
            )
            # ends/touched are delta-bounded (edge endpoints / their
            # labels); broadcasting them keeps the CORPUS-SCALE overlay
            # store unshuffled through both membership probes — at 100 TB
            # these two joins are the only corpus-sized inputs in the
            # probe window
            touched = (
                overlay.join(bcast(ends), "id", "left_semi")
                .groupBy("id").agg(F.min("group").alias("group"))
                .select("group").distinct()
            )
            members = (
                overlay.join(bcast(touched), "group", "left_semi")
                .select("id", "cluster", "group")
                .localCheckpoint(eager=True)
            )
            star = members.filter(F.col("id") != F.col("group")).select(
                F.col("id").alias("row"), F.col("group").alias("col")
            )
            coo = edges.unionByName(star)
        else:
            members = None
            coo = edges
        labels = connected_components_auto(coo).withColumnRenamed("node", "id")

        fresh = (
            new_rows.select(F.col("cand_id").alias("id"), "cluster")
            .join(labels, "id", "left")
            .select(
                "id", "cluster",
                F.coalesce(F.col("label"), F.col("id")).alias("group"),
            )
        )
        if members is not None:
            relabeled = (
                members.withColumnRenamed("group", "_old")
                .join(labels, "id")
                .filter(F.col("label") != F.col("_old"))
                .select("id", "cluster", F.col("label").alias("group"))
            )
            delta_overlay = fresh.unionByName(relabeled)
        else:
            delta_overlay = fresh
        delta_overlay = delta_overlay.localCheckpoint(eager=True)

        # all three stores are APPEND-ONLY (one new file set per delivery,
        # list directories intact); manifest commit: appends tagged
        # _dv=<delivery id>, published LAST
        if not had_meta:
            SS.write_meta(state_path, params)
        dv = SS.new_delivery_id()
        tag = F.lit(dv).alias("_dv")
        # small deliveries land via append_store's driver-side Arrow path
        # (the checkpointed delta is collected once and written file-per-
        # partition-dir without Spark's ~1 s/write committer staging);
        # large deliveries keep the distributed write
        SS.append_store(
            new_rows.select(tag, "cluster", "cand_id", "_qc", "_nc"),
            state_path + "/index", ("_dv", "cluster"), small=small_delta,
        )
        id_rows = new_rows.select(
            tag, _doc_bucket(F.col("cand_id")).alias("_pd"),
            F.col("cand_id").alias("id"),
        )
        SS.append_store(
            id_rows if small_delta else id_rows.repartition("_pd"),
            state_path + "/ids", ("_dv", "_pd"), small=small_delta,
        )
        # gate the driver-side/single-file append on the OVERLAY's size, not
        # the delta's (delta_overlay also carries relabeled old rows: a
        # small delta that relabels a huge existing component must not
        # funnel a multi-million row append through one task or the
        # driver). Bootstrap deliveries have no relabeled rows — the
        # overlay IS the delta — so the known n_new stands in and the count
        # job is skipped; otherwise the count is cheap (the overlay is
        # localCheckpoint'ed above).
        n_overlay = n_new if members is None else delta_overlay.count()
        SS.append_store(
            delta_overlay.select(tag, "id", "cluster", "group"),
            state_path + "/groups", ("_dv",), small=n_overlay < 1_000_000,
        )
    SS.publish_commit(spark, state_path, dv)  # THE commit point
    if not return_full:
        return delta_overlay
    return _resolve_state_groups(
        spark, state_path, (committed or []) + [dv]
    ).localCheckpoint(eager=True)


def compact_dedup_state(spark, state_path: str, partitions: int | None = None) -> int:
    """Compact the append-only dedup state: every delta ingest adds its
    own file set to all four stores, so after many deliveries the state
    is thousands of small parquet files — the classic small-file tax
    (footer reads + task-per-file scheduling dominate the scan).
    Content-preserving rewrites, run on the maintenance cadence, not
    per ingest:

    - ``sigs``: re-written partitionBy(_pd), one file set per directory
      bucket, rows unchanged (a pre-r11 unbucketed store gains its
      ``_pd`` layout here).
    - ``bands``: re-written partitionBy(_pb), rows unchanged, one
      sorted file set per directory bucket.
    - ``occ``: per-delivery additive counts ROLLED UP to one row per
      (band, bsig) — sums unchanged, so every later cap decision is
      identical.
    - ``clusters``: overlay RESOLVED to one row per doc at its current
      label — min(cluster_id) per doc is unchanged, so every later
      resolution and touched-membership probe is identical.

    The four store rewrites are independent, so they run on a small
    thread pool — Spark schedules concurrent actions from multiple
    driver threads fine, and the maintenance window's wall-clock is the
    slowest leg instead of the sum (r11; measured ~2× at sf0.1).

    Manifest-commit integration (r12): only PUBLISHED rows survive the
    rewrite (orphaned crashed-delivery directories are garbage-collected
    here), everything collapses back to the ``_dv=0`` base delivery,
    and the ledger resets to ``[0]`` last — which is also what bounds
    the per-read committed IN-list to the maintenance cadence. Each leg
    writes to a ``.__new`` sibling and swaps by rename, so the old
    store stays intact until its replacement is fully on disk — no
    crash window destroys state (and the r11 localCheckpoint
    double-materialization is gone: one read, one write per leg).

    Returns the signature row count."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa

    n_parts = partitions or spark.sparkContext.defaultParallelism
    # visibility of the compacted _dv=0 rows must be established BEFORE
    # any store rewrite lands (a fresh r12 state's ledger has only
    # random delivery ids)
    committed = SS.committed_ids(spark, state_path)
    if committed is None or 0 not in committed:
        SS.publish_commit(spark, state_path, 0)
    zero = F.lit(0).alias("_dv")

    def _zeros(n: int):
        return pa.array([0] * n, pa.int64())

    def _driver_leg(store: str) -> bool:
        # fully driver-side rewrite (pyarrow read + python aggregate +
        # direct file writes, ZERO scheduled jobs) for driver-sized
        # stores in the post-adoption layout; mixed/legacy layouts and
        # corpus-scale stores keep the Spark rewrite (r13 — the small
        # branch previously still paid a Spark read + aggregate + one
        # Arrow collect job per leg)
        return (SS.pure_dv_layout(store)
                and SS.store_row_count(store) < SS.SMALL_STORE_ROWS)

    def _swap_empty(store: str) -> None:
        # store exists but holds no visible rows: the rewrite is an
        # empty store directory (exactly what the collect path produced)
        import shutil

        new = store + ".__new"
        shutil.rmtree(new, ignore_errors=True)
        os.makedirs(new, exist_ok=True)
        SS.swap_in(new, store)

    def _sigs_leg() -> int:
        # legacy detection moved driver-side (directory probe) so the
        # read can carry its explicit schema — no inference job
        store = state_path + "/sigs"
        has_pd = SS.has_partition_dir(store, "_pd")
        if has_pd and _driver_leg(store):
            t = SS.read_store_arrow(store, committed, "_pd",
                                    columns=["doc_id", "sig"],
                                    attach_part=True)
            if t is None:
                _swap_empty(store)
                return 0
            out = pa.table({
                "_dv": _zeros(t.num_rows), "_pd": t.column("_pd"),
                "doc_id": t.column("doc_id"), "sig": t.column("sig"),
            })
            n = SS.compact_store_driver(out, store + ".__new",
                                        ("_dv", "_pd"))
            SS.swap_in(store + ".__new", store)
            return n
        sigs = SS.visible(
            spark.read.schema(_SIGS_SCHEMA if has_pd else _SIGS_SCHEMA_NOPD)
            .parquet(store),
            committed,
        )
        if not has_pd:  # pre-r11: bucket while compacting
            sigs = sigs.withColumn("_pd", _doc_bucket(F.col("doc_id")))
        return SS.compact_leg(
            store, sigs.select(zero, "_pd", "doc_id", "sig"), ("_dv", "_pd"),
            shape=lambda o: o.repartition("_pd"),
        )

    def _bands_leg() -> None:
        store = state_path + "/bands"
        if not os.path.isdir(store):
            return
        if _driver_leg(store):
            t = SS.read_store_arrow(store, committed, "_pb",
                                    columns=["band", "bsig", "doc_id"],
                                    attach_part=True)
            if t is None:
                _swap_empty(store)
                return
            out = pa.table({
                "_dv": _zeros(t.num_rows), "_pb": t.column("_pb"),
                "band": t.column("band"), "bsig": t.column("bsig"),
                "doc_id": t.column("doc_id"),
            })
            SS.compact_store_driver(out, store + ".__new", ("_dv", "_pb"),
                                    sort_by=("band", "bsig"))
            SS.swap_in(store + ".__new", store)
            return
        bands = SS.visible(
            _try_parquet(spark, store, _BANDS_SCHEMA), committed
        )
        if bands is not None:
            SS.compact_leg(
                store, bands.select(zero, "_pb", "band", "bsig", "doc_id"),
                ("_dv", "_pb"), sort_by=("band", "bsig"),
                shape=lambda o: o.repartition("_pb")
                .sortWithinPartitions("band", "bsig"),
            )

    def _occ_leg() -> None:
        store = state_path + "/occ"
        if not os.path.isdir(store):
            return
        if _driver_leg(store):
            t = SS.read_store_arrow(store, committed, "_pb",
                                    columns=["band", "bsig", "n"],
                                    attach_part=True)
            if t is None:
                _swap_empty(store)
                return
            # per-delivery additive counts rolled up to one row per
            # (band, bsig) — exact integer sums, same as the Spark agg
            from collections import Counter

            roll: Counter = Counter()
            for pb, b, s_, n_ in zip(
                t.column("_pb").to_pylist(), t.column("band").to_pylist(),
                t.column("bsig").to_pylist(), t.column("n").to_pylist(),
            ):
                roll[(pb, b, s_)] += n_
            keys = sorted(roll)
            out = pa.table({
                "_dv": _zeros(len(keys)),
                "_pb": pa.array([k[0] for k in keys], pa.int32()),
                "band": pa.array([k[1] for k in keys], pa.int32()),
                "bsig": pa.array([k[2] for k in keys], pa.string()),
                "n": pa.array([roll[k] for k in keys], pa.int64()),
            })
            SS.compact_store_driver(out, store + ".__new", ("_dv", "_pb"))
            SS.swap_in(store + ".__new", store)
            return
        occ = SS.visible(
            _try_parquet(spark, store, _OCC_SCHEMA), committed
        )
        if occ is not None:
            SS.compact_leg(
                store,
                occ.groupBy("_pb", "band", "bsig").agg(F.sum("n").alias("n"))
                .select(zero, "_pb", "band", "bsig", "n"),
                ("_dv", "_pb"),
            )

    def _clusters_leg() -> None:
        store = state_path + "/clusters"
        if not os.path.isdir(store):
            return
        if _driver_leg(store):
            t = SS.read_store_arrow(store, committed,
                                    columns=["doc_id", "cluster_id"])
            if t is None:
                _swap_empty(store)
                return
            # overlay resolved to one row per doc at min(cluster_id) —
            # exactly the Spark min-agg
            cur: dict = {}
            for d, c in zip(t.column("doc_id").to_pylist(),
                            t.column("cluster_id").to_pylist()):
                if d not in cur or c < cur[d]:
                    cur[d] = c
            docs = sorted(cur)
            out = pa.table({
                "_dv": _zeros(len(docs)),
                "doc_id": pa.array(docs, pa.int64()),
                "cluster_id": pa.array([cur[d] for d in docs], pa.int64()),
            })
            SS.compact_store_driver(out, store + ".__new", ("_dv",))
            SS.swap_in(store + ".__new", store)
            return
        overlay = SS.visible(
            _try_parquet(spark, store, _CLUSTERS_SCHEMA), committed
        )
        if overlay is not None:
            SS.compact_leg(
                store,
                overlay.groupBy("doc_id")
                .agg(F.min("cluster_id").alias("cluster_id"))
                .select(zero, "doc_id", "cluster_id"),
                ("_dv",), shape=lambda o: o.repartition(n_parts),
            )

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_sigs = pool.submit(_sigs_leg)
        futs = [pool.submit(f) for f in (_bands_leg, _occ_leg, _clusters_leg)]
        n = f_sigs.result()
        for f in futs:
            f.result()
    SS.reset_ledger(spark, state_path, [0])
    return n


def compact_semantic_state(spark, state_path: str,
                           partitions: int | None = None) -> int:
    """Compact the append-only semantic-dedup state (the
    :func:`compact_dedup_state` discipline): ``index`` re-written one
    file set per cluster partition (rows unchanged), ``ids`` one file
    set per ``_pd`` bucket (rows unchanged — it is the replay-guard
    registry), ``groups`` RESOLVED to one row per id at its current
    (cluster, min group) — min per id is unchanged, so every later
    resolution and touched-membership probe is identical; ``meta``
    untouched. Legs run concurrently. Manifest-commit integration the
    same as :func:`compact_dedup_state`: committed rows only, collapsed
    to ``_dv=0``, staged-swap rewrites, ledger reset last. Returns the
    index row count."""
    from concurrent.futures import ThreadPoolExecutor

    n_parts = partitions or spark.sparkContext.defaultParallelism
    committed = SS.committed_ids(spark, state_path)
    if committed is None or 0 not in committed:
        SS.publish_commit(spark, state_path, 0)
    zero = F.lit(0).alias("_dv")

    def _index_leg() -> int:
        idx = SS.visible(
            spark.read.schema(_SEM_INDEX_SCHEMA)
            .parquet(state_path + "/index"),
            committed,
        )
        return SS.compact_leg(
            state_path + "/index",
            idx.select(zero, "cluster", "cand_id", "_qc", "_nc"),
            ("_dv", "cluster"), shape=lambda o: o.repartition("cluster"),
        )

    def _ids_leg() -> None:
        ids = SS.visible(
            _try_parquet(spark, state_path + "/ids", _SEM_IDS_SCHEMA),
            committed,
        )
        if ids is not None:
            SS.compact_leg(
                state_path + "/ids", ids.select(zero, "_pd", "id"),
                ("_dv", "_pd"), shape=lambda o: o.repartition("_pd"),
            )

    def _groups_leg() -> None:
        overlay = SS.visible(
            _try_parquet(spark, state_path + "/groups", _SEM_GROUPS_SCHEMA),
            committed,
        )
        if overlay is not None:
            SS.compact_leg(
                state_path + "/groups",
                overlay.groupBy("id").agg(
                    F.min("cluster").alias("cluster"),
                    F.min("group").alias("group"),
                ).select(zero, "id", "cluster", "group"),
                ("_dv",), shape=lambda o: o.repartition(n_parts),
            )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_idx = pool.submit(_index_leg)
        futs = [pool.submit(f) for f in (_ids_leg, _groups_leg)]
        n = f_idx.result()
        for f in futs:
            f.result()
    SS.reset_ledger(spark, state_path, [0])
    return n


def compact_span_state(spark, state_path: str,
                       partitions: int | None = None) -> int:
    """Compact the append-only span state (r11): ``tokens`` coalesced
    (rows unchanged — it is the replay-guard registry), ``spans``
    re-written one sorted file set per ``_ph`` directory, ``hcounts``
    per-delivery additive counts ROLLED UP to one row per hash (sums
    unchanged, so every later ≥ min_count decision is identical),
    ``flags`` deduplicated to one row per (doc_id, start) — resolution
    already reads them distinct, so coverage is unchanged; ``meta``
    untouched. Legs run concurrently. Manifest-commit integration the
    same as :func:`compact_dedup_state`: committed rows only, collapsed
    to ``_dv=0``, staged-swap rewrites, ledger reset last. Returns the
    tokens row count."""
    from concurrent.futures import ThreadPoolExecutor

    n_parts = partitions or spark.sparkContext.defaultParallelism
    committed = SS.committed_ids(spark, state_path)
    if committed is None or 0 not in committed:
        SS.publish_commit(spark, state_path, 0)
    zero = F.lit(0).alias("_dv")

    def _tokens_leg() -> int:
        tk = SS.visible(
            spark.read.schema(_SPAN_TOKENS_SCHEMA)
            .parquet(state_path + "/tokens"),
            committed,
        )
        return SS.compact_leg(
            state_path + "/tokens", tk.select(zero, "doc_id", "n_tokens"),
            ("_dv",), shape=lambda o: o.repartition(max(1, n_parts // 8)),
        )

    def _spans_leg() -> None:
        sp = SS.visible(
            _try_parquet(spark, state_path + "/spans", _SPAN_SPANS_SCHEMA),
            committed,
        )
        if sp is not None:
            SS.compact_leg(
                state_path + "/spans",
                sp.select(zero, "_ph", "h", "doc_id", "start"),
                ("_dv", "_ph"), sort_by=("h",),
                shape=lambda o: o.repartition("_ph").sortWithinPartitions("h"),
            )

    def _hcounts_leg() -> None:
        # legacy detection driver-side (directory probe) so the read can
        # carry its explicit schema — no inference job (the
        # compact_dedup_state _sigs_leg discipline)
        has_ph = SS.has_partition_dir(state_path + "/hcounts", "_ph")
        hc = SS.visible(
            _try_parquet(
                spark, state_path + "/hcounts",
                _SPAN_HCOUNTS_SCHEMA if has_ph else "h string, c long, _dv long",
            ),
            committed,
        )
        if hc is None:
            return
        if not has_ph:  # pre-r11: bucket while compacting
            hc = hc.select(
                F.pmod(F.xxhash64("h"), F.lit(N_BAND_BUCKETS)).cast("int")
                .alias("_ph"), "h", "c",
            )
        SS.compact_leg(
            state_path + "/hcounts",
            hc.groupBy("_ph", "h").agg(F.sum("c").alias("c"))
            .select(zero, "_ph", "h", "c"),
            ("_dv", "_ph"), sort_by=("h",),
        )

    def _flags_leg() -> None:
        fl = SS.visible(
            _try_parquet(spark, state_path + "/flags", _SPAN_FLAGS_SCHEMA),
            committed,
        )
        if fl is not None:
            SS.compact_leg(
                state_path + "/flags",
                fl.select("doc_id", "start").distinct()
                .select(zero, "doc_id", "start"),
                ("_dv",), shape=lambda o: o.repartition(max(1, n_parts // 8)),
            )

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_tok = pool.submit(_tokens_leg)
        futs = [pool.submit(f) for f in (_spans_leg, _hcounts_leg, _flags_leg)]
        n = f_tok.result()
        for f in futs:
            f.result()
    SS.reset_ledger(spark, state_path, [0])
    return n


def read_span_state(spark, state_path: str) -> DataFrame | None:
    """Resolved full-corpus span-duplication table of a persisted span
    state (same schema as :func:`duplicated_spans`), or None if the
    state has never been written. Scans are restricted to PUBLISHED
    deliveries (manifest-commit contract), so a crashed half-written
    delivery is invisible."""
    committed = SS.committed_ids(spark, state_path)
    # explicit store schemas (no inference job): a ledger-less legacy
    # state passes committed=None, so the fabricated null _dv column of
    # a pre-protocol store is never consulted (read_dedup_state note)
    tokens = SS.visible(
        _try_parquet(spark, state_path + "/tokens", _SPAN_TOKENS_SCHEMA),
        committed,
    )
    meta = SS.read_meta(state_path)  # driver-side sidecar read
    if tokens is None or meta is None:
        return None
    n = int(meta["n"])
    flags = SS.visible(
        _try_parquet(spark, state_path + "/flags", _SPAN_FLAGS_SCHEMA),
        committed,
    )
    return _resolve_span_state(tokens, flags, n)


def _resolve_span_state(tokens: DataFrame, flags: DataFrame | None, n: int) -> DataFrame:
    """(doc_id, n_tokens) ⟕ coverage of the flagged windows → the
    :func:`duplicated_spans` output. Flag rows are unique per
    (doc, start) by construction (a window is flagged exactly once —
    either with its own delivery or when its hash later crosses
    min_count; counts only grow, so a hash crosses at most once); the
    distinct below guards resolution anyway since it is read-side."""
    if flags is not None:
        cov = (
            flags.select(
                "doc_id",
                F.explode(
                    F.sequence(F.col("start"), F.col("start") + n - 1)
                ).alias("_p"),
            )
            .distinct()
            .groupBy("doc_id")
            .agg(F.count("*").alias("dup_tokens"))
        )
    else:
        cov = None
    out = tokens.groupBy("doc_id").agg(F.max("n_tokens").alias("n_tokens"))
    if cov is not None:
        out = out.join(cov, "doc_id", "left")
    else:
        out = out.withColumn("dup_tokens", F.lit(None).cast("long"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
    ).withColumn(
        "dup_frac_ppm",
        F.floor(
            F.col("dup_tokens") * 1_000_000
            / F.greatest(F.col("n_tokens"), F.lit(1))
        ).cast("long"),
    )


def _migrate_span_state(spark, state_path: str) -> None:
    """One-time upgrade of a pre-r11 span state: bucket the ``hcounts``
    store by ``_ph`` so the per-delivery count lookup partition-prunes
    (a flat store cannot take partitioned appends, so the rewrite
    happens before the first post-upgrade delivery). Staged write +
    rename swap — the old store stays intact until the replacement is
    fully on disk (r12; see :func:`_migrate_dedup_state`)."""
    # hot-path probes driver-side (no inference job) — every ingest
    # passes through here and almost always finds the _ph layout
    if not SS.store_exists(state_path + "/hcounts") or \
            SS.has_partition_dir(state_path + "/hcounts", "_ph"):
        return
    hc = _try_parquet(spark, state_path + "/hcounts")  # legacy path only
    ck = hc.select(
        F.pmod(F.xxhash64("h"), F.lit(N_BAND_BUCKETS)).cast("int").alias("_ph"),
        "h", "c",
    ).repartition("_ph").sortWithinPartitions("h")
    ck.write.partitionBy("_ph").mode("overwrite").parquet(
        state_path + "/hcounts.__new"
    )
    SS.swap_in(state_path + "/hcounts.__new", state_path + "/hcounts")


def span_state_ingest(
    new_docs: DataFrame,
    state_path: str,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    return_full: bool = True,
) -> DataFrame:
    """Cross-snapshot incremental span dedup — full contract on
    :func:`_span_state_ingest_impl`. A small delivery into a
    driver-sized state takes :func:`_span_state_ingest_driver`; the
    rest run the distributed impl."""
    args = (new_docs, state_path, n, min_count, text_col, id_col,
            return_full)
    out = _span_state_ingest_driver(*args)
    return out if out is not None else _span_state_ingest_impl(*args)


# driver-path cap on the delta's total window rows (each is ~60 bytes
# of hash/position; the spans/hcounts stores are row-gated separately)
_DRIVER_MAX_SPAN_ROWS = 2_000_000


def _span_resolved_table(tok_pairs, flag_pairs, n: int):
    """Driver rendering of :func:`_resolve_span_state`: (doc, n_tokens)
    rows + flagged (doc, start) windows → the duplicated_spans output
    as an Arrow table. Coverage = |union of [start, start+n)| per doc —
    identical to the distinct-position count (interval merging), with
    the exact float/floor arithmetic of the Spark expression."""
    import math

    import pyarrow as pa

    nt: dict = {}  # doc -> max(n_tokens), the Spark max (ignores nulls)
    for d, k in tok_pairs:
        if d not in nt:
            nt[d] = k
        elif k is not None and (nt[d] is None or k > nt[d]):
            nt[d] = k
    starts: dict = {}
    for d, s_ in flag_pairs:
        starts.setdefault(d, []).append(s_)
    docs = sorted(nt)
    dup_l = []
    for d in docs:
        ss = starts.get(d)
        if not ss:
            dup_l.append(0)
            continue
        ss.sort()
        covered = 0
        lo = hi = None
        for s_ in ss:
            if hi is None:
                lo, hi = s_, s_ + n
            elif s_ <= hi:
                hi = max(hi, s_ + n)
            else:
                covered += hi - lo
                lo, hi = s_, s_ + n
        covered += hi - lo
        dup_l.append(covered)
    # exact float/floor arithmetic of the Spark expression; a null or
    # zero n_tokens divides by 1 (Spark's greatest ignores the null)
    ppm = [
        int(math.floor((dup * 1_000_000) / (nt[d] if nt[d] else 1)))
        for d, dup in zip(docs, dup_l)
    ]
    return pa.table({
        "doc_id": pa.array(docs, pa.int64()),
        "n_tokens": pa.array(
            [None if nt[d] is None else int(nt[d]) for d in docs],
            pa.int64(),
        ),
        "dup_tokens": pa.array(dup_l, pa.int64()),
        "dup_frac_ppm": pa.array(ppm, pa.int64()),
    })


def _span_state_ingest_driver(
    new_docs: DataFrame,
    state_path: str,
    n: int,
    min_count: int,
    text_col: str,
    id_col: str,
    return_full: bool,
):
    """Driver-side rendering of one SMALL span delivery into a
    DRIVER-SIZED state — the :func:`_dedup_state_ingest_driver`
    discipline applied to the span twin. ONE Spark job collects the
    delta's per-doc token counts and window hashes (the same
    tokenize/md5/xxhash expressions as :func:`span_hash_table`, nested
    per doc); the replay anti-join, the additive ≥min_count decision,
    the retro-flag probe and the coverage resolve run driver-side over
    pruned pyarrow store reads; appends ride the same append_store
    seam in the same order. Returns None to fall back to the
    distributed path. Parity pinned in tests/test_incremental_dedup.py."""
    import itertools

    spark = new_docs.sparkSession
    stores = ("tokens", "spans", "hcounts", "flags")
    present = SS.driver_state_gate(state_path, stores)
    if present is None:
        return None
    params = {"n": int(n), "min_count": int(min_count)}
    # migration NOT gated on had_meta: r10 span states have meta but
    # flat hcounts
    had_meta = _adopt_state_format(
        spark, state_path, "span_state_ingest", params, "tokens",
        _migrate_span_state, migrate_always=True,
    )
    committed = SS.adopt_commit_ledger(spark, state_path, stores)

    # THE one Spark job: per-doc token counts + nested window structs
    # (start, h, _ph), all derived by the span_hash_table expressions
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit("")
    )
    spans = F.when(
        F.col("_ntok") >= F.lit(n),
        F.transform(
            F.transform(
                F.sequence(F.lit(0), F.col("_ntok") - n),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("_t", i + F.lit(1), n))
                ),
            ),
            lambda h, i: F.struct(
                i.alias("start"), h.alias("h"),
                F.pmod(F.xxhash64(h), F.lit(N_BAND_BUCKETS))
                .cast("int").alias("_ph"),
            ),
        ),
    ).alias("_spans")
    t = SS.collect_capped(
        new_docs.select(
            F.col(id_col).cast("long").alias("doc_id"), toks.alias("_t"),
        )
        .withColumn("_ntok", F.size("_t"))
        .select("doc_id", F.col("_ntok").alias("n_tokens"), spans),
        DRIVER_DELTA_DOCS,
    )
    if t is None:
        return None
    doc_ids = t.column("doc_id").to_pylist()
    if any(d is None for d in doc_ids) or len(set(doc_ids)) != len(doc_ids):
        return None  # null/duplicate ids — distributed-path semantics
    ntoks = t.column("n_tokens").to_pylist()
    spans_nested = t.column("_spans").to_pylist()

    # replay anti-join against the tokens registry
    keep = SS.replay_keep(state_path + "/tokens", committed, doc_ids,
                          "doc_id")
    if keep is not None:
        doc_ids = [doc_ids[i] for i in keep]
        ntoks = [ntoks[i] for i in keep]
        spans_nested = [spans_nested[i] for i in keep]
    n_delta = len(doc_ids)

    def _resolve(tok_pairs=(), flag_pairs=()):
        # committed tokens/flags + this delivery's rows
        return _resolved_frame(
            spark,
            _span_resolved_table(
                itertools.chain(zip(*SS.read_store_columns(
                    state_path + "/tokens", committed,
                    ["doc_id", "n_tokens"])), tok_pairs),
                itertools.chain(zip(*SS.read_store_columns(
                    state_path + "/flags", committed,
                    ["doc_id", "start"])), flag_pairs),
                int(n),
            ),
            lambda: read_span_state(spark, state_path),
        )

    if present["tokens"] and n_delta == 0:  # pure replay
        if return_full:
            return _resolve()
        return spark.createDataFrame([], "doc_id long, start int")

    # explode the nested structs driver-side
    span_doc: list = []
    span_start: list = []
    span_h: list = []
    span_ph: list = []
    total = 0
    for d, nested in zip(doc_ids, spans_nested):
        if not nested:
            continue
        total += len(nested)
        if total > _DRIVER_MAX_SPAN_ROWS:
            return None  # window-heavy delta — distributed path
        for row in nested:
            span_doc.append(d)
            span_start.append(row["start"])
            span_h.append(row["h"])
            span_ph.append(row["_ph"])

    from collections import Counter

    delta_counts = Counter(span_h)
    h_ph = dict(zip(span_h, span_ph))
    phs = sorted(set(span_ph))
    old_co: Counter = Counter()
    for h, c in zip(*SS.read_store_columns(
            state_path + "/hcounts", committed, ["h", "c"], "_ph", phs)):
        if h in delta_counts:
            old_co[h] += c
    dup_h = {
        h: old_co.get(h, 0)
        for h, cd in delta_counts.items()
        if cd + old_co.get(h, 0) >= min_count
    }
    new_flags = [
        (d, s_) for d, s_, h in zip(span_doc, span_start, span_h)
        if h in dup_h
    ]
    crossed = {h for h, co in dup_h.items() if co < min_count}
    retro = [
        (d, s_) for h, d, s_ in zip(*SS.read_store_columns(
            state_path + "/spans", committed, ["h", "doc_id", "start"],
            "_ph", phs))
        if h in crossed
    ] if crossed else []
    delta_flags = new_flags + retro

    # manifest commit: same append order/seam as the distributed path
    # (tokens, spans, hcounts, flags; publish LAST)
    import pyarrow as pa

    hkeys = sorted(delta_counts)
    SS.commit_delivery(spark, state_path, [
        ("tokens", {"doc_id": pa.array(doc_ids, pa.int64()),
                    "n_tokens": pa.array(ntoks, pa.int32())}, (), ()),
        ("spans", {"_ph": pa.array(span_ph, pa.int32()),
                   "h": pa.array(span_h, pa.string()),
                   "doc_id": pa.array(span_doc, pa.int64()),
                   "start": pa.array(span_start, pa.int32())},
         ("_ph",), ("h",)),
        ("hcounts", {"_ph": pa.array([h_ph[h] for h in hkeys], pa.int32()),
                     "h": pa.array(hkeys, pa.string()),
                     "c": pa.array([delta_counts[h] for h in hkeys],
                                   pa.int64())},
         ("_ph",), ("h",)),
        ("flags", {"doc_id": pa.array([d for d, _ in delta_flags], pa.int64()),
                   "start": pa.array([s_ for _, s_ in delta_flags],
                                     pa.int32())}, (), ()),
    ], meta=None if had_meta else params)

    if not return_full:
        return spark.createDataFrame(
            delta_flags or [], "doc_id long, start int"
        )
    return _resolve(zip(doc_ids, ntoks), delta_flags)


def _span_state_ingest_impl(
    new_docs: DataFrame,
    state_path: str,
    n: int,
    min_count: int,
    text_col: str,
    id_col: str,
    return_full: bool,
) -> DataFrame:
    """Cross-snapshot incremental SPAN-LEVEL (substring) dedup — the
    fourth member of the persisted-state ingest family (exact /
    MinHash / semantic / spans): fold a NEW batch of documents into a
    persisted span state and return the refreshed full-corpus
    (doc_id, n_tokens, dup_tokens, dup_frac_ppm) — EXACTLY equal to
    :func:`duplicated_spans` run from scratch on old ∪ new (token
    windows are content-derived and the ≥ min_count decision is made
    on ADDITIVE global counts, so the equality has no caveats).

    State layout under ``state_path`` — all stores append-only, every
    delivery writes O(delta) rows:

    - ``tokens``  (doc_id, n_tokens): one row per corpus doc (the
      replay-guard registry).
    - ``spans``   (h, doc_id, start) partitioned by
      ``_ph = xxhash64(h) % N_BAND_BUCKETS``: the corpus window-hash
      table — needed to retro-flag OLD windows when a new delivery
      pushes their hash over min_count.
    - ``hcounts`` (h, c) partitioned by ``_ph``: ADDITIVE per-delivery
      occurrence counts; global count(h) = Σ — the exact quantity
      from-scratch aggregates. (A pre-r11 unpartitioned store is
      migrated in place once on the next ingest.)
    - ``flags``   (doc_id, start): windows known duplicated, appended
      when first decided (a hash's count only grows, so each window is
      flagged at most once; coverage is derived on read).

    Per-delivery work: window hashes of the new batch only (O(delta
    tokens)); a lookup join of the delta's distinct hashes against the
    persisted counts; flags for (a) delta windows whose global count
    ≥ min_count and (b) OLD windows whose hash CROSSED min_count this
    delivery (a semi-join of the spans store against the crossed-hash
    set — output is O(matches)). BOTH corpus-side probes use the
    stores' own ``_ph`` layout: the delta's window hashes map to
    ≤N_BAND_BUCKETS ``_ph`` values, and that bounded IN-list is a
    PARTITION filter on the ``hcounts`` count lookup and on the
    ``spans`` retro-flag probe (crossed hashes are a subset of the
    delta's hashes, so the same list covers both) — per-delivery IO
    tracks the delta's buckets, never the corpus store size.
    REPLAY-safe: doc ids already in ``tokens`` are anti-joined out.

    ``n``/``min_count`` are part of the state format (persisted in
    ``meta``; a mismatched ingest raises — windows of different widths
    share no hash space and would silently never match).

    CRASH-ATOMIC (r12, manifest commit): the four store appends land
    under one ``_dv=<delivery id>`` partition, published last to the
    ``commits`` ledger — same protocol and guarantees as
    :func:`dedup_state_ingest`.
    """
    spark = new_docs.sparkSession
    params = {"n": int(n), "min_count": int(min_count)}
    # migration NOT gated on had_meta: r10 span states have meta but
    # flat hcounts
    had_meta = _adopt_state_format(
        spark, state_path, "span_state_ingest", params, "tokens",
        _migrate_span_state, migrate_always=True,
    )
    committed = SS.adopt_commit_ledger(
        spark, state_path, ("tokens", "spans", "hcounts", "flags")
    )
    # post-adoption reads: adopt_commit_ledger above wrapped any legacy
    # store into the _dv layout, so the known schemas skip the
    # per-store inference job
    old_tokens = SS.visible(
        _try_parquet(spark, state_path + "/tokens", _SPAN_TOKENS_SCHEMA),
        committed,
    )

    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit(""))
    incoming = new_docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.col(text_col).alias("_text"),
    )
    if old_tokens is not None:
        incoming = incoming.join(
            old_tokens.select("doc_id"), "doc_id", "left_anti"
        )
    incoming = incoming.localCheckpoint(eager=True)
    # one count over the checkpointed delta replaces the old
    # isEmpty() probe AND the later small-delta gate's count
    n_delta = incoming.count()
    if old_tokens is not None and n_delta == 0:  # pure replay
        if return_full:
            return read_span_state(spark, state_path).localCheckpoint(
                eager=True
            )
        return spark.createDataFrame([], "doc_id long, start int")
    small = n_delta < 1_000_000
    # AQE off for the delta-bounded probe section (through the appends;
    # the scope restores it for the corpus-scale resolve below, and on
    # any exit) — the dedup_state_ingest discipline. Gated on delta
    # size, not local mode.
    with _no_aqe(spark, enabled=small):
        if small:
            incoming = incoming.coalesce(8)  # narrow view, no extra job

        sh = span_hash_table(
            incoming, n=n, text_col="_text", id_col="doc_id"
        ).localCheckpoint(eager=True)  # delta-sized; probed three ways below
        delta_counts = sh.groupBy("h").agg(F.count("*").alias("_cd"))
        # the delta's hash buckets (≤N_BAND_BUCKETS values) — the partition
        # filter for BOTH corpus-side probes below; crossed hashes are a
        # subset of the delta's hashes, so one list covers the retro probe
        with _no_aqe(spark, enabled=not small):
            phs = sorted({
                r[0] for r in sh.select(
                    F.pmod(F.xxhash64("h"), F.lit(N_BAND_BUCKETS))
                    .cast("int").alias("_ph")
                ).distinct().collect()
            })
        # schema'd read is safe here: _migrate_span_state above guarantees
        # the _ph layout, so the legacy "_ph in columns" check below is
        # vacuously true post-migration
        old_counts = SS.visible(
            _try_parquet(spark, state_path + "/hcounts", _SPAN_HCOUNTS_SCHEMA),
            committed,
        )
        if old_counts is not None:
            if "_ph" in old_counts.columns:  # pre-r11 stores lack the layout
                old_counts = old_counts.where(F.col("_ph").isin(phs))
            old_for = (
                old_counts.join(delta_counts.select("h"), "h", "left_semi")
                .groupBy("h").agg(F.sum("c").alias("_co"))
            )
            tot = delta_counts.join(old_for, "h", "left").select(
                "h", "_cd", F.coalesce("_co", F.lit(0)).alias("_co")
            )
        else:
            tot = delta_counts.withColumn("_co", F.lit(0))
        dup_h = tot.filter(F.col("_cd") + F.col("_co") >= min_count) \
            .localCheckpoint(eager=True)
        # (a) delta windows whose hash is globally duplicated
        new_flags = sh.join(dup_h.select("h"), "h", "left_semi") \
            .select("doc_id", "start")
        # (b) OLD windows whose hash crossed min_count with THIS delivery —
        # they were below the bar before, so they have never been flagged
        old_spans = SS.visible(
            _try_parquet(spark, state_path + "/spans", _SPAN_SPANS_SCHEMA),
            committed,
        )
        if old_spans is not None:
            crossed = dup_h.filter(F.col("_co") < min_count).select("h")
            retro = (
                old_spans.where(F.col("_ph").isin(phs))  # partition filter
                .join(crossed, "h", "left_semi")
                .select("doc_id", "start")
            )
            delta_flags = new_flags.unionByName(retro)
        else:
            delta_flags = new_flags
        delta_flags = delta_flags.localCheckpoint(eager=True)

        if not had_meta:
            # meta BEFORE the appends: a crash here leaves a meta-only
            # state ≡ bootstrap with the format pinned (benign)
            SS.write_meta(state_path, params)
        # manifest commit: appends tagged _dv=<delivery id>, published LAST.
        # Small deliveries land via append_store's driver-side Arrow path
        # (no Spark committer staging per append); large deliveries keep
        # the distributed writes.
        dv = SS.new_delivery_id()
        tag = F.lit(dv).alias("_dv")
        tok_rows = incoming.select(tag, "doc_id", "n_tokens")
        SS.append_store(tok_rows, state_path + "/tokens", ("_dv",), small=small)
        spans_out = sh.select(
            tag,
            F.pmod(F.xxhash64("h"), F.lit(N_BAND_BUCKETS)).cast("int").alias("_ph"),
            "h", "doc_id", "start",
        )
        if not small:
            spans_out = spans_out.repartition("_ph").sortWithinPartitions("h")
        SS.append_store(spans_out, state_path + "/spans", ("_dv", "_ph"),
                        small=small, sort_by=("h",))
        counts_out = delta_counts.select(
            tag,
            F.pmod(F.xxhash64("h"), F.lit(N_BAND_BUCKETS)).cast("int").alias("_ph"),
            "h", F.col("_cd").alias("c"),
        )
        if not small:
            counts_out = counts_out.repartition("_ph").sortWithinPartitions("h")
        SS.append_store(counts_out, state_path + "/hcounts", ("_dv", "_ph"),
                        small=small, sort_by=("h",))
        SS.append_store(
            delta_flags.select(tag, "doc_id", "start"),
            state_path + "/flags", ("_dv",), small=small,
        )
    SS.publish_commit(spark, state_path, dv)  # THE commit point
    if not return_full:
        return delta_flags
    return read_span_state(spark, state_path).localCheckpoint(eager=True)
