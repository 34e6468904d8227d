"""Physical-plan property pins (README "Design for 100 TB"): the plan
shapes the scale story depends on must not regress."""

from __future__ import annotations

import pyspark.sql.functions as F

from raft_spark.plans import audit_plan
from raft_spark.queries.registry import QUERIES


def test_row_norms_scan_prunes_columns(spark, sf_dir):
    rep = audit_plan(QUERIES["row_norms"](spark, sf_dir))
    # only vec_id + embedding should be read, never label/the rest
    schemas = " ".join(rep.read_schemas())
    assert "embedding" in schemas and "label" not in schemas
    # per-row reduction: no shuffle at all beyond the source repartition
    assert rep.n_sortmerge_joins == 0


def test_matrix_slice_pushes_row_filter(spark, sf_dir):
    rep = audit_plan(QUERIES["matrix_slice"](spark, sf_dir))
    pushed = " ".join(rep.pushed_filters())
    assert "vec_id" in pushed  # row-range reached the parquet scan


def test_matrix_gather_broadcasts_map(spark, sf_dir):
    rep = audit_plan(QUERIES["matrix_gather"](spark, sf_dir))
    assert rep.n_broadcast_joins >= 1
    assert rep.n_sortmerge_joins == 0


def test_histogram_partial_aggregates(spark, sf_dir):
    rep = audit_plan(QUERIES["histogram_events"](spark, sf_dir))
    # partial_count BEFORE the exchange → map-side combine: the shuffle
    # carries O(bins), not O(events). (AQE's formatted plan hides
    # WholeStageCodegen spans pre-execution, so codegen isn't pinned.)
    assert "partial_count" in rep.text


def test_bm25_no_cartesian(spark, sf_dir):
    rep = audit_plan(QUERIES["bm25_topk"](spark, sf_dir))
    # the only nested-loop join allowed is the 1-row avgdl scalar
    # broadcast; a CartesianProduct would mean a real pair blowup
    assert "CartesianProduct" not in rep.text


def test_bm25_plan_shape_pinned(spark, sf_dir):
    # bench-noise pin (r4): bm25_topk's driver bench numbers spread
    # 2-4x run to run; pin the plan shape so a REAL regression (a new
    # exchange, the top-k falling off the WindowGroupLimit rewrite, a
    # Python crossing sneaking in) is distinguishable from host noise.
    rep = audit_plan(QUERIES["bm25_topk"](spark, sf_dir))
    # grouped top-k must ride the map-side-bounded group-limit path
    assert "WindowGroupLimit" in rep.text
    # no pandas/Python eval anywhere (the COO checkpoint is pre-built)
    assert "Python" not in rep.text and "ArrowEval" not in rep.text
    # exchange budget: norm window + top-k + the idf/avgdl agg joins;
    # 9 distinct exchange nodes was the measured shape at pin time
    assert rep.n_exchanges <= 10


def test_covariance_plan_shape_pinned(spark, sf_dir):
    # covariance is a driver-built d x d frame after the exact Gram
    # collect; the returned plan must stay a local scan (any join /
    # exchange here means the query grew a distributed tail that the
    # bench would bill to "covariance noise")
    rep = audit_plan(QUERIES["covariance"](spark, sf_dir))
    assert rep.n_exchanges == 0
    assert "Join" not in rep.text


def test_neardup_no_nested_loop(spark, sf_dir):
    # blocked all-pairs: the n x n product must be realized through
    # block-pair equi-joins, never a BroadcastNestedLoopJoin of the
    # whole table (dies when the corpus outgrows the driver)
    rep = audit_plan(QUERIES["embedding_neardup"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in rep.text
    assert "CartesianProduct" not in rep.text


def test_covariance_no_posexplode_square(spark, sf_dir):
    # covariance runs the mapInPandas Gram pass: d^2 partial scalars per
    # partition, never a posexplode^2 row blowup (the result frame is a
    # driver-built d x d table, so its plan must be a local scan)
    rep = audit_plan(QUERIES["covariance"](spark, sf_dir))
    assert "Generate" not in rep.text  # no explode anywhere


def test_matmul_shuffle_budget(spark, sf_dir):
    # spmm/gemm/sddmm are join+agg forms over tiny generated inputs:
    # no sort-merge join (all sides are broadcastable at gate scale),
    # and a bounded exchange count — a regression here is what turned
    # round-1 bench numbers 8-9x over baseline
    for name, budget in (("spmm", 4), ("gemm", 1), ("sddmm", 3)):
        rep = audit_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in rep.text, name
        assert rep.n_exchanges <= budget, (name, rep.n_exchanges)


def test_symmetrize_single_shuffle(spark, sf_dir):
    # explode + re-aggregate: source repartition + edges groupBy +
    # final groupBy = 3 shuffles; the old union(A, A^T) form re-ran the
    # whole edges subplan per branch
    rep = audit_plan(QUERIES["symmetrize_graph"](spark, sf_dir))
    assert rep.n_exchanges <= 3, rep.n_exchanges


def test_repetition_stats_zero_shuffle(spark, sf_dir):
    # Gopher-style repetition filters are pure per-row expressions: the
    # plan must be scan -> (loader repartition) -> project — no
    # aggregation/join shuffle (the 100 TB pre-filter contract: one
    # narrow pass over the corpus)
    rep = audit_plan(QUERIES["repetition_stats"](spark, sf_dir))
    assert rep.n_exchanges <= 1, rep.n_exchanges  # source repartition only
    assert rep.n_sortmerge_joins == 0
    assert "partial_" not in rep.text  # no aggregate anywhere


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    # decontamination joins corpus shingles against the (tiny)
    # benchmark shingle set: must be a broadcast hash join — a
    # sort-merge join here would shuffle the full corpus shingle table
    rep = audit_plan(QUERIES["contamination"](spark, sf_dir))
    assert rep.n_broadcast_joins >= 1
    assert "CartesianProduct" not in rep.text


def test_knn_cosine_no_global_sort(spark, sf_dir):
    # partial top-k then merge: a global Sort over the scored pairs
    # would mean the select_k went through a single-partition window
    rep = audit_plan(QUERIES["knn_cosine"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in rep.text
    # the only windows allowed run AFTER the partial cut (rows ≤ P*Q*k)
    assert rep.n_sortmerge_joins == 0


def test_eps_pairs_exact_no_nested_loop(spark, sf_dir, monkeypatch):
    # quantized eps-pairing keeps the blocked equi-join shape: the n x n
    # product must never compile to a BroadcastNestedLoopJoin/Cartesian.
    # r14 added a driver strategy for driver-sized frames, so the
    # DISTRIBUTED shape is pinned with the driver gate forced off
    # (otherwise the local-relation plan would hide a regression).
    from raft_spark.operators import similarity as SIM
    from raft_spark.operators.similarity import eps_pairs_exact
    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features")
    monkeypatch.setattr(SIM, "_DRIVER_EPS_ROWS", 0)
    rep = audit_plan(eps_pairs_exact(m, eps=1.2))
    assert "BroadcastNestedLoopJoin" not in rep.text
    assert "CartesianProduct" not in rep.text
    monkeypatch.undo()
    # driver strategy: sf-scale embeddings fit the gate — the returned
    # plan must be a local/arrow relation, not a join
    rep_drv = audit_plan(eps_pairs_exact(m, eps=1.2))
    assert rep_drv.n_exchanges == 0
    assert "Join" not in rep_drv.text


def test_pagerank_exact_plan_constant_across_iterations(spark, sf_dir):
    # the per-iteration localCheckpoint must cut lineage: the plan of
    # the returned frame may not grow with the iteration count (the
    # round-1 iterative-solver blow-up class)
    from raft_spark.operators.solvers import pagerank_exact
    from raft_spark.sources.tables import load

    o = load(spark, "orders", sf_dir)
    coo = o.select(
        (F.col("o_custkey") % 97).alias("row"),
        (F.col("o_orderkey") % 97).alias("col"),
    ).filter(F.col("row") != F.col("col"))
    short = audit_plan(pagerank_exact(coo, iters=2))
    long = audit_plan(pagerank_exact(coo, iters=5))
    assert abs(len(long.text) - len(short.text)) < 200


def test_semantic_dedup_no_nested_loop(spark, sf_dir):
    # the within-cluster pair product must be the cluster equi-join —
    # a BroadcastNestedLoopJoin/Cartesian would be the all-pairs shape
    # SemDeDup's clustering exists to avoid
    rep = audit_plan(QUERIES["semantic_dedup"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in rep.text
    assert "CartesianProduct" not in rep.text


def test_duplicated_spans_partial_agg_no_early_explode(spark, sf_dir):
    # window hashes are built in-row (transform) so the only Generate
    # nodes come AFTER hashing (posexplode of the hash array, position
    # coverage); the count over hashes must be a partial (map-side
    # combinable) aggregate
    rep = audit_plan(QUERIES["duplicated_spans"](spark, sf_dir))
    assert "partial_count" in rep.text or "HashAggregate" in rep.text
    assert "BroadcastNestedLoopJoin" not in rep.text


def test_dbscan_full_composition_plan(spark, sf_dir):
    # r6 (VERDICT r5 task 1): the dbscan bench number drifted 3 rounds
    # (4.4 -> 9.8 -> 12.3 s) on what was believed an unchanged plan;
    # the solo best-of-3 adjudication (BASELINE.md v5: 3.4 s) closed it
    # as host noise — this pin is the guard that the FULL composition
    # (eps-pairs -> canonicalize -> degree -> core -> CC -> border
    # attach) keeps its shuffle/join budget, not just the eps-pair
    # stage pinned above. Checkpoints truncate lineage, so the eps-pair
    # stage is audited separately (its lineage is hidden from the
    # composed plan) and the composed plan is audited from the
    # checkpointed pair table onward.
    from raft_spark.operators.similarity import dbscan, eps_pairs_exact
    from raft_spark.sources.tables import embeddings_matrix

    from raft_spark.operators import similarity as SIM

    m = embeddings_matrix(spark, sf_dir).select("id", "features")
    # pin the DISTRIBUTED pair stage AND the distributed composition
    # (r14: the driver pair strategy + driver label finish would
    # otherwise replace both with local relations at sf scale)
    SIM_prev = SIM._DRIVER_EPS_ROWS
    SIM._DRIVER_EPS_ROWS = 0
    try:
        rep_pairs = audit_plan(eps_pairs_exact(m, eps=1.2))
        pairs_dist = eps_pairs_exact(m, eps=1.2)
        rep = audit_plan(dbscan(m, eps=1.2, min_pts=4, pairs=pairs_dist))
    finally:
        SIM._DRIVER_EPS_ROWS = SIM_prev
    assert rep_pairs.n_exchanges <= 2  # block keys + (probe agg reuse)
    assert "CartesianProduct" not in rep_pairs.text
    assert "BroadcastNestedLoopJoin" not in rep_pairs.text
    # measured r6: 15 exchanges / 9 sort-merge joins / 0 cartesian.
    # SMJs on the id-keyed label joins are the scalable static shape
    # (AQE demotes the small sides to broadcast at runtime); the pin
    # bounds drift upward while letting plan improvements through.
    assert rep.n_exchanges <= 15
    assert rep.n_sortmerge_joins <= 9
    assert "CartesianProduct" not in rep.text
    assert "BroadcastNestedLoopJoin" not in rep.text
    # driver finish (r14): LocalRelation pairs at sf scale → the whole
    # composition returns as one local relation, zero exchanges
    pairs_drv = eps_pairs_exact(m, eps=1.2)
    assert SIM._plan_is_local_relation(pairs_drv)
    rep_drv = audit_plan(dbscan(m, eps=1.2, min_pts=4, pairs=pairs_drv))
    assert rep_drv.n_exchanges == 0
    assert "Join" not in rep_drv.text


def test_asof_suite_plan_pinned(spark, sf_dir):
    # r6: as-of rides one keyed sort window per member — no nested
    # loop, no Python crossing; the band join must stay a cell
    # equi-join (a BroadcastNestedLoopJoin here would be the O(n*m)
    # theta-join Spark falls back to for pure inequality predicates).
    # r9 split the old 10-member temporal_join_suite into asof/rolling
    # rows; the pins below are EXACT per-suite measurements (ADVICE r8:
    # a ≤-pin loosened every round stops catching single-exchange
    # regressions), re-measure and justify any change in this comment.
    rep = audit_plan(QUERIES["asof_suite"](spark, sf_dir))
    assert "CartesianProduct" not in rep.text
    assert "BroadcastNestedLoop" not in rep.text
    assert "Python" not in rep.text and "ArrowEval" not in rep.text
    # measured r9: 3 plain members (union + keyed window each) + band
    # cell join + asof_skew (bucket window + pk agg + carry window +
    # broadcast) + asof_bcast/asof_auto (right pack agg + broadcast —
    # ZERO fact-side shuffle) + final union = 24 distinct exchanges,
    # each linear in its input
    assert rep.n_exchanges == 24
    assert rep.n_broadcast_joins >= 3  # skew carry + bcast + auto members


def test_rolling_suite_plan_pinned(spark, sf_dir):
    rep = audit_plan(QUERIES["rolling_suite"](spark, sf_dir))
    assert "CartesianProduct" not in rep.text
    assert "BroadcastNestedLoop" not in rep.text
    assert "Python" not in rep.text and "ArrowEval" not in rep.text
    # measured r9 (after the dual-growing-frame rewrite: every member
    # is ONE WindowExec — [ts−w, ts) = cum(≤ts−1) − cum(≤ts−w−1), both
    # frames add-only): rolling / rolling_prefix / rolling_auto are
    # scan + one keyed window exchange each, rolling_skew adds the
    # ghost-union cell exchange; with cross-member scan reuse the suite
    # plan carries 9 distinct exchanges
    assert rep.n_exchanges == 9


def test_data_mixture_plan_pinned(spark, sf_dir):
    # r6: Bernoulli keep is a broadcast-joined narrow projection; the
    # budget path adds the range repartition + the tiny offsets agg.
    # No Python crossing anywhere.
    rep = audit_plan(QUERIES["data_mixture"](spark, sf_dir))
    assert "CartesianProduct" not in rep.text
    assert "Python" not in rep.text and "ArrowEval" not in rep.text
    # the offsets join must broadcast; the spec joins sit behind the
    # range-repartition localCheckpoint boundary, so only it is visible
    assert rep.n_broadcast_joins >= 1


def test_dedup_clusters_composed_plan(spark, sf_dir):
    # r7 (VERDICT r6 task 5): dedup_clusters carried the noisiest bench
    # spread (4.38 on a 4.37 s min). The candidate-edge materialization
    # is structural — connected_components_auto eagerly checkpoints the
    # edge table, so the LSH candidate derivation runs exactly once per
    # call — and this pin converts any real regression of the composed
    # downstream plan (labels join + size agg over documents) into a
    # pytest failure, the dbscan adjudication pattern. Checkpoints
    # truncate lineage, so the LSH stage itself is audited by
    # test_bm25/minhash pins; here we audit from the checkpointed
    # edges onward.
    # r14: the driver finish returns a local relation at sf scale — pin
    # the DISTRIBUTED assembly with the doc gate forced off, and the
    # driver path to a zero-exchange local scan
    import raft_spark.operators.dedup as DD

    prev = DD._DRIVER_CLUSTERS_DOCS
    DD._DRIVER_CLUSTERS_DOCS = 0
    try:
        rep = audit_plan(QUERIES["dedup_clusters"](spark, sf_dir))
    finally:
        DD._DRIVER_CLUSTERS_DOCS = prev
    assert "CartesianProduct" not in rep.text
    assert "BroadcastNestedLoopJoin" not in rep.text
    # labels are driver/union-find (small graph) or checkpointed CC
    # output; composed shape = docs scan + labels join + sizes agg +
    # final join: 6 distinct exchanges measured at pin time
    assert rep.n_exchanges <= 7
    rep_drv = audit_plan(QUERIES["dedup_clusters"](spark, sf_dir))
    assert rep_drv.n_exchanges == 0
    assert "Join" not in rep_drv.text


def test_sparse_pairwise_plan_no_cartesian(spark, sf_dir):
    """sparse_pairwise is an inverted-index EQUI-join: a
    CartesianProduct or BroadcastNestedLoopJoin here would mean the
    col-key join degenerated into the n² product it exists to avoid."""
    from raft_spark.operators.sparse import sparse_pairwise
    from raft_spark.sources.tables import load

    coo = load(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("row"),
        F.col("l_partkey").alias("col"),
        F.col("l_quantity").cast("double").alias("value"),
    ).groupBy("row", "col").agg(F.max("value").alias("value"))
    rep = audit_plan(sparse_pairwise(coo, metric="cosine"))
    assert "CartesianProduct" not in rep.text
    assert "BroadcastNestedLoop" not in rep.text
    assert "Python" not in rep.text and "ArrowEval" not in rep.text


def test_knn_metric_plan_blocked_product(spark, sf_dir):
    """knn_metric rides the blocked equi-join product (bounded task
    memory) + the jvm select_k: no nested-loop join, no Python."""
    from raft_spark.operators.similarity import knn_metric
    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features")
    q = m.filter(F.col("id") % 100 == 0)
    rep = audit_plan(knn_metric(m, q, k=5, metric="canberra"))
    assert "CartesianProduct" not in rep.text
    assert "BroadcastNestedLoop" not in rep.text
    assert "Python" not in rep.text and "ArrowEval" not in rep.text


def test_knn_refine_plan_two_equijoins(spark, sf_dir):
    """refine = candidates ⋈ queries ⋈ corpus, all equi-joins; the
    shortlist bounds the joined volume."""
    from raft_spark.operators.similarity import knn_brute, knn_refine
    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features")
    q = m.filter(F.col("id") % 100 == 0)
    cand = knn_brute(m, q, k=8).select("qid", "nid")
    rep = audit_plan(knn_refine(cand, m, q, k=5, metric="l2"))
    assert "CartesianProduct" not in rep.text
    assert "BroadcastNestedLoop" not in rep.text


def test_filtered_knn_plan_no_nested_loop(spark, sf_dir):
    """r10 filtered search: the allow-mask is a semi EQUI-join on the
    id — a nested-loop or Python op here would mean the mask is being
    applied after scoring instead of below it."""
    from raft_spark.operators.similarity import knn_brute, knn_ivf_pq, build_ivf_pq_index
    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features")
    q = m.filter(F.col("id") % 100 == 0)
    allow = m.select("id").filter(F.col("id") % 2 == 0)
    rep = audit_plan(knn_brute(m, q, k=5, strategy="expr", filter_ids=allow))
    assert "CartesianProduct" not in rep.text
    assert "BroadcastNestedLoop" not in rep.text
    # IVF-PQ: the mask joins the CODES scan (before the Arrow ADC pass):
    # the shortlist side of the final refine must not contain odd ids
    idx = build_ivf_pq_index(m, n_lists=4, kmeans_iters=1)
    out = knn_ivf_pq(m, q, k=5, n_probe=4, index=idx, filter_ids=allow)
    rep2 = audit_plan(out)
    assert "CartesianProduct" not in rep2.text
    assert "BroadcastNestedLoop" not in rep2.text
    assert all(r["nid"] % 2 == 0 for r in out.collect())


def test_quantized_expr_legs_plan_blocked_product(spark, sf_dir):
    """knn_bq / knn_sq strategy="expr" score on knn_brute's blocked
    equi-join product: that leg runs because the query side is too big
    to collect, so it must not be broadcast into a nested-loop join
    either. The scans take exactly auto|numpy|expr as a strategy."""
    import pytest

    from raft_spark.operators.similarity import knn_bq, knn_brute, knn_sq
    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features")
    q = m.filter(F.col("id") % 100 == 0)
    for knn in (knn_bq, knn_sq):
        rep = audit_plan(knn(m, q, k=5, strategy="expr"))
        assert "CartesianProduct" not in rep.text
        assert "BroadcastNestedLoop" not in rep.text
    for knn in (knn_brute, knn_bq, knn_sq):
        with pytest.raises(ValueError, match="strategy"):
            knn(m, q, k=5, strategy="jvm")


def test_span_ingest_plan_no_cartesian(spark, sf_dir, tmp_path):
    """r10 span-state ingest: every probe is an equi-join (hash /
    doc_id keys); the delta's flag frame must never cross-product."""
    from raft_spark.operators.dedup import span_state_ingest
    from raft_spark.sources.tables import load

    docs = load(spark, "documents", sf_dir).select("doc_id", "text")
    p = str(tmp_path / "span")
    span_state_ingest(docs.filter(F.col("doc_id") % 2 == 0), p)
    out = span_state_ingest(
        docs.filter(F.col("doc_id") % 2 == 1), p, return_full=False
    )
    # return_full=False returns the checkpointed delta flags — audit the
    # RESOLVE read path instead (the plan a consumer actually runs)
    from raft_spark.operators.dedup import read_span_state

    rep = audit_plan(read_span_state(spark, p))
    assert "CartesianProduct" not in rep.text
    assert "BroadcastNestedLoop" not in rep.text
    assert out.count() >= 0


def test_bands_probe_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """r10 incremental-dedup state: a delta ingest's corpus band scan
    must carry the _pb partition filter (IN-list over the delta's
    directory buckets) — without it every delivery rescans the whole
    band table."""
    from raft_spark.operators import dedup as D
    from raft_spark.sources.tables import load

    docs = load(spark, "documents", sf_dir)
    p = str(tmp_path / "state")
    D.dedup_state_ingest(docs.filter(F.col("doc_id") % 2 == 0), p)
    # reproduce the probe frame: pruned corpus bands for a delta
    delta = docs.filter(F.col("doc_id") % 2 == 1).limit(20)
    sig = D.minhash_signature_stable("text")
    inc = delta.select(
        F.col("doc_id").cast("long").alias("doc_id"), sig.alias("sig")
    )
    nb = D._explode_bands(inc, D.NUM_PERMS, D.BAND_ROWS).withColumn(
        "_pb", D._band_bucket(F.col("band"), F.col("bsig"))
    )
    pbs = sorted({r["_pb"] for r in nb.select("_pb").distinct().collect()})
    pruned = spark.read.parquet(p + "/bands").where(F.col("_pb").isin(pbs))
    rep = audit_plan(pruned)
    assert "_pb" in rep.text and "PartitionFilters" in rep.text
    import re as _re

    m = _re.search(r"PartitionFilters: \[(.*?)\]", rep.text)
    assert m and "_pb" in m.group(1)


def test_sigs_probe_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """r11 incremental-dedup state: the two per-delivery id probes
    (replay anti-join, est-Jaccard lookup) read the sigs store under a
    bounded _pd IN-list PARTITION filter — without it every delivery
    scans the corpus signature table end-to-end."""
    from raft_spark.operators import dedup as D
    from raft_spark.sources.tables import load

    docs = load(spark, "documents", sf_dir)
    p = str(tmp_path / "state")
    D.dedup_state_ingest(docs.filter(F.col("doc_id") % 2 == 0), p)
    delta_ids = [r[0] for r in docs.filter(F.col("doc_id") % 2 == 1)
                 .limit(20).select("doc_id").collect()]
    pds = sorted({
        r[0] for r in spark.createDataFrame(
            [(i,) for i in delta_ids], "doc_id long"
        ).select(D._doc_bucket(F.col("doc_id")).alias("_pd"))
        .distinct().collect()
    })
    pruned = spark.read.parquet(p + "/sigs").where(F.col("_pd").isin(pds))
    rep = audit_plan(pruned)
    import re as _re

    m = _re.search(r"PartitionFilters: \[(.*?)\]", rep.text)
    assert m and "_pd" in m.group(1)


def test_span_probe_scans_are_partition_pruned(spark, sf_dir, tmp_path):
    """r11 span-state ingest: the hcounts count lookup AND the spans
    retro-flag probe read their stores under the delta's bounded _ph
    IN-list — the partitioning the stores were built with."""
    from raft_spark.operators import dedup as D
    from raft_spark.sources.tables import load

    docs = load(spark, "documents", sf_dir).select("doc_id", "text")
    p = str(tmp_path / "span")
    D.span_state_ingest(docs.filter(F.col("doc_id") % 2 == 0), p)
    delta = docs.filter(F.col("doc_id") % 2 == 1).limit(20)
    sh = D.span_hash_table(delta, n=8, text_col="text", id_col="doc_id")
    phs = sorted({
        r[0] for r in sh.select(
            F.pmod(F.xxhash64("h"), F.lit(D.N_BAND_BUCKETS))
            .cast("int").alias("_ph")
        ).distinct().collect()
    })
    import re as _re

    for store in ("/hcounts", "/spans"):
        pruned = spark.read.parquet(p + store).where(F.col("_ph").isin(phs))
        rep = audit_plan(pruned)
        m = _re.search(r"PartitionFilters: \[(.*?)\]", rep.text)
        assert m and "_ph" in m.group(1), store
