"""Round-14 optimization pins.

1. The grouped in-row pair expansion that replaced the band/posting
   self-joins (minhash_lsh_candidates, ngram_jaccard_pairs) must emit
   the IDENTICAL pair/jaccard multiset as the join it replaced — the
   reference implementations are inlined here so a future edit of the
   operator cannot silently drift both sides.
2. The eps_pairs_exact driver strategy must match the forced
   distributed path row-for-row (including duplicate-id multiplicity
   and the least/greatest orientation).
3. The limit-probe partition cap (_no_aqe(limit_rows=...)) must bound
   spark.sql.limit.initialNumPartitions while open and RESTORE it on
   exit, nested or not.
4. The dbscan driver label finish and single_linkage's driver
   union-find (taken when the ε-pair table is a driver-resident
   LocalRelation / the edge probe fits) must match the forced
   distributed compositions row for row —
   including duplicate ids, self loops, null endpoints, duplicated /
   both-orientation pair rows, isolated cores and border ties.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from raft_spark.operators import dedup as D
from raft_spark.operators import similarity as SIM
from raft_spark.operators import statestore as SS


def _mixed_sigs(spark, n_docs: int = 300, num_perms: int = 16):
    random.seed(7)
    rows = []
    for d in range(n_docs):
        base = random.randrange(5)
        sig = [
            float((base * 13 + p) % 7 + (d % 97 if random.random() < 0.5 else 0))
            for p in range(num_perms)
        ]
        rows.append((d, sig))
    return spark.createDataFrame(rows, "doc_id long, sig array<double>")


def test_minhash_grouped_pairs_match_self_join(spark):
    sigs = _mixed_sigs(spark)
    new = D.minhash_lsh_candidates(
        sigs, band_rows=4, num_perms=16, max_bucket_docs=50
    )
    # reference: the pre-r14 band self-join, inlined
    n_bands = 4
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *[
                F.col("sig")[b * 4 + r].cast("string") for r in range(4)
            ]).alias("bsig"),
        )
        for b in range(n_bands)
    ])
    bands = sigs.select(
        F.col("doc_id").alias("_d"), F.explode(band_structs).alias("_b")
    ).select("_d", F.col("_b.band").alias("band"), F.col("_b.bsig").alias("bsig"))
    occ = bands.groupBy("band", "bsig").agg(F.count("*").alias("_n"))
    keep = occ.filter(F.col("_n") <= 50).drop("_n")
    bandsk = bands.join(keep, ["band", "bsig"], "left_semi")
    cand = (
        bandsk.select(F.col("_d").alias("a"), "band", "bsig")
        .join(bandsk.select(F.col("_d").alias("b"), "band", "bsig"),
              ["band", "bsig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("_sa"))
    sb = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("_sb"))
    est = F.aggregate(
        F.zip_with("_sa", "_sb", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v,
    ) / F.lit(16.0)
    ref = cand.join(sa, "a").join(sb, "b").select(
        "a", "b", est.alias("est_jaccard"))
    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, new.collect()))


def test_ngram_grouped_pairs_match_inverted_join(spark):
    random.seed(11)
    rows = []
    for d in range(300):
        for _ in range(random.randrange(1, 6)):
            rows.append((d, f"sh_{random.randrange(120)}"))
        if random.random() < 0.2:
            rows.append((d, "sh_0"))  # in-doc duplicate rows
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    new = D.ngram_jaccard_pairs(sh, max_shingle_df=40)
    # reference: the pre-r14 inverted-index self-join, inlined
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    keep = dfreq.filter(F.col("_df") <= 40).drop("_df")
    shk = sh.join(keep, "shingle", "left_semi").localCheckpoint(eager=True)
    sizes = shk.groupBy("doc_id").agg(F.count("*").alias("sz"))
    common = (
        shk.select(F.col("doc_id").alias("a"), "shingle")
        .join(shk.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count("*").alias("common"))
    )
    ref = (
        common
        .join(sizes.select(F.col("doc_id").alias("a"),
                           F.col("sz").alias("sa")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"),
                           F.col("sz").alias("sb")), "b")
        .select("a", "b", (F.col("common") /
                           (F.col("sa") + F.col("sb") - F.col("common"))
                           ).alias("jaccard"))
    )
    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, new.collect()))


def test_eps_pairs_driver_matches_distributed(spark, monkeypatch):
    import numpy as np

    rng = np.random.default_rng(3)
    X = rng.normal(size=(400, 16)) * 0.4
    m = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(400)],
        "id long, features array<double>",
    )
    drv = sorted(map(tuple, SIM.eps_pairs_exact(m, eps=1.2).collect()))
    monkeypatch.setattr(SIM, "_DRIVER_EPS_ROWS", 0)
    dist = sorted(map(tuple, SIM.eps_pairs_exact(m, eps=1.2).collect()))
    assert drv == dist and len(drv) > 0


def test_eps_pairs_driver_duplicate_id_multiplicity(spark, monkeypatch):
    # duplicate ids: cross-id row pairs surface once per row pair on
    # both paths; equal-id row pairs are dropped on both
    m = spark.createDataFrame(
        [(1, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.05, 0.0]), (3, [5.0, 5.0])],
        "id long, features array<double>",
    )
    drv = sorted(map(tuple, SIM.eps_pairs_exact(m, eps=1.2).collect()))
    monkeypatch.setattr(SIM, "_DRIVER_EPS_ROWS", 0)
    dist = sorted(map(tuple, SIM.eps_pairs_exact(m, eps=1.2).collect()))
    assert drv == dist == [(1, 2), (1, 2)]


def test_probe_limit_cap_sets_and_restores(spark):
    conf = "spark.sql.limit.initialNumPartitions"
    prev = spark.conf.get(conf, None)
    assert prev is not None  # the session factory sets it
    big = str(SS._no_aqe.PROBE_ROW_BUDGET)  # force the cap to engage
    spark.conf.set(conf, big)
    try:
        with SS._no_aqe(spark, limit_rows=500_000):
            inside = int(spark.conf.get(conf))
            # worst-case transient driver rows = inside * T <= budget
            assert inside * 500_000 <= max(
                32 * 500_000, SS._no_aqe.PROBE_ROW_BUDGET)
            assert inside == max(32, SS._no_aqe.PROBE_ROW_BUDGET // 500_000)
            # nested sections keep composing and the flag stays capped
            with SS._no_aqe(spark, limit_rows=500_000):
                assert int(spark.conf.get(conf)) == inside
            assert int(spark.conf.get(conf)) == inside
            # a nested probe with a LARGER row limit tightens the count
            # to its own cap while open, and the outer cap comes back
            with SS._no_aqe(spark, limit_rows=5_000_000):
                assert int(spark.conf.get(conf)) == max(
                    32, SS._no_aqe.PROBE_ROW_BUDGET // 5_000_000)
            assert int(spark.conf.get(conf)) == inside
        assert spark.conf.get(conf) == big  # restored
        # a session already below the cap is untouched (one-job local
        # behavior preserved)
        spark.conf.set(conf, "32")
        with SS._no_aqe(spark, limit_rows=500_000):
            assert spark.conf.get(conf) == "32"
        assert spark.conf.get(conf) == "32"
    finally:
        spark.conf.set(conf, prev)


def test_dedup_clusters_driver_finish_matches_distributed(spark, monkeypatch):
    # row-identical output (incl. duplicate-doc multiplicity and docs
    # with no candidate pair) between the driver finish and the forced
    # distributed assembly
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (98, 99)], "a long, b long")
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 42, 42, 99]],
        "doc_id long")
    drv = sorted(map(tuple, D.dedup_clusters(
        pairs, docs).collect()))
    monkeypatch.setattr(D, "_DRIVER_CLUSTERS_DOCS", 0)
    dist = sorted(map(tuple, D.dedup_clusters(pairs, docs).collect()))
    monkeypatch.setattr(D, "_DRIVER_CLUSTERS_EDGES", 0)
    dist2 = sorted(map(tuple, D.dedup_clusters(pairs, docs).collect()))
    assert drv == dist == dist2
    # duplicate doc 42 must appear twice, in a size-2 singleton cluster
    assert drv.count((42, 42, 2, 1)) == 2
    # 99's label is the component min 98 even though 98 is not a doc
    assert (99, 98, 1, 0) in drv


def _none_safe_sort(rows):
    return sorted(
        map(tuple, rows),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _dbscan_both_paths(spark, monkeypatch, df, pairs, min_pts):
    assert SIM._plan_is_local_relation(pairs)
    drv = _none_safe_sort(SIM.dbscan(
        df, eps=0.1, min_pts=min_pts, pairs=pairs).collect())
    with monkeypatch.context() as mp:
        mp.setattr(SIM, "_plan_is_local_relation", lambda _df: False)
        dist = _none_safe_sort(SIM.dbscan(
            df, eps=0.1, min_pts=min_pts, pairs=pairs).collect())
    assert drv == dist
    return drv


def test_dbscan_driver_finish_matches_distributed(spark, monkeypatch):
    import pyarrow as pa

    # LocalRelation pairs with duplicate rows, both orientations, a
    # self loop and a null endpoint; df with a duplicate id and ids
    # that appear in no pair
    pairs = spark.createDataFrame(pa.table({
        "a": pa.array([1, 2, 1, 2, 7, 4, 4, 5, None, 9], pa.int64()),
        "b": pa.array([2, 1, 2, 3, 7, 2, 5, 4, 3, 10], pa.int64()),
    }))
    df = spark.createDataFrame(
        [(i, [0.0]) for i in [1, 2, 3, 4, 5, 7, 9, 10, 11, 2]],
        "id long, features array<double>",
    )
    rows = _dbscan_both_paths(spark, monkeypatch, df, pairs, min_pts=3)
    # canonical edges: (1,2),(2,3),(2,4),(4,5),(9,10) — core {2,4},
    # one core component labelled 2; borders 1/3/5 attach to it;
    # 7 (self loop only), 9, 10 (deg-1 pair), 11 (no pair) are noise
    assert rows.count((2, 2, "core")) == 2  # duplicate id replicated
    assert (1, 2, "border") in rows and (5, 2, "border") in rows
    assert (7, -1, "noise") in rows and (9, -1, "noise") in rows


def test_dbscan_driver_finish_border_tie_and_isolated_core(
    spark, monkeypatch,
):
    import pyarrow as pa

    # min_pts=4: 20 and 30 are core in SEPARATE components (no
    # core-core edge, so each keeps its own id — the isolated-core
    # coalesce); 25 borders BOTH and must take the smaller cluster id
    pairs = spark.createDataFrame(pa.table({
        "a": pa.array([20, 20, 20, 30, 30, 30, 25], pa.int64()),
        "b": pa.array([21, 22, 25, 31, 32, 25, 30], pa.int64()),
    }))
    df = spark.createDataFrame(
        [(i, [0.0]) for i in [20, 21, 22, 25, 30, 31, 32]],
        "id long, features array<double>",
    )
    rows = _dbscan_both_paths(spark, monkeypatch, df, pairs, min_pts=4)
    assert (20, 20, "core") in rows and (30, 30, "core") in rows
    assert (25, 20, "border") in rows  # min over adjacent core clusters


def test_dbscan_driver_finish_casts_string_endpoints(spark, monkeypatch):
    import pyarrow as pa

    # string endpoints go through the same Spark long cast on both
    # paths: "01" is the id 1, so ("1", "01") is a self loop, not an
    # edge, and ("02", "3") joins 2 and 3
    pairs = spark.createDataFrame(pa.table({
        "a": pa.array(["1", "1", "02", "2", "5"], pa.string()),
        "b": pa.array(["01", "2", "3", "4", "4"], pa.string()),
    }))
    assert SIM._plan_is_local_relation(pairs)
    df = spark.createDataFrame(
        [(i, [0.0]) for i in [1, 2, 3, 4, 5, 6]],
        "id long, features array<double>",
    )
    drv = _none_safe_sort(SIM.dbscan(
        df, eps=0.1, min_pts=3, pairs=pairs).collect())
    with monkeypatch.context() as mp:
        mp.setattr(SIM, "_DRIVER_LABEL_IDS", 0)
        dist = _none_safe_sort(SIM.dbscan(
            df, eps=0.1, min_pts=3, pairs=pairs).collect())
    assert drv == dist
    # core {2, 4}: 1 and 3 border 2, 5 borders 4 — all in cluster 2
    assert (1, 2, "border") in drv and (5, 2, "border") in drv
    assert (6, -1, "noise") in drv


def test_dbscan_driver_finish_null_id_falls_back(spark, monkeypatch):
    import pyarrow as pa

    # a null doc id keeps the join/window null semantics with Spark:
    # the driver finish must decline (return None) and both invocations
    # run the identical distributed composition
    pairs = spark.createDataFrame(pa.table({
        "a": pa.array([1], pa.int64()), "b": pa.array([2], pa.int64()),
    }))
    df = spark.createDataFrame(
        [(1, [0.0]), (2, [0.0]), (None, [0.0])],
        "id long, features array<double>",
    )
    assert SIM._dbscan_driver_finish(df, pairs, 2, "id") is None
    rows = _dbscan_both_paths(spark, monkeypatch, df, pairs, min_pts=2)
    assert (None, -1, "noise") in rows


def test_single_linkage_threshold_driver_finish_matches_distributed(
    spark, monkeypatch,
):
    import raft_spark.operators.solvers as SV

    pairs = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 3), (50, 60), (4, 4)], "a long, b long")
    df = spark.createDataFrame(
        [(i, [0.0]) for i in [1, 2, 3, 4, 50, 60, 60]],
        "id long, features array<double>",
    )
    drv = sorted(map(tuple, SIM.single_linkage(
        df, distance_threshold=9.9, pairs=pairs).collect()))
    # fully distributed: the edge probe itself declines
    with monkeypatch.context() as mp:
        mp.setattr(SV, "probe_edges_driver",
                   lambda coo, driver_threshold=500_000: None)
        dist = sorted(map(tuple, SIM.single_linkage(
            df, distance_threshold=9.9, pairs=pairs).collect()))
    assert drv == dist
    # duplicate id 60 replicated per occurrence, labelled component min
    assert drv.count((60, 50)) == 2
    # self-pair (4,4) is dropped: 4 is a singleton keeping its own id
    assert (4, 4) in drv and (1, 1) in drv and (3, 1) in drv
