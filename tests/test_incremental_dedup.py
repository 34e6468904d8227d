"""Incremental cross-snapshot dedup (dedup.dedup_state_ingest): the
delta-ingest == from-scratch equality contract, replay safety, the
engine-portable stable term id, and the rolling_auto router gate
assertions (r9)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from raft_spark.operators import dedup as D
from raft_spark.sources.tables import load


def _cluster_map(df):
    return {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in df.collect()
    }


def test_stable_tid_parity_with_duckdb(spark):
    """stable_term_id_expr must equal the documented DuckDB hex fold
    bit-for-bit — that identity is what makes the incremental pipeline
    independently oracle-able."""
    import duckdb

    terms = ["hello", "world", "", "a", "émoji✓", "123", "the quick", "züge"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {
        r["term"]: r["tid"]
        for r in df.select(
            "term", D.stable_term_id_expr("term").alias("tid")
        ).collect()
    }
    con = duckdb.connect()
    sql = """(list_reduce(list_prepend(0::BIGINT,
        list_transform(string_split(substring(md5(term), 1, 15), ''),
            c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),
        (a, b) -> a * 16 + b)) % 2147483647"""
    for t in terms:
        want = con.execute(
            f"SELECT {sql} FROM (SELECT ? AS term)", [t]
        ).fetchone()[0]
        assert got[t] == want, t


def test_incremental_equals_from_scratch(spark, sf_dir, tmp_path):
    """ingest(b2, state(b1)) == one-shot ingest(b1 ∪ b2, fresh state) —
    the cross-snapshot equality the gate row checks against DuckDB."""
    docs = load(spark, "documents", sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    p_inc = str(tmp_path / "inc")
    D.dedup_state_ingest(b1, p_inc)
    inc = _cluster_map(D.dedup_state_ingest(b2, p_inc))

    p_all = str(tmp_path / "scratch")
    scratch = _cluster_map(D.dedup_state_ingest(docs, p_all))

    assert inc == scratch and len(inc) == docs.count()
    # the corpus must actually exercise merges for this to mean much
    assert any(can == 0 for (_, _, can) in inc.values())


def test_no_bucket_straddles_cap_on_gate_split(spark, sf_dir):
    """The equality contract is exact only while no LSH bucket crosses
    the hot-bucket cap BETWEEN snapshots (the docstring's monotone-merge
    caveat): a bucket kept (≤ cap) at batch-1 time but dropped (> cap)
    on the union would leave committed batch-1 merges that from-scratch
    retroactively un-merges. Pin that the gate corpus's even/odd split
    has no such bucket — the gate row's oracle equality is structural,
    not luck. (The corpus DOES have near-cap buckets — 237 at sf0.001 —
    so this is a real check, not slack.)"""
    docs = load(spark, "documents", sf_dir)
    bands = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            D.bands_from_sig(D.minhash_signature_stable("text"))
        ).alias("_b"),
    ).select("doc_id", "_b.band", "_b.bsig")
    occ = bands.groupBy("band", "bsig").agg(
        F.count("*").alias("n_union"),
        F.sum((F.col("doc_id") % 2 == 0).cast("int")).alias("n_b1"),
    )
    cap = D.MAX_BUCKET_DOCS
    straddle = occ.filter(
        (F.col("n_b1") <= cap) & (F.col("n_union") > cap)
    ).count()
    assert straddle == 0


def test_replay_is_noop(spark, sf_dir, tmp_path):
    """Re-ingesting an already-delivered batch (the at-least-once
    foreachBatch recovery case) must leave clusters AND state
    byte-identical."""
    docs = load(spark, "documents", sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    p = str(tmp_path / "state")
    D.dedup_state_ingest(b1, p)
    first = _cluster_map(D.dedup_state_ingest(b2, p))
    n_sigs = spark.read.parquet(p + "/sigs").count()

    replay = _cluster_map(D.dedup_state_ingest(b2, p))
    assert replay == first
    assert spark.read.parquet(p + "/sigs").count() == n_sigs
    # partial-overlap redelivery (half of b2 again + nothing new)
    again = _cluster_map(
        D.dedup_state_ingest(b2.filter(F.col("doc_id") % 4 == 1), p)
    )
    assert again == first


def test_streaming_ingest_matches_batch(spark, sf_dir, tmp_path):
    """Two micro-batches through the foreachBatch twin == the one-shot
    batch ingest of the same corpus."""
    from raft_spark.streaming.incremental import dedup_state_ingest_stream

    docs = load(spark, "documents", sf_dir).select("doc_id", "text")
    # two parquet files → two availableNow micro-batches
    d = tmp_path / "in"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(d / "f1.parquet")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(d / "f2.parquet")
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*/")
    )
    p_stream = str(tmp_path / "stream_state")
    q = dedup_state_ingest_stream(
        stream, p_stream, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    p_batch = str(tmp_path / "batch_state")
    want = _cluster_map(D.dedup_state_ingest(docs, p_batch))
    got = _cluster_map(D.read_dedup_state(spark, p_stream)[1])
    assert got == want


def test_rolling_auto_routes_prefix_on_gate_corpus(spark, sf_dir):
    """The rolling_suite gate member must exercise the router for real:
    on the gate corpus (max key share ~1% < 10%) the probe must pick
    prefix — and a shaped hot-key input must flip it to skew, so the
    assertion means 'the router routed', not 'one branch is dead'."""
    import pyspark.sql.functions as F2

    from raft_spark.operators.temporal import rolling_route

    clicks = load(spark, "events", sf_dir).filter("event_type = 'click'")
    month = 30 * 86_400_000_000
    assert rolling_route(clicks, window_us=month) == "prefix"
    hot = clicks.withColumn("user_id", F2.lit(0).cast("long"))
    assert rolling_route(hot, window_us=month) == "skew"


def _group_map(df):
    return {
        r["id"]: (r["cluster"], r["group"], r["keep"]) for r in df.collect()
    }


def _axis_bucket(df):
    b = None
    for j in range(8):
        bit = (F.col("features")[j] > 0).cast("long") * (2 ** j)
        b = bit if b is None else b + bit
    return df.select("id", b.alias("cluster"))


def test_semantic_incremental_equals_from_scratch(spark, sf_dir, tmp_path):
    """semantic_state_ingest(b2, state(b1)) == semantic_dedup(b1 ∪ b2)
    under the same pure assignment — EXACT, no caveats (no bucket cap
    in the semantic path)."""
    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features") \
        .localCheckpoint(eager=True)
    b1 = m.filter(F.col("id") % 2 == 0)
    b2 = m.filter(F.col("id") % 2 == 1)
    p = str(tmp_path / "sem")
    D.semantic_state_ingest(b1, _axis_bucket(b1), p, tau=0.92)
    inc = _group_map(D.semantic_state_ingest(b2, _axis_bucket(b2), p, tau=0.92))
    want = _group_map(D.semantic_dedup(m, tau=0.92, assignments=_axis_bucket(m)))
    assert inc == want and len(inc) == m.count()


def test_semantic_incremental_replay_noop(spark, sf_dir, tmp_path):
    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features") \
        .localCheckpoint(eager=True)
    b1 = m.filter(F.col("id") % 2 == 0)
    b2 = m.filter(F.col("id") % 2 == 1)
    p = str(tmp_path / "sem")
    D.semantic_state_ingest(b1, _axis_bucket(b1), p)
    first = _group_map(D.semantic_state_ingest(b2, _axis_bucket(b2), p))
    replay = _group_map(D.semantic_state_ingest(b2, _axis_bucket(b2), p))
    assert replay == first
    # state index row count unchanged (one row per corpus vector)
    from raft_spark.operators.dedup import read_semantic_state

    idx, groups = read_semantic_state(spark, p)
    assert idx.count() == m.count() and groups.count() == m.count()


def test_compact_dedup_state_distributed_branch(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """r13: small stores compact via one Arrow collect + driver-side
    file writes; stores over SMALL_STORE_ROWS keep the distributed
    partitionBy write. Every unit test's state is small, so the
    distributed branch would otherwise be unexercised — force it
    through the threshold seam and assert the same content contract
    both branches must meet."""
    from raft_spark.operators import statestore as SS

    docs = load(spark, "documents", sf_dir)
    p = str(tmp_path / "state")
    for k in range(2):
        D.dedup_state_ingest(docs.filter(F.col("doc_id") % 2 == k), p)
    before = {
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.read.parquet(p + "/sigs").collect()
    }
    resolved_before = _cluster_map(D.read_dedup_state(spark, p)[1])
    monkeypatch.setattr(SS, "SMALL_STORE_ROWS", 0)  # force distributed
    n = D.compact_dedup_state(spark, p, partitions=2)
    after = {
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.read.parquet(p + "/sigs").collect()
    }
    assert n == len(before) and after == before
    assert _cluster_map(D.read_dedup_state(spark, p)[1]) == resolved_before
    # AQE flag restored after the thread-pool legs (depth-counted guard)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_compact_dedup_state_preserves_content(spark, sf_dir, tmp_path):
    """Compaction is a pure file-layout rewrite: content identical,
    file count reduced after several delta appends."""
    import glob

    docs = load(spark, "documents", sf_dir)
    p = str(tmp_path / "state")
    for k in range(4):  # 4 deliveries -> 4 append file sets
        D.dedup_state_ingest(docs.filter(F.col("doc_id") % 4 == k), p)
    before = {
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.read.parquet(p + "/sigs").collect()
    }
    # r12 layout: stores live under _dv=<delivery id> partitions
    n_files_before = len(glob.glob(p + "/sigs/_dv=*/_pd=*/*.parquet"))

    from raft_spark.operators.dedup import compact_dedup_state

    n = compact_dedup_state(spark, p, partitions=2)
    after = {
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.read.parquet(p + "/sigs").collect()
    }
    n_files_after = len(glob.glob(p + "/sigs/_dv=*/_pd=*/*.parquet"))
    assert n == len(before) and after == before
    assert n_files_after < n_files_before
    # the compacted state still ingests correctly (replay no-op)
    again = D.dedup_state_ingest(docs.filter(F.col("doc_id") % 4 == 0), p)
    assert again.count() == docs.count()


def test_ivf_pq_index_compact_preserves_codes(spark, sf_dir, tmp_path):
    import glob

    from raft_spark.operators import similarity as SIM
    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features") \
        .localCheckpoint(eager=True)
    idx = SIM.build_ivf_pq_index(m.filter(F.col("id") % 3 == 0),
                                 n_lists=4, kmeans_iters=2)
    idx["codes"] = idx["codes"].localCheckpoint(eager=True)
    p = str(tmp_path / "index")
    SIM.write_ivf_pq_index(idx, p)
    SIM.ivf_pq_index_add(m.filter(F.col("id") % 3 == 1), p)
    SIM.ivf_pq_index_add(m.filter(F.col("id") % 3 == 2), p)
    before = {
        (r["id"], r["list_id"], tuple(r["codes"]))
        for r in spark.read.parquet(p + "/codes").collect()
    }
    files_before = len(glob.glob(p + "/codes/list_id=*/*.parquet"))
    n = SIM.ivf_pq_index_compact(spark, p)
    after = {
        (r["id"], r["list_id"], tuple(r["codes"]))
        for r in spark.read.parquet(p + "/codes").collect()
    }
    files_after = len(glob.glob(p + "/codes/list_id=*/*.parquet"))
    assert n == len(before) and after == before == {
        (r["id"], r["list_id"], tuple(r["codes"]))
        for r in SIM.read_ivf_pq_index(spark, p)["codes"].collect()
    }
    assert files_after < files_before


def test_second_delivery_writes_o_delta(spark, sf_dir, tmp_path):
    """The r10 state layout's contract: a delta ingest APPENDS O(delta)
    rows to every store — the clusters overlay grows by (new docs +
    relabeled old docs), never a corpus rewrite; bands/occ grow by the
    delta's band footprint; sigs by the delta row count."""
    docs = load(spark, "documents", sf_dir)
    p = str(tmp_path / "state")
    D.dedup_state_ingest(docs, p)

    def rows(sub):
        return spark.read.parquet(p + sub).count()

    base = {s: rows(s) for s in ("/sigs", "/bands", "/occ", "/clusters")}
    # 8 brand-new docs with corpus-disjoint vocab => no dup edges,
    # so the overlay append is EXACTLY the 8 new rows
    delta = spark.range(8).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit(f"zzqxv{j}w"), F.col("id").cast("string"))
              for j in range(30)],
        ).alias("text"),
    )
    out = D.dedup_state_ingest(delta, p)
    assert out.count() == docs.count() + 8
    n_bands = D.NUM_PERMS // D.BAND_ROWS
    assert rows("/sigs") == base["/sigs"] + 8
    assert rows("/bands") == base["/bands"] + 8 * n_bands
    assert base["/occ"] < rows("/occ") <= base["/occ"] + 8 * n_bands
    assert rows("/clusters") == base["/clusters"] + 8
    # and a pure replay appends NOTHING anywhere
    D.dedup_state_ingest(delta, p)
    assert rows("/clusters") == base["/clusters"] + 8
    assert rows("/bands") == base["/bands"] + 8 * n_bands


def _span_map(df):
    return {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_frac_ppm"])
        for r in df.collect()
    }


def test_span_state_ingest_equals_from_scratch(spark, sf_dir, tmp_path):
    """span_state_ingest(b2, state(b1)) == duplicated_spans(b1 ∪ b2) —
    EXACT (window hashes are content-derived, the >= min_count decision
    is made on additive global counts; includes retro-flagging of OLD
    windows a new delivery pushes over the bar)."""
    docs = load(spark, "documents", sf_dir).select("doc_id", "text") \
        .localCheckpoint(eager=True)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    p = str(tmp_path / "span")
    D.span_state_ingest(b1, p)
    inc = _span_map(D.span_state_ingest(b2, p))
    want = _span_map(D.duplicated_spans(docs))
    assert inc == want and len(inc) == docs.count()
    # the corpus must actually contain duplicated spans for this to bite
    assert any(d > 0 for (_, d, _) in inc.values())
    # and the split must exercise the retro path: some doc in b1 gains
    # dup coverage only through b2 (checked against b1-only state)
    only_b1 = _span_map(D.duplicated_spans(b1))
    grew = [k for k in only_b1
            if k in want and want[k][1] > only_b1[k][1]]
    assert grew, "even/odd split produced no cross-snapshot span dup"


def test_span_state_replay_and_odelta(spark, sf_dir, tmp_path):
    """Replay is a no-op at every store; a unique-doc delta appends
    exactly its own rows."""
    docs = load(spark, "documents", sf_dir).select("doc_id", "text")
    p = str(tmp_path / "span")
    D.span_state_ingest(docs, p)

    def rows(sub):
        return spark.read.parquet(p + sub).count()

    base = {s: rows(s) for s in ("/tokens", "/spans", "/hcounts", "/flags")}
    first = _span_map(D.read_span_state(spark, p))
    replay = _span_map(D.span_state_ingest(docs.limit(50), p))
    assert replay == first
    assert {s: rows(s) for s in base} == base
    # 4 new docs: two sharing one 8-token span (within-delta dup), two
    # with corpus-disjoint vocab
    mk = lambda words: " ".join(words)
    shared = mk([f"qqz{j}" for j in range(8)])
    delta = spark.createDataFrame(
        [(9_000_001, shared + " aq1 bq2"),
         (9_000_002, "cq3 " + shared),
         (9_000_003, mk([f"rrx{j}" for j in range(10)])),
         (9_000_004, mk([f"ssy{j}" for j in range(10)]))],
        "doc_id long, text string",
    )
    out = _span_map(D.span_state_ingest(delta, p))
    assert rows("/tokens") == base["/tokens"] + 4
    assert out[9_000_001][1] == 8 and out[9_000_002][1] == 8
    assert out[9_000_003][1] == 0 and out[9_000_004][1] == 0
    # old docs untouched by the unique delta
    assert all(out[k] == first[k] for k in first)
    with pytest.raises(ValueError, match="was built with"):
        D.span_state_ingest(delta, p, n=4)


def test_span_state_stream_matches_batch(spark, sf_dir, tmp_path):
    from raft_spark.streaming.incremental import span_state_ingest_stream

    docs = load(spark, "documents", sf_dir).select("doc_id", "text")
    d = tmp_path / "in"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(d / "f1.parquet"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(d / "f2.parquet"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(str(d) + "/*/")
    )
    p = str(tmp_path / "sstate")
    q = span_state_ingest_stream(stream, p, checkpoint=str(tmp_path / "ck"))
    q.awaitTermination()
    got = _span_map(D.read_span_state(spark, p))
    want = _span_map(D.duplicated_spans(docs))
    assert got == want


def test_dedup_state_meta_guard_raises_on_mismatch(spark, sf_dir, tmp_path):
    """r11: num_perms/band_rows/max_bucket_docs are FORMAT parameters —
    a re-ingest under different values must raise (a mismatched
    num_perms would null-pad the zip_with est-Jaccard and silently
    under-merge), and a matching re-ingest must still work."""
    docs = load(spark, "documents", sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    p = str(tmp_path / "state")
    D.dedup_state_ingest(b1, p)
    with pytest.raises(ValueError, match="format parameters"):
        D.dedup_state_ingest(docs, p, num_perms=8)
    with pytest.raises(ValueError, match="format parameters"):
        D.dedup_state_ingest(docs, p, band_rows=2)
    with pytest.raises(ValueError, match="format parameters"):
        D.dedup_state_ingest(docs, p, max_bucket_docs=9)
    # matching params: the second delivery still lands
    out = _cluster_map(
        D.dedup_state_ingest(docs.filter(F.col("doc_id") % 2 == 1), p)
    )
    assert len(out) == docs.count()


def test_semantic_state_meta_guard_raises_on_mismatch(spark, sf_dir, tmp_path):
    """r11: tau/scale are FORMAT parameters of the semantic state."""
    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features") \
        .localCheckpoint(eager=True)
    b1 = m.filter(F.col("id") % 2 == 0)
    p = str(tmp_path / "sem")
    D.semantic_state_ingest(b1, _axis_bucket(b1), p)
    with pytest.raises(ValueError, match="format parameters"):
        D.semantic_state_ingest(m, _axis_bucket(m), p, tau=0.8)
    with pytest.raises(ValueError, match="format parameters"):
        D.semantic_state_ingest(m, _axis_bucket(m), p, scale=1e5)
    out = D.semantic_state_ingest(
        m.filter(F.col("id") % 2 == 1),
        _axis_bucket(m.filter(F.col("id") % 2 == 1)), p,
    )
    assert out.count() == m.count()


def test_pre_r11_dedup_state_migrates_in_place(spark, sf_dir, tmp_path):
    """A legacy state (unbucketed sigs; bands/occ/meta absent — the
    pre-r10 layout the r10 verdict flagged as a silent mis-ingest) must
    be upgraded once on the next ingest, after which the delta-vs-
    from-scratch equality holds as if the state were current."""
    import shutil

    docs = load(spark, "documents", sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    p = str(tmp_path / "state")
    D.dedup_state_ingest(b1, p)
    # degrade to the legacy layout: flat sigs, no bands/occ/meta
    legacy = spark.read.parquet(p + "/sigs").select("doc_id", "sig") \
        .localCheckpoint(eager=True)
    for sub in ("/sigs", "/bands", "/occ", "/meta"):
        shutil.rmtree(p + sub)
    legacy.write.parquet(p + "/sigs")

    inc = _cluster_map(D.dedup_state_ingest(b2, p))
    scratch = _cluster_map(
        D.dedup_state_ingest(docs, str(tmp_path / "scratch"))
    )
    assert inc == scratch
    # the migration rebucketed sigs and backfilled bands/occ/meta
    assert spark.read.parquet(p + "/bands").count() > 0
    assert spark.read.parquet(p + "/occ").count() > 0
    assert "_pd" in spark.read.parquet(p + "/sigs").columns
    # and a WRONG num_perms against the legacy store raises (validated
    # from the stored signature width, not just meta)
    legacy2 = spark.read.parquet(p + "/sigs").select("doc_id", "sig") \
        .localCheckpoint(eager=True)
    p2 = str(tmp_path / "legacy2")
    legacy2.write.parquet(p2 + "/sigs")
    with pytest.raises(ValueError, match="signatures"):
        D.dedup_state_ingest(b2, p2, num_perms=8)


def test_pre_r11_span_hcounts_migrates_in_place(spark, sf_dir, tmp_path):
    """A legacy span state (flat hcounts) is rebucketed by _ph once on
    the next ingest; the from-scratch equality still holds."""
    import shutil

    docs = load(spark, "documents", sf_dir).select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    p = str(tmp_path / "span")
    D.span_state_ingest(b1, p)
    flat = spark.read.parquet(p + "/hcounts").select("h", "c") \
        .localCheckpoint(eager=True)
    shutil.rmtree(p + "/hcounts")
    flat.write.parquet(p + "/hcounts")

    got = _span_map(D.span_state_ingest(b2, p))
    want = _span_map(D.duplicated_spans(docs))
    assert got == want
    assert "_ph" in spark.read.parquet(p + "/hcounts").columns


def test_compact_semantic_state_preserves_resolution(spark, sf_dir, tmp_path):
    """r11: semantic-state compaction is a pure layout rewrite — the
    resolved groups and a post-compaction delta ingest are unchanged."""
    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features") \
        .localCheckpoint(eager=True)
    b1 = m.filter(F.col("id") % 3 == 0)
    b2 = m.filter(F.col("id") % 3 == 1)
    b3 = m.filter(F.col("id") % 3 == 2)
    p = str(tmp_path / "sem")
    D.semantic_state_ingest(b1, _axis_bucket(b1), p)
    before = _group_map(D.semantic_state_ingest(b2, _axis_bucket(b2), p))
    n_idx = spark.read.parquet(p + "/index").count()

    n = D.compact_semantic_state(spark, p)
    assert n == n_idx
    from raft_spark.operators.dedup import read_semantic_state

    _, groups = read_semantic_state(spark, p)
    assert _group_map(groups) == before
    # post-compaction delta ingest == from-scratch over the union
    got = _group_map(D.semantic_state_ingest(b3, _axis_bucket(b3), p))
    want = _group_map(D.semantic_dedup(m, assignments=_axis_bucket(m)))
    assert got == want


def test_compact_span_state_preserves_resolution(spark, sf_dir, tmp_path):
    """r11: span-state compaction (tokens/spans/hcounts-rollup/flags-
    distinct) preserves the resolved table and later ingests."""
    import glob

    docs = load(spark, "documents", sf_dir).select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    b2 = docs.filter(F.col("doc_id") % 3 == 1)
    b3 = docs.filter(F.col("doc_id") % 3 == 2)
    p = str(tmp_path / "span")
    D.span_state_ingest(b1, p)
    D.span_state_ingest(b2, p)
    before = _span_map(D.read_span_state(spark, p))
    # r12 layout: stores live under _dv=<delivery id> partitions
    files_before = len(glob.glob(p + "/hcounts/_dv=*/_ph=*/*.parquet"))

    D.compact_span_state(spark, p)
    after = _span_map(D.read_span_state(spark, p))
    files_after = len(glob.glob(p + "/hcounts/_dv=*/_ph=*/*.parquet"))
    assert after == before
    assert files_after < files_before
    # additive sums unchanged -> a later delta decides >= min_count
    # identically: the post-compaction ingest equals from-scratch
    got = _span_map(D.span_state_ingest(b3, p))
    want = _span_map(D.duplicated_spans(docs))
    assert got == want


def _delta_parity(monkeypatch, ingest, batches, path):
    """``return_full=False`` outputs of the driver and the
    forced-distributed ingest of ``batches`` (bootstrap, merge, replay)
    into fresh states: one (schema, sorted rows) pair per delivery and
    path. Both paths must agree delivery by delivery, and every delivery
    must return the same schema (a replay included)."""
    def _run(p):
        out = []
        for b in batches:
            df = ingest(b, p, return_full=False)
            out.append((df.schema.simpleString(),
                        sorted(map(tuple, df.collect()))))
        return out

    drv = _run(path + "_driver_delta")
    monkeypatch.setattr(D, "DRIVER_DELTA_DOCS", 0)
    dist = _run(path + "_dist_delta")
    monkeypatch.undo()
    assert drv == dist
    assert len({schema for schema, _ in drv + dist}) == 1, drv + dist
    assert drv[-1][1] == []  # the replay delivers nothing


def test_driver_ingest_matches_distributed_stores(spark, sf_dir, tmp_path,
                                                  monkeypatch):
    """r13: the driver-rendered small-delta ingest must leave the state
    ROW-IDENTICAL to the distributed path — same store rows (all four
    stores, as multisets), same resolved cluster table — across a
    bootstrap delivery, a merging second delivery (old components get
    relabeled), and a replay."""
    docs = load(spark, "documents", sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    def _ingest_all(path):
        D.dedup_state_ingest(b1, path)
        out = D.dedup_state_ingest(b2, path)
        replay = D.dedup_state_ingest(b2, path)  # must be a no-op
        return out, replay

    p_drv = str(tmp_path / "driver")
    out_d, replay_d = _ingest_all(p_drv)

    # force the distributed path (cap 0 -> every nonempty delta falls back)
    monkeypatch.setattr(D, "DRIVER_DELTA_DOCS", 0)
    p_dist = str(tmp_path / "dist")
    out_s, replay_s = _ingest_all(p_dist)
    monkeypatch.undo()

    assert _cluster_map(out_d) == _cluster_map(out_s)
    assert _cluster_map(replay_d) == _cluster_map(replay_s)

    # store-level parity: every store's visible rows identical (the
    # delivery ids differ by construction; compare data columns only)
    from collections import Counter

    for store, cols in (
        ("sigs", ["doc_id", "sig"]),
        ("bands", ["band", "bsig", "doc_id"]),
        ("occ", ["band", "bsig", "n"]),
        ("clusters", ["doc_id", "cluster_id"]),
    ):
        rows = []
        for p in (p_drv, p_dist):
            df = spark.read.parquet(p + "/" + store).select(*cols)
            rows.append(Counter(
                tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in df.collect()
            ))
        assert rows[0] == rows[1], store

    _delta_parity(monkeypatch, D.dedup_state_ingest, [b1, b2, b2],
                  str(tmp_path / "d"))


def test_semantic_driver_ingest_matches_distributed(spark, sf_dir, tmp_path,
                                                    monkeypatch):
    """r13: the driver-rendered semantic ingest must leave the state
    row-identical to the distributed path (all three stores + resolve),
    across bootstrap, a merging second delivery, and replay."""
    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features") \
        .localCheckpoint(eager=True)
    b1 = m.filter(F.col("id") % 2 == 0)
    b2 = m.filter(F.col("id") % 2 == 1)

    def _ingest_all(path):
        D.semantic_state_ingest(b1, _axis_bucket(b1), path, tau=0.8)
        out = D.semantic_state_ingest(b2, _axis_bucket(b2), path, tau=0.8)
        replay = D.semantic_state_ingest(b2, _axis_bucket(b2), path, tau=0.8)
        return out, replay

    p_drv = str(tmp_path / "driver")
    out_d, replay_d = _ingest_all(p_drv)

    # force the distributed path (cap 0 -> every nonempty delta falls back)
    monkeypatch.setattr(D, "DRIVER_DELTA_DOCS", 0)
    p_dist = str(tmp_path / "dist")
    out_s, replay_s = _ingest_all(p_dist)
    monkeypatch.undo()

    assert _group_map(out_d) == _group_map(out_s)
    assert _group_map(replay_d) == _group_map(replay_s)

    # store-level parity: visible data rows identical (delivery ids
    # differ by construction; compare data columns only)
    from collections import Counter

    for store, cols in (
        ("index", ["cand_id", "_qc", "_nc"]),
        ("ids", ["id"]),
        ("groups", ["id", "cluster", "group"]),
    ):
        rows = []
        for p in (p_drv, p_dist):
            df = spark.read.parquet(p + "/" + store).select(*cols)
            rows.append(Counter(
                tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in df.collect()
            ))
        assert rows[0] == rows[1], store

    _delta_parity(
        monkeypatch,
        lambda b, p, **kw: D.semantic_state_ingest(
            b, _axis_bucket(b), p, tau=0.8, **kw),
        [b1, b2, b2], str(tmp_path / "s"),
    )


def test_span_driver_ingest_matches_distributed(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """r13: the driver-rendered span ingest must leave the state
    row-identical to the distributed path (all four stores + resolve),
    across bootstrap, a crossing second delivery (retro-flags fire),
    and replay."""
    docs = load(spark, "documents", sf_dir).select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    def _ingest_all(path):
        D.span_state_ingest(b1, path)
        out = D.span_state_ingest(b2, path)
        replay = D.span_state_ingest(b2, path)
        return out, replay

    def _smap(df):
        return {r["doc_id"]: (r["n_tokens"], r["dup_tokens"],
                              r["dup_frac_ppm"]) for r in df.collect()}

    p_drv = str(tmp_path / "driver")
    out_d, replay_d = _ingest_all(p_drv)

    monkeypatch.setattr(D, "DRIVER_DELTA_DOCS", 0)
    p_dist = str(tmp_path / "dist")
    out_s, replay_s = _ingest_all(p_dist)
    monkeypatch.undo()

    assert _smap(out_d) == _smap(out_s)
    assert _smap(replay_d) == _smap(replay_s)
    # the incremental answer equals from-scratch duplicated_spans
    assert _smap(out_d) == _smap(D.duplicated_spans(docs))

    from collections import Counter

    for store, cols in (
        ("tokens", ["doc_id", "n_tokens"]),
        ("spans", ["h", "doc_id", "start"]),
        ("hcounts", ["h", "c"]),
        ("flags", ["doc_id", "start"]),
    ):
        rows = []
        for p in (p_drv, p_dist):
            df = spark.read.parquet(p + "/" + store).select(*cols)
            rows.append(Counter(tuple(r) for r in df.collect()))
        assert rows[0] == rows[1], store

    _delta_parity(monkeypatch, D.span_state_ingest, [b1, b2, b2],
                  str(tmp_path / "p"))


def test_semantic_driver_ingest_null_cluster_falls_back(spark, sf_dir,
                                                        tmp_path):
    """ADVICE r13 (medium): an assignment row that EXISTS but carries a
    NULL cluster must route the delivery to the distributed path (the
    INNER join keeps such rows there) — the driver rendering previously
    dropped them as 'unassigned', silently diverging and re-processing
    those docs every delivery. Parity check: state after a null-cluster
    delivery equals the forced-distributed state."""
    from collections import Counter

    from raft_spark.sources.tables import embeddings_matrix

    m = embeddings_matrix(spark, sf_dir).select("id", "features") \
        .filter(F.col("id") < 40).localCheckpoint(eager=True)
    asg = _axis_bucket(m).select(
        "id",
        F.when(F.col("id") % 7 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("cluster")).alias("cluster"),
    )

    p_drv = str(tmp_path / "drv")
    out_d = D.semantic_state_ingest(m, asg, p_drv, tau=0.8)
    import raft_spark.operators.dedup as DD
    prev = DD.DRIVER_DELTA_DOCS
    DD.DRIVER_DELTA_DOCS = 0  # force distributed
    try:
        p_dist = str(tmp_path / "dist")
        out_s = D.semantic_state_ingest(m, asg, p_dist, tau=0.8)
    finally:
        DD.DRIVER_DELTA_DOCS = prev
    assert _group_map(out_d) == _group_map(out_s)
    for store, cols in (
        ("index", ["cand_id", "_qc", "_nc"]),
        ("ids", ["id"]),
        ("groups", ["id", "cluster", "group"]),
    ):
        rows = []
        for p in (p_drv, p_dist):
            df = spark.read.parquet(p + "/" + store).select(*cols)
            rows.append(Counter(
                tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in df.collect()
            ))
        assert rows[0] == rows[1], store
