"""Batched/grouped top-k selection — the Spark ``select_k``.

Reference: ``cpp/include/raft/matrix/select_k.cuh:75`` (batched top-k of
values + payload indices per row; radix "Air Top-k" & warp-sort
physical variants, ``matrix/detail/select_radix.cuh``,
``select_warpsort.cuh``; auto heuristic ``select_k_types.hpp:28-69``).

Spark re-derivation (SURVEY.md §4 item 1 — the one place the default
physical plan is meaningfully worse than the reference's algorithm):

- ``window``  : row_number over (group, order) then filter ≤ k.
  One shuffle + full sort of every group. Fine when groups are small
  or k is a large fraction of the group.
- ``agg``     : groupBy(group).agg(slice(array_sort(collect_list(
  struct(...))), k)). Partial aggregation merges map-side, but the
  collected list is unbounded per group → memory risk on huge groups.
- ``partial`` (``salted`` is an alias for backward compat): two-phase
  partial top-k mirroring RAFT's per-block-then-merge design. Phase 1
  runs INSIDE each input partition (mapInPandas, zero shuffle): a
  running per-group top-k is folded over the Arrow batches, so task
  state is O(groups-present × k) rows — never O(|group|), no matter
  how skewed the group is (the round-2 salted variant's (group,salt)
  collect_list still buffered |group|/salts rows and could OOM one
  agg buffer on a hot key). Phase 2 merges the ≤ partitions·k
  survivors per group with one bounded groupBy. Shuffle volume after
  phase 1 is ≤ groups × partitions-holding-that-group × k rows. This
  is the select_radix.cuh per-block bounded state, re-expressed.
- ``jvm`` (default for small k since r4): a single
  ``row_number() OVER (PARTITION BY group ORDER BY …) ≤ k`` window
  whose rank filter triggers Spark's WindowGroupLimit rewrite
  (SPARK-37099): Partial WindowGroupLimit runs MAP-SIDE — each task
  keeps ≤ k rows per group before the shuffle, the select_radix.cuh
  per-block bounded state natively in Tungsten — then ONE exchange
  carries only the ≤ tasks·k survivors per group into the Final
  limit. Same shuffle volume as ``partial`` with zero Python/Arrow
  crossings of the scan; NaN ranks last in both directions (the
  ordering key is val | -val, matching the struct-merge strategies).
- ``auto``    : jvm when k ≤ 256 (same small-k regime the radix
  kernel targets), else window.

NaN order values rank last under every strategy except ``window``
descending (Spark's sort treats NaN as the largest double).

All variants break ties deterministically by payload id ascending so
results are reproducible across partitionings (RAFT's radix select is
also stable on index).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order_struct(order_col: str, payload_cols: list[str], ascending: bool) -> Column:
    """Struct whose natural ordering = (order asc|desc, payload asc)."""
    val = F.col(order_col)
    key = val if ascending else -val
    return F.struct(
        key.alias("_k"),
        *[F.col(c).alias(c) for c in payload_cols],
        val.alias(order_col),
    )


def select_k(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    ascending: bool = False,
    payload_cols: list[str] | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Top-k rows per group → (group_cols…, payload_cols…, order_col, rank).

    rank is 1-based within the group. Ties broken by payload ascending.
    """
    payload_cols = payload_cols or []
    if strategy == "auto":
        strategy = "jvm" if k <= 256 else "window"
    if strategy == "salted":  # pre-r3 name for the bounded two-phase path
        strategy = "partial"

    if strategy == "window":
        w = Window.partitionBy(*group_cols).orderBy(
            F.col(order_col).asc() if ascending else F.col(order_col).desc(),
            *[F.col(c).asc() for c in payload_cols],
        )
        return (
            df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(*group_cols, *payload_cols, order_col, "rank")
        )

    s = _order_struct(order_col, payload_cols, ascending)

    if strategy == "agg":
        topk = df.groupBy(*group_cols).agg(
            F.slice(F.array_sort(F.collect_list(s)), 1, k).alias("_top")
        )
    elif strategy == "partial":
        # Phase 1: bounded per-partition partial top-k, ZERO shuffle.
        # Fold a running ≤k-rows-per-group state over the Arrow batches
        # of each input partition — task memory is O(groups-present·k),
        # never O(|group|) (select_radix.cuh's per-block bounded state).
        import pandas as pd

        cols = [*group_cols, *payload_cols, order_col]
        proj = df.select(*cols)
        schema = proj.schema
        sort_cols = [*group_cols, order_col, *payload_cols]
        sort_asc = (
            [True] * len(group_cols) + [ascending] + [True] * len(payload_cols)
        )
        gcols = list(group_cols)

        def _pp(batches):
            state = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                cur = pdf if state is None else pd.concat(
                    [state, pdf], ignore_index=True
                )
                cur = cur.sort_values(sort_cols, ascending=sort_asc, kind="mergesort")
                state = cur.groupby(gcols, sort=False).head(k)
            if state is not None and len(state):
                yield state

        partial = proj.mapInPandas(_pp, schema=schema)
        # Phase 2: merge the ≤ partitions·k survivors per group — the
        # collect_list here is bounded by construction.
        topk = partial.groupBy(*group_cols).agg(
            F.slice(F.array_sort(F.collect_list(s)), 1, k).alias("_top")
        )
    elif strategy == "jvm":
        # Single window whose ``row_number() ≤ k`` filter triggers
        # Spark's WindowGroupLimit rewrite (SPARK-37099): the physical
        # plan is Partial WindowGroupLimit (map-side, each task keeps
        # ≤ k rows per group — the select_radix.cuh per-block bounded
        # state, natively in Tungsten) → ONE exchange carrying only the
        # ≤ tasks·k survivors per group → Final WindowGroupLimit +
        # Window over those survivors. Entirely whole-stage-codegen /
        # Tungsten-sort; zero Python crossings; shuffle volume equal to
        # the pandas two-phase path without its full-scan Arrow tax.
        # Ordering uses the same (val | -val) key as the struct merge
        # so NaN ranks last in BOTH directions (−NaN is still NaN,
        # Spark's largest double), matching ``partial``/``agg``.
        key1 = F.col(order_col) if ascending else -F.col(order_col)
        w1 = Window.partitionBy(*group_cols).orderBy(
            key1.asc(), *[F.col(c).asc() for c in payload_cols]
        )
        return (
            df.select(*group_cols, *payload_cols, order_col)
            .withColumn("rank", F.row_number().over(w1))
            .filter(F.col("rank") <= k)
            .select(*group_cols, *payload_cols, order_col, "rank")
        )
    else:
        raise ValueError(f"unknown strategy: {strategy}")

    out = topk.select(
        *group_cols, F.posexplode("_top").alias("_pos", "_s")
    )
    return out.select(
        *group_cols,
        *[F.col(f"_s.{c}").alias(c) for c in payload_cols],
        F.col(f"_s.{order_col}").alias(order_col),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


def select_k_dense(
    df: DataFrame,
    features_col: str = "features",
    id_col: str = "id",
    k: int = 5,
    ascending: bool = False,
) -> DataFrame:
    """Dense-input select_k: per row, top-k (value, col-index) pairs from
    the array column — the literal ``matrix::select_k`` shape. Pure
    per-row expression (no shuffle): sort the zipped (value, idx)
    structs inside the row and slice k.
    """
    zipped = F.arrays_zip(
        F.col(features_col).alias("v"),
        F.sequence(F.lit(0), F.size(features_col) - 1).alias("i"),
    )
    key = F.array_sort(
        F.transform(
            zipped,
            lambda e: F.struct(
                (e["v"] if ascending else -e["v"]).alias("_k"),
                e["i"].alias("idx"),
                e["v"].alias("value"),
            ),
        )
    )
    top = F.slice(key, 1, k)
    out = df.select(id_col, F.posexplode(top).alias("_pos", "_s"))
    return out.select(
        id_col,
        F.col("_s.idx").cast("int").alias("idx"),
        F.col("_s.value").cast("double").alias("value"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )
