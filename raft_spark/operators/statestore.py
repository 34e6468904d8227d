"""Delivery-manifest commit protocol for the persisted-state ingests.

Every incremental state in this repo (MinHash dedup / semantic dedup /
span dedup / postings index) is a set of APPEND-ONLY parquet stores that
one delivery must extend as a unit. Parquet appends are not atomic
across stores: a crash between two store appends used to leave a
delivery half-written, and — because the replay guard registry was one
of those stores — redelivery would anti-join the batch out as
already-seen and permanently drop the missing rows (the r11 "honest
contract" docstrings).

This module closes that gap with the manifest-commit discipline the
reference ecosystem's persisted indexes assume from their filesystem
(cuVS serialized indexes are single-writer snapshot files; a Spark
multi-store state needs an explicit commit point instead):

- every store append is tagged with a fresh random 60-bit DELIVERY ID
  and written under a ``_dv=<id>`` partition directory (an extra
  top-level partition column, so visibility filtering is a PARTITION
  filter — uncommitted directories are pruned at file-listing time,
  never row-filtered);
- after ALL of a delivery's store appends succeed, the id is PUBLISHED
  with one tiny append to the state's ``commits`` ledger — the single
  commit point;
- every reader (ingest probes, replay anti-joins, resolvers, public
  read_* functions, compactors) restricts each store scan to
  ``_dv IN (committed ids)``.

A crash at ANY point now leaves a consistent state: rows of an
unpublished delivery are invisible to every reader, and — because the
replay anti-join only sees committed registry rows — redelivering the
same batch re-ingests it in full under a NEW delivery id. The orphaned
``_dv`` directories are garbage, not corruption; the state's compactor
drops them (it rewrites only committed rows, collapsed back to
``_dv=0``, and resets the ledger to ``[0]``).

The ledger IN-list grows by one value per delivery between compactions,
so its size is bounded by the maintenance cadence — the same assumption
the small-file story already makes.

Legacy states (pre-r12: no ledger) are adopted in O(1): each existing
store directory is RENAMED into a ``_dv=0`` wrapper (two directory
renames per store, no data rewrite) and a ``[0]`` ledger is written.
The rename sequence is crash-recoverable via a ``.__mig`` marker
directory: re-running adoption completes an interrupted wrap.

All directory swaps here use os.rename, which is atomic on a local
POSIX filesystem. On an object store (S3/GCS) rename is not atomic —
park the state on a transactional table format there; this module is
the local-filesystem rendering of that discipline.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "new_delivery_id",
    "committed_ids",
    "visible",
    "publish_commit",
    "reset_ledger",
    "append_store",
    "adopt_commit_ledger",
    "swap_in",
    "read_meta",
    "write_meta",
    "collect_capped",
    "collect_capped_rows",
    "driver_state_gate",
    "replay_keep",
    "commit_delivery",
    "compact_leg",
    "read_store_columns",
]


def new_delivery_id() -> int:
    """Fresh random 60-bit delivery id. Randomness (not a counter) is
    what makes the protocol crash-safe: a counter re-derived from the
    ledger could collide with an UNPUBLISHED crashed delivery's id and
    make its orphaned rows visible the moment the retry commits."""
    dv = 0
    while dv == 0:  # 0 is the reserved base/compacted delivery
        dv = int(uuid.uuid4().hex[:15], 16)
    return dv


def _try_parquet(spark, path: str, schema: str | None = None) -> DataFrame | None:
    """Read a store, or None when it has never been written. Pass the
    store's known ``schema`` (data columns first, partition columns
    last) wherever the layout is guaranteed — Spark otherwise schedules
    a one-task schema-inference job per read, a pure fixed tax on every
    ingest/lookup (measured: 1 job -> 0). Callers that may face a
    LEGACY store (pre-bucketing layouts whose migration is detected by
    column absence) must NOT pass a schema: an explicit schema
    fabricates the missing columns as nulls and hides the migration
    trigger."""
    from pyspark.errors import AnalysisException

    try:
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        df = r.parquet(path)
        if schema is not None:
            df.schema  # force file-listing errors out of the lazy path
        return df
    except AnalysisException:
        return None


def read_table_rows(path: str) -> list[dict]:
    """Driver-side read of a SMALL Spark-written parquet directory as a
    list of dicts (pyarrow dataset; ``_SUCCESS``/dot files are ignored
    by the default prefix rules). For metadata-sized sidecar tables
    only — replaces a schema-inference job + a collect job with zero
    scheduled jobs."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


class _no_aqe:
    """Temporarily disable AQE on the session (restored on exit).

    Delta-bounded probe sections pay one scheduled job per AQE stage
    materialization: a 3-shuffle probe over a few-KB delta costs 4-5
    jobs under AQE vs 1 without, and at the small-delivery sizes these
    sections are gated on (measured n_delta, not local mode) none of
    AQE's services apply — coalescing targets are already single-digit
    KB, the joins are explicitly broadcast-hinted, and there is nothing
    to skew-split. Corpus-scale sections (resolves, compactions, large
    deliveries) keep AQE. Session-wide runtime conf: safe because the
    ingests are single-threaded per state (the documented single-writer
    contract) and restored in ``finally`` even on error.

    Depth-counted and lock-guarded so CONCURRENT sections compose (the
    compactors run their store legs on a thread pool, each collecting
    via Arrow under this guard): the first entry records the session
    flag and turns it off, the last exit restores it — a naive
    per-instance save/restore would race between threads and could
    leave the session with AQE off permanently.

    CONTRACT (session-global conf): any UNRELATED query PLANNED
    concurrently on the same session while a probe window is open
    compiles with AQE off (correct, just unoptimized). This widens the
    documented single-writer-per-state contract to single-PLANNER-per-
    session during probe windows; the gate and bench drivers are
    sequential, and the compactor pool only plans store legs that are
    themselves under this guard. Scope it via a cloned session if a
    future caller needs concurrent planning.

    ``limit_rows``: for the big ``limit(T+1).collect()`` strategy
    probes. The session sets ``spark.sql.limit.initialNumPartitions``
    to the shuffle-partition count so a probe is ONE job — but
    CollectLimit's first pass can ship up to (partitions × T) rows to
    the driver before take() truncates, which at cluster scale (e.g.
    2000 partitions × a 500k-edge probe) is a driver-memory hazard.
    Passing the probe's row limit caps the first-pass partition count
    at max(32, PROBE_ROW_BUDGET // T): worst-case transient driver
    rows are bounded by max(32·T, PROBE_ROW_BUDGET) regardless of
    session size, while any session whose initial count is already
    below the cap (local[32] at every T used here) is untouched — the
    one-job behavior at sf scale is preserved. Oversized-but-under-
    threshold inputs on a capped cluster session pay the default ×4
    escalation passes instead, each bounded by the same budget.
    Nested capped sections compose: the tightest open cap is in force
    (an inner probe with a larger ``limit_rows`` lowers the count while
    it is open), and the outer value comes back when it closes."""

    _lock = threading.Lock()
    _depth = 0
    _outer_prev = "true"
    _lim_caps: list[int] = []  # caps of the open limit_rows sections
    _lim_prev: str | None = None  # the session's own value
    _lim_cur: str | None = None  # the value currently set

    PROBE_ROW_BUDGET = 20_000_000
    _LIMIT_CONF = "spark.sql.limit.initialNumPartitions"

    def __init__(self, spark, enabled: bool = True,
                 limit_rows: int | None = None):
        self.spark, self.enabled = spark, enabled
        self.limit_rows = limit_rows

    def __enter__(self):
        cls = type(self)
        if self.enabled:
            with cls._lock:
                if cls._depth == 0:
                    cls._outer_prev = self.spark.conf.get(
                        "spark.sql.adaptive.enabled", "true")
                    self.spark.conf.set("spark.sql.adaptive.enabled",
                                        "false")
                cls._depth += 1
        if self.limit_rows:
            self._cap = max(32, cls.PROBE_ROW_BUDGET // self.limit_rows)
            with cls._lock:
                if not cls._lim_caps:
                    cls._lim_prev = cls._lim_cur = self.spark.conf.get(
                        cls._LIMIT_CONF, None)
                cls._lim_caps.append(self._cap)
                cls._apply_limit(self.spark)
        return self

    def __exit__(self, *exc):
        cls = type(self)
        if self.enabled:
            with cls._lock:
                cls._depth -= 1
                if cls._depth == 0:
                    self.spark.conf.set("spark.sql.adaptive.enabled",
                                        cls._outer_prev)
        if self.limit_rows:
            with cls._lock:
                cls._lim_caps.remove(self._cap)
                cls._apply_limit(self.spark)
        return False

    @classmethod
    def _apply_limit(cls, spark) -> None:
        """Set the first-pass partition count to the tightest open cap,
        or back to the session's own value when none is open (a session
        already below every cap is never written). Called under
        ``_lock``."""
        want = cls._lim_prev
        if want is not None and cls._lim_caps:
            want = str(min([int(want)] + cls._lim_caps))
        if want != cls._lim_cur:
            spark.conf.set(cls._LIMIT_CONF, want)
            cls._lim_cur = want


def _collect_capped(df: DataFrame, cap: int, action):
    with _no_aqe(df.sparkSession, limit_rows=cap):
        out = action(df.limit(cap + 1))
    return None if len(out) > cap else out


def collect_capped(df: DataFrame, cap: int):
    """THE driver-strategy probe: ONE ``limit(cap+1)`` Arrow collect
    under :class:`_no_aqe` (one job, first pass bounded by
    ``limit_rows=cap``). Returns the pyarrow Table when the frame has at
    most ``cap`` rows — the rows ARE the frame, ready for the driver
    rendering — or None when it overflows (the caller takes its
    distributed path; the probe cost is O(cap)). Caps are measured row
    counts held as module constants at each call site and passed at
    call time."""
    return _collect_capped(df, cap, lambda d: d.toArrow())


def collect_capped_rows(df: DataFrame, cap: int):
    """:func:`collect_capped` returning a list of Rows. Keep Row sites
    on this form: under ``_no_aqe`` a capped ``collect()`` is one job of
    two stages, while ``toArrow()`` adds CollectLimit's single-partition
    exchange stage."""
    return _collect_capped(df, cap, lambda d: d.collect())


def store_exists(store: str) -> bool:
    """Driver-side check that a store has ever been written (holds at
    least one visible parquet data file) — the migration hot-path
    existence probe, without paying a Spark schema-inference job.
    Matches ``_try_parquet``'s None semantics: an absent directory, an
    empty one, or one holding only ``_SUCCESS``/staging/dot files all
    count as never-written."""
    for _root, _dirs, files in os.walk(store):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                return True
    return False


def has_partition_dir(store: str, col: str) -> bool:
    """Driver-side check that a store's directory tree carries
    ``col=...`` partition directories — the layout probe compaction
    needs for legacy stores, without paying a schema-inference job."""
    for root, dirs, _files in os.walk(store):
        for d in dirs:
            if d.startswith(col + "="):
                return True
        dirs[:] = [d for d in dirs if "=" in d]
    return False


def _ledger_part_files(path: str) -> list[str] | None:
    """Data files of the commits ledger directory (skipping Spark's
    ``_SUCCESS``/staging and our ``.tmp-`` markers), or None when the
    directory does not exist."""
    try:
        return [
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith((".", "_"))
        ]
    except (FileNotFoundError, NotADirectoryError):
        return None


def committed_ids(spark, state_path: str) -> list[int] | None:
    """Published delivery ids of a state, or None when the state has no
    ledger yet (brand-new, or legacy pre-adoption — in both cases every
    present row is visible). The ledger is a handful of tiny parquet
    files, so it is read driver-side (pyarrow) — a metadata lookup, not
    a Spark job — and threaded through every store scan. The read is
    retried once on directory/file absence: compaction's
    ``reset_ledger`` swap has a sub-millisecond rename window where the
    directory is briefly missing, and a concurrent reader must not
    mistake that for a never-written state (single-writer applies to
    WRITERS; reads may overlap maintenance)."""
    import pyarrow.parquet as pq

    path = state_path + "/commits"
    for _ in range(2):  # retry once: reset_ledger's rename window
        files = _ledger_part_files(path)
        if files:
            break
    if not files:
        return None
    out: set[int] = set()
    for f in files:
        try:
            col = pq.read_table(f, columns=["dv"]).column("dv")
        except FileNotFoundError:
            continue  # file swapped out mid-listing (same rename window)
        out.update(int(v) for v in col.to_pylist())
    return sorted(out)


def visible(df: DataFrame | None, committed: list[int] | None):
    """Restrict a store scan to committed deliveries. ``_dv`` is a
    partition column, so the bounded IN-list is a PARTITION filter —
    unpublished directories drop out of the file listing. States
    without a ledger (committed=None) and stores predating the layout
    pass through unfiltered."""
    if df is None or committed is None or "_dv" not in df.columns:
        return df
    return df.where(F.col("_dv").isin(committed))


def _write_ledger_file(path: str, ids: list[int], name: str) -> None:
    """Stage one tiny ledger parquet under a ``.tmp-`` name and rename
    it into place — the rename is the atomic visibility point (POSIX),
    and a crash mid-write leaves only an invisible dot-file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".tmp-{uuid.uuid4().hex}")
    pq.write_table(
        pa.table({"dv": pa.array([int(i) for i in ids], pa.int64())}), tmp
    )
    os.rename(tmp, os.path.join(path, name))


def publish_commit(spark, state_path: str, dv: int) -> None:
    """THE commit point of a delivery: one tiny single-file append to
    the ledger, executed strictly after every store append succeeded.
    Written driver-side (pyarrow, staged + renamed — atomic on POSIX):
    the ledger is one row of metadata, and publishing it as a Spark
    write cost a whole scheduled job per delivery. A crash mid-publish
    leaves the id unpublished (clean retry)."""
    _write_ledger_file(
        state_path + "/commits", [int(dv)],
        f"part-{uuid.uuid4().hex}-dv.parquet",
    )


def reset_ledger(spark, state_path: str, ids: list[int]) -> None:
    """Atomically replace the ledger (compaction's last step) via a
    staged write + directory swap — a plain overwrite has a window
    where the ledger is missing and uncommitted garbage would surface
    as legacy-visible-all. (Readers racing the swap are additionally
    covered by :func:`committed_ids`' retry-on-absence.)"""
    new = state_path + "/commits.__new"
    shutil.rmtree(new, ignore_errors=True)
    _write_ledger_file(new, ids, "part-00000-reset.parquet")
    swap_in(new, state_path + "/commits")


def append_store(df: DataFrame, path: str,
                 partition_cols: tuple[str, ...] = (),
                 small: bool = False,
                 sort_by: tuple[str, ...] = ()) -> None:
    """Append one delivery's rows to one store. A module-level seam so
    the crash-injection tests can kill a delivery between two specific
    store appends (monkeypatch a wrapper that raises after N calls).

    ``small=True`` (the caller's measured-delta gate — the same
    threshold as its coalesce(1) discipline) routes the append through
    a driver-side Arrow write: the rows are already materialized
    (checkpointed) delta-bounded frames, and Spark's committer pays
    ~1 s of _temporary staging, task commit and rename FS traffic to
    land a few KB — measured 3.3 s -> ~0.6 s across one delivery's four
    appends. Each file is staged under a dot-name and renamed into
    place (the ledger-write discipline), so a crash mid-append leaves
    only an invisible dot-file inside an unpublished ``_dv`` partition.
    ``sort_by`` orders rows inside each written file (row-group min/max
    pruning — the Spark path's sortWithinPartitions).

    ``df`` may also be a pyarrow Table (a driver-side ingest already
    holds the delivery's rows in memory): the append is then rendered
    entirely driver-side with ZERO scheduled jobs. Routing Tables
    through this same function keeps the crash-injection seam intact —
    the tests count/raise on append_store calls regardless of the
    payload's type."""
    if not isinstance(df, DataFrame):  # pyarrow Table
        _write_arrow_append(df, path, partition_cols, sort_by)
        return
    if small:
        _append_store_driver(df, path, partition_cols, sort_by)
        return
    w = df.write.mode("append")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def _append_store_driver(df: DataFrame, path: str,
                         partition_cols: tuple[str, ...],
                         sort_by: tuple[str, ...] = ()) -> int:
    """Driver-side rendering of one small append: collect via Arrow
    (one fast job over checkpointed partitions), split by the partition
    columns' values, write one parquet file per partition directory.
    Layout, schema and compression match the Spark writer so mixed
    stores (driver-written small deliveries + Spark-written large ones
    + compacted rewrites) read back identically. Returns the row count
    (the compaction path reports it without re-walking footers)."""
    with _no_aqe(df.sparkSession):  # one collect job, not one per stage
        t = df.toArrow()
    return _write_arrow_append(t, path, partition_cols, sort_by)


def _write_arrow_append(t, path: str,
                        partition_cols: tuple[str, ...],
                        sort_by: tuple[str, ...] = ()) -> int:
    """Write one already-materialized Arrow table as a store append:
    one parquet file per partition directory, each staged under a
    dot-name and renamed into place (crash discipline unchanged)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if t.num_rows == 0:
        os.makedirs(path, exist_ok=True)  # store exists, like an empty
        return 0                          # Spark append
    if sort_by:
        t = t.sort_by([(c, "ascending") for c in sort_by])
    if not partition_cols:
        groups = [((), t)]
    else:
        combos = t.select(list(partition_cols)) \
            .group_by(list(partition_cols)).aggregate([])
        groups = []
        for i in range(combos.num_rows):
            vals = tuple(combos.column(c)[i].as_py() for c in partition_cols)
            mask = None
            for c, v in zip(partition_cols, vals):
                m = pc.equal(t.column(c), v)
                mask = m if mask is None else pc.and_(mask, m)
            groups.append((vals, t.filter(mask).drop(list(partition_cols))))
    for vals, sub in groups:
        d = os.path.join(
            path, *[f"{c}={v}" for c, v in zip(partition_cols, vals)]
        )
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        pq.write_table(sub, tmp, compression="snappy")
        os.rename(tmp, os.path.join(
            d, f"part-{uuid.uuid4().hex}.snappy.parquet"
        ))
    return t.num_rows


# the compactors' small-store gate: stores under this many rows (footer
# walk, driver-side) rewrite via one Arrow collect + driver-side file
# writes instead of a distributed partitionBy write whose committer
# staging costs ~1-3 s to land a few MB. Same threshold as the ingests'
# small-delivery gate — measured data size, never local mode.
SMALL_STORE_ROWS = 1_000_000


def compact_store_driver(df: DataFrame, new_dir: str,
                         partition_cols: tuple[str, ...] = (),
                         sort_by: tuple[str, ...] = ()) -> int:
    """Driver-side rendering of one small compaction leg: materialize
    the compacted rows via one Arrow collect and write the ``.__new``
    store directly (one file per partition directory, the
    :func:`_append_store_driver` layout), ready for :func:`swap_in`.
    Returns the row count. Callers gate on
    ``store_row_count(store) < SMALL_STORE_ROWS`` — the footer walk is
    an upper bound on the visible rows (orphaned uncommitted deliveries
    only shrink the rewrite), so the gate can only err toward the
    driver path on a store that is already driver-sized. ``df`` may be
    a pyarrow Table (a fully driver-side compaction leg) — the rewrite
    is then zero scheduled jobs."""
    shutil.rmtree(new_dir, ignore_errors=True)
    os.makedirs(new_dir, exist_ok=True)
    if not isinstance(df, DataFrame):  # pyarrow Table
        return _write_arrow_append(df, new_dir, partition_cols, sort_by)
    return _append_store_driver(df, new_dir, partition_cols, sort_by)


def compact_leg(store: str, out: DataFrame,
                partition_cols: tuple[str, ...],
                sort_by: tuple[str, ...] = (), shape=None) -> int:
    """One compaction leg: rewrite ``store`` from ``out`` (its compacted
    committed rows, ``_dv`` collapsed to 0) into ``store.__new`` and
    :func:`swap_in`. A store under :data:`SMALL_STORE_ROWS` (footer
    walk — an upper bound on the visible rows) rewrites driver-side via
    :func:`compact_store_driver`: a distributed partitionBy write pays
    ~1-3 s of committer staging to land a few MB. Larger stores take the
    distributed ``partitionBy(...).mode("overwrite")`` write, with
    ``shape`` (e.g. a repartition/sort) applied to ``out`` first.
    Returns the leg's row count (the driver collect's size, or a footer
    walk of the rewritten files — never another scheduled scan)."""
    new = store + ".__new"
    if store_row_count(store) < SMALL_STORE_ROWS:
        n = compact_store_driver(out, new, partition_cols, sort_by)
        swap_in(new, store)
        return n
    (out if shape is None else shape(out)).write \
        .partitionBy(*partition_cols).mode("overwrite").parquet(new)
    swap_in(new, store)
    return store_row_count(store)


def driver_state_gate(state_path: str, stores: tuple[str, ...],
                      same_presence: tuple[str, ...] | None = None):
    """The driver-ingest size gate shared by the driver-rendered state
    ingests: the ``{store: present}`` map when every store is below
    :data:`SMALL_STORE_ROWS` and the ``same_presence`` stores (default:
    all) are either all present or all absent; None otherwise (a
    corpus-scale store, or a mid-migration/legacy shape — the
    distributed path sorts those out). Driver-side checks only."""
    for s in stores:
        if store_row_count(state_path + "/" + s) >= SMALL_STORE_ROWS:
            return None
    present = {s: os.path.isdir(state_path + "/" + s) for s in stores}
    if len({present[s] for s in same_presence or stores}) > 1:
        return None
    return present


def replay_keep(store: str, committed: list[int] | None, ids: list,
                id_col: str, part_col: str | None = None,
                part_vals=None) -> list[int] | None:
    """Driver rendering of the replay anti-join: indices of ``ids`` NOT
    already in the committed rows of the registry ``store`` (read
    pruned to ``part_col IN part_vals`` when given — an id already in
    the state lives in the same bucket, so the pruned read is exact).
    Returns None when nothing is dropped, so the caller keeps its rows
    as they are."""
    seen = set(read_store_columns(store, committed, [id_col], part_col,
                                  part_vals)[0])
    keep = [i for i, d in enumerate(ids) if d not in seen]
    return keep if len(keep) < len(ids) else None


def commit_delivery(spark, state_path: str, appends, meta=None) -> int:
    """Land one driver-rendered delivery under the manifest commit: the
    ``meta`` format sidecar first when given (a crash after it leaves a
    meta-only state, a bootstrap with its format pinned), then one
    :func:`append_store` per ``(store, columns, partition_cols,
    sort_by)`` in order, each an Arrow table tagged with a fresh
    ``_dv`` (the first partition column), and the ledger publish LAST.
    Returns the delivery id."""
    import pyarrow as pa

    if meta is not None:
        write_meta(state_path, meta)
    dv = new_delivery_id()
    for store, cols, parts, sort_by in appends:
        n = len(next(iter(cols.values())))
        append_store(
            pa.table({"_dv": pa.array([dv] * n, pa.int64()), **cols}),
            state_path + "/" + store, ("_dv",) + parts, small=True,
            sort_by=sort_by,
        )
    publish_commit(spark, state_path, dv)  # THE commit point
    return dv


def swap_in(new_dir: str, store: str) -> None:
    """Replace ``store`` with ``new_dir`` via rename (atomic on local
    POSIX): the old directory moves aside first, so a reader never sees
    a half-deleted store, and the aside copy is removed only after the
    new one is in place."""
    old = store + ".__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(store):
        os.rename(store, old)
    os.rename(new_dir, store)
    shutil.rmtree(old, ignore_errors=True)


def read_store_arrow(store: str, committed: list[int] | None,
                     part_col: str | None = None,
                     part_vals=None,
                     columns: list[str] | None = None,
                     filter_in: tuple[str, list] | None = None,
                     attach_part: bool = False,
                     attach_type=None):
    """Driver-side pruned read of a manifest-commit store as ONE Arrow
    table (or None when the store holds no matching rows). Mirrors the
    Spark readers' pruning exactly: only ``_dv IN committed`` partition
    directories are listed (committed=None → all visible, the
    legacy/ledger-less semantics), optionally restricted to
    ``part_col IN part_vals`` sub-directories (the ``_pd``/``_pb``
    bounded IN-list filters). ``filter_in=(col, values)`` applies a
    row-level membership filter (the driver rendering of a pruned
    semi-join). ``attach_part=True`` adds ``part_col`` back as an int32
    column parsed from the directory names (partition values are not in
    the data files; the compactor rewrites need them). For driver-sized
    stores only — callers gate on
    :func:`store_row_count` < :data:`SMALL_STORE_ROWS`."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if not os.path.isdir(store):
        return None
    want_dv = None if committed is None else {int(v) for v in committed}
    vals = None if part_vals is None else {int(v) for v in part_vals}

    def _files_under(d: str) -> list[str]:
        out = []
        for root, dirs, files in os.walk(d):
            dirs[:] = [x for x in dirs if "=" in x or not x.startswith((".", "_"))]
            out += [os.path.join(root, f) for f in sorted(files)
                    if f.endswith(".parquet") and not f.startswith((".", "_"))]
        return out

    files: list[tuple] = []  # (path, partition value)
    for e in sorted(os.listdir(store)):
        p = os.path.join(store, e)
        if e.startswith("_dv="):
            if want_dv is not None and int(e[4:]) not in want_dv:
                continue
            if part_col is None:
                files += [(f, None) for f in _files_under(p)]
            else:
                try:
                    subs = sorted(os.listdir(p))
                except NotADirectoryError:
                    continue
                for e2 in subs:
                    if not e2.startswith(part_col + "="):
                        continue
                    v = int(e2[len(part_col) + 1:])
                    if vals is not None and v not in vals:
                        continue
                    files += [(f, v)
                              for f in _files_under(os.path.join(p, e2))]
        elif e.endswith(".parquet") and not e.startswith((".", "_")):
            # pre-protocol flat layout (ledger-less store): visible-all
            files.append((p, None))
    if not files:
        return None
    import pyarrow as pa

    tabs = []
    for f, v in files:
        ft = pq.read_table(f, columns=columns)
        if attach_part and part_col is not None:
            ft = ft.append_column(
                part_col,
                pa.array([v] * ft.num_rows, attach_type or pa.int32()),
            )
        tabs.append(ft)
    t = pa.concat_tables(tabs) if len(tabs) > 1 else tabs[0]
    if filter_in is not None:
        col, values = filter_in
        t = t.filter(pc.is_in(t.column(col), value_set=pa.array(values)))
    return t


def read_store_columns(store: str, committed: list[int] | None,
                       columns: list[str], part_col: str | None = None,
                       part_vals=None, **kw) -> list[list]:
    """:func:`read_store_arrow` as one Python list per requested column
    (empty lists when the store is absent or holds no matching rows) —
    the form the driver-rendered ingests consume. ``part_col`` may be
    requested when ``attach_part=True``."""
    t = read_store_arrow(store, committed, part_col, part_vals,
                         columns=[c for c in columns if c != part_col],
                         **kw)
    return [[] if t is None else t.column(c).to_pylist() for c in columns]


def pure_dv_layout(store: str) -> bool:
    """True when every data entry of a store sits under a ``_dv=``
    partition directory (the post-adoption layout) — the precondition
    for the fully driver-side compaction legs; mixed/legacy layouts
    keep the Spark rewrite."""
    try:
        entries = os.listdir(store)
    except (FileNotFoundError, NotADirectoryError):
        return False
    ok = False
    for e in entries:
        if e.startswith("_dv="):
            ok = True
        elif not e.startswith((".", "_")):
            return False
    return ok


def store_row_count(store: str) -> int:
    """Row count of a parquet store from its file footers — a
    driver-side metadata walk (parquet footers carry exact row counts),
    not a Spark job. Used by the compactors to report the rewritten
    store's size without scheduling a count over data they just wrote."""
    import pyarrow.parquet as pq

    total = 0
    for root, dirs, files in os.walk(store):
        # descend into partition directories (col=value — including the
        # underscore-prefixed _dv=/_pd=/_pb= layout columns) but never
        # into staging/metadata dirs (_temporary, .__old, dot-tmp)
        dirs[:] = [d for d in dirs
                   if "=" in d or not d.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def read_meta(state_path: str) -> dict | None:
    """First row of a state's ``meta`` sidecar as a dict, or None when
    the sidecar has never been written. The sidecar is one tiny parquet
    file of format parameters — read driver-side (pyarrow) so the
    per-ingest/lookup guard is a metadata lookup, not a scheduled Spark
    job. Handles both pyarrow- and Spark-written sidecars."""
    import pyarrow.parquet as pq

    d = state_path + "/meta"
    try:
        files = sorted(
            f for f in os.listdir(d) if not f.startswith((".", "_"))
        )
    except (FileNotFoundError, NotADirectoryError):
        return None
    if not files:
        return None
    t = pq.read_table(os.path.join(d, files[0]))
    if t.num_rows == 0:
        return None
    return {c: t.column(c)[0].as_py() for c in t.column_names}


def write_meta(state_path: str, params: dict) -> None:
    """One tiny parquet file of format parameters, written driver-side
    (pyarrow; int32/float64 — the schema Spark's writer produced) via a
    staged directory + atomic rename swap. A Spark job per sidecar was
    pure scheduling overhead for one row of metadata."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    new = state_path + "/meta.__new"
    shutil.rmtree(new, ignore_errors=True)
    os.makedirs(new)
    pq.write_table(
        pa.table({
            k: pa.array(
                [v], pa.float64() if isinstance(v, float) else pa.int32()
            )
            for k, v in params.items()
        }),
        os.path.join(new, "part-00000-meta.parquet"),
    )
    swap_in(new, state_path + "/meta")


def _has_dv_layout(store: str) -> bool:
    try:
        return any(e.startswith("_dv=") for e in os.listdir(store))
    except FileNotFoundError:
        return False


def _wrap_store(store: str) -> None:
    """O(1) adoption of one legacy store: rename its contents into a
    ``_dv=0`` partition wrapper. Crash-recoverable: the intermediate
    ``.__mig`` marker directory is re-absorbed on the next call (the
    marker existing implies the wrap target was never created — the
    renames are atomic and ordered)."""
    mig = store + ".__mig"
    if os.path.exists(mig):
        os.makedirs(store, exist_ok=True)
        os.rename(mig, os.path.join(store, "_dv=0"))
        return
    if not os.path.isdir(store) or _has_dv_layout(store):
        return
    os.rename(store, mig)
    os.makedirs(store)
    os.rename(mig, os.path.join(store, "_dv=0"))


def adopt_commit_ledger(spark, state_path: str,
                        stores: tuple[str, ...]) -> list[int]:
    """Bring a state under the manifest-commit protocol: wrap every
    ledger-less store into ``_dv=0`` (O(1) directory renames — see
    :func:`_wrap_store`) and write the ``[0]`` ledger. Idempotent and
    crash-recoverable — runs unconditionally at the top of every
    ingest; a no-op costs a few os.path checks. Returns the state's
    committed ids so the caller never re-reads the ledger it just
    established.

    The ledger is created even for a BRAND-NEW state (no stores yet):
    the first delivery's appends then land under an existing ``[0]``
    ledger, so a bootstrap crash between two appends leaves rows that
    every reader partition-filters OUT. Without this, a reader of the
    crashed bootstrap state saw no ledger, fell back to visible-all,
    and a store whose reader tolerates missing siblings (the span
    state's optional ``flags``) could resolve phantom rows."""
    wrapped = False
    for s in stores:
        store = state_path + "/" + s
        before = _has_dv_layout(store)
        _wrap_store(store)
        wrapped = wrapped or (not before and _has_dv_layout(store))
    committed = committed_ids(spark, state_path)
    if committed is None:
        publish_commit(spark, state_path, 0)
        return [0]
    if wrapped and 0 not in committed:
        # a store was wrapped into _dv=0 while a ledger already existed
        # (e.g. a content migration rebuilt one store of an otherwise-
        # ledgered state) — the base delivery must be visible
        publish_commit(spark, state_path, 0)
        return sorted(set(committed) | {0})
    return committed
