"""Incremental time rollups (continuous aggregates): each ingest batch
appends tiny per-(bucket, dims) PARTIAL aggregate rows to a managed
rollup table; reads merge the partials. The hypertable/continuous-
aggregate pattern: at 100 TB the rollup query touches KBs-MBs of
partials instead of rescanning raw events, and a late batch is just
another partial row — no rewrite, no read-modify-write.

Only mergeable aggregates belong here (count, sum, min, max — and
sketches, see the approx_hll_sketch_union query for that variant);
avg is derived at read time as a merged sum over a merged count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import Warehouse


def append_rollup_partials(
    warehouse: Warehouse,
    database: str,
    table: str,
    batch: DataFrame,
    ts_col: str = "ts",
    dims: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> None:
    """Aggregate one batch into per-(day, dims) partial rows and append
    them. Partials are append-only: re-deliveries of DISTINCT batches
    merge correctly by construction; the batch boundary is the caller's
    at-least-once unit (pair with the checkpointed ingest stream)."""
    part = (
        batch.groupBy(
            F.date_trunc("DAY", ts_col).alias("bucket_day"), *dims
        )
        .agg(
            F.count(F.lit(1)).alias("p_n"),
            F.sum(value_col).alias("p_sum"),
            F.min(value_col).alias("p_min"),
            F.max(value_col).alias("p_max"),
        )
    )
    warehouse.append_aligned(database, table, part)


def read_rollup(
    warehouse: Warehouse,
    database: str,
    table: str,
    dims: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Merge the stored partials into the final per-(day, dims)
    aggregate: counts and sums add, min/max fold, avg derives."""
    p = warehouse.read(database, table)
    merged = p.groupBy("bucket_day", *dims).agg(
        F.sum("p_n").alias("n"),
        F.round(F.sum("p_sum"), 2).alias("total_value"),
        F.round(F.min("p_min"), 4).alias("min_value"),
        F.round(F.max("p_max"), 4).alias("max_value"),
    )
    # avg derives in INTEGER arithmetic: the 2dp total is exact cents
    # (cross-engine-stable — it is itself hash-compared); scaling to
    # 1e-4 units and flooring the integer quotient avoids float
    # rounding entirely. A round(double/number, k) here is a trap: a
    # quotient can land exactly on the half grid (e.g. 307.03/8 =
    # 38.37875) and Spark (HALF_UP on the shortest decimal repr) and
    # DuckDB (raw-double banker-ish) disagree — observed 1-2 rows per
    # 150 in the driver-sim gate before this form.
    return merged.withColumn(
        "avg_value_e4",
        F.expr(
            "CAST(round(total_value * 100) AS BIGINT) * 100 div n"
        ),
    )


def append_distinct_partials(
    warehouse: Warehouse,
    database: str,
    table: str,
    batch: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    dims: tuple[str, ...] = ("event_type",),
) -> None:
    """Incremental DISTINCT-count rollup: per-(day, dims) HLL sketch
    partials (binary, mergeable). Plain count-distinct partials do NOT
    merge (distinct users on Mon + distinct on Tue != distinct over
    both days); HLL union DOES — the sketch variant of the
    continuous-aggregate pattern, for the one aggregate family the
    additive rollup can't serve."""
    part = (
        batch.groupBy(
            F.date_trunc("DAY", ts_col).alias("bucket_day"), *dims
        )
        .agg(F.hll_sketch_agg(key_col).alias("p_sketch"))
    )
    warehouse.append_aligned(database, table, part)


def read_distinct_rollup(
    warehouse: Warehouse,
    database: str,
    table: str,
    dims: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Merge sketch partials: per-(day, dims) approx distinct count,
    plus the sketches remain mergeable upward (day -> week -> total)
    without touching raw data again."""
    p = warehouse.read(database, table)
    return (
        p.groupBy("bucket_day", *dims)
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("p_sketch")
            ).alias("approx_distinct")
        )
    )


def maintain_sum_mv(
    mv: DataFrame,
    changes: DataFrame,
    keys: list[str],
    value_col: str,
    sum_col: str = "value_sum",
    n_col: str = "n_rows",
) -> DataFrame:
    """Apply a CDC feed (snapshots.read_changes output: rows tagged
    ``_change_type`` in ('insert', 'delete')) to a keyed
    (sum, count) MATERIALIZED VIEW without touching the base table —
    the algebraic delta rule for distributive aggregates: inserts
    add, deletes subtract, keys whose count reaches zero drop out.

    This is what a downstream aggregate does at 100 TB when its base
    table takes appends AND copy-on-write deletes/merges: cost is
    one grouped aggregation over the CHANGE ROWS (churn-sized) plus a
    join against the MV (key-cardinality-sized) — the base table is
    never rescanned. A merge_upsert's update flows through as its
    delete/insert pair, so updated values net correctly. Only
    distributive/algebraic aggregates maintain this way; holistic
    ones (exact percentiles) need the histogram-partial path
    (rollup_histogram_quantiles).

    ``mv`` schema: keys + [sum_col, n_col]; returns the same shape.
    """
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = changes.groupBy(*keys).agg(
        F.sum(sign * F.col(value_col)).alias("__d_sum"),
        F.sum(sign).alias("__d_n"),
    )
    merged = (
        mv.join(delta, keys, "full_outer")
        .select(
            *keys,
            (
                F.coalesce(F.col(sum_col), F.lit(0))
                + F.coalesce(F.col("__d_sum"), F.lit(0))
            ).alias(sum_col),
            (
                F.coalesce(F.col(n_col), F.lit(0))
                + F.coalesce(F.col("__d_n"), F.lit(0))
            ).cast("long").alias(n_col),
        )
        .filter(F.col(n_col) > 0)
    )
    return merged


def sum_mv_of(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """The full-recompute definition the incremental path must match:
    per-key (sum, count) over the current table state."""
    return df.groupBy(*keys).agg(
        F.sum(value_col).alias("value_sum"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def minmax_delta_plan(
    mv: DataFrame,
    changes: DataFrame,
    keys: list[str],
    value_col: str,
    min_col: str = "value_min",
    max_col: str = "value_max",
    n_col: str = "n_rows",
) -> tuple[DataFrame, DataFrame]:
    """The planning half of MIN/MAX view maintenance: split affected
    groups into (a) groups maintainable ALGEBRAICALLY from the change
    rows alone and (b) groups that must rescan.

    Unlike sum/count, MIN/MAX are not self-maintainable under
    deletes (classic IVM result — Gupta & Mumick's taxonomy, public
    literature): deleting a row that CARRIES the current boundary
    leaves the new boundary unknown without the base table (the MV
    doesn't track the boundary's multiplicity — deleting one of two
    rows that both hold min=5 changes nothing, but the MV can't know
    there were two). The conservative, exact rule implemented here:

    - inserts only           -> min=least(old,ins), max=greatest —
                                O(changes), no rescan;
    - deletes strictly INSIDE the open interval (del_min > cur_min
      AND del_max < cur_max) -> boundaries untouched, counts adjust;
    - deletes touching a boundary (del_min <= cur_min or
      del_max >= cur_max)   -> group goes to the RESCAN set;
    - net count reaching 0   -> group dropped, no rescan needed.

    Returns (maintained, rescan_keys): ``maintained`` is the new MV
    content for every group NOT in the rescan set (schema: keys +
    [min_col, max_col, n_col]); ``rescan_keys`` is the churn-bounded
    key frame whose groups need recomputation from the base table."""
    sign = F.when(
        F.col("_change_type") == "insert", F.lit(1)
    ).otherwise(F.lit(-1))
    ins = F.when(F.col("_change_type") == "insert", F.col(value_col))
    dele = F.when(F.col("_change_type") == "delete", F.col(value_col))
    delta = changes.groupBy(*keys).agg(
        F.min(ins).alias("__ins_min"),
        F.max(ins).alias("__ins_max"),
        F.min(dele).alias("__del_min"),
        F.max(dele).alias("__del_max"),
        F.sum(sign).alias("__d_n"),
    )
    j = mv.join(delta, keys, "full_outer")
    n_new = (
        F.coalesce(F.col(n_col), F.lit(0))
        + F.coalesce(F.col("__d_n"), F.lit(0))
    ).cast("long")
    # a boundary-touching delete on a surviving, pre-existing group
    boundary_hit = (
        F.col(n_col).isNotNull()
        & (
            (F.col("__del_min") <= F.col(min_col))
            | (F.col("__del_max") >= F.col(max_col))
        )
    )
    needs_rescan = F.coalesce(boundary_hit, F.lit(False)) & (n_new > 0)
    rescan_keys = j.filter(needs_rescan).select(*keys)
    maintained = (
        j.filter(~needs_rescan)
        .filter(n_new > 0)
        .select(
            *keys,
            F.least(
                *(
                    [F.col(min_col), F.col("__ins_min")]
                )
            ).alias(min_col),
            F.greatest(F.col(max_col), F.col("__ins_max")).alias(
                max_col
            ),
            n_new.alias(n_col),
        )
    )
    return maintained, rescan_keys


def maintain_minmax_mv(
    mv: DataFrame,
    changes: DataFrame,
    base: DataFrame,
    keys: list[str],
    value_col: str,
    min_col: str = "value_min",
    max_col: str = "value_max",
    n_col: str = "n_rows",
    base_for_keys=None,
    max_rescan_groups: int | None = None,
) -> DataFrame:
    """Apply a CDC feed to a keyed MIN/MAX/count MATERIALIZED VIEW,
    rescanning the base table ONLY for groups whose boundary a delete
    touched (see minmax_delta_plan). ``base`` is the post-change
    snapshot of the base table (e.g. ``read_snapshot(...)`` at the
    feed's end version).

    THE BOUND (r9): the rescan set is bounded by groups that lost an
    extremum — which a MASS delete makes ALL groups, at which point
    the maintain path degenerates to a full recompute PLUS the delta
    plan's overhead (measured crossover: 10M rows, all-groups rescan
    maintain 2.4 s vs plain recompute 0.81 s — ivm_rehearsal_r8 at
    e9bc22d).
    ``max_rescan_groups`` guards that cliff: when MORE groups than
    the threshold need rescanning (counted with a bounded
    limit(threshold+1) probe, never a driver materialization), the
    function falls back to one full recompute over ``base`` —
    identical result by the exactness contract, cheaper past the
    crossover. Pick the threshold ~ the group count where one full
    scan beats (delta plan + MV join + filtered scan); None keeps
    the unguarded always-maintain behavior.

    Cost at 100 TB: one churn-sized aggregation over the change rows,
    one MV-sized join, and a base scan FILTERED to the rescan groups
    — a broadcast semi-join when churn is small (the normal case).
    The semi-join alone still SCHEDULES a full base scan (row-level
    filtering, not file-level); to also skip FILES, pass
    ``base_for_keys``: a callable receiving the collected rescan-key
    rows (churn-bounded, so the collect is safe) and returning the
    pruned base frame — e.g.
    ``lambda ks: read_snapshot(wh, db, t, prune_eq=("k", [k for
    (k,) in ks]))`` on a table with stat_cols on the group key, where
    the manifest dictionary/zone-map skips every file holding none
    of the rescanned groups (measured by tools/ivm_rehearsal.py at
    e9bc22d).
    A merge_upsert's update flows through as its delete/insert pair.
    Exactness includes the duplicate-boundary case (deleting one of
    two min-carrying rows): such groups rescan by rule, so the MV
    always equals minmax_mv_of(base)."""
    maintained, rescan_keys = minmax_delta_plan(
        mv, changes, keys, value_col, min_col, max_col, n_col
    )
    if max_rescan_groups is not None:
        over = (
            rescan_keys.limit(max_rescan_groups + 1).count()
            > max_rescan_groups
        )
        if over:
            return base.groupBy(*keys).agg(
                F.min(value_col).alias(min_col),
                F.max(value_col).alias(max_col),
                F.count(F.lit(1)).alias(n_col),
            )
    src = base
    if base_for_keys is not None:
        key_rows = [tuple(r) for r in rescan_keys.collect()]
        src = base_for_keys(key_rows) if key_rows else None
        if src is None:
            return maintained
    rescanned = (
        src.join(F.broadcast(rescan_keys), keys, "left_semi")
        .groupBy(*keys)
        .agg(
            F.min(value_col).alias(min_col),
            F.max(value_col).alias(max_col),
            F.count(F.lit(1)).alias(n_col),
        )
    )
    return maintained.unionByName(rescanned)


def minmax_mv_of(
    df: DataFrame, keys: list[str], value_col: str
) -> DataFrame:
    """The full-recompute definition the incremental path must match."""
    return df.groupBy(*keys).agg(
        F.min(value_col).alias("value_min"),
        F.max(value_col).alias("value_max"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def distinct_support_of(
    df: DataFrame, keys: list[str], value_col: str
) -> DataFrame:
    """The SUPPORT MULTISET for exact distinct-count maintenance:
    one row per (group, value) with its multiplicity. This is the
    auxiliary state that makes COUNT(DISTINCT) — a non-distributive
    aggregate — fully self-maintainable under inserts AND deletes
    (counting-algorithm IVM, Gupta-Mumick, public literature): a
    value leaves the distinct set exactly when its multiplicity hits
    zero, which the multiset knows and the bare count cannot.
    Schema: keys + [value_col, mult]."""
    return df.groupBy(*keys, value_col).agg(
        F.count(F.lit(1)).alias("mult")
    )


def maintain_distinct_support(
    support: DataFrame,
    changes: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Apply a CDC feed to the support multiset — pure algebra, no
    rescan ever: inserts raise multiplicities, deletes lower them,
    zero rows drop. Cost is churn-sized + support-sized; the support
    itself is bounded by the number of DISTINCT (group, value) pairs
    — the honest state cost of EXACT distinct counting at 100 TB
    (the O(1)-state alternative is the HLL partial path,
    append_distinct_partials, which cannot handle deletes)."""
    sign = F.when(
        F.col("_change_type") == "insert", F.lit(1)
    ).otherwise(F.lit(-1))
    delta = changes.groupBy(*keys, value_col).agg(
        F.sum(sign).alias("__d")
    )
    return (
        support.join(delta, [*keys, value_col], "full_outer")
        .select(
            *keys,
            value_col,
            (
                F.coalesce(F.col("mult"), F.lit(0))
                + F.coalesce(F.col("__d"), F.lit(0))
            ).cast("long").alias("mult"),
        )
        .filter(F.col("mult") > 0)
    )


def distinct_counts_of(support: DataFrame, keys: list[str]) -> DataFrame:
    """Serve per-group exact distinct counts from the support
    multiset (one grouped count over support rows — never the base
    table)."""
    return support.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_distinct")
    )


# ---------------------------------------------------------------------------
# Sketch-STATE materialized views (ClickHouse AggregatingMergeTree's
# -State/-Merge combinator pattern, public design; the reference's
# primary backend serves this via `uniqState`/`uniqMerge` columns).
# The MV row stores the aggregate's mergeable PARTIAL STATE, not its
# final value: maintenance merges the new batch's state into the
# stored state (churn-sized work), and reads finalize the state into
# an estimate. We use our deterministic KMV distinct sketch
# (operators/sketch.py) as the state type because, unlike HLL binary
# sketches, its state is a plain sorted array<long> — portable,
# hash-comparable, and set-algebra capable (intersection estimates).


def kmv_state_of(
    df: DataFrame, keys: list[str], value_col: str, k: int = 256
) -> DataFrame:
    """Per-group KMV distinct-sketch STATE: the <= k smallest
    xxhash64 values of the group's distinct `value_col` hashes.

    Schema: keys + [kmv array<long> (sorted ascending), n_mins long].
    While a group has seen fewer than k distinct hashes the state IS
    the full distinct hash set (exact regime); beyond k it is the
    k-minimum-values summary with the standard (k-1)/theta estimator.
    Deterministic (seed-fixed xxhash64, order-independent set of
    minima) -> partition- and merge-order-invariant, so an
    incrementally maintained state is BYTE-EQUAL to a rebuilt one.

    Cost shape at 100 TB: one map-side-combined distinct on
    (keys, hash) — the only data-sized shuffle — then a bounded
    per-group top-k fold; state per group is <= k longs (2 KB at
    k=256) regardless of cardinality.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    distinct = (
        df.select(*keys, F.xxhash64(F.col(value_col)).alias("__h"))
        .distinct()
    )
    return (
        distinct.groupBy(*keys)
        .agg(
            F.slice(
                F.array_sort(F.collect_set("__h")), 1, k
            ).alias("kmv")
        )
        .withColumn("n_mins", F.size("kmv").cast("long"))
    )


def maintain_kmv_state(
    state: DataFrame,
    changes: DataFrame,
    keys: list[str],
    value_col: str,
    k: int = 256,
    allow_delete_rows: bool = False,
) -> DataFrame:
    """Merge a CDC batch into the stored KMV states WITHOUT touching
    the base table: the k smallest of (stored minima UNION batch
    minima) equals the k smallest of the full union — KMV merge is
    lossless with respect to the final state, so maintained ==
    rebuilt exactly (pinned in tests/test_incremental.py).

    INSERT-ONLY by contract, like every sketch state (ClickHouse
    AggregatingMergeTree has the same limitation): a hash cannot be
    removed from the minima without knowing the next-larger survivor.
    Raises ValueError if the feed carries deletes (one churn-sized
    isEmpty probe) unless ``allow_delete_rows=True``, in which case
    delete rows are ignored and the state remains an UPPER summary of
    distinct-ever (the honest semantics; for delete-correct distinct
    counts use maintain_distinct_support).
    """
    if "_change_type" in changes.columns:
        if not allow_delete_rows:
            dels = changes.filter(F.col("_change_type") == "delete")
            if not dels.isEmpty():
                raise ValueError(
                    "KMV sketch state is insert-only; the feed "
                    "contains delete rows. Pass "
                    "allow_delete_rows=True to ignore them "
                    "(distinct-ever semantics) or use "
                    "maintain_distinct_support for delete-exact "
                    "counts."
                )
        changes = changes.filter(F.col("_change_type") == "insert")
    delta = kmv_state_of(changes, keys, value_col, k).select(
        *keys,
        F.col("kmv").alias("__d_kmv"),
    )
    empty = F.array().cast("array<long>")
    merged_kmv = F.slice(
        F.array_sort(
            F.array_distinct(
                F.concat(
                    F.coalesce(F.col("kmv"), empty),
                    F.coalesce(F.col("__d_kmv"), empty),
                )
            )
        ),
        1,
        k,
    )
    return (
        state.join(delta, keys, "full_outer")
        .select(*keys, merged_kmv.alias("kmv"))
        .withColumn("n_mins", F.size("kmv").cast("long"))
    )


def kmv_estimates_of(state: DataFrame, k: int = 256) -> DataFrame:
    """Finalize KMV states into per-group distinct-count estimates
    (the -Merge half of the combinator pair): exact below k, else
    (k-1)/theta with theta = the k-th minimum normalized to (0, 1]."""
    from .sketch import _estimate

    return state.select(
        *[c for c in state.columns if c not in ("kmv", "n_mins")],
        _estimate(F.col("kmv"), F.col("n_mins"), k).alias(
            "est_distinct"
        ),
    )
