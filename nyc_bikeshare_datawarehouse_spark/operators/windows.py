"""Window-function helpers: top-k, deterministic ids, date parts.

Reference parity notes:
- `deterministic_id` replaces `monotonically_increasing_id` (etl.py:91),
  which is partition-layout-dependent and therefore run-dependent. A
  deterministic surrogate key needs a total order; at 100 TB prefer a
  *natural composite key* or a hash of one (`md5(concat(...))`,
  sql_queries.py:4) over a global row_number, because a single unpartitioned
  window is a 1-task bottleneck. `deterministic_id` is offered for
  small/medium dims; an md5 over the natural key is the scale path.
- `with_date_parts` mirrors the dim_datetime derivation (etl.py:186-192).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Deterministic top-k: always a total order (include a unique key in
    `order_by`!) then limit. Spark executes as TakeOrderedAndProject —
    per-partition heap + driver merge of k rows, no full sort at scale."""
    return df.orderBy(*order_by).limit(k)


def deterministic_id(
    df: DataFrame,
    order_by: Sequence[str | Column],
    id_col: str = "id",
) -> DataFrame:
    """Stable 1-based dense id from a total order (row_number over an
    unpartitioned window — fine for dims, NOT for 100 TB facts; hash the
    natural key there, as `builders.build_trip_fact` does)."""
    w = Window.orderBy(*[F.col(c) if isinstance(c, str) else c for c in order_by])
    return df.withColumn(id_col, F.row_number().over(w).cast("long"))


def two_phase_global_rank(
    df: DataFrame,
    bucket: Column,
    order_by: Sequence[Column],
    rn_col: str = "__rn",
    total_col: str = "__n",
) -> DataFrame:
    """Distributed global row_number over a total order — the scale-safe
    replacement for an unpartitioned `Window.orderBy` (which funnels every
    row through ONE task for the sort).

    Two-phase formulation:
      1. `bucket` — a caller-supplied expression that is *monotone
         non-decreasing along the desired global order* (e.g. for
         ORDER BY price DESC use ``-floor(price / width)``). Rows are
         numbered *within* each bucket by a partitioned window — fully
         parallel, one hash shuffle on the bucket key.
      2. Per-bucket row counts (a map-side-combined aggregate; B rows,
         where B = number of buckets, bounded and data-independent) are
         turned into cumulative offsets with a window over those B rows
         only, then broadcast back. Global rn = bucket offset + local rn.

    Because `bucket` is a pure function of row values, both branches agree
    on the assignment with no cross-branch partitioning hazard (unlike
    spark_partition_id()-based zipWithIndex schemes, which silently break
    if the two consumers of a range exchange re-sample boundaries).

    At 100 TB derive bucket cut-points from column stats or approx
    quantiles so bucket populations stay balanced; equal-width buckets on
    a roughly uniform sort key are fine. Output keeps all input columns
    plus `rn_col` (1-based global row number, long) and `total_col`
    (total row count, long, same on every row)."""
    b = df.withColumn("__bucket", bucket)
    w_local = Window.partitionBy("__bucket").orderBy(*order_by)
    local = b.withColumn("__local_rn", F.row_number().over(w_local))
    counts = b.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__cnt"))
    # Window over the B-row bucket-counts table only — bounded, never the
    # data; this is the one intentionally-tiny single-task stage.
    w_off = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__bucket",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )
    totals = counts.agg(F.sum("__cnt").alias(total_col))
    return (
        local.join(F.broadcast(offsets), "__bucket")
        .crossJoin(F.broadcast(totals))
        .withColumn(rn_col, (F.col("__off") + F.col("__local_rn")).cast("long"))
        .drop("__bucket", "__local_rn", "__off")
    )


def two_phase_ntile(
    df: DataFrame,
    n_tiles: int,
    bucket: Column,
    order_by: Sequence[Column],
    tile_col: str = "tile",
) -> DataFrame:
    """Distributed NTILE(n) over a total order — SQL NTILE's exact integer
    tile rule replayed on top of `two_phase_global_rank`, replacing the
    single-task `ntile(n).over(Window.orderBy(...))` (the r08 verdict's
    scale-killer in the layout queries: every corpus row through ONE sort
    task).

    NTILE's rule: with N rows and n tiles, q = N div n, rem = N mod n;
    the first `rem` tiles hold q+1 rows, the rest q. For 1-based global
    rank r:

        r <= rem*(q+1)  ->  tile = (r-1) div (q+1) + 1
        otherwise       ->  tile = rem + (r-1 - rem*(q+1)) div q + 1

    (q = 0 ⇒ N < n ⇒ rem = N and the first branch always applies, so the
    division by q is never evaluated on that edge.) q/head/tile ride
    double division, but every intermediate is integer-valued and exact
    while N < 2^53 — so within that bound the result is bit-identical to
    the sequential NTILE the oracle runs.
    `bucket` / `order_by` carry the two_phase_global_rank contract
    (bucket monotone non-decreasing along the total order)."""
    if n_tiles < 1:
        raise ValueError(f"n_tiles must be >= 1, got {n_tiles}")
    ranked = two_phase_global_rank(
        df, bucket, order_by, rn_col="__tp_rn", total_col="__tp_n"
    )
    r = F.col("__tp_rn")
    n = F.col("__tp_n")
    q = (n - n % n_tiles) / n_tiles  # exact: integer-valued double < 2^53
    rem = n % n_tiles
    head = rem * (q + 1)
    tile = F.when(
        r <= head, F.floor((r - 1) / (q + 1)) + 1
    ).otherwise(rem + F.floor((r - 1 - head) / q) + 1)
    return ranked.withColumn(tile_col, tile.cast("int")).drop("__tp_rn", "__tp_n")


def desc_freq_buckets(
    df: DataFrame,
    count_col: str,
    tiebreak_col: str,
    n_buckets: int = 64,
    bucket_col: str = "__fbucket",
) -> DataFrame:
    """Monotone, balance-aware range buckets for a (count DESC, string ASC)
    total order over a ties-heavy frame — the vocabulary-ranking case: a
    Zipf vocab's count=1 group alone is ~half the rows, so no bucket that
    is a function of the count alone can balance, and a composite
    (count-bucket, string-bucket) is not monotone across groups sharing a
    count-bucket. Scheme: each distinct count gets a CONTIGUOUS bucket
    span sized by its population (cumulative offsets over the
    O(distinct-counts) frame — the intentionally-tiny single-task stage,
    bounded ~O(√stream) under Zipf, same class as two_phase's B-row
    window); groups spanning >1 bucket are sub-bucketed by the first two
    characters of the tiebreak string, linearly rescaled to the observed
    char-key range. Monotone non-decreasing along (count DESC, tiebreak
    ASC) — the two_phase_* contract — because consecutive groups' spans
    never overlap (lo_next = floor(cum_before_next/target) >= hi_prev)
    and the clamped char key is non-decreasing in binary string order
    (clamping to printable ASCII maps out-of-range chars to the nearest
    bound, and a clamped first char pins the second to that bound too,
    which preserves non-decreasing; UTF-8 byte order equals code
    point order, so `ascii()` per char is order-faithful). Output: df
    plus `bucket_col` (long). Costs one broadcast of the distinct-count
    stats and two 1-row broadcasts; the data shuffles only in the
    downstream two_phase_* pass."""
    per = df.groupBy(count_col).agg(F.count(F.lit(1)).alias("__gcnt"))
    w = Window.orderBy(F.desc(count_col)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    per = per.select(
        count_col,
        "__gcnt",
        F.coalesce(F.sum("__gcnt").over(w), F.lit(0)).alias("__gbefore"),
    )
    tot = per.agg(F.sum("__gcnt").alias("__vtot"))

    def _ckey(col: Column) -> Column:
        a1 = F.ascii(F.substring(col, 1, 1))
        c1 = F.greatest(F.least(a1, F.lit(127)), F.lit(32))
        # a clamped first char already orders the string after (or before)
        # every in-range one, so the second char is pinned to the same bound:
        # otherwise "\x80" (-> 127, 32) would key below "\x7f0" (-> 127, 48)
        c2 = (
            F.when(a1 > 127, F.lit(127))
            .when(a1 < 32, F.lit(32))
            .otherwise(
                F.greatest(
                    F.least(F.ascii(F.substring(col, 2, 1)), F.lit(127)),
                    F.lit(32),
                )
            )
        )
        return (c1 - 32) * 96 + (c2 - 32)  # [0, 9216)

    ckey = _ckey(F.col(tiebreak_col))
    kstats = df.agg(F.min(ckey).alias("__kmin"), F.max(ckey).alias("__kmax"))
    b = (
        df.join(F.broadcast(per), count_col)
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(kstats))
    )
    # exact integer-valued doubles throughout (< 2^53); target >= 1 so the
    # divisions are ANSI-safe, krange >= 1 by min<=max
    target = F.greatest(
        F.floor((F.col("__vtot") + n_buckets - 1) / n_buckets), F.lit(1)
    )
    lo = F.floor(F.col("__gbefore") / target)
    hi = F.floor((F.col("__gbefore") + F.col("__gcnt") - 1) / target)
    span = hi - lo + 1
    krange = F.col("__kmax") - F.col("__kmin") + 1
    sub = F.least(
        F.floor((ckey - F.col("__kmin")) * span / krange), span - 1
    )
    return b.withColumn(
        bucket_col,
        (lo + F.when(span > 1, sub).otherwise(F.lit(0))).cast("long"),
    ).drop("__gcnt", "__gbefore", "__vtot", "__kmin", "__kmax")


def with_date_parts(df: DataFrame, ts_col: str, prefix: str = "") -> DataFrame:
    """Append the reference's seven date parts (etl.py:186-192)."""
    c = F.col(ts_col)
    return (
        df.withColumn(f"{prefix}hour", F.hour(c))
        .withColumn(f"{prefix}day", F.dayofmonth(c))
        .withColumn(f"{prefix}week", F.weekofyear(c))
        .withColumn(f"{prefix}month", F.month(c))
        .withColumn(f"{prefix}weekday", F.dayofweek(c))
        .withColumn(f"{prefix}year", F.year(c))
        .withColumn(f"{prefix}quarter", F.quarter(c))
    )


def two_phase_cumsum(
    df: DataFrame,
    bucket: Column,
    order_by: Sequence[Column],
    values: Sequence[tuple[str, str]],
    materialize: bool = True,
) -> DataFrame:
    """Distributed global running SUM over a total order — the cumulative-
    aggregate sibling of `two_phase_global_rank`, same two-phase shape:
    per-bucket inclusive running sums via a partitioned window (parallel,
    one hash shuffle on the bucket key), then per-bucket totals (B rows)
    turned into prefix offsets by the one intentionally-tiny single-task
    window and broadcast back. Global cum = bucket offset + local cum.

    `bucket` must be monotone non-decreasing along `order_by` (same
    contract as two_phase_global_rank); `order_by` must be a TOTAL order
    for the row-level sums to be deterministic. `values` is a list of
    (value_col, out_col): each value column gets its own global running
    sum in one pass — the multi-measure case (e.g. two CDFs side by side)
    costs one shuffle total, not one per measure.

    The input frame feeds BOTH phases, and Spark does not reuse diverged
    non-broadcast subplans (the offsets side even acquires a join-
    inferred not-null pushdown that de-canonicalizes the shared exchange,
    so ReusedExchange never fires — measured on q_roc_auc: the corpus
    scan + groupBy ran twice). Every current caller passes a key-space-
    bounded frame (grouped counts / merged distinct values), so
    `materialize=True` localCheckpoints it — one upstream computation,
    tiny local write. Pass materialize=False for a corpus-sized input
    where recomputing upstream beats materializing it."""
    if materialize:
        df = df.localCheckpoint(eager=True)
    b = df.withColumn("__bucket", bucket)
    w_local = (
        Window.partitionBy("__bucket")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b
    for vcol, out in values:
        local = local.withColumn(f"__loc_{out}", F.sum(vcol).over(w_local))
    counts = b.groupBy("__bucket").agg(
        *[F.sum(vcol).alias(f"__tot_{out}") for vcol, out in values]
    )
    w_off = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__bucket",
        *[
            F.coalesce(F.sum(f"__tot_{out}").over(w_off), F.lit(0)).alias(f"__off_{out}")
            for _, out in values
        ],
    )
    out_frame = local.join(F.broadcast(offsets), "__bucket")
    for _, out in values:
        out_frame = out_frame.withColumn(
            out, (F.col(f"__off_{out}") + F.col(f"__loc_{out}")).cast("long")
        ).drop(f"__off_{out}", f"__loc_{out}")
    return out_frame.drop("__bucket")


def two_phase_group_rank(
    df: DataFrame,
    group_cols: Sequence[str],
    bucket: Column,
    order_by: Sequence[Column],
    rn_col: str = "__rn",
    total_col: str = "__n",
) -> DataFrame:
    """Per-GROUP global row_number without a per-group single-task sort —
    the grouped sibling of `two_phase_global_rank`: a plain
    `Window.partitionBy(group)` funnels each group through ONE task,
    which at 100 TB is the r01 scale-killer whenever groups are
    macroscopic (languages, sources, days). Here rows are numbered
    within (group, bucket) partitions — fully parallel — and the
    per-(group, bucket) counts (a bounded-size table) are prefix-summed
    into offsets by a window PARTITIONED BY GROUP over that tiny table,
    then broadcast back.

    `bucket` must be monotone non-decreasing along `order_by` within
    every group (same contract as two_phase_global_rank). Output adds
    `rn_col` (1-based rank within the group) and `total_col` (group row
    count) — the pair NTILE/percent_rank/terciles derive from."""
    g = list(group_cols)
    b = df.withColumn("__gbucket", bucket)
    w_local = Window.partitionBy(*g, "__gbucket").orderBy(*order_by)
    local = b.withColumn("__local_rn", F.row_number().over(w_local))
    counts = b.groupBy(*g, "__gbucket").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (
        Window.partitionBy(*g)
        .orderBy("__gbucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*g)
    offsets = counts.select(
        *g,
        "__gbucket",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__cnt").over(w_tot).alias(total_col),
    )
    return (
        local.join(F.broadcast(offsets), [*g, "__gbucket"])
        .withColumn(rn_col, (F.col("__off") + F.col("__local_rn")).cast("long"))
        .drop("__gbucket", "__local_rn", "__off")
    )
