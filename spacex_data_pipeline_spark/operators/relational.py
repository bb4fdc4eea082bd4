"""General relational surface (SURVEY.md §7 step 4).

The reference exercises only scan→project→hash-agg→sort (its SQL runs in
Postgres); a user switching engines still expects the standard relational
operator set over the warehouse. These are thin, named compositions of
DataFrame ops — Catalyst owns the physical strategy — with the scale
decision (broadcast vs shuffle, window partitioning) made explicit.

Scale notes per operator are in the docstrings; the driver's bench measures
them at sf0.1 and the plans were checked with ``explain("formatted")``:
filters/projections reach the parquet scan (PushedFilters/ReadSchema),
dimension joins are BroadcastHashJoin, fact-fact joins are SortMergeJoin
with AQE coalescing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# skyline_2d's x-bucket width in bits: x values sharing ``x >> shift``
# share a bucket of the two-phase prefix min.
SKYLINE_BUCKET_SHIFT = 10


def topk(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: ``orderBy(...).limit(k)`` — Spark fuses this to
    TakeOrderedAndProject (per-partition heap + driver merge of k rows, no
    full sort). Include a unique tiebreaker column for determinism."""
    return df.orderBy(*order).limit(k)


def semi_join(left: DataFrame, right: DataFrame, on: Column | str) -> DataFrame:
    """EXISTS — ``left_semi``: right side reduced to its join keys; Catalyst
    broadcasts when small. Never duplicates left rows."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Column | str) -> DataFrame:
    """NOT EXISTS — ``left_anti``."""
    return left.join(right, on, "left_anti")


def ranked_per_group(
    df: DataFrame,
    partition: Sequence[str],
    order: Sequence[Column],
    n: int,
) -> DataFrame:
    """Per-group top-n via ``row_number`` window. One shuffle on the
    partition keys; with AQE skew handling for hot groups."""
    w = Window.partitionBy(*partition).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= n)


def running_total(
    df: DataFrame,
    partition: Sequence[str],
    order: Sequence[Column],
    value: Column,
    alias: str = "running_total",
) -> DataFrame:
    """Cumulative sum per group — rows-unbounded-preceding frame."""
    w = (
        Window.partitionBy(*partition)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(alias, F.sum(value).over(w))


def global_running_sum(
    df: DataFrame,
    grain: Column,
    order: Sequence[Column],
    value: Column,
    value_alias: str = "running_sum",
    count_alias: str = "running_n",
) -> DataFrame:
    """GLOBAL running sum/count over a total order — the distributed
    two-phase prefix scan, because the naive ``Window.orderBy(...)`` with
    no partition key funnels the entire table through ONE reducer (the
    exact single-reducer shape this repo plan-asserts against elsewhere).

    Phase 1 aggregates per ``grain`` bucket (a prefix of the total order
    — e.g. ``date_trunc('month', ts)``) and computes each bucket's
    EXCLUSIVE offset with a window over the bucket table, which is
    bounded by the calendar, not the data (84 months here; never more
    than |distinct grains| rows). Phase 2 broadcasts the offsets back
    and runs the running sum WITHIN each grain partition, adding the
    bucket offset. Identical to the one-window answer (unit-tested
    against it) with every reducer bounded by the grain's row count —
    pick the grain (month → day → hour) so a bucket fits an executor;
    the offset table stays calendar-bounded either way.

    ``value`` must be exact-typed (decimal/integer) if results feed a
    hash-compared oracle: double addition is order-sensitive across the
    per-bucket partials. ``order`` must be unique-total (include a
    tiebreaker key) and must SORT CONSISTENTLY with ``grain`` (grain is
    a prefix function of the first order column)."""
    g = df.withColumn("__grain", grain)
    per = g.groupBy("__grain").agg(
        F.sum(value).alias("__gsum"), F.count(F.lit(1)).alias("__gn")
    )
    wg = (
        Window.orderBy("__grain")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = per.select(
        "__grain",
        (F.sum("__gsum").over(wg) - F.col("__gsum")).alias("__off_sum"),
        (F.sum("__gn").over(wg) - F.col("__gn")).alias("__off_n"),
    )
    w = (
        Window.partitionBy("__grain")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        g.join(F.broadcast(offsets), "__grain")
        .withColumn(value_alias, F.col("__off_sum") + F.sum(value).over(w))
        .withColumn(count_alias, F.col("__off_n") + F.count(F.lit(1)).over(w))
        .drop("__grain", "__off_sum", "__off_n")
    )


def global_row_number(
    df: DataFrame,
    grain: Column,
    order: Sequence[Column],
    alias: str = "global_rn",
    total_alias: str | None = None,
) -> DataFrame:
    """GLOBAL ``row_number`` over a total order — the two-phase prefix
    scan, same shape as :func:`global_running_sum`: the naive
    ``Window.orderBy(...)`` with no partition key moves the ENTIRE table
    through one reducer, which is the defining straggler at 100 TB.

    Phase 1 counts rows per ``grain`` bucket (a prefix function of the
    first order column — a calendar truncation for time, a value bucket
    for numerics) and computes each bucket's EXCLUSIVE row offset with a
    window over the bucket table only (bounded by |distinct grains|,
    never by the data). Phase 2 broadcasts the offsets back and runs
    ``row_number`` WITHIN each grain partition, adding the offset.
    Identical to the one-window answer (unit-tested against it) with
    every reducer bounded by its bucket's row count.

    With ``total_alias`` set, the total row count rides along as a
    broadcast 1-row cross join — from ``(rn, n)`` every global rank
    statistic derives exactly for a unique total order:
    ``rank = rn``, ``percent_rank = (rn-1)/(n-1)``, ``cume_dist = rn/n``,
    and ``NTILE(k)`` via :func:`ntile_from_rank`.

    ``order`` must be unique-total (include a tiebreaker) and must sort
    consistently with ``grain`` (equal-order-prefix rows share a grain;
    grain ascends exactly when the first order column does — for a
    DESC ordering pass a negated bucket)."""
    g = df.withColumn("__grain", grain)
    per = g.groupBy("__grain").agg(F.count(F.lit(1)).alias("__gn"))
    wg = (
        Window.orderBy("__grain")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = per.select(
        "__grain",
        (F.sum("__gn").over(wg) - F.col("__gn")).alias("__off"),
    )
    w = Window.partitionBy("__grain").orderBy(*order)
    out = (
        g.join(F.broadcast(offsets), "__grain")
        .withColumn(alias, (F.col("__off") + F.row_number().over(w)).cast("long"))
        .drop("__grain", "__off")
    )
    if total_alias is not None:
        total = df.agg(F.count(F.lit(1)).cast("long").alias(total_alias))
        out = out.crossJoin(F.broadcast(total))
    return out


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """Exact ``NTILE(k)`` from a global row number and total count —
    SQL-standard semantics: the first ``n % k`` tiles hold ``ceil(n/k)``
    rows, the rest ``floor(n/k)``. Pure arithmetic on the two columns
    (exact for any n below 2^53), so the tile assignment needs no window
    at all once ``rn`` exists."""
    q = F.floor(n / F.lit(k)).cast("long")
    r = (n % F.lit(k)).cast("long")
    big = r * (q + F.lit(1))  # rows covered by the (q+1)-sized tiles
    return F.when(
        rn <= big, F.floor((rn - 1) / (q + 1)).cast("long") + 1
    ).otherwise(r + F.floor((rn - big - 1) / q).cast("long") + 1)


def pivot_counts(
    df: DataFrame, group: str, pivot_col: str, values: Sequence[str]
) -> DataFrame:
    """Pivot with an explicit value list — never the two-pass inferring
    variant (which scans once just to learn the domain)."""
    return df.groupBy(group).pivot(pivot_col, list(values)).count()


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    direction: str = "backward",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Distributed AS-OF join with pandas ``merge_asof`` semantics:

    - ``direction='backward'`` (default): the most recent right row of
      the same key with ``right_ts <= left_ts``; equal-timestamp ties
      resolve to the GREATEST payload tuple (struct compare, field
      order) — pass a unique id as the first payload column to make the
      match deterministic.
    - ``direction='forward'``: the earliest right row with
      ``right_ts >= left_ts``; equal-ts ties resolve to the LEAST
      payload tuple.
    - ``tolerance_seconds``: matches farther than this from ``left_ts``
      are nulled out (exact timestamp-interval arithmetic, no epoch
      truncation), exactly merge_asof's ``tolerance``.

    Spark has no asof operator; the naive formulation (range-condition
    join + per-left max) explodes to |key-group|² rows. The scalable
    shape is union + ordered window, one shuffle on the key:

    - tag left (side=1) and right (side=0) rows and union them;
    - per key, order by (ts, side, payload): every eligible right row
      sorts strictly before the left row it can serve (same-ts right
      rows sort first via side, equal-ts ties resolve inside the
      payload struct);
    - ``last(payload, ignorenulls)`` over the unbounded-preceding frame
      fills each left row with its as-of match — payload rides in ONE
      struct so all columns come from the SAME right row;
    - keep side=1 rows.

    Data moved is |left|+|right| rows exactly once — the same shuffle a
    plain equi-join would pay — and the window is a single running
    last-value (first-value for forward), no range scan. At 100 TB both
    inputs arrive partitioned by key; AQE handles hot keys. The
    tolerance is a post-filter on the matched row's timestamp (carried
    inside the payload struct), so it adds no join or window cost.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    # __rts rides LAST in the struct: tie-breaks stay on the payload
    # columns, and the tolerance filter reads the matched row's ts
    pay = F.struct(*[F.col(c) for c in payload], F.col(right_ts).alias("__rts"))
    backward = direction == "backward"
    # ordering must place every ELIGIBLE right row inside the left row's
    # frame at equal timestamps: right-before-left for backward
    # (preceding frame), left-before-right for forward (following frame)
    r = right.select(
        F.col(right_on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0 if backward else 1).alias("__side"),
        pay.alias("__p"),
    )
    left_side = 1 if backward else 0
    l = (
        left.withColumn("__k", F.col(left_on))
        .withColumn("__ts", F.col(left_ts))
        .withColumn("__side", F.lit(left_side))
    )
    u = l.unionByName(r, allowMissingColumns=True)
    if backward:
        w = (
            Window.partitionBy("__k")
            .orderBy("__ts", "__side", "__p")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = u.withColumn("__asof", F.last("__p", ignorenulls=True).over(w))
    else:
        w = (
            Window.partitionBy("__k")
            .orderBy("__ts", "__side", "__p")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        filled = u.withColumn("__asof", F.first("__p", ignorenulls=True).over(w))
    out = filled.filter(F.col("__side") == left_side).drop("__k", "__side", "__p")
    matched = F.col("__asof")
    if tolerance_seconds is not None:
        tol = F.make_dt_interval(secs=F.lit(tolerance_seconds))
        rts = F.col("__asof").getField("__rts")
        within = (
            (rts >= F.col("__ts") - tol) if backward else (rts <= F.col("__ts") + tol)
        )
        matched = F.when(within, F.col("__asof"))
    out = out.withColumn("__m", matched).drop("__ts", "__asof")
    for c in payload:
        out = out.withColumn(f"asof_{c}", F.col("__m").getField(c))
    return out.drop("__m")


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    keys: Sequence[str] = (),
    bin_seconds: int = 3600,
) -> DataFrame:
    """Point-in-interval join ([start, end) containment, optional equi
    keys) via time binning — the scalable form of a range join.

    Spark plans a bare range condition as a nested-loop/cartesian
    (|points|·|intervals| comparisons); the standard distributed fix
    (the shape behind commercial engines' range-join hints) turns the
    range into an EQUI join: every interval explodes to the bin ids it
    covers (``sequence(floor(start/W), floor(end/W))``), every point
    computes its single bin, the join runs on (keys…, bin), and the
    exact ``start <= ts < end`` filter runs on the equi-matched pairs
    only. Each matching (point, interval) pair meets in EXACTLY one bin
    — the point's own — so no post-join dedup is needed; integer-second
    bin arithmetic keeps point and interval bin ids consistent for any
    sub-second timestamps (floor commutes with second-truncation for
    whole-second bin widths).

    Scale: shuffle moves |points| + Σ(interval bins) rows on narrow
    (keys…, bin) keys; pick ``bin_seconds`` near the median interval
    length so intervals explode to O(1) bins and each (key, bin)
    partition holds only that slice of time. Cost of a too-small bin is
    interval replication; of a too-big bin, false candidates killed by
    the exact filter — both degrade gracefully, neither is quadratic.
    A dimension-sized interval table broadcasts and skips the shuffle
    entirely (AQE decides).
    """
    pb = points.withColumn(
        "__bin",
        F.floor(F.unix_timestamp(F.col(point_ts)) / F.lit(bin_seconds)),
    )
    # Rename every interval-side join column to a private name BEFORE the
    # join: when points and intervals share lineage (an interval table
    # derived from the point table — a self-join), dataframe-qualified
    # references like ``pb[k] == ib[k]`` can resolve both sides to the
    # SAME attribute and degrade to a trivially-true predicate (Spark
    # warns "Constructing trivially true equals predicate"). Distinct
    # column names guarantee distinct attributes under any lineage.
    ib = intervals
    renames = {start_ts: "__iv_start", end_ts: "__iv_end"}
    for k in keys:
        renames[k] = f"__iv_{k}"
    for old, new in renames.items():
        ib = ib.withColumnRenamed(old, new)
    ib = ib.withColumn(
        "__ibin",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col("__iv_start")) / F.lit(bin_seconds)),
                F.floor(F.unix_timestamp(F.col("__iv_end")) / F.lit(bin_seconds)),
            )
        ),
    )
    cond = F.col("__bin") == F.col("__ibin")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__iv_{k}"))
    cond = (
        cond
        & (F.col(point_ts) >= F.col("__iv_start"))
        & (F.col(point_ts) < F.col("__iv_end"))
    )
    out = pb.join(ib, cond).drop("__bin", "__ibin")
    for k in keys:
        out = out.drop(f"__iv_{k}")
    # restore the interval bound names for callers that project them
    return out.withColumnRenamed("__iv_start", start_ts).withColumnRenamed(
        "__iv_end", end_ts
    )


def interval_overlap_join_binned(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
) -> DataFrame:
    """Interval × interval OVERLAP join (closed bounds: overlap iff
    ``l_start <= r_end AND r_start <= l_end``) via
    time binning — the interval-interval sibling of
    :func:`range_join_binned`'s point-in-interval shape.

    A bare overlap predicate plans as a nested loop (|L|·|R|
    comparisons). Binned, BOTH sides explode to the integer bins their
    span covers and meet on an EQUI key (the bin); the exact overlap
    predicate then runs on equi-matched candidates only. An overlapping
    pair shares EVERY bin its intersection covers, so a naive bin join
    would duplicate it — instead of a post-join ``distinct`` (a second
    data-sized shuffle), each pair is kept only in its RESPONSIBILITY
    bin, the bin of ``max(l_start, r_start)`` (the intersection's first
    bin — always shared by both sides): exactly-once survival for free.

    Scale: shuffle moves Σ(left bins) + Σ(right bins) rows on narrow
    keys; the bin is one hour, near the median interval length, so each
    side explodes to O(1) bins. Replication degrades linearly with
    too-small bins, false candidates die in the exact filter with
    too-big bins — neither is quadratic. The interval-side columns are
    renamed before the join (the self-join lineage trap documented in
    range_join_binned) and restored after."""
    w = F.lit(3600)
    ls = F.unix_timestamp(F.col(left_start))
    le = F.unix_timestamp(F.col(left_end))
    lb = left.withColumn("__lbin", F.explode(F.sequence(F.floor(ls / w), F.floor(le / w))))
    rb = right
    for old, new in ((right_start, "__iv_start"), (right_end, "__iv_end")):
        rb = rb.withColumnRenamed(old, new)
    rs = F.unix_timestamp(F.col("__iv_start"))
    re_ = F.unix_timestamp(F.col("__iv_end"))
    rb = rb.withColumn(
        "__rbin", F.explode(F.sequence(F.floor(rs / w), F.floor(re_ / w)))
    )
    cond = F.col("__lbin") == F.col("__rbin")
    overlap = (F.col(left_start) <= F.col("__iv_end")) & (
        F.col("__iv_start") <= F.col(left_end)
    )
    responsible = (
        F.floor(
            F.greatest(
                F.unix_timestamp(F.col(left_start)),
                F.unix_timestamp(F.col("__iv_start")),
            )
            / w
        )
        == F.col("__lbin")
    )
    out = lb.join(rb, cond & overlap & responsible).drop("__lbin", "__rbin")
    return out.withColumnRenamed("__iv_start", right_start).withColumnRenamed(
        "__iv_end", right_end
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Skew-resistant equi-join: salt the (skewed) left side's key into
    8 sub-keys and replicate the right side across all 8 salt values,
    so one hot key spreads over 8 reducers instead of one straggler.

    AQE's skew-join split handles post-hoc skew automatically; explicit
    salting is the a-priori tool when a key is KNOWN hot (e.g. the empty
    document, a null-ish default id) and you want deterministic layout.
    Cost: right side inflates ×8 — use for dimension-sized right sides.

    The join is inner: the right side is replicated ×salt, so a join that
    kept unmatched right rows would emit each once per salt value.
    """
    salt = 8
    l_salted = left.withColumn("__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)))
    r_salted = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = l_salted.join(
        r_salted,
        (l_salted[left_key] == r_salted[right_key]) & (l_salted["__salt"] == r_salted["__salt"]),
        "inner",
    )
    return out.drop("__salt")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare: Sequence[str],
) -> DataFrame:
    """Snapshot change-data-capture (the dbt-snapshot / SCD guts): given
    two full snapshots of a keyed table, classify every key as
    'insert' (new only), 'delete' (old only), 'update' (both, any
    compared column differs — null-safe), or 'unchanged'. The diff step
    that turns the reference's dup-prone daily full loads into an
    incremental history.

    One co-partitioned full-outer join on the key; comparison is a
    null-safe struct equality (<=> on a struct compares field-wise), so
    NULL→value and value→NULL transitions count as updates. At 100 TB
    both snapshots arrive partitioned by key and the join is the only
    shuffle; emit 'unchanged' too so the output is a complete keyed
    audit (filter it away when materializing a changelog).
    """
    o = old.select(
        F.col(key).alias("__k"),
        F.lit(True).alias("__in_old"),
        F.struct(*[F.col(c) for c in compare]).alias("__old"),
    )
    n = new.select(
        F.col(key).alias("__k"),
        F.lit(True).alias("__in_new"),
        F.struct(*[F.col(c) for c in compare]).alias("__new"),
    )
    j = o.join(n, "__k", "full_outer")
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(F.col("__old").eqNullSafe(F.col("__new")), F.lit("unchanged"))
        .otherwise(F.lit("update"))
    )
    return j.select(F.col("__k").alias(key), change.alias("change_type"))


def bloom_prefilter_semi_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
) -> DataFrame:
    """LEFT SEMI join with an explicit broadcast Bloom pre-filter: the
    build side's keys fold into an m = 2^16-bit word-packed bitmap
    (dedup.bloom_build — distributed bit_or assembly, ONE broadcast row
    of ``map<int, bigint>``), and probe rows failing the k = 4 bit tests
    drop BEFORE the join's shuffle. Blooms have no false negatives, so
    the result is EXACTLY ``probe.join(build, key, "left_semi")`` — the
    filter only cuts shuffle volume.

    Spark's optimizer injects the same shape itself (runtime row-level
    filtering) when statistics justify it; the explicit operator exists
    for when the build side is known-selective up front, or when the
    filter should be BUILT ONCE and reused across many probe queries
    (persist the one-row word-map DF — plain data any engine can read,
    unlike Spark's internal BloomFilter binary).

    The probe test is O(k) per row — k map lookups + bitwise ANDs
    (dedup.bloom_might_contain), never a scan of the filter. The first
    cut of this operator kept the set positions as a plain array and
    probed with array_contains: an O(m) scan per probe that benched at
    50 s vs ~1 s for the plain join at sf0.1 — the word-packed bitmap
    is not an optimization but the difference between a filter and a
    self-inflicted cross product. FPR follows (1-e^(-kn/m))^k — size
    m ≥ ~10 bits/key; false positives still pass the exact semi join,
    so they cost shuffle bytes, never correctness."""
    from .dedup import bloom_build, bloom_might_contain

    bf = bloom_build(build, key, m_bits=1 << 16, k_hashes=4)
    pre = (
        probe.crossJoin(F.broadcast(bf))
        .filter(bloom_might_contain(key, m_bits=1 << 16, k_hashes=4))
        .drop("__bloom")
    )
    return pre.join(build.select(key), key, "left_semi")


def skyline_2d(df: DataFrame, x: str, y: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier, minimize ``x`` then ``y``) — the
    preference-query operator relational engines expose as
    ``SKYLINE OF x MIN, y MIN``: keep exactly the rows no other row
    dominates (another row ≤ in both dimensions and < in at least one;
    ties on BOTH dimensions all survive — equality is not dominance).

    The naive form is the quadratic NOT-EXISTS self-join; the 2-D
    structure collapses it to a prefix scan: a row is dominated iff the
    minimum ``y`` among STRICTLY-cheaper ``x`` groups is ≤ its own
    ``y``, or a same-``x`` row has strictly smaller ``y``. Both facts
    come from the ``x``-group table (|distinct x| rows, bounded by the
    value domain, never by the data): per-group min, then a strict
    exclusive prefix min across groups via the same two-phase scan as
    :func:`global_running_sum` — per-bucket mins (``x >>
    SKYLINE_BUCKET_SHIFT``),
    an exclusive cross-bucket min over the bucket table only, and a
    within-bucket exclusive window, so no reducer ever sees more than
    one bucket's groups. One group shuffle + one attach join; the
    quadratic dominance test never runs. ``x`` must be integral and
    non-negative (bucket identity is a bit shift)."""
    g = df.groupBy(x).agg(F.min(y).alias("__gmin"))
    gb = g.withColumn("__b", F.shiftright(F.col(x).cast("long"), SKYLINE_BUCKET_SHIFT))
    per = gb.groupBy("__b").agg(F.min("__gmin").alias("__bmin"))
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    off = per.select("__b", F.min("__bmin").over(wb).alias("__pbmin"))
    wg = (
        Window.partitionBy("__b")
        .orderBy(x)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m1 = (
        gb.join(F.broadcast(off), "__b")
        .withColumn("__wmin", F.min("__gmin").over(wg))
        .withColumn("__m1", F.least("__wmin", "__pbmin"))
        .select(x, "__gmin", "__m1")
    )
    dominated = (
        F.col("__m1").isNotNull() & (F.col("__m1") <= F.col(y))
    ) | (F.col("__gmin") < F.col(y))
    return df.join(m1, x).filter(~dominated).drop("__gmin", "__m1")


def grouped_exact_percentiles(
    df: DataFrame,
    group: Sequence[str],
    value: str,
    tiebreak: Sequence[str],
    qs: Sequence[int],
    grain: Column,
) -> DataFrame:
    """EXACT per-group percentile VALUES via the per-group two-phase
    prefix scan — the shared machinery under funnel_stage_latency_
    quantiles and quantile_treatment_effects, extracted (r10) so new
    order-statistics entries stop re-inlining it: bucket each group's
    rows by ``grain`` (a monotonic function of ``value``), compute
    per-(group, bucket) counts, turn them into bucket offsets with a
    window over the BUCKET TABLE (bounded by |buckets|, never the
    data), then row_number only WITHIN (group, bucket) reducers and
    add the offset — a global per-group rank where no reducer ever
    sorts more than one bucket. Needed ranks are pure integer
    ceil(q·n/100) = (q·n + 99) DIV 100 (no float rank literal to
    diverge cross-engine; 0.9 is not a binary fraction).

    Returns one row per (group, q): ``group..., n, q_pct, <value>``
    (the value at that rank). Ties in ``value`` share the rank's
    value, so duplicate tiebreak keys (this synthetic lineitem has
    duplicate PKs) cannot make the result ambiguous."""
    gcols = list(group)
    g = df.withColumn("__grain", grain)
    per = g.groupBy(*gcols, "__grain").agg(F.count(F.lit(1)).alias("__gn"))
    wg = (
        Window.partitionBy(*gcols)
        .orderBy("__grain")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = per.select(
        *gcols,
        "__grain",
        (F.sum("__gn").over(wg) - F.col("__gn")).alias("__off"),
    )
    w = Window.partitionBy(*gcols, "__grain").orderBy(value, *tiebreak)
    rn = g.join(F.broadcast(offsets), [*gcols, "__grain"]).withColumn(
        "__rn", (F.col("__off") + F.row_number().over(w)).cast("long")
    )
    tot = df.groupBy(*gcols).agg(F.count(F.lit(1)).cast("long").alias("n"))
    rk = tot.select(
        *[F.col(c).alias(f"__rk_{c}") for c in gcols],
        "n",
        F.explode(F.array(*[F.lit(q).cast("long") for q in qs])).alias("q_pct"),
    ).withColumn(
        "__rank_needed",
        F.greatest(F.lit(1).cast("long"), F.expr("(q_pct * n + 99) div 100")),
    )
    cond = F.col("__rn") == F.col("__rank_needed")
    for c in gcols:
        cond = cond & (F.col(c) == F.col(f"__rk_{c}"))
    return rn.join(F.broadcast(rk), cond).select(*gcols, "n", "q_pct", value)
