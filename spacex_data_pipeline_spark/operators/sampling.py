"""Deterministic sampling & split assignment (training-data pipeline ops).

Spark's native ``sample``/``sampleBy`` are Bernoulli draws over the row
STREAM — the kept set depends on partition layout and row order, so a
re-run, a repartition, or a cluster resize silently changes the sample.
A 100 TB training pipeline needs the opposite: membership must be a pure
function of the KEY, so samples are reproducible across runs/engines,
stable under incremental appends (old rows never flip), and auditable.

Everything here derives from the first 8 hex digits of ``md5(key‖seed)``
— a uniform 32-bit integer both Spark and the DuckDB oracle compute
identically, making sample membership itself hash-checkable. All ops are
narrow maps (filter/CASE on a scan — no shuffle, fuses into pushdown).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 10_000


def hash_bucket(key: Column, seed: str = "", buckets: int = BUCKETS) -> Column:
    """Deterministic uniform bucket in [0, buckets) from md5(key‖seed).

    DuckDB twin: ``('0x' || substr(md5(CAST(k AS VARCHAR) || seed), 1, 8))
    ::UBIGINT % buckets``.
    """
    h = F.md5(F.concat(key.cast("string"), F.lit(seed)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets


def deterministic_sample(
    df: DataFrame, key: str, rate: float, seed: str = ""
) -> DataFrame:
    """Keep ~rate of rows, membership a pure function of the key."""
    return df.filter(hash_bucket(F.col(key), seed) < int(rate * BUCKETS))


def stratified_sample(
    df: DataFrame, key: str, stratum: str, rates: dict[str, float], seed: str = ""
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. downsample boilerplate-heavy
    sources, keep all of rare ones) — the mixture-weighting step of a
    training-data pipeline. Unlisted strata are dropped."""
    b = hash_bucket(F.col(key), seed)
    thresh = F.lit(None).cast("long")
    for value, rate in rates.items():
        thresh = F.when(F.col(stratum) == value, F.lit(int(rate * BUCKETS))).otherwise(
            thresh
        )
    return df.filter(b < thresh)


def shard_and_shuffle(df: DataFrame, key: str, n_shards: int = 8) -> DataFrame:
    """Deterministic global permutation into training shards: every row
    gets (shard, pos) such that reading shards sequentially visits the
    corpus in a reproducible pseudo-random order — the global-shuffle
    step before writing training shards, without ``ORDER BY rand()``'s
    layout-dependence or a full global sort.

    shard comes from the md5 bucket of the key; pos is the row's rank
    within its shard under an INDEPENDENTLY seeded md5 (so within-shard
    order is not correlated with the shard assignment), tie-broken by
    key. Both are pure key functions: appends never re-deal existing
    rows' shards, and a re-run on any cluster layout deals identically.

    Scale: ONE shuffle, partitioned by shard (exactly the write layout),
    each task ranks only its own shard — no global sort barrier. At the
    extreme where one shard exceeds a task, split pos ranking into
    (bucket, sub-rank) with a coarser md5 prefix.
    """
    pos_h = F.md5(F.concat(F.col(key).cast("string"), F.lit("shuffle:pos")))
    w = Window.partitionBy("shard").orderBy("__pos_h", key)
    return (
        df.withColumn("shard", hash_bucket(F.col(key), "shuffle", n_shards).cast("int"))
        .withColumn("__pos_h", pos_h)
        .withColumn("pos", F.row_number().over(w).cast("int"))
        .drop("__pos_h")
    )


def split_assign(
    df: DataFrame,
    key: str,
    val_pct: float = 0.01,
    test_pct: float = 0.01,
) -> DataFrame:
    """Append a train/val/test ``split`` column — disjoint, exhaustive,
    and stable under appends (a document's split never changes when the
    corpus grows; the leakage guarantee evals depend on)."""
    b = hash_bucket(F.col(key), "split")
    val_hi = int(val_pct * BUCKETS)
    test_hi = val_hi + int(test_pct * BUCKETS)
    return df.withColumn(
        "split",
        F.when(b < val_hi, F.lit("val"))
        .when(b < test_hi, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def temperature_sample_plan(docs: DataFrame) -> DataFrame:
    """Temperature-based mixture sampling: target source shares
    p_s ∝ n_s^τ with τ = 0.5 (τ < 1 upweights small sources — the
    multilingual/low-resource rebalancing rule used for LLM mixtures), a
    total budget of ``floor(N·0.5)`` docs, per-source acceptance thresholds,
    and the realized counts after DETERMINISTIC hash sampling
    (membership is a pure function of the doc id — append-stable,
    re-runnable, the sampling.py discipline).

    Exactness: with τ = 0.5 the weight is sqrt(n) — IEEE-754 requires
    sqrt correctly rounded, so it is bit-identical cross-engine (any
    other τ would go through pow, which is libm-dependent); the weight
    normalizer folds the ~|sources| weights left-to-right in source
    order; thresholds are floor()-integerized (the one integerization
    both engines share — quantize_embeddings' argument).

    Scale shape: two source-keyed aggregates (|sources| rows), a 1-row
    broadcast for the normalizer, a broadcast threshold join onto the
    corpus scan, and one more source-keyed count. The corpus is touched
    exactly twice, both as scans with map-side combine."""
    w_expr = F.sqrt(F.col("n_docs").cast("double"))
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    sq = per.withColumn("w", w_expr)
    z = sq.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("source", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("__z"),
        F.sum("n_docs").alias("__n_total"),
    )
    p = F.col("w") / F.col("__z")
    budget = F.floor(F.col("__n_total").cast("double") * F.lit(0.5))
    plan = (
        sq.crossJoin(F.broadcast(z))
        .withColumn("p_target", p)
        .withColumn(
            "target_docs", F.floor(budget.cast("double") * p).cast("long")
        )
        .withColumn(
            "threshold",
            F.least(
                F.lit(BUCKETS).cast("long"),
                F.floor(
                    F.lit(float(BUCKETS))
                    * (
                        F.col("target_docs").cast("double")
                        / F.col("n_docs").cast("double")
                    )
                ),
            ),
        )
        .select("source", "n_docs", "p_target", "target_docs", "threshold")
    )
    sampled = (
        docs.select("source", "doc_id")
        .join(F.broadcast(plan.select("source", "threshold")), "source")
        .filter(hash_bucket(F.col("doc_id"), "mix") < F.col("threshold"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    from ..functions.numeric import pct_rate

    return (
        plan.join(sampled, "source", "left")
        .select(
            "source",
            "n_docs",
            "p_target",
            "target_docs",
            F.col("threshold").cast("int").alias("threshold"),
            F.coalesce("n_sampled", F.lit(0).cast("long")).alias("n_sampled"),
        )
        .withColumn("sample_pct", pct_rate(F.col("n_sampled"), F.col("n_docs")))
    )


def weighted_priority(key: Column, weight: Column, seed: str = "") -> Column:
    """Efraimidis–Spirakis (A-ES) sampling priority for INTEGER weights,
    log- and pow-free: the textbook priority is u^(1/w) (select the
    top-k priorities ⇒ weighted sampling without replacement), but pow
    goes through libm and engines disagree in the last ulp. For integer
    w there is an exact equivalent both engines compute bit-identically:
    ``max of w independent uniforms`` has CDF x^w — the SAME law as
    u^(1/w) (P(u^(1/w) ≤ x) = P(u ≤ x^w) = x^w) — so the priority is
    the max of ``w`` independent 32-bit md5 draws keyed (key, j, seed).

    Per-row cost is O(w) md5s, so weights are clamped to 32 (beyond ~32
    the selection probabilities saturate anyway — P ∝ w only holds until
    near-certain inclusion). Zero shuffle; pure expression."""
    w = F.least(F.greatest(weight.cast("long"), F.lit(1)), F.lit(32))
    draw = lambda j: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat_ws(":", key.cast("string"), j.cast("string"), F.lit(seed))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return F.aggregate(
        F.sequence(F.lit(1), w),
        F.lit(-1).cast("long"),
        lambda acc, j: F.greatest(acc, draw(j)),
    )


def weighted_sample_per_group(
    df: DataFrame,
    key: str,
    weight_col: str,
    group_col: str,
    k: int,
) -> DataFrame:
    """Top-k A-ES weighted sample WITHIN each group (weight-proportional,
    without replacement, deterministic: membership is a pure function of
    the key — append-stable and engine-reproducible like everything in
    this module).

    The rank is the exact TWO-LEVEL bucketed top-k (the
    contrastive-negatives pattern): level 1 ranks within (group,
    md5-bucket-of-key, 32 buckets) and keeps each bucket's top-k, level 2
    ranks the ≤ 32·k survivors per group — identical output to a direct
    per-group window (the global top-k is inside the union of bucket
    top-ks) with every reducer bounded at ~|group|/32 rows, so
    one giant source can't pin the job on one task."""
    prio = weighted_priority(F.col(key), F.col(weight_col), "ws").alias("priority")
    bucket = hash_bucket(F.col(key), "ws:b", 32)
    base = df.select(
        F.col(group_col), F.col(key), F.col(weight_col), prio,
        bucket.alias("__bkt"),
    )
    w1 = Window.partitionBy(group_col, "__bkt").orderBy(
        F.col("priority").desc(), F.col(key)
    )
    lvl1 = (
        base.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__r1", "__bkt")
    )
    w2 = Window.partitionBy(group_col).orderBy(F.col("priority").desc(), F.col(key))
    return (
        lvl1.withColumn("sample_rank", F.row_number().over(w2))
        .filter(F.col("sample_rank") <= k)
        .select(group_col, key, weight_col, "priority", "sample_rank")
    )
