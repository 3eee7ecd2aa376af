"""Aggregation operators (SURVEY.md §2.4 A1-A7).

All land on ``HashAggregateExec`` with map-side partial aggregation —
one shuffle per groupBy. Aggregate aliases are set inside ``agg()``
(never a post-hoc rename chain like the reference's 13-way
``withColumnRenamed``, etl.py:186-198).

``first()`` in the reference (A1/A2) is order-nondeterministic; callers
here pass deterministic aggregates (``min``/``max``) unless they can
prove per-group constancy (SURVEY.md §7.4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves postponed type hints via these globals
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import spark_hex_to_long
from ..sources.readers import from_records


def pivot_wide(
    df: DataFrame,
    keys: list[str],
    pivot_col: str,
    pivot_values: list[str],
    agg: Column,
    fill=0,
) -> DataFrame:
    """A3 + P6: pivot with an explicit value list.

    Passing ``pivot_values`` matters twice: (1) determinism — the
    output schema no longer depends on a distinct-scan of the data;
    (2) scale — Spark skips the extra job that collects distinct pivot
    values. Missing combinations are filled (reference semantics:
    absent race count = 0, not null; etl.py:199).
    """
    out = df.groupBy(*keys).pivot(pivot_col, pivot_values).agg(agg)
    if fill is not None:
        out = out.na.fill(fill, subset=[c for c in out.columns if c not in keys])
    return out


def rollup_agg(df: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """Rollup (hierarchical grouping sets) — beyond-reference but a core
    OLAP aggregate; nulls mark the rolled-up levels."""
    return df.rollup(*keys).agg(*aggs)


def mad_agg(value_col: str = "value") -> Column:
    """UDAF surface: median absolute deviation as an Arrow-batched
    GROUPED_AGG pandas UDF — the escape hatch for aggregates with no
    built-in (true medians need the whole group). Physical plan:
    ``AggregateInPandas`` — each group's values stream to one Python
    worker as Arrow batches, one double returns. Partial aggregation
    does NOT apply (medians don't decompose), so every group's values
    shuffle — at 100 TB prefer percentile_approx unless exactness is
    required, and salt mega-groups first.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def mad(v: pd.Series) -> float:
        a = v.to_numpy(dtype=np.float64)
        return float(np.median(np.abs(a - np.median(a))))

    return mad(value_col)


def profile_table(
    df: DataFrame,
    num_cols: list[str],
    str_cols: list[str],
    exact_distinct: bool = True,
) -> DataFrame:
    """General table-profiling operator — the ``df.summary()`` twin of
    the reference's exploratory cells (capstone ipynb cells 11-14),
    re-expressed as ONE declarative aggregation instead of a
    per-column driver loop.

    Output is long-format, one row per profiled column:
    (col_name, n_nonnull, n_null, n_distinct,
     min_x100, max_x100, mean_x100,   -- numeric cols, fixed-point
     min_s, max_s)                    -- string cols, else NULL

    Scale shape: a single global HashAggregate pass computes every
    statistic for every column at once (Catalyst plans the multiple
    COUNT(DISTINCT)s via one Expand — data is scanned ONCE, expanded
    x(#distinct-cols), never collected per column). The long-format
    unpivot is a driver-free explode of a literal-keyed struct array
    over the single aggregate row. With ``exact_distinct=False`` the
    distinct counts switch to ``approx_count_distinct`` (HLL) — the
    right profiling mode at 100 TB, where exact distinct of a
    high-cardinality column is a full shuffle of the key space
    (not oracle-comparable cross-engine, hence opt-in).

    Fixed-point x100 statistics keep floats out of the comparison path
    (mean is floor(sum*100/n + 0.5): sums of 2-decimal values are
    exact integers in double well past 2^53-cents corpora).
    """
    ndist = F.countDistinct if exact_distinct else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("_total")]
    for c in num_cols + str_cols:
        aggs += [F.count(c).alias(f"n_{c}"), ndist(c).alias(f"d_{c}")]
    for c in num_cols:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(c).alias(f"sum_{c}"),
        ]
    for c in str_cols:
        aggs += [F.min(c).alias(f"mins_{c}"), F.max(c).alias(f"maxs_{c}")]
    g = df.agg(*aggs)

    def x100(col: Column) -> Column:
        return F.floor(col * 100 + F.lit(0.5)).cast("long")

    null_l = F.lit(None).cast("long")
    null_s = F.lit(None).cast("string")
    rows = []
    for c in num_cols:
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"n_{c}").alias("n_nonnull"),
                (F.col("_total") - F.col(f"n_{c}")).alias("n_null"),
                F.col(f"d_{c}").alias("n_distinct"),
                x100(F.col(f"min_{c}")).alias("min_x100"),
                x100(F.col(f"max_{c}")).alias("max_x100"),
                F.floor(
                    F.col(f"sum_{c}") * 100 / F.col(f"n_{c}") + F.lit(0.5)
                ).cast("long").alias("mean_x100"),
                null_s.alias("min_s"),
                null_s.alias("max_s"),
            )
        )
    for c in str_cols:
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"n_{c}").alias("n_nonnull"),
                (F.col("_total") - F.col(f"n_{c}")).alias("n_null"),
                F.col(f"d_{c}").alias("n_distinct"),
                null_l.alias("min_x100"),
                null_l.alias("max_x100"),
                null_l.alias("mean_x100"),
                F.col(f"mins_{c}").alias("min_s"),
                F.col(f"maxs_{c}").alias("max_s"),
            )
        )
    return g.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def count_min_estimates(
    values: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    k_probe: int = 20,
) -> DataFrame:
    """Count-min sketch frequency estimation (Cormode & Muthukrishnan
    2005) with an exact companion column — the MERGEABLE-sketch shape
    for 100 TB frequency queries: the sketch is a fixed depth x width
    counter table (4096 rows here), built with ONE map-side-combined
    groupBy and mergeable across partitions/days/datasets by plain
    addition, independent of key cardinality.

    Output, for the ``k_probe`` most frequent values (deterministic
    probe set: count desc, value asc): (value, exact_c, cms_est,
    overcount). CMS guarantees ``cms_est >= exact_c`` always — the
    estimate is ``min`` over ``depth`` md5-derived bucket rows, so
    both engines reproduce it bit-for-bit (no randomness at query
    time; the "randomness" is the fixed hash family).

    The exact-count pass exists for the oracle/companion — a pure
    sketch deployment drops it and keeps only the 4096-row groupBy,
    which is the whole point at scale.
    """
    vals = values.select(F.col(value_col).alias("v")).filter(F.col("v").isNotNull())
    rows = vals.select(
        "v",
        F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("d"),
    ).select(
        "v",
        "d",
        F.expr(
            spark_hex_to_long("md5(concat(v, ':', CAST(d AS STRING)))", 7)
            + f" % {width}"
        ).alias("bucket"),
    )
    sketch = rows.groupBy("d", "bucket").agg(F.count("*").alias("c"))
    exact = vals.groupBy("v").agg(F.count("*").alias("exact_c"))
    probes = exact.orderBy(F.col("exact_c").desc(), "v").limit(k_probe)
    probe_rows = probes.select(
        "v", "exact_c",
        F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("d"),
    ).select(
        "v", "exact_c", "d",
        F.expr(
            spark_hex_to_long("md5(concat(v, ':', CAST(d AS STRING)))", 7)
            + f" % {width}"
        ).alias("bucket"),
    )
    est = (
        probe_rows.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("v", "exact_c")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        F.col("v").alias("value"),
        "exact_c",
        "cms_est",
        (F.col("cms_est") - F.col("exact_c")).alias("overcount"),
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    frac_num: int = 1,
    frac_den: int = 100,
) -> DataFrame:
    """EXACT heavy hitters — every value occurring in at least
    ``frac_num/frac_den`` of rows — computed scale-first, Misra-Gries
    style: each Arrow batch emits only the values at or above the
    threshold fraction WITHIN that batch (vectorized value_counts, at
    most frac_den/frac_num survivors per batch). The union is
    GUARANTEED to contain every true heavy hitter — if a value is
    below the threshold in every batch, summing over batches puts it
    below the global threshold too. One exact recount of only the
    candidates (broadcast semi join) follows. The shuffle carries
    candidate summaries (O(batches x frac_den) rows), never the full
    key space — the two-pass exact-HH pattern for 100 TB
    cardinality-explosive columns where a naive groupBy would shuffle
    every distinct value. The final output is exact and
    partitioning-independent even though the candidate set is not.

    Output: (value, n_occurrences), exact counts, only true HH rows.
    """

    def batch_candidates(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vc = pdf[col].value_counts()
            keep = vc[vc * frac_den >= len(pdf) * frac_num]
            # side-channel row: the batch's row count rides along as a
            # NULL-valued row, so the global total needs no extra pass
            # over the (possibly expensively derived) input
            yield pd.DataFrame(
                {
                    "value": list(keep.index) + [None],
                    "batch_rows": [0] * len(keep) + [len(pdf)],
                }
            )

    spark = df.sparkSession
    # one aggregation materializes BOTH the candidate set and the total
    # (the candidates are about to be broadcast anyway, so collecting
    # them costs nothing extra); df is scanned exactly twice: sketch +
    # recount — no separate count() pass over a derived input
    summary = (
        df.select(F.col(col).alias(col))
        .mapInPandas(batch_candidates, "value string, batch_rows long")
        .groupBy("value")
        .agg(F.sum("batch_rows").alias("rows"))
        .collect()
    )
    total = sum(r.rows for r in summary if r.value is None)
    candidates = from_records(
        spark, [(r.value,) for r in summary if r.value is not None], "value string"
    )
    threshold = total * frac_num  # compare count*den >= total*num
    return (
        df.join(
            F.broadcast(candidates),
            df[col] == candidates["value"],
            "left_semi",
        )
        .groupBy(F.col(col).alias("value"))
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") * frac_den >= F.lit(threshold))
    )


def iqr_outliers(
    df,
    group_col: str,
    value_col: str,
    k_x10: int = 15,
    decimals: int = 2,
):
    """Per-group Tukey-fence outlier counts: values above
    ``q3 + (k_x10/10) * (q3 - q1)`` (k=1.5 default, the standard
    whisker) — the distribution-audit pass that flags anomalous
    groups without a fixed threshold.

    Exact interpolated quantiles (ground-truth twin; swap in
    ``percentile_approx`` at 100 TB, same trade as exact-vs-capped
    Jaccard documented on group_quantiles). The group-level quantile
    table is broadcast back onto the rows, so the second pass is
    map-side; the fence is fixed-point-rounded BEFORE the comparison
    so both engines classify identical rows.

    Output: (group, n_rows, n_outliers, fence_r, max_val_r).
    """
    from pyspark.sql import functions as F

    from ..functions.rounding import round_fixed

    k = k_x10 / 10.0
    q = (
        df.groupBy(group_col)
        .agg(
            F.expr(f"percentile({value_col}, 0.25)").alias("__q1"),
            F.expr(f"percentile({value_col}, 0.75)").alias("__q3"),
        )
        .withColumn(
            "fence_r",
            round_fixed(
                F.col("__q3") + F.lit(k) * (F.col("__q3") - F.col("__q1")),
                decimals,
            ),
        )
        .drop("__q1", "__q3")
    )
    j = df.join(F.broadcast(q), group_col)
    return j.groupBy(group_col).agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col(value_col) > F.col("fence_r")).cast("long")).alias(
            "n_outliers"
        ),
        F.min("fence_r").alias("fence_r"),
        round_fixed(F.max(value_col), decimals).alias("max_val_r"),
    )


def bitmap_rolling_distinct(
    df: DataFrame,
    day_col: str,
    id_col: str,
    window_days: int = 7,
) -> DataFrame:
    """EXACT rolling distinct-count via integer bitmap indexes — the
    Druid/Kylin pattern for "distinct users over any date range" at
    100 TB. ``count(distinct)`` over a sliding frame cannot use
    partial aggregation (re-counts every frame from raw rows); a
    bitmap per (day, word) CAN: raw events reduce map-side to
    ``bit_or`` words (id-space/32 rows per day, independent of event
    count), windows merge daily bitmaps with another ``bit_or``, and
    ``bit_count`` reads the answer. Bitmaps for different days /
    shards / realms merge by OR — the same mergeable-summaries shape
    as the HLL rollup, but exact while the id space stays indexable
    (roaring-style compression extends it; 32-bit words keep every
    mask positive and bit-identical in the DuckDB oracle).

    Returns one row per active day: (day, users_1d, users_{W}d) with
    the trailing-``window_days`` CALENDAR window (RANGE frame on the
    epoch-day index, so data gaps don't stretch the window).

    One shuffle builds the daily bitmaps; the rolling merge
    repartitions by word (a fixed, tiny key space) and the final
    popcount-sum shuffles |days| x |words| rows — all post-reduction
    sizes.

    Precondition: ``id_col`` is a NON-NEGATIVE integer id. The word
    index is integer ``DIV 32`` (exact at any magnitude — the earlier
    float ``/32`` lost exactness above 2^53 and truncated toward zero
    where the DuckDB oracle floors, diverging for negative ids; ADVICE
    r3). For negative ids Spark's ``DIV``/``%`` truncate while the
    oracle's ``//`` floors, so negatives remain out of contract.
    """
    from pyspark.sql import Window

    day = F.col(day_col).cast("date")
    daily = (
        df.select(
            day.alias("day"),
            F.expr(f"({id_col}) DIV 32").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(({id_col}) % 32 AS INT))"
            ).alias("mask"),
        )
        .groupBy("day", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    # day x word spine so a word idle on some day still carries its
    # in-window history into that day's rolling merge
    spine = daily.select("day").distinct().crossJoin(
        daily.select("word").distinct()
    )
    grid = spine.join(daily, ["day", "word"], "left").select(
        "day",
        "word",
        F.coalesce("bits", F.lit(0).cast("long")).alias("bits"),
        F.datediff("day", F.lit("1970-01-01").cast("date")).alias("day_idx"),
    )
    w = (
        Window.partitionBy("word")
        .orderBy("day_idx")
        .rangeBetween(-(window_days - 1), 0)
    )
    rolled = grid.select(
        "day",
        F.bit_count("bits").alias("pc1"),
        F.bit_count(F.bit_or("bits").over(w)).alias("pcw"),
    )
    return rolled.groupBy("day").agg(
        F.sum("pc1").alias("users_1d"),
        F.sum("pcw").alias(f"users_{window_days}d"),
    )


def histogram_quantiles(
    df: DataFrame,
    shard_col: str,
    value_col: str,
    bin_width: int = 8,
    n_bins: int = 128,
    probs_x100: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Approximate quantiles from MERGEABLE equi-width histograms —
    the distributed t-digest/KLL role (Agarwal et al., "Mergeable
    Summaries") in a fully deterministic form: the only data-sized
    pass reduces rows map-side to per-(shard, bin) counts; every
    rollup above that (here the 'ALL' row; at 100 TB any
    day/source/dataset rollup) is plain addition of fixed-size
    histogram rows, never a raw re-scan. The estimate's error is
    bounded by one bin width.

    Per (shard + 'ALL', p): target rank ``t = ceil(p*n/100)``
    (nearest-rank), the covering bin by cumulative count, and the
    in-bin linear interpolation — all integer/double arithmetic both
    engines reproduce bit-for-bit. An EXACT nearest-rank companion
    (oracle anchor, dropped in a pure sketch deployment) rides along
    with the within-one-bin flag, which the histogram bound
    guarantees is always 1. The anchor does NOT globally sort: the
    sketch already located the covering bin, so the global rank-t row
    is the rank-``(t - cum_before)`` row WITHIN that bin (binning is
    monotone in v), and only picked-bin rows — ~n/n_bins each, never
    a whole shard — are window-sorted.

    Values are clamped into [0, bin_width*n_bins); the top bin absorbs
    overflow (documented precondition: pick the range from schema
    knowledge or a prior min/max pass).
    """
    from pyspark.sql import Window

    w = bin_width
    shard = F.col(shard_col).cast("string")
    binned = df.select(
        shard.alias("shard"),
        F.least(
            F.greatest(F.floor(F.col(value_col) / F.lit(float(w))), F.lit(0)),
            F.lit(n_bins - 1),
        ).cast("int").alias("bin"),
        F.col(value_col).alias("v"),
    )
    hist = binned.groupBy("shard", "bin").agg(F.count("*").alias("c"))
    hist_all = hist.groupBy("bin").agg(F.sum("c").alias("c")).select(
        F.lit("ALL").alias("shard"), "bin", "c"
    )
    h = hist.unionByName(hist_all)
    ws = Window.partitionBy("shard")
    wcum = ws.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    h = h.select(
        "shard",
        "bin",
        "c",
        F.sum("c").over(ws).alias("n"),
        F.sum("c").over(wcum).alias("cum"),
    )
    probs = F.explode(F.array(*[F.lit(p) for p in probs_x100])).alias("p")
    cand = h.select("*", probs).withColumn(
        "t", F.expr("CAST((p * n + 99) DIV 100 AS BIGINT)")
    )
    picked = cand.filter(
        (F.col("cum") >= F.col("t")) & (F.col("cum") - F.col("c") < F.col("t"))
    )
    est = (
        (
            F.col("bin").cast("double")
            + (F.col("t") - F.col("cum") + F.col("c")).cast("double")
            / F.col("c").cast("double")
        )
        * F.lit(float(w))
    )
    picked = picked.select(
        "shard",
        "p",
        "n",
        "bin",
        F.floor(est * 100 + F.lit(0.5)).alias("est_x100"),
        (F.col("t") - F.col("cum") + F.col("c")).alias("k"),
    )
    # exact nearest-rank companion (oracle anchor): rank-k row WITHIN
    # the covering bin; only picked-bin rows are window-sorted
    bins_typed = (
        picked.filter(F.col("shard") != "ALL").select("shard", "bin").distinct()
    )
    rows_typed = binned.join(F.broadcast(bins_typed), ["shard", "bin"]).select(
        "shard", "bin", "v"
    )
    bins_all = picked.filter(F.col("shard") == "ALL").select("bin").distinct()
    rows_all = binned.join(F.broadcast(bins_all), ["bin"]).select(
        F.lit("ALL").alias("shard"), "bin", "v"
    )
    ranked = rows_typed.unionByName(rows_all).select(
        F.col("shard").alias("r_shard"),
        F.col("bin").alias("r_bin"),
        "v",
        F.row_number()
        .over(Window.partitionBy("shard", "bin").orderBy("v"))
        .alias("rn"),
    )
    out = picked.join(
        ranked,
        (F.col("shard") == F.col("r_shard"))
        & (F.col("bin") == F.col("r_bin"))
        & (F.col("k") == F.col("rn")),
    ).select(
        "shard",
        "p",
        "n",
        "bin",
        "est_x100",
        F.floor(F.col("v") * 100 + F.lit(0.5)).alias("exact_x100"),
    )
    return out.withColumn(
        "within_bin",
        (F.abs(F.col("est_x100") - F.col("exact_x100")) <= F.lit(w * 100)).cast(
            "int"
        ),
    )


def bitmap_retention(
    df: DataFrame,
    day_col: str,
    id_col: str,
    lag_days: int = 7,
) -> DataFrame:
    """Exact day-over-``lag_days`` retention via bitmap INTERSECTION —
    the second read path the bitmap index buys (the first being the
    rolling-distinct OR): ``retained = popcount(today AND lagged)``,
    ``new = popcount(today AND NOT lagged)``, ``churned =
    popcount(lagged AND NOT today)``. A count-distinct formulation
    needs a self-join of raw events; here the self-join is between
    per-(day, word) BITMAP rows — id-space/32 per day, independent of
    event volume — and every count is exact.

    Full-outer on the (word, day = lagged day + lag) pair so a word
    active only in one of the two days still contributes its new /
    churned mass. Days with no lagged counterpart report churned = 0
    and new = active (a cold start, not data loss).

    Precondition: non-negative integer ids (see
    :func:`bitmap_rolling_distinct` — word index is integer ``DIV 32``).
    """
    day = F.col(day_col).cast("date")
    daily = (
        df.select(
            day.alias("day"),
            F.expr(f"({id_col}) DIV 32").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(({id_col}) % 32 AS INT))"
            ).alias("mask"),
        )
        .groupBy("day", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    t = daily.select(
        F.col("day").alias("t_day"), F.col("word").alias("t_word"),
        F.col("bits").alias("t_bits"),
    )
    p = daily.select(
        F.col("day").alias("p_day"), F.col("word").alias("p_word"),
        F.col("bits").alias("p_bits"),
    )
    j = t.join(
        p,
        (F.col("t_word") == F.col("p_word"))
        & (F.col("p_day") == F.date_sub(F.col("t_day"), lag_days)),
        "full_outer",
    ).select(
        F.coalesce(F.col("t_day"), F.date_add(F.col("p_day"), lag_days)).alias(
            "day"
        ),
        F.coalesce("t_bits", F.lit(0).cast("long")).alias("tb"),
        F.coalesce("p_bits", F.lit(0).cast("long")).alias("pb"),
    )
    return (
        j.groupBy("day")
        .agg(
            F.sum(F.bit_count("tb")).alias("active"),
            F.sum(F.bit_count(F.expr("tb & pb"))).alias("retained"),
            F.sum(F.bit_count(F.expr("tb & ~pb"))).alias("new_users"),
            F.sum(F.bit_count(F.expr("pb & ~tb"))).alias("churned"),
        )
        .filter(F.col("active") > 0)
    )


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
    nchars: int = 13,
    margin: int = 8,
) -> DataFrame:
    """KMV / theta distinct sketch per group: the ``k`` smallest
    md5-derived hashes of the DISTINCT values, as rows
    ``(g, h, rn)`` with ``rn`` the 1-based hash rank. Where the HLL
    rollup (``hll_sketch_rollup``) trades determinism for fixed size,
    KMV keeps BOTH mergeability and cross-engine determinism: the
    sketch is a pure function of the md5 hash set, so a DuckDB oracle
    reproduces it bit-for-bit — estimates and set operations included
    (``theta_sketch_ops`` in plans/queries_llm.py builds
    union/intersection estimates from these rows, the Apache
    DataSketches theta-sketch shape).

    Scale path (the point at 100 TB): a naive per-group k-min is a
    full sort of every distinct hash. Instead: (1) one cheap
    partial-aggregated ``approx_count_distinct`` pass per group; (2) a
    conservative hash threshold ``thr ~= margin * k / n_est * SPACE``
    broadcast back, so the map-side filter discards all but
    ~``margin * k`` hashes per group before anything shuffles; (3)
    exact ``row_number`` on the tiny survivor set. Groups estimated at
    <= ``margin * k`` distinct values skip the filter entirely
    (thr = SPACE). The filter can under-collect only if the true kth
    smallest hash exceeds ``margin``x its expectation — a Chernoff
    tail below e^-{4k} — and that case RAISES (filtered group with an
    unfilled sketch) rather than returning a silently biased sketch.

    ``nchars=13`` (52-bit hash space) keeps every downstream estimator
    term — ``(k-1) * SPACE``, ``n_retained * SPACE`` — inside exact
    int64 arithmetic in both engines (no double rounding divergence).
    """
    from pyspark.sql import Window

    space = 16**nchars
    h = F.expr(
        spark_hex_to_long(f"md5(CAST({value_col} AS STRING))", nchars)
    )
    hashed = df.select(F.col(group_col).alias("g"), h.alias("h"))
    thr = (
        hashed.groupBy("g")
        .agg(F.approx_count_distinct("h").alias("n_est"))
        .select(
            "g",
            F.when(F.col("n_est") <= margin * k, F.lit(space))
            .otherwise(
                F.least(
                    F.lit(space),
                    (F.lit(margin * k * space) / F.col("n_est")).cast("long")
                    + 1,
                )
            )
            .alias("thr"),
        )
    )
    surv = (
        hashed.join(F.broadcast(thr), "g")
        .filter(F.col("h") < F.col("thr"))
        .groupBy("g", "h")
        .agg(F.min("thr").alias("thr"))
    )
    w = Window.partitionBy("g").orderBy("h")
    ranked = surv.select(
        "g",
        "h",
        "thr",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("g")).alias("n_surv"),
    )
    guard = F.when(
        (F.col("thr") < space) & (F.col("n_surv") < k),
        F.raise_error(
            F.concat(
                F.lit("kmv_sketch: filtered group under-collected (g="),
                F.col("g").cast("string"),
                F.lit("); raise margin"),
            )
        ),
    ).otherwise(F.col("h"))
    return (
        ranked.filter(F.col("rn") <= k)
        .select("g", guard.alias("h"), "rn")
    )
