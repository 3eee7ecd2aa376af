"""Reference-parity acceptance queries (SURVEY.md §2 / §3.3 / §5).

Each entry re-expresses one or more reference operators over the
driver's synthetic TPC-H-ish tables (TESTDATA.md), with a DuckDB oracle
SQL that computes the identical result. Conventions that make the
oracle comparison bit-stable:

- every computed column is aliased identically in Spark and SQL;
- derived integers are cast so Spark/DuckDB dtypes agree (DuckDB
  ``count``/``sum``/date parts default to BIGINT/HUGEINT);
- float aggregates are rounded to fixed decimals (suffix ``_r``);
  pure min/max/comparisons on stored doubles need no rounding;
- ratios use integer division (``div`` / ``//``) — float->int casts
  round differently across engines.

Scale notes are in each docstring: what broadcasts, what shuffles, and
why the plan survives 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.dates import date_to_sas, is_weekend_expr, season_expr
from ..functions.rounding import round_fixed, sql_round_fixed
from ..operators.aggregates import pivot_wide, rollup_agg
from ..operators.cleaning import dedup, drop_columns, drop_null_rows, fill_nulls
from ..operators.joins import asof_join, equi_join, salted_join, star_join
from ..operators.sets import except_distinct, intersect_distinct, union_distinct
from ..operators.sorting import top_k
from ..operators.windows import rank_in_group
from ..plans.quality import (
    nonempty_check,
    orphan_fk_check,
    predicate_absent_check,
    quality_suite,
    unique_key_check,
)
from ..sources.readers import from_records, read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


#: DuckDB-side twin of read_table's events nanos->micros truncation
#: (the raw parquet is TIMESTAMP(NANOS); Spark reads it via
#: nanosAsLong + ``ts div 1000``).
EVENTS_US = (
    "(SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, "
    "user_id, event_type, value, props FROM events)"
)


# --------------------------------------------------------------------------
# Scans / projections / filters


def pruned_scan(spark, sf_dir):
    """S1+P11+P14: parquet scan with predicate+projection pushdown.
    ``.explain`` shows PushedFilters on l_quantity/l_shipdate and a
    4-column ReadSchema — the scan never reads the other 7 columns."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 30)
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-01-01")))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


ORACLE_PRUNED_SCAN = """
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
FROM lineitem
WHERE l_quantity >= 30 AND l_shipdate < TIMESTAMP '1996-01-01'
"""


def drop_cols(spark, sf_dir):
    """P1/P2: multi-column drop = narrowing projection (column pruning
    reaches the scan)."""
    return drop_columns(_t(spark, sf_dir, "customer"), "c_acctbal", "c_mktsegment")


ORACLE_DROP_COLS = "SELECT c_custkey, c_name, c_nationkey FROM customer"


def null_handling(spark, sf_dir):
    """P3-P6: null drop (subset) + null fill, over an injected nullable
    column (the synthetic tables are null-free; ``value_n`` is null for
    'error' events). Three aggregates over the same base plan — Spark
    computes them in one shuffle each; all integer counts + one rounded
    sum."""
    e = _t(spark, sf_dir, "events").withColumn(
        "value_n",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(
            F.col("value")
        ),
    )
    totals = e.groupBy("event_type").agg(F.count("*").alias("n_rows"))
    nonnull = (
        drop_null_rows(e, subset=["value_n"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_nonnull_rows"))
    )
    filled = (
        fill_nulls(e, 0.0, subset=["value_n"])
        .groupBy("event_type")
        .agg(round_fixed(F.sum("value_n"), 2).alias("sum_value_r"))
    )
    return (
        totals.join(nonnull, "event_type", "left")
        .join(filled, "event_type", "left")
        .select(
            "event_type",
            "n_rows",
            F.coalesce("n_nonnull_rows", F.lit(0)).alias("n_nonnull_rows"),
            "sum_value_r",
        )
    )


ORACLE_NULL_HANDLING = f"""
WITH e AS (
  SELECT event_type,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value_n
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(value_n) AS BIGINT) AS n_nonnull_rows,
       {sql_round_fixed('sum(coalesce(value_n, 0))', 2)} AS sum_value_r
FROM e GROUP BY event_type
"""


def dedup_rows(spark, sf_dir):
    """P7: dropDuplicates on a column subset -> hash aggregate."""
    return dedup(
        _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    )


ORACLE_DEDUP_ROWS = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


def filter_compound(spark, sf_dir):
    """P8/P9+F4/F5: negated case-insensitive substring predicates ANDed
    (the reference's dim_Country cleansing shape, etl.py:293-296)."""
    p = _t(spark, sf_dir, "part")
    name = F.lower(F.col("p_name"))
    return p.filter(
        ~name.contains("red") & ~name.contains("blue") & ~F.lower(F.col("p_type")).contains("promo")
    ).select("p_partkey", "p_name", "p_type")


ORACLE_FILTER_COMPOUND = """
SELECT p_partkey, p_name, p_type
FROM part
WHERE instr(lower(p_name), 'red') = 0
  AND instr(lower(p_name), 'blue') = 0
  AND instr(lower(p_type), 'promo') = 0
"""


def cast_derive(spark, sf_dir):
    """P14/P15: type casts + derived arithmetic/date columns, all
    inside whole-stage codegen."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty_int"),
        round_fixed(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
            2,
        ).alias("charge_r"),
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
    )


ORACLE_CAST_DERIVE = f"""
SELECT l_orderkey, l_linenumber,
       CAST(l_quantity AS INT) AS qty_int,
       {sql_round_fixed('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 2)} AS charge_r,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(month(l_shipdate) AS INT) AS ship_month
FROM lineitem
"""


def rename_project(spark, sf_dir):
    """P11/P13: projection with renames — aliases in one projection,
    not a withColumnRenamed chain."""
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_name").alias("cust_name"),
        F.col("c_nationkey").alias("nation_id"),
        F.col("c_mktsegment").alias("segment"),
    )


ORACLE_RENAME_PROJECT = """
SELECT c_custkey AS cust_id, c_name AS cust_name,
       c_nationkey AS nation_id, c_mktsegment AS segment
FROM customer
"""


def spot_lookup(spark, sf_dir):
    """P10/P12: single-key equality lookup, full projection. The
    predicate pushes to the scan; at scale this is the
    partition/row-group pruning fast path."""
    return _t(spark, sf_dir, "orders").where(F.col("o_orderkey") == 3).select("*")


ORACLE_SPOT_LOOKUP = "SELECT * FROM orders WHERE o_orderkey = 3"


# --------------------------------------------------------------------------
# Joins


def join_inner_agg(spark, sf_dir):
    """J1+A4: inner equi-join orders x customer (customer broadcast —
    it is the small side here), aggregated by market segment."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = equi_join(
        o, c, o["o_custkey"] == c["c_custkey"], "inner", broadcast_right=True
    )
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        round_fixed(F.sum("o_totalprice"), 2).alias("total_r"),
    )


ORACLE_JOIN_INNER_AGG = f"""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       {sql_round_fixed('sum(o_totalprice)', 2)} AS total_r
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def join_left_agg(spark, sf_dir):
    """J2: left outer join keeping unmatched left rows (customers with
    no orders -> zero counts), per-customer rollup."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = equi_join(c, o, c["c_custkey"] == o["o_custkey"], "left")
    return j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        round_fixed(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 2).alias(
            "spent_r"
        ),
    )


ORACLE_JOIN_LEFT_AGG = f"""
SELECT c_custkey,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders,
       {sql_round_fixed('sum(coalesce(o_totalprice, 0))', 2)} AS spent_r
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
"""


def star_join_agg(spark, sf_dir):
    """J4 (the flagship): fact lineitem -> inner join orders, then left
    joins up the dimension chain customer -> nation -> region, revenue
    by region/nation.

    Scale: orders and customer GROW with the fact, so they carry NO
    broadcast pin — AQE broadcasts them while their runtime size is
    under threshold (every fixture SF) and falls back to shuffle joins
    past it (orders co-shuffles with lineitem on the order key; at
    real scale both sides bucket on it). Only nation/region — bounded
    by the data model at 25/5 rows — are pinned broadcast. The r8
    1000x run caught the previous all-pinned version collecting a
    150M-row orders broadcast into the driver (maxResultSize abort in
    warm-up): a broadcast HINT overrides AQE unconditionally, so
    pinning is reserved for model-bounded dims."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    starred = star_join(
        li,
        [
            (o, li["l_orderkey"] == o["o_orderkey"], "inner"),
            (c, o["o_custkey"] == c["c_custkey"], "left"),
            (n, c["c_nationkey"] == n["n_nationkey"], "left"),
            (r, n["n_regionkey"] == r["r_regionkey"], "left"),
        ],
        broadcast_dims=[False, False, True, True],
    )
    return starred.groupBy("r_name", "n_name").agg(
        F.count("*").alias("n_items"),
        round_fixed(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue_r"
        ),
    )


ORACLE_STAR_JOIN_AGG = f"""
SELECT r_name, n_name,
       CAST(count(*) AS BIGINT) AS n_items,
       {sql_round_fixed('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue_r
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


_SEASON_SQL = """CASE WHEN month({d}) IN (12, 1, 2) THEN 'Winter'
     WHEN month({d}) IN (3, 4, 5) THEN 'Spring'
     WHEN month({d}) IN (6, 7, 8) THEN 'Summer'
     ELSE 'Autumn' END"""


def date_dim(spark, sf_dir):
    """U1+F8/F10+U-1/U-2: the reference's date dimension
    (etl.py:409-453) over the synthetic tables — positional UNION
    DISTINCT of two date columns, expanded to SAS day offset + calendar
    attributes + season, as pure built-ins (no UDF)."""
    o = _t(spark, sf_dir, "orders").select(F.to_date("o_orderdate").alias("isodate"))
    li = _t(spark, sf_dir, "lineitem").select(F.to_date("l_shipdate").alias("isodate"))
    dates = union_distinct(o, li)
    d = F.col("isodate")
    # date rendered as ISO string: Spark DateType collects as
    # datetime.date while DuckDB DATE collects as datetime64 — string
    # form is hash-stable in any comparator
    return dates.select(
        d.cast("string").alias("isodate"),
        date_to_sas(d).alias("sasdate"),
        F.year(d).alias("year"),
        F.month(d).alias("month"),
        F.dayofmonth(d).alias("day"),
        F.weekofyear(d).alias("week"),
        F.dayofweek(d).alias("dayofweek"),
        is_weekend_expr(F.dayofweek(d)).alias("isweekend"),
        season_expr(F.month(d)).alias("season"),
    )


ORACLE_DATE_DIM = f"""
WITH dates AS (
  SELECT CAST(o_orderdate AS DATE) AS isodate FROM orders
  UNION
  SELECT CAST(l_shipdate AS DATE) FROM lineitem
)
SELECT CAST(isodate AS VARCHAR) AS isodate,
       CAST(datediff('day', DATE '1960-01-01', isodate) AS INT) AS sasdate,
       CAST(year(isodate) AS INT) AS year,
       CAST(month(isodate) AS INT) AS month,
       CAST(day(isodate) AS INT) AS day,
       CAST(weekofyear(isodate) AS INT) AS week,
       CAST(dayofweek(isodate) + 1 AS INT) AS dayofweek,
       CASE WHEN dayofweek(isodate) + 1 IN (1, 7) THEN 1 ELSE 0 END AS isweekend,
       {_SEASON_SQL.format(d='isodate')} AS season
FROM dates
"""


def season_agg(spark, sf_dir):
    """J5+A4 (Q-SEASON twin, ipynb cell 90): fact joined to the
    broadcast date dimension on the date key, counted per season."""
    dim = date_dim(spark, sf_dir).select("isodate", "season")
    o = _t(spark, sf_dir, "orders").withColumn(
        "isodate", F.to_date("o_orderdate").cast("string")
    )
    return (
        o.join(F.broadcast(dim), "isodate", "inner")
        .groupBy("season")
        .agg(F.count("*").alias("n_orders"))
    )


ORACLE_SEASON_AGG = f"""
SELECT {_SEASON_SQL.format(d='o_orderdate')} AS season,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders GROUP BY 1
"""


def daily_agg(spark, sf_dir):
    """A4 (Q-DAILY twin, ipynb cell 93): per-date counts + rounded
    totals."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.to_date("o_orderdate").cast("string").alias("order_date")
    ).agg(
        F.count("*").alias("n_orders"),
        round_fixed(F.sum("o_totalprice"), 2).alias("total_r"),
    )


ORACLE_DAILY_AGG = f"""
SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_round_fixed('sum(o_totalprice)', 2)} AS total_r
FROM orders GROUP BY 1
"""


# --------------------------------------------------------------------------
# Aggregations


def group_minmax_avg(spark, sf_dir):
    """A1/A2: per-group min/max/avg. The reference used
    order-nondeterministic ``first()`` (etl.py:175-179); deterministic
    aggregates replace it (SURVEY.md §7.4)."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.min("c_name").alias("first_name"),
        F.max("c_acctbal").alias("max_acctbal"),
        round_fixed(F.avg("c_acctbal"), 2).alias("avg_acctbal_r"),
    )


ORACLE_GROUP_MINMAX_AVG = f"""
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       min(c_name) AS first_name,
       max(c_acctbal) AS max_acctbal,
       {sql_round_fixed('avg(c_acctbal)', 2)} AS avg_acctbal_r
FROM customer GROUP BY c_nationkey
"""


def pivot_status(spark, sf_dir):
    """A3+P6: pivot with an explicit value list (no distinct-scan job)
    + null-fill for missing combinations (reference etl.py:182,199)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = equi_join(o, c, o["o_custkey"] == c["c_custkey"], "inner", broadcast_right=True)
    return pivot_wide(
        j.select("c_nationkey", "o_orderstatus", "o_totalprice"),
        keys=["c_nationkey"],
        pivot_col="o_orderstatus",
        pivot_values=["F", "O", "P"],
        agg=round_fixed(F.sum("o_totalprice"), 2),
        fill=0,
    )


def _pivot_cell(status: str) -> str:
    inner = sql_round_fixed(
        f"sum(CASE WHEN o_orderstatus = '{status}' THEN o_totalprice END)", 2
    )
    return f'coalesce({inner}, 0) AS "{status}"'


ORACLE_PIVOT_STATUS = f"""
SELECT c_nationkey,
       {_pivot_cell('F')},
       {_pivot_cell('O')},
       {_pivot_cell('P')}
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


def distinct_counts(spark, sf_dir):
    """A5/A6/A7: exact distinct counts incl. a composite key — the
    reference's uniqueness-check primitives as a one-row summary."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_custkeys"),
        F.countDistinct("o_orderstatus", "o_orderpriority").alias("n_status_prio"),
    )


ORACLE_DISTINCT_COUNTS = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custkeys,
       CAST((SELECT count(*) FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)) AS BIGINT) AS n_status_prio
FROM orders
"""


def tpch_q1(spark, sf_dir):
    """Headline aggregate (TPC-H Q1 shape): scan-filter-aggregate with
    8 aggregates over 2 group keys — the canonical whole-stage-codegen
    benchmark query. sum(l_quantity) is exact (integer-valued doubles);
    money sums rounded."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            round_fixed(F.sum("l_extendedprice"), 2).alias("sum_base_price_r"),
            round_fixed(F.sum(disc_price), 2).alias("sum_disc_price_r"),
            round_fixed(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge_r"),
            round_fixed(F.avg("l_quantity"), 2).alias("avg_qty_r"),
            round_fixed(F.avg("l_extendedprice"), 2).alias("avg_price_r"),
            round_fixed(F.avg("l_discount"), 4).alias("avg_disc_r"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_TPCH_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       {sql_round_fixed('sum(l_extendedprice)', 2)} AS sum_base_price_r,
       {sql_round_fixed('sum(l_extendedprice * (1 - l_discount))', 2)} AS sum_disc_price_r,
       {sql_round_fixed('sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 2)} AS sum_charge_r,
       {sql_round_fixed('avg(l_quantity)', 2)} AS avg_qty_r,
       {sql_round_fixed('avg(l_extendedprice)', 2)} AS avg_price_r,
       {sql_round_fixed('avg(l_discount)', 4)} AS avg_disc_r,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def rollup_flag_status(spark, sf_dir):
    """Rollup grouping sets (beyond-parity OLAP surface): per
    (returnflag, linestatus), per returnflag, and grand total. NULL
    marks rolled-up levels in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    return rollup_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.count("*").alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        ],
    )


ORACLE_ROLLUP_FLAG_STATUS = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_items,
       sum(l_quantity) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# --------------------------------------------------------------------------
# Sorts / windows / set ops


def topk_orders(spark, sf_dir):
    """O1-O3 fused: top-15 orders by price — planned as
    TakeOrderedAndProject (each partition keeps 15 rows, driver merges;
    no global sort). Unique tie-break for determinism."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return top_k(
        o, 15, F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )


ORACLE_TOPK_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
"""


def window_topk_per_group(spark, sf_dir):
    """§2.5 (windows the reference imported but never used): top-3
    customers per nation by balance via row_number — one shuffle on the
    partition key."""
    c = _t(spark, sf_dir, "customer")
    ranked = rank_in_group(
        c.select("c_nationkey", "c_custkey", "c_acctbal"),
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        out_col="rn",
    )
    return ranked.filter(F.col("rn") <= 3)


ORACLE_WINDOW_TOPK_PER_GROUP = """
SELECT c_nationkey, c_custkey, c_acctbal, CAST(rn AS INT) AS rn FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
) WHERE rn <= 3
"""


def union_distinct_dates(spark, sf_dir):
    """U1: positional UNION DISTINCT (the reference's date-domain
    builder shape, etl.py:417-419)."""
    o = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").cast("string").alias("d")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.to_date("l_shipdate").cast("string").alias("d")
    )
    return union_distinct(o, li)


ORACLE_UNION_DISTINCT_DATES = """
SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d FROM orders
UNION
SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) FROM lineitem
"""


def map_funcs(spark, sf_dir):
    """Map-type function family: map_from_arrays -> element_at /
    map_keys / size, round-tripped back to scalars (map columns never
    cross the oracle boundary — DuckDB MAPs hash differently, so the
    query proves Spark's map ops by extracting comparable scalars).
    All JVM-side expressions inside codegen."""
    e = _t(spark, sf_dir, "events")
    m = F.map_from_arrays(
        F.array(F.lit("v"), F.lit("v2")),
        F.array(F.col("value"), F.col("value") * 2),
    )
    return e.select(
        "event_id",
        round_fixed(F.element_at(m, "v"), 2).alias("v_r"),
        round_fixed(F.element_at(m, "v2"), 2).alias("v2_r"),
        F.size(m).alias("n_keys"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
    )


ORACLE_MAP_FUNCS = f"""
SELECT event_id,
       {sql_round_fixed('value', 2)} AS v_r,
       {sql_round_fixed('value * 2', 2)} AS v2_r,
       CAST(2 AS INT) AS n_keys,
       'v,v2' AS keys_csv
FROM events
"""


def map_entries_pivot(spark, sf_dir):
    """DATA-DEPENDENT map construction (the deep map-semantics twin of
    the ``map_funcs`` API smoke, whose map shape is constant): per
    customer, the (order-status -> order-count) map is built with
    map_from_entries over grouped key/value pairs — its keys, size,
    and values all vary per row — then extracted back to scalars
    (element_at per status, size, sorted key CSV) so the oracle
    cross-checks real map construction, lookup with absent-key NULL
    semantics, and key enumeration. sort_array on the entry structs
    pins map-entry (hence map_keys) order deterministically."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey", "o_orderstatus").agg(F.count("*").alias("cnt"))
    m = per.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("o_orderstatus", "cnt")))
        ).alias("m")
    )
    zero = F.lit(0).cast("long")
    return m.select(
        "o_custkey",
        F.coalesce(F.element_at("m", F.lit("O")), zero).alias("n_open"),
        F.coalesce(F.element_at("m", F.lit("F")), zero).alias("n_finished"),
        F.coalesce(F.element_at("m", F.lit("P")), zero).alias("n_pending"),
        F.size("m").alias("n_statuses"),
        F.array_join(F.map_keys("m"), ",").alias("status_csv"),
    )


ORACLE_MAP_ENTRIES_PIVOT = """
WITH per AS (
  SELECT o_custkey, o_orderstatus, count(*) AS cnt
  FROM orders GROUP BY 1, 2
)
SELECT o_custkey,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN cnt END), 0) AS BIGINT) AS n_open,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN cnt END), 0) AS BIGINT) AS n_finished,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN cnt END), 0) AS BIGINT) AS n_pending,
       CAST(count(*) AS INT) AS n_statuses,
       string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS status_csv
FROM per
GROUP BY o_custkey
"""


def profile_orders(spark, sf_dir):
    """General table-profiling operator (reference ipynb cells 11-14,
    df.summary()-style exploration) as ONE declarative aggregation:
    per-column non-null / null / exact-distinct counts, fixed-point
    min/max/mean for numerics, lexicographic min/max for strings —
    long format, one row per column. The multiple COUNT(DISTINCT)s
    compile to a single Expand-based scan, not per-column jobs."""
    from ..operators.aggregates import profile_table

    return profile_table(
        _t(spark, sf_dir, "orders"),
        num_cols=["o_totalprice", "o_custkey"],
        str_cols=["o_orderstatus", "o_orderpriority"],
    )


def _profile_num_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS col_name,
       CAST(count({c}) AS BIGINT) AS n_nonnull,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(floor(min({c}) * 100 + 0.5) AS BIGINT) AS min_x100,
       CAST(floor(max({c}) * 100 + 0.5) AS BIGINT) AS max_x100,
       CAST(floor(sum({c}) * 100 / count({c}) + 0.5) AS BIGINT) AS mean_x100,
       CAST(NULL AS VARCHAR) AS min_s,
       CAST(NULL AS VARCHAR) AS max_s
FROM orders"""


def _profile_str_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS col_name,
       CAST(count({c}) AS BIGINT) AS n_nonnull,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(NULL AS BIGINT) AS min_x100,
       CAST(NULL AS BIGINT) AS max_x100,
       CAST(NULL AS BIGINT) AS mean_x100,
       min({c}) AS min_s,
       max({c}) AS max_s
FROM orders"""


ORACLE_PROFILE_ORDERS = " UNION ALL ".join(
    [_profile_num_sql("o_totalprice"), _profile_num_sql("o_custkey")]
    + [_profile_str_sql("o_orderstatus"), _profile_str_sql("o_orderpriority")]
)


def ntile_deciles(spark, sf_dir):
    """ntile(10) decile assignment over a TOTAL order (price with
    orderkey tie-break — without the tie-break, equal prices straddle
    bucket boundaries nondeterministically), then per-decile rollup.
    Exercises the one ranking window function the window family
    queries don't: ntile's uneven-bucket rule (first n%k buckets get
    the extra row) must agree across engines."""
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_totalprice",
            F.ntile(10).over(w).alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            round_fixed(F.min("o_totalprice"), 2).alias("lo_r"),
            round_fixed(F.max("o_totalprice"), 2).alias("hi_r"),
        )
    )


ORACLE_NTILE_DECILES = f"""
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_round_fixed('min(o_totalprice)', 2)} AS lo_r,
       {sql_round_fixed('max(o_totalprice)', 2)} AS hi_r
FROM (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
GROUP BY decile
"""


def group_quantiles(spark, sf_dir):
    """Exact interpolated quantiles per group: percentile(p) per
    order-priority at p = 0.25/0.5/0.75. Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` share the same definition (linear
    interpolation at rank p*(n-1)); sums of 2-decimal prices make the
    interpolants exact binary rationals, so fixed-point x100 rounding
    agrees bit-for-bit. At 100 TB prefer ``percentile_approx`` (no
    full per-group sort/shuffle of values) — exact percentile is the
    ground-truth twin, same trade as exact vs capped Jaccard."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        round_fixed(F.expr("percentile(o_totalprice, 0.25)"), 2).alias("p25_r"),
        round_fixed(F.expr("percentile(o_totalprice, 0.50)"), 2).alias("p50_r"),
        round_fixed(F.expr("percentile(o_totalprice, 0.75)"), 2).alias("p75_r"),
    )


ORACLE_GROUP_QUANTILES = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_round_fixed('quantile_cont(o_totalprice, 0.25)', 2)} AS p25_r,
       {sql_round_fixed('quantile_cont(o_totalprice, 0.50)', 2)} AS p50_r,
       {sql_round_fixed('quantile_cont(o_totalprice, 0.75)', 2)} AS p75_r
FROM orders
GROUP BY o_orderpriority
"""


def iqr_outlier_orders(spark, sf_dir):
    """Tukey-fence outlier audit per order priority: count of orders
    above q3 + 1.5*IQR, with the fence rounded before comparison so
    both engines classify identical rows."""
    from ..operators.aggregates import iqr_outliers

    return iqr_outliers(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


ORACLE_IQR_OUTLIERS = f"""
WITH q AS (
  SELECT o_orderpriority,
         {sql_round_fixed('quantile_cont(o_totalprice, 0.75) + CAST(1.5 AS DOUBLE) * (quantile_cont(o_totalprice, 0.75) - quantile_cont(o_totalprice, 0.25))', 2)} AS fence_r
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o.o_totalprice > q.fence_r THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       min(q.fence_r) AS fence_r,
       {sql_round_fixed('max(o.o_totalprice)', 2)} AS max_val_r
FROM orders o JOIN q USING (o_orderpriority)
GROUP BY o.o_orderpriority
"""


def window_value_functions(spark, sf_dir):
    """Window value-function family: first_value / last_value /
    nth_value over the full per-customer frame (UNBOUNDED..UNBOUNDED —
    last_value under the default frame would just echo the current
    row, the classic trap). Total ordering via the orderkey tie-break
    makes nth_value deterministic."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    d = F.to_date("o_orderdate")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first(d).over(w).cast("string").alias("first_order_date"),
        F.last(d).over(w).cast("string").alias("last_order_date"),
        round_fixed(F.nth_value("o_totalprice", 2).over(w), 2).alias(
            "second_total_r"
        ),
    )


ORACLE_WINDOW_VALUE_FUNCS = f"""
SELECT o_custkey, o_orderkey,
       CAST(first_value(CAST(o_orderdate AS DATE)) OVER w AS VARCHAR)
         AS first_order_date,
       CAST(last_value(CAST(o_orderdate AS DATE)) OVER w AS VARCHAR)
         AS last_order_date,
       {sql_round_fixed('nth_value(o_totalprice, 2) OVER w', 2)}
         AS second_total_r
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def order_gaps_surrogate(spark, sf_dir):
    """F9 + F11: the reference's stay calculation shape (datediff
    between two date columns, etl.py:112) over consecutive orders per
    customer, plus a surrogate sequence key — row_number over a
    deterministic total order, the stable replacement for
    monotonically_increasing_id (SURVEY §7.4; partition-seeded ids
    can't be value-compared, this can). Partitioned window: per-key
    state, no global sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.datediff(d, F.lag(d).over(w)).alias("days_since_prev"),
    )


ORACLE_ORDER_GAPS = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS INT) AS order_seq,
       CAST(date_diff('day',
                      lag(CAST(o_orderdate AS DATE)) OVER w,
                      CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def full_outer_nation_balance(spark, sf_dir):
    """FULL OUTER join of two filtered per-nation aggregates (nations
    with ultra-rich customers vs nations with in-debt suppliers):
    either side can be absent, keys coalesce, counts null-fill to 0.
    Post-aggregate outer joins are small-side x small-side — at scale
    both inputs are already group rows, so the join is trivial
    regardless of fact size."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_rich_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < -300)
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_debt_supp"))
    )
    return c.join(s, c["c_nationkey"] == s["s_nationkey"], "full").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_rich_cust", F.lit(0)).alias("n_rich_cust"),
        F.coalesce("n_debt_supp", F.lit(0)).alias("n_debt_supp"),
    )


ORACLE_FULL_OUTER = """
WITH c AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rich_cust
           FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey),
     s AS (SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_debt_supp
           FROM supplier WHERE s_acctbal < -300 GROUP BY s_nationkey)
SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
       COALESCE(n_rich_cust, 0) AS n_rich_cust,
       COALESCE(n_debt_supp, 0) AS n_debt_supp
FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
"""


def intersect_except_buyers(spark, sf_dir):
    """INTERSECT / EXCEPT (distinct) set ops, tagged and unioned into
    one result: high-balance customers who did (intersect) and did not
    (except) place a 1997 order. Both rewrite to semi/anti joins over
    distinct keys — one exchange per side; the distinct-buyer side is
    the smaller and broadcasts under AQE."""
    cust = _t(spark, sf_dir, "customer")
    rich = cust.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("k")
    )
    buyers = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .select(F.col("o_custkey").alias("k"))
    )
    both = intersect_distinct(rich, buyers).withColumn("op", F.lit("intersect"))
    only = except_distinct(rich, buyers).withColumn("op", F.lit("except"))
    return both.unionByName(only)


ORACLE_INTERSECT_EXCEPT = """
WITH rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
     buyers AS (SELECT o_custkey AS k FROM orders
                WHERE o_orderdate >= DATE '1997-01-01'
                  AND o_orderdate <  DATE '1998-01-01')
SELECT k, 'intersect' AS op FROM (SELECT k FROM rich INTERSECT SELECT k FROM buyers)
UNION ALL
SELECT k, 'except' AS op FROM (SELECT k FROM rich EXCEPT SELECT k FROM buyers)
"""


def asof_join_events(spark, sf_dir):
    """As-of join (beyond-parity; union+window implementation — one
    shuffle on user_id, no range probe): each 'view' event annotated
    with the latest prior-or-same-instant 'click' by the same user."""
    e = _t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        views, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_value_cols=["click_ts"],
    )
    return joined.select("event_id", "user_id", "ts", "click_ts_asof")


ORACLE_ASOF_JOIN_EVENTS = f"""
WITH t AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'click' THEN ts END AS ct
  FROM {EVENTS_US} AS events WHERE event_type IN ('view', 'click')
), w AS (
  SELECT user_id, ts, event_id, event_type,
         max(ct) OVER (PARTITION BY user_id
                       ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts_asof
  FROM t
)
SELECT event_id, user_id, ts, click_ts_asof FROM w WHERE event_type = 'view'
"""


def asof_forward_tolerance(spark, sf_dir):
    """FORWARD as-of join with a match-age bound (pandas merge_asof
    semantics): each click annotated with the next same-user purchase
    timestamp, but only if it lands within 2 hours — later matches
    become NULL. Same union+window machinery as the backward as-of
    (one shuffle, no range probe); the tolerance costs one comparison
    against the carried matched-ts, not a second join."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("ts").alias("buy_ts")
    )
    joined = asof_join(
        clicks,
        buys,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["buy_ts"],
        direction="forward",
        tolerance_seconds=7200,
    )
    return joined.select("event_id", "user_id", "ts", "buy_ts_asof")


ORACLE_ASOF_FORWARD_TOLERANCE = f"""
WITH t AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN ts END AS bt
  FROM {EVENTS_US} AS events WHERE event_type IN ('click', 'purchase')
), w AS (
  SELECT user_id, ts, event_id, event_type,
         min(bt) OVER (PARTITION BY user_id
                       ORDER BY ts, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_buy
  FROM t
)
SELECT event_id, user_id, ts,
       CASE WHEN next_buy <= ts + INTERVAL 2 HOUR THEN next_buy END AS buy_ts_asof
FROM w WHERE event_type = 'click'
"""


# --------------------------------------------------------------------------
# Scalar functions / quality checks


def scalar_funcs(spark, sf_dir):
    """F1-F7: split/getItem (incl. negative index), trim/upper/lower,
    contains, when/otherwise, isin — all codegen'd built-ins."""
    p = _t(spark, sf_dir, "part")
    name_toks = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        name_toks.getItem(0).alias("name_first"),
        F.element_at(name_toks, -1).alias("name_last"),
        F.trim(F.upper(F.col("p_name"))).alias("name_upper"),
        F.lower(F.col("p_brand")).alias("brand_lower"),
        F.split(F.col("p_brand"), "#").getItem(1).cast("int").alias("brand_num"),
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
        .alias("size_band"),
        F.col("p_type").isin("ECONOMY", "PROMO").cast("int").alias("is_cheap_line"),
        F.col("p_name").contains("gear").cast("int").alias("has_gear"),
    )


ORACLE_SCALAR_FUNCS = """
SELECT p_partkey,
       string_split(p_name, ' ')[1] AS name_first,
       string_split(p_name, ' ')[-1] AS name_last,
       trim(upper(p_name)) AS name_upper,
       lower(p_brand) AS brand_lower,
       CAST(string_split(p_brand, '#')[2] AS INT) AS brand_num,
       CASE WHEN p_size < 10 THEN 'small'
            WHEN p_size < 30 THEN 'medium'
            ELSE 'large' END AS size_band,
       CASE WHEN p_type IN ('ECONOMY', 'PROMO') THEN 1 ELSE 0 END AS is_cheap_line,
       CASE WHEN instr(p_name, 'gear') > 0 THEN 1 ELSE 0 END AS has_gear
FROM part
"""


def quality_checks(spark, sf_dir):
    """§5: the reference's three data-quality checks (non-empty,
    unique keys incl. composite, predicate-absence) plus a referential
    check via left-anti join, as one lazily-unioned report table."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return quality_suite(
        [
            nonempty_check(o, "nonempty_orders"),
            unique_key_check(o, ["o_orderkey"], "unique_o_orderkey"),
            unique_key_check(li, ["l_orderkey", "l_linenumber"], "unique_lineitem_pk"),
            orphan_fk_check(li, o, "l_orderkey", "o_orderkey", "orphan_lineitem_orderkey"),
            predicate_absent_check(
                o, F.col("o_totalprice") < 0, "no_negative_totalprice"
            ),
        ]
    )


ORACLE_QUALITY_CHECKS = """
SELECT 'nonempty_orders' AS check_name, CAST(count(*) AS BIGINT) AS metric,
       CASE WHEN count(*) > 0 THEN 1 ELSE 0 END AS passed FROM orders
UNION ALL
SELECT 'unique_o_orderkey', CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
       CASE WHEN count(*) = count(DISTINCT o_orderkey) THEN 1 ELSE 0 END FROM orders
UNION ALL
SELECT 'unique_lineitem_pk',
       CAST(count(*) - (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS BIGINT),
       CASE WHEN count(*) = (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
            THEN 1 ELSE 0 END
FROM lineitem
UNION ALL
SELECT 'orphan_lineitem_orderkey',
       CAST((SELECT count(*) FROM lineitem li WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey)) AS BIGINT),
       CASE WHEN (SELECT count(*) FROM lineitem li WHERE NOT EXISTS
                  (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey)) = 0
            THEN 1 ELSE 0 END
UNION ALL
SELECT 'no_negative_totalprice',
       CAST(count(CASE WHEN o_totalprice < 0 THEN 1 END) AS BIGINT),
       CASE WHEN count(CASE WHEN o_totalprice < 0 THEN 1 END) = 0 THEN 1 ELSE 0 END
FROM orders
"""


# --------------------------------------------------------------------------
# OLAP extensions beyond the reference's own surface: semi/anti joins,
# non-equi (range) joins, unpivot, ordered string aggregation, sketches,
# cube, and the string/date scalar-function families.


def join_semi_anti(spark, sf_dir):
    """Left-semi (EXISTS) and left-anti (NOT EXISTS) joins — only the
    key crosses the shuffle, no payload duplication. The reference
    never used them; its orphan checks were manual spot queries."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    has = c.join(o, "c_custkey", "left_semi").withColumn("tag", F.lit("has_orders"))
    hasnt = c.join(o, "c_custkey", "left_anti").withColumn("tag", F.lit("no_orders"))
    return has.unionByName(hasnt)


ORACLE_JOIN_SEMI_ANTI = """
SELECT c_custkey, 'has_orders' AS tag FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT c_custkey, 'no_orders' FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def range_join_tiers(spark, sf_dir):
    """Non-equi (range) join: lineitem quantities bucketed against a
    broadcast tier table with [lo, hi) bounds — planned as a broadcast
    nested-loop join, which is the right physical shape when the range
    side is tiny; at scale the alternative is bucketizing the range key
    into an equi-join."""
    li = _t(spark, sf_dir, "lineitem")
    tiers = from_records(
        spark,
        [("small", 0.0, 10.0), ("medium", 10.0, 25.0), ("large", 25.0, 51.0)],
        "tier string, lo double, hi double",
    )
    j = li.join(
        F.broadcast(tiers),
        (li["l_quantity"] >= tiers["lo"]) & (li["l_quantity"] < tiers["hi"]),
        "inner",
    )
    return j.groupBy("tier").agg(
        F.count("*").alias("n_items"), F.sum("l_quantity").alias("sum_qty")
    )


ORACLE_RANGE_JOIN_TIERS = """
SELECT tier, CAST(count(*) AS BIGINT) AS n_items, sum(l_quantity) AS sum_qty
FROM lineitem
JOIN (VALUES ('small', 0.0, 10.0), ('medium', 10.0, 25.0), ('large', 25.0, 51.0))
     AS t(tier, lo, hi)
  ON l_quantity >= lo AND l_quantity < hi
GROUP BY tier
"""


def unpivot_status(spark, sf_dir):
    """Unpivot (stack): melt the status-pivot back to long form —
    round-trips the A3 pivot including its filled zeros."""
    wide = pivot_status(spark, sf_dir)
    return wide.selectExpr(
        "c_nationkey",
        "stack(3, 'F', `F`, 'O', `O`, 'P', `P`) AS (status, total_r)",
    )


ORACLE_UNPIVOT_STATUS = f"""
WITH p AS ({ORACLE_PIVOT_STATUS})
SELECT c_nationkey, 'F' AS status, "F" AS total_r FROM p
UNION ALL SELECT c_nationkey, 'O', "O" FROM p
UNION ALL SELECT c_nationkey, 'P', "P" FROM p
"""


def collect_sorted_names(spark, sf_dir):
    """Ordered string aggregation: collect_list is order-nondeterministic
    by contract, so results pass through sort_array before joining —
    the deterministic way to aggregate strings in a distributed engine."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_list("c_name")), ",").alias("names_csv"),
        F.count("*").alias("n"),
    )


ORACLE_COLLECT_SORTED_NAMES = """
SELECT c_nationkey,
       string_agg(c_name, ',' ORDER BY c_name) AS names_csv,
       CAST(count(*) AS BIGINT) AS n
FROM customer GROUP BY c_nationkey
"""


def approx_distinct_check(spark, sf_dir):
    """Approximate distinct (HLL++): the monitoring-scale alternative to
    exact distinct (no full shuffle of keys). Output asserts the sketch
    lands within 5% of truth, so the oracle is engine-independent."""
    o = _t(spark, sf_dir, "orders")
    agg = o.agg(
        F.countDistinct("o_custkey").alias("n_exact"),
        F.approx_count_distinct("o_custkey", 0.02).alias("n_approx"),
    )
    return agg.select(
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact")) * 10 <= F.col("n_exact")
        ).cast("int").alias("within_10pct"),
    )


ORACLE_APPROX_DISTINCT_CHECK = """
SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact, 1 AS within_10pct
FROM orders
"""


def median_price(spark, sf_dir):
    """Exact interpolated median (quantile_cont semantics) per order
    status, plus a flag that percentile_approx's sketch lands within
    5% — the approximate path is what survives 100 TB."""
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        round_fixed(F.median("o_totalprice"), 2).alias("median_r"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
    )
    return agg.select(
        "o_orderstatus",
        "median_r",
        (
            F.abs(F.col("p50_approx") - F.col("median_r")) * 20 <= F.col("median_r")
        ).cast("int").alias("approx_within_5pct"),
    )


ORACLE_MEDIAN_PRICE = f"""
SELECT o_orderstatus,
       {sql_round_fixed('median(o_totalprice)', 2)} AS median_r,
       1 AS approx_within_5pct
FROM orders GROUP BY o_orderstatus
"""


def cube_status_priority(spark, sf_dir):
    """CUBE grouping sets over two keys (all 4 level combinations);
    NULL marks rolled-up levels identically in both engines."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        round_fixed(F.sum("o_totalprice"), 2).alias("total_r"),
    )


ORACLE_CUBE_STATUS_PRIORITY = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_round_fixed('sum(o_totalprice)', 2)} AS total_r
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def string_funcs(spark, sf_dir):
    """String function family: regexp_extract, length, lpad, substring,
    replace, concat_ws — all codegen'd built-ins."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", "([0-9]+)", 1).cast("long").alias("cust_num"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.substring("c_mktsegment", 1, 3).alias("seg3"),
        F.expr("replace(c_mktsegment, 'MACHINERY', 'MACH')").alias("seg_short"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
    )


ORACLE_STRING_FUNCS = """
SELECT c_custkey,
       CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS cust_num,
       CAST(length(c_name) AS INT) AS name_len,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
       substring(c_mktsegment, 1, 3) AS seg3,
       replace(c_mktsegment, 'MACHINERY', 'MACH') AS seg_short,
       concat_ws('|', c_name, c_mktsegment) AS joined
FROM customer
"""


def date_funcs(spark, sf_dir):
    """Date function family: add_months (end-of-month clamped), quarter,
    dayofyear, last_day, month truncation — dates rendered as strings
    for cross-engine hashing."""
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.cast("string").alias("order_date"),
        F.add_months(d, 1).cast("string").alias("next_month"),
        F.quarter(d).alias("qtr"),
        F.dayofyear(d).alias("doy"),
        F.last_day(d).cast("string").alias("month_end"),
        F.trunc(d, "month").cast("string").alias("month_start"),
    )


ORACLE_DATE_FUNCS = """
SELECT o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       CAST(CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS VARCHAR) AS next_month,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(dayofyear(o_orderdate) AS INT) AS doy,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
       CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start
FROM orders
"""


def rolling_window_orders(spark, sf_dir):
    """Rolling-frame windows (the remaining §2.5 window shape): per
    customer ordered by date — 3-row moving average of order totals
    (rowsBetween), previous/next totals (lag/lead), cumulative count.
    One shuffle on the partition key serves all four frames."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    moving = w.rowsBetween(-2, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        round_fixed(F.avg("o_totalprice").over(moving), 2).alias("mavg3_r"),
        round_fixed(F.lag("o_totalprice", 1).over(w), 2).alias("prev_total_r"),
        round_fixed(F.lead("o_totalprice", 1).over(w), 2).alias("next_total_r"),
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("n_so_far"),
    )


ORACLE_ROLLING_WINDOW = f"""
SELECT o_custkey, o_orderkey,
       {sql_round_fixed('avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)', 2)} AS mavg3_r,
       {sql_round_fixed('lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)', 2)} AS prev_total_r,
       {sql_round_fixed('lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)', 2)} AS next_total_r,
       CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_so_far
FROM orders
"""


def json_extract_agg(spark, sf_dir):
    """Semi-structured extraction: pull the integer ``k`` out of the
    events' JSON ``props`` column with get_json_object (JVM-side
    Jackson path evaluation — no Python), then aggregate per event
    type. At scale this is scan -> project -> one partial+final
    aggregate; the JSON parse never leaves codegen."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_JSON_EXTRACT_AGG = """
SELECT event_type,
       CAST(count(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS n_with_k,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
"""


def window_distribution_orders(spark, sf_dir):
    """Distribution window family: ntile(4), percent_rank, cume_dist
    over o_totalprice within each order priority. The ordering is made
    total with the unique o_orderkey tie-break, so rank-derived ratios
    are exact rationals of identical integers on both engines (then
    x1e6 fixed-point). Partitioned windows scale: state per partition,
    no global sort."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.floor(F.percent_rank().over(w) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("pr_x1e6"),
        F.floor(F.cume_dist().over(w) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("cd_x1e6"),
    )


ORACLE_WINDOW_DISTRIBUTION = """
SELECT o_orderkey,
       o_orderpriority,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       CAST(floor(percent_rank() OVER w * 1000000 + 0.5) AS BIGINT) AS pr_x1e6,
       CAST(floor(cume_dist() OVER w * 1000000 + 0.5) AS BIGINT) AS cd_x1e6
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def salted_join_priority_revenue(spark, sf_dir):
    """The skew-mitigation path exercised end-to-end: lineitem joined
    to 1996 orders through operators.joins.salted_join (salt=8), then
    revenue per order priority.

    Salting spreads each join key over 8 reducers (key, salt), so one
    hot key cannot melt a single reducer — the manual fallback for
    skew that AQE's runtime splitting can't fix (AQE only splits after
    materializing the oversized map output). Semantics are exactly the
    plain join, which is what the oracle checks.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    j = salted_join(li, orders, "l_orderkey", salt=8)
    return j.groupBy("o_orderpriority").agg(
        round_fixed(F.sum("rev"), 2).alias("revenue_r"),
        F.count("*").alias("n_items"),
    )


ORACLE_SALTED_JOIN = f"""
SELECT o_orderpriority,
       {sql_round_fixed("sum(l_extendedprice * (1 - l_discount))", 2)} AS revenue_r,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE o_orderdate >= DATE '1996-01-01'
  AND o_orderdate <  DATE '1997-01-01'
GROUP BY o_orderpriority
"""


#: name -> (spark_fn, oracle_sql, SURVEY §2 coverage tags)
PARITY_QUERIES = {
    "pruned_scan": (pruned_scan, ORACLE_PRUNED_SCAN, "S1 P11 P14"),
    "drop_columns": (drop_cols, ORACLE_DROP_COLS, "P1 P2"),
    "null_handling": (null_handling, ORACLE_NULL_HANDLING, "P3 P4 P5 P6"),
    "dedup_rows": (dedup_rows, ORACLE_DEDUP_ROWS, "P7"),
    "filter_compound": (filter_compound, ORACLE_FILTER_COMPOUND, "P8 P9 F4 F5"),
    "cast_derive": (cast_derive, ORACLE_CAST_DERIVE, "P14 P15"),
    "rename_project": (rename_project, ORACLE_RENAME_PROJECT, "P11 P13"),
    "spot_lookup": (spot_lookup, ORACLE_SPOT_LOOKUP, "P10 P12"),
    "join_inner_agg": (join_inner_agg, ORACLE_JOIN_INNER_AGG, "J1 A4 A6"),
    "join_left_agg": (join_left_agg, ORACLE_JOIN_LEFT_AGG, "J2 J3"),
    "star_join_agg": (star_join_agg, ORACLE_STAR_JOIN_AGG, "J4 Q-STAR"),
    "date_dim": (date_dim, ORACLE_DATE_DIM, "U1 F8 F10 U-1 U-2"),
    "season_agg": (season_agg, ORACLE_SEASON_AGG, "J5 A4 Q-SEASON"),
    "daily_agg": (daily_agg, ORACLE_DAILY_AGG, "A4 Q-DAILY"),
    "group_minmax_avg": (group_minmax_avg, ORACLE_GROUP_MINMAX_AVG, "A1 A2"),
    "pivot_status": (pivot_status, ORACLE_PIVOT_STATUS, "A3 P6"),
    "distinct_counts": (distinct_counts, ORACLE_DISTINCT_COUNTS, "A5 A6 A7"),
    "tpch_q1": (tpch_q1, ORACLE_TPCH_Q1, "A1-A4 headline"),
    "rollup_flag_status": (rollup_flag_status, ORACLE_ROLLUP_FLAG_STATUS, "rollup"),
    "topk_orders": (topk_orders, ORACLE_TOPK_ORDERS, "O1 O2 O3"),
    "window_distribution_orders": (
        window_distribution_orders,
        ORACLE_WINDOW_DISTRIBUTION,
        "ntile / percent_rank / cume_dist distribution windows",
    ),
    "salted_join_priority_revenue": (
        salted_join_priority_revenue,
        ORACLE_SALTED_JOIN,
        "skew-resistant salted join, equality-checked vs plain join semantics",
    ),
    "window_topk_per_group": (
        window_topk_per_group,
        ORACLE_WINDOW_TOPK_PER_GROUP,
        "§2.5 windows",
    ),
    "union_distinct_dates": (union_distinct_dates, ORACLE_UNION_DISTINCT_DATES, "U1"),
    "intersect_except_buyers": (
        intersect_except_buyers,
        ORACLE_INTERSECT_EXCEPT,
        "INTERSECT / EXCEPT set ops",
    ),
    "full_outer_nation_balance": (
        full_outer_nation_balance,
        ORACLE_FULL_OUTER,
        "FULL OUTER join of filtered aggregates, coalesced keys",
    ),
    "order_gaps_surrogate": (
        order_gaps_surrogate,
        ORACLE_ORDER_GAPS,
        "F9 F11 datediff stay-shape + deterministic surrogate key",
    ),
    "window_value_functions": (
        window_value_functions,
        ORACLE_WINDOW_VALUE_FUNCS,
        "first_value / last_value / nth_value, full frame",
    ),
    "map_funcs": (
        map_funcs,
        ORACLE_MAP_FUNCS,
        "map function family: build / extract / keys / size (API smoke)",
    ),
    "map_entries_pivot": (
        map_entries_pivot,
        ORACLE_MAP_ENTRIES_PIVOT,
        "data-dependent map_from_entries pivot, extracted to scalars",
    ),
    "profile_orders": (
        profile_orders,
        ORACLE_PROFILE_ORDERS,
        "df.summary()-style table profiling, one Expand-based pass",
    ),
    "ntile_deciles": (
        ntile_deciles,
        ORACLE_NTILE_DECILES,
        "ntile(10) deciles over total order + per-decile rollup",
    ),
    "group_quantiles": (
        group_quantiles,
        ORACLE_GROUP_QUANTILES,
        "exact interpolated percentiles per group (quantile_cont twin)",
    ),
    "iqr_outlier_orders": (
        iqr_outlier_orders,
        ORACLE_IQR_OUTLIERS,
        "Tukey-fence outlier counts per group, broadcast quantile rejoin",
    ),
    "asof_join_events": (asof_join_events, ORACLE_ASOF_JOIN_EVENTS, "as-of join"),
    "asof_forward_tolerance": (
        asof_forward_tolerance,
        ORACLE_ASOF_FORWARD_TOLERANCE,
        "forward as-of join with 2h tolerance (merge_asof semantics)",
    ),
    "scalar_funcs": (scalar_funcs, ORACLE_SCALAR_FUNCS, "F1-F7"),
    "quality_checks": (quality_checks, ORACLE_QUALITY_CHECKS, "§5 checks"),
    "join_semi_anti": (join_semi_anti, ORACLE_JOIN_SEMI_ANTI, "semi/anti join"),
    "range_join_tiers": (range_join_tiers, ORACLE_RANGE_JOIN_TIERS, "range join"),
    "unpivot_status": (unpivot_status, ORACLE_UNPIVOT_STATUS, "unpivot/stack"),
    "collect_sorted_names": (
        collect_sorted_names,
        ORACLE_COLLECT_SORTED_NAMES,
        "ordered string agg",
    ),
    "approx_distinct_check": (
        approx_distinct_check,
        ORACLE_APPROX_DISTINCT_CHECK,
        "HLL approx distinct",
    ),
    "median_price": (median_price, ORACLE_MEDIAN_PRICE, "median + approx percentile"),
    "cube_status_priority": (cube_status_priority, ORACLE_CUBE_STATUS_PRIORITY, "cube"),
    "string_funcs": (string_funcs, ORACLE_STRING_FUNCS, "string function family"),
    "date_funcs": (date_funcs, ORACLE_DATE_FUNCS, "date function family"),
    "json_extract_agg": (
        json_extract_agg,
        ORACLE_JSON_EXTRACT_AGG,
        "JSON/semi-structured extraction",
    ),
    "rolling_window_orders": (
        rolling_window_orders,
        ORACLE_ROLLING_WINDOW,
        "rolling frames: moving avg, lag/lead, cumulative",
    ),
}
