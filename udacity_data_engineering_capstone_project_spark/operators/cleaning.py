"""Cleaning operators (SURVEY.md §2.2 P1-P14; P15, a derived column, is
plain ``DataFrame.withColumns``).

Thin, composable wrappers over the DataFrame API — each one maps to a
Catalyst-native primitive (no UDFs), so filters and projections still
reach the parquet scan after composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drop_columns(df: DataFrame, *cols) -> DataFrame:
    """P1/P2: drop one or more columns (string names or qualified
    ``other_df.col`` references, e.g. after a same-name join)."""
    return df.drop(*cols)


def drop_null_rows(
    df: DataFrame, subset: list[str] | None = None, how: str = "any"
) -> DataFrame:
    """P3-P5: null-row filtering. ``subset`` keeps rows where those
    columns are all non-null (reference etl.py:105); ``how='all'`` drops
    rows that are entirely null (etl.py:106)."""
    return df.na.drop(how=how, subset=subset)


def fill_nulls(df: DataFrame, value, subset: list[str] | None = None) -> DataFrame:
    """P6: constant null-fill (reference fills pivot gaps with 0,
    etl.py:199 — missing combination means count 0, not unknown)."""
    return df.na.fill(value, subset=subset)


def dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """P7: drop duplicate rows (full-row or key-subset). Physical plan
    is a hash aggregate on the dedup columns."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    n_per_stratum: int,
) -> DataFrame:
    """Deterministic stratified sampling: exactly ``n_per_stratum``
    rows per stratum (fewer if the stratum is smaller), chosen by
    ranking on md5(id) — content-independent, reproducible across
    runs, partitionings, and engines (unlike ``sample()``, whose RNG
    is partition-seeded). The balanced-corpus builder: per-language /
    per-source quotas for eval sets and training mixes. One shuffle on
    the stratum; per-group state is a single counter. For mega-strata
    at 100 TB, pre-filter by a hash-prefix band before ranking so the
    sort input is ~n rows per stratum, not the full stratum."""
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_stratum)
        .drop("__rk")
    )


def _aes_keyed(
    df: DataFrame, id_col: str, weight_col: str, seed: str
) -> DataFrame:
    """Shared A-ES keying: rows with weight > 0 get
    ``sample_key_x1e9 = floor(ln(1/u)/w * 1e9 + .5)`` with u the
    md5(seed||id)-derived uniform. ONE implementation — both samplers
    and both DuckDB oracles depend on these exact IEEE ops."""
    h = F.expr(
        f"CAST(conv(substr(md5(concat('{seed}', CAST({id_col} AS STRING))), 1, 7), 16, 10) AS BIGINT)"
    )
    u = (h + F.lit(1)).cast("double") / F.lit(float(2**28 + 1))
    key = F.log(F.lit(1.0) / u) / F.col(weight_col).cast("double")
    return df.filter(F.col(weight_col) > 0).withColumn(
        "sample_key_x1e9",
        F.floor(key * F.lit(1e9) + F.lit(0.5)).cast("bigint"),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: str = "ws1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: k rows,
    inclusion odds proportional to ``weight_col`` (Efraimidis-Spirakis
    exponential keys — the one-pass, merge-friendly scheme).

    Each row gets key = ln(1/u) / w with u derived from
    md5(seed || id) (uniform in (0,1), content- and
    partition-independent); the global k smallest keys win. At scale
    this is a TakeOrderedAndProject top-k — per-partition heaps of k,
    no global sort, no shuffle of non-winners. Reproducible across
    runs and engines: the oracle computes the identical key, and
    ranking happens on the x1e9-rounded key with an id tie-break so
    float ulp noise cannot flip an ordering.

    Rows with weight <= 0 are excluded (standard A-ES domain).
    """
    keyed = _aes_keyed(df, id_col, weight_col, seed)
    # orderBy + limit, NOT a global-window row_number: this compiles to
    # TakeOrderedAndProject (per-partition k-heaps + driver merge of
    # k*#partitions rows) instead of a single-partition global sort.
    return keyed.orderBy(
        F.col("sample_key_x1e9").asc(), F.col(id_col).asc()
    ).limit(k)


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    n_per_group: int,
    seed: str = "wsg1",
) -> DataFrame:
    """Per-group weighted sampling without replacement: ``n_per_group``
    rows per group, inclusion odds proportional to ``weight_col``
    within each group (A-ES exponential keys, same scheme as
    :func:`weighted_sample` but ranked inside a group window) — the
    per-domain quota draw a mixture builder uses when both the quota
    AND the length bias matter. One shuffle on the group; rank on the
    x1e9-rounded key with an id tie-break."""
    from pyspark.sql import Window

    keyed = _aes_keyed(df, id_col, weight_col, seed)
    w = Window.partitionBy(group_col).orderBy(
        F.col("sample_key_x1e9").asc(), F.col(id_col).asc()
    )
    return (
        keyed.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_group)
        .drop("__rk")
    )


def epoch_shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    epochs: tuple[int, ...] = (0, 1),
) -> DataFrame:
    """Reproducible per-epoch corpus reshuffle audit: every document is
    assigned to shard ``md5(id ':' epoch) mod n_shards`` — a pure
    function of (id, epoch), so every training run sees the same
    epoch-e permutation, while different epochs get independent
    assignments (the reshuffle). Returns per (epoch, shard):
    (n_docs, ids_xor) with ``ids_xor`` a bit_xor membership checksum —
    enough to prove two runs produced identical shards without
    shipping the id lists.

    Scale: NO global sort/rank (hash-mod sharding is the standard
    training-shard assignment; shard sizes are binomially tight at
    corpus counts) — one map-side-combined groupBy per epoch, exploded
    from a literal epoch array, one scan total.
    """
    from ..functions.hashing import spark_hex_to_long

    e = df.select(F.col(id_col).alias("id")).select(
        "id",
        F.explode(F.array(*[F.lit(x) for x in epochs])).alias("epoch"),
    )
    shard = F.expr(
        spark_hex_to_long("md5(concat(CAST(id AS STRING), ':', CAST(epoch AS STRING)))", 15)
        + f" % {n_shards}"
    )
    return (
        e.select("id", "epoch", shard.alias("shard"))
        .groupBy("epoch", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("bit_xor(id)").alias("ids_xor"),
        )
    )
