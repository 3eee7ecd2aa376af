"""Corpus-curation operators for LLM training-data pipelines.

Beyond-reference (BASELINE.json north star): benchmark decontamination,
sequence packing for training batches, domain-mixture sampling, and
intra-document repetition scoring. Everything is built from built-in
column expressions and bounded-size driver state (no row-wise Python,
no O(corpus) collect), so the same plans run at 100 TB:

- decontamination is an inverted-index semi-join on 60-bit shingle
  digests (the benchmark side is tiny and broadcast);
- sequence packing is a distributed prefix sum — per-partition totals
  (O(#partitions) driver state, the same trick as RDD.zipWithIndex)
  plus a partition-local window, never a single global sort task;
- mixture sampling and repetition scoring are pure window/agg plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.hashing import spark_hex_to_long
from ..functions.textnorm import tokens_col
from ..session import hold
from .dedup import hashed_shingle_table


def benchmark_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 5,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Flag training documents whose word ``n``-gram shingles overlap a
    benchmark/eval corpus (train-test contamination check).

    Returns (doc, n_shingles, n_matched, contaminated) where
    ``contaminated`` is the integer test
    ``n_matched * threshold_den >= n_shingles * threshold_num``
    (no float ratio — exact in any engine).

    Scale: both sides are reduced to 60-bit digests before any join, so
    text never crosses a shuffle. The benchmark side (eval sets are
    ~1e3-1e6 n-grams) is deduplicated then broadcast; each train doc's
    match count is a map-side hash probe + one groupBy on ``doc`` that
    reuses the shingle table's existing partitioning. With
    ``broadcast_benchmark=False`` the probe becomes a shuffled semi-ish
    inner join for benchmark sets too big to broadcast.
    """
    train_sh = hashed_shingle_table(train, id_col, text_col, n)
    bench_h = hashed_shingle_table(benchmark, id_col, text_col, n).select(
        "h"
    ).distinct()
    if broadcast_benchmark:
        bench_h = F.broadcast(bench_h)
    sizes = train_sh.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    matched = (
        train_sh.join(bench_h, "h")
        .groupBy("doc")
        .agg(F.count("*").alias("n_matched"))
    )
    joined = sizes.join(matched, "doc", "left").select(
        "doc",
        "n_shingles",
        F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
    )
    return joined.withColumn(
        "contaminated",
        (
            F.col("n_matched") * threshold_den
            >= F.col("n_shingles") * threshold_num
        ).cast("int"),
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    tok_col: str = "n_tokens",
    num_partitions: int = 32,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    ascending ``id_col`` order and the token stream is chunked into
    fixed ``seq_len`` windows; each document is assigned the sequence
    its FIRST token lands in. Returns
    (id, n_tokens, tok_start, seq_id) with ``tok_start`` the document's
    global token offset.

    This is the standard packed-pretraining layout (documents
    concatenated, fixed-length sequences cut across document
    boundaries); the deterministic id order makes the packing a pure
    function of the data — reproducible across runs and cluster
    layouts.

    Scale: the global running sum is a DISTRIBUTED PREFIX SUM, not a
    single-task global window. Range-partition by id, take each
    partition's token total (one O(#partitions) driver collect — same
    bounded state as ``RDD.zipWithIndex``), broadcast the exclusive
    partition offsets back as a literal map, and add a
    partition-LOCAL window cumsum. Every task touches only its own
    range; no stage ever serializes the corpus through one task. The
    output is identical for any partition count.
    """
    # Persisted BEFORE the totals collect: repartitionByRange samples
    # boundaries per-job, so without materialization the final job
    # could re-derive DIFFERENT partition boundaries than the ones the
    # broadcast offsets were computed from (partial sampling / heavy
    # ties at scale), silently corrupting global offsets. The cache
    # pins one boundary draw for both jobs; blocks are LRU-evictable.
    ranged = hold(df.repartitionByRange(num_partitions, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.col(tok_col).alias("n_tokens"),
        F.spark_partition_id().alias("__pid"),
    ).persist(StorageLevel.MEMORY_AND_DISK))
    totals = {
        r["__pid"]: r["t"]
        for r in ranged.groupBy("__pid")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    offsets, running = {}, 0
    for pid in sorted(totals):
        offsets[pid] = running
        running += totals[pid]
    off_expr = F.create_map(
        *[F.lit(x) for pid in offsets for x in (pid, offsets[pid])]
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        + F.coalesce(off_expr[F.col("__pid")], F.lit(0))
    ).cast("long")
    return ranged.select(
        F.col("id").alias(id_col),
        "n_tokens",
        start.alias("tok_start"),
    ).withColumn("seq_id", F.expr(f"tok_start DIV {int(seq_len)}"))


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    total: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic domain-mixture downsample: from each domain keep
    the first ``round(weights[domain] * total)`` documents by md5-hash
    rank (ties broken by id). Domains absent from ``weights`` are
    dropped; a domain with fewer rows than its target keeps everything
    it has.

    The selection is a pure function of (id, domain, weights) —
    independent of partitioning, cluster size, and run order, unlike
    ``sample()``/``TABLESAMPLE`` — which is what reproducible data
    mixtures for training runs require.

    Scale: one window over ``domain_col`` (the natural shuffle key; a
    heavily-skewed mega-domain can pre-filter on the hash before
    ranking) and a broadcast literal target map. No collect.
    """
    targets = {d: int(round(w * total)) for d, w in weights.items()}
    target_expr = F.create_map(
        *[F.lit(x) for d in sorted(targets) for x in (d, targets[d])]
    )
    h = F.expr(spark_hex_to_long(f"md5(CAST({id_col} AS STRING))", 15))
    w = Window.partitionBy(domain_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .withColumn("__target", target_expr[F.col(domain_col)])
        .filter(F.col("__rk") <= F.coalesce(F.col("__target"), F.lit(0)))
        .drop("__rk", "__target")
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Intra-document repetition score: total vs distinct word
    ``n``-grams per document, and the duplicated-gram fraction in
    integer fixed-point (``rep_permille`` for the default scale).
    Boilerplate/spam detection signal: natural text repeats few
    n-grams; templated or looping text repeats many.

    Scale: per-row array expressions only (``size`` vs
    ``size(array_distinct(...))``) — no explode, no shuffle, whole
    plan stays inside codegen. Documents shorter than ``n`` tokens get
    0 total / 0 distinct / 0 score.
    """
    items = ", ".join(f"toks[i+{j}]" for j in range(n))
    grams = F.expr(
        f"transform(sequence(0, size(toks) - {n}), i -> concat_ws(' ', {items}))"
    )
    short = F.size("toks") < n
    return (
        df.select(
            F.col(id_col),
            tokens_col(text_col).alias("toks"),
        )
        .withColumn(
            "__g",
            F.when(short, F.array().cast("array<string>")).otherwise(grams),
        )
        .select(
            id_col,
            F.size("__g").cast("long").alias("n_grams"),
            F.size(F.array_distinct("__g")).cast("long").alias("n_distinct"),
        )
        .withColumn(
            "rep_score",
            F.when(F.col("n_grams") == 0, F.lit(0).cast("long")).otherwise(
                # integer DIV, not float /: bit-identical in any engine
                F.expr(f"(n_grams - n_distinct) * {int(scale)} DIV n_grams")
            ),
        )
    )


# --------------------------------------------------------------------------
# PII redaction

#: Redaction patterns, shared verbatim by the Spark operator and the
#: DuckDB oracle — restricted to the Java-regex ∩ RE2 common dialect
#: (no backrefs, no lookaround), so both engines match identically.
PII_PATTERNS = {
    "email": r"[a-z0-9._%+\-]+@[a-z0-9.\-]+\.[a-z]{2,}",
    "phone": r"\+?\d{3}[- ]\d{3}[- ]\d{4}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Scrub emails / phone numbers / IPv4s from ``text_col``.

    Adds ``n_<kind>`` match counts and ``out_col`` with each match
    replaced by ``<KIND>``. Replacement order is fixed (email, phone,
    ip) and each kind's count is taken on the text AFTER the previous
    kinds' replacements — so ``n_<kind>`` equals the number of
    ``<KIND>`` tokens that stage actually emitted, even when patterns
    overlap (e.g. a phone-looking local part inside an email is
    consumed by the email stage and NOT double-counted as a phone).
    Pure per-row JVM expressions — no shuffle, no Python; at 100 TB
    this is a map-only pass that pipelines into whatever scan feeds
    it.
    """
    out = df
    red = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(red, F.lit(pat), F.lit(0)))
        )
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return out.withColumn(out_col, red)


# --------------------------------------------------------------------------
# Cross-document repeated-substring signal (ExactSubstr-style)


def temperature_mixture_plan(
    df: DataFrame,
    group_col: str = "source",
    target_total: int = 1000,
) -> DataFrame:
    """Temperature-scaled domain mixture plan (the T5/PaLM data-mixing
    rule at temperature 2): per-domain sampling shares proportional to
    ``sqrt(n_domain)`` instead of ``n_domain``, so giant domains stop
    drowning small ones without inverting the order.

    Output: (group, n_docs, weight_x1e6, share_x1e6, planned_docs)
    where ``weight_x1e6 = floor(sqrt(n) * 1e6 + 0.5)`` (sqrt is a
    correctly-rounded IEEE op — bit-identical across engines, which is
    why the exponent is fixed at 1/2 rather than a general pow),
    ``share_x1e6`` the integer-normalized share, and ``planned_docs =
    share * target_total DIV 1e6`` the per-domain quota to feed
    :func:`mixture_sample`.

    Scale: one groupBy on the domain key; the domain table is
    dims-sized, the 1-row weight total is broadcast back. Nothing else
    shuffles.
    """
    groups = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").alias("n_docs")
    )
    weighted = groups.select(
        "grp",
        "n_docs",
        F.expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5D) AS BIGINT)")
        .alias("weight_x1e6"),
    )
    total = weighted.agg(F.sum("weight_x1e6").alias("w_total"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "weight_x1e6",
            F.expr("weight_x1e6 * 1000000 DIV w_total").alias("share_x1e6"),
            F.expr(
                f"weight_x1e6 * 1000000 DIV w_total * CAST({target_total} AS BIGINT)"
                " DIV 1000000"
            ).alias("planned_docs"),
        )
    )


def repeated_ngram_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Per-document fraction of ``k``-token windows that also occur in
    at least one OTHER document — the distributed approximation of the
    "deduplicate exact substrings" signal (Lee et al. 2022, "Dedup-
    licating Training Data Makes Language Models Better"): memorized
    boilerplate shows up as long verbatim spans shared across
    documents, which plain doc-level near-dup scoring misses.

    Output: (doc, n_windows, n_repeated, repeated_x1e4) where
    ``repeated_x1e4 = n_repeated * 10000 DIV n_windows`` (integer —
    engine-exact). Documents with fewer than ``k`` tokens emit no row
    (they have no window).

    Scale shape: windows are reduced to 60-bit md5 digests before
    anything shuffles — text never leaves the map side. One shuffle
    builds the cross-doc window frequency (distinct (doc, digest)
    pairs grouped by digest), one shuffle joins the repeated-digest
    set back (plain shuffle join: the repeated set is corpus-sized in
    the worst case, deliberately NOT broadcast), one groupBy on doc
    aggregates the flags. Everything is linear in total token count.
    """
    toks = df.select(
        F.col(id_col).alias("doc"), tokens_col(text_col).alias("t")
    ).filter(F.size("t") >= k)
    wins = toks.select(
        "doc",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) - {k}),"
                f" i -> {spark_hex_to_long(f'md5(array_join(slice(t, i + 1, {k}), chr(32)))', 15)})"
            )
        ).alias("h"),
    )
    repeated = (
        wins.distinct()
        .groupBy("h")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("rep"))
    )
    return (
        wins.join(repeated, "h", "left")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.coalesce("rep", F.lit(0))).cast("long").alias("n_repeated"),
        )
        .select(
            "doc",
            "n_windows",
            "n_repeated",
            F.expr("n_repeated * 10000 DIV n_windows").alias("repeated_x1e4"),
        )
    )


# --------------------------------------------------------------------------
# DSIR-style hashed importance weights


def dsir_log_importance(
    df: DataFrame,
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    scale: int = 1_000_000,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023) with
    the hashing trick: every token hashes into one of ``n_buckets``
    buckets; a document's importance toward the target domain is
    ``sum_tokens log(p_target(bucket) / p_corpus(bucket))`` with add-1
    smoothing. High scores = documents that look like the target
    domain; used to resample a general crawl toward a target mix.

    ``target_filter`` is a boolean Column selecting the target-domain
    rows of ``df`` (e.g. ``F.col("source") == "src0"``).

    Cross-engine float discipline: each bucket's log-ratio is rounded
    to ``scale`` fixed-point BEFORE the per-document sum, so the sum
    is an order-free integer (the doc_surprisal recipe). Output:
    (doc, n_tokens, dsir_x1e6).

    Scale shape: the two bucket histograms are ``n_buckets``-row
    aggregates (tiny, broadcast); the per-doc score is one shuffle
    join of exploded (doc, bucket) tokens against the broadcast
    ratio table — genuinely bounded, unlike an unbounded vocabulary
    (the bucket count is the model's fixed dimension).
    """
    toks = (
        df.select(
            F.col(id_col).alias("doc"),
            target_filter.alias("is_target"),
            F.explode(tokens_col(text_col)).alias("token"),
        )
        .filter(F.col("token") != "")
        .select(
            "doc",
            "is_target",
            F.expr(spark_hex_to_long("md5(token)", 7) + f" % {n_buckets}").alias("b"),
        )
    )
    hist = toks.groupBy("b").agg(
        F.count("*").alias("c_all"),
        F.sum(F.col("is_target").cast("long")).alias("c_tgt"),
    )
    totals = hist.agg(
        F.sum("c_all").alias("t_all"), F.sum("c_tgt").alias("t_tgt")
    )
    # add-1 smoothing over the fixed bucket space; per-bucket integer
    # fixed-point log-ratio (order-free when summed)
    ratio = (
        hist.crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.floor(
                (
                    F.log(
                        (F.col("c_tgt") + 1).cast("double")
                        / (F.col("t_tgt") + n_buckets).cast("double")
                    )
                    - F.log(
                        (F.col("c_all") + 1).cast("double")
                        / (F.col("t_all") + n_buckets).cast("double")
                    )
                )
                * F.lit(float(scale))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lr"),
        )
    )
    return (
        toks.join(F.broadcast(ratio), "b")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lr").cast("bigint").alias("dsir_x1e6"),
        )
    )


# --------------------------------------------------------------------------
# Hashed-feature linear quality scorer (fasttext-style serving shape)


def hashed_linear_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    seed_mult: int = 2_654_435_761,
) -> DataFrame:
    """Score every document with a linear model over hashed
    bag-of-words features — the serving shape of a fasttext-style
    quality classifier: token -> feature bucket (hashing trick),
    per-doc bucket counts, dot product with a model weight vector
    that ships as a small BROADCAST table (here the weights are a
    deterministic pseudo-model ``w(b) = (b * seed_mult) % 5 - 2``,
    shared formula with the oracle; a real pipeline would load
    trained weights — the plan is identical).

    Integer end-to-end: the logit is ``sum_tokens w(bucket)``, exact
    in any engine. Output: (doc, n_tokens, logit, keep) with ``keep =
    logit > 0`` (the filter decision a curation pipeline acts on).

    Scale shape: the weight table is ``n_buckets`` rows (the model's
    fixed dimension — genuinely broadcastable at any corpus size);
    the corpus side is one explode + map-side broadcast-hash probe +
    one groupBy on doc. No unbounded state anywhere.
    """
    weights = (
        df.sparkSession.range(n_buckets)
        .select(
            F.col("id").alias("b"),
            (F.pmod(F.col("id") * F.lit(seed_mult), F.lit(5)) - 2)
            .cast("long")
            .alias("w"),
        )
    )
    toks = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(tokens_col(text_col)).alias("token"),
        )
        .filter(F.col("token") != "")
        .select(
            "doc",
            F.expr(spark_hex_to_long("md5(token)", 7) + f" % {n_buckets}").alias("b"),
        )
    )
    return (
        toks.join(F.broadcast(weights), "b")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("w").cast("bigint").alias("logit"),
        )
        .select(
            "doc", "n_tokens", "logit", (F.col("logit") > 0).alias("keep")
        )
    )


def bloom_bitset(
    keys: DataFrame,
    key_col: str = "h",
    m_bits: int = 1 << 14,
    k: int = 2,
) -> DataFrame:
    """Build a deterministic Bloom filter over ``keys[key_col]`` as a
    (word, bits) table: ``m_bits`` bits packed 32 per BIGINT word, so
    the whole filter is ``m_bits / 32`` rows INDEPENDENT of key
    cardinality — the point at 100 TB, where broadcasting the raw
    benchmark digest set grows with the benchmark but the Bloom table
    stays fixed-size (Bloom 1970). Bitsets from different shards /
    days / benchmark versions merge by plain ``bit_or`` on word.

    The ``k`` probe positions are carved from the KEY'S OWN BITS
    (``pos_s = (key div m_bits^s) mod m_bits`` — Kirsch-Mitzenmacher
    double hashing): the keys here are already uniform md5-derived
    60-bit digests, so slicing them costs pure integer ops — no new
    hash per probe, which the 10x scale probe showed dominating the
    per-key md5 variant. Requires ``m_bits^k <= 2^60`` (k=2 up to
    m=2^30) and uniformly-hashed keys.
    """
    assert m_bits ** k <= 1 << 60, "key bits exhausted: lower k or m_bits"
    pos = keys.select(F.col(key_col).alias("key")).select(
        F.explode(
            F.array(
                *[
                    F.expr(f"(key DIV {m_bits ** s}) % {m_bits}")
                    for s in range(k)
                ]
            )
        ).alias("pos")
    )
    return (
        pos.select(
            # integer DIV: pos is non-negative < m_bits by construction,
            # but keep the bitmap word-index idiom exact everywhere
            # (ADVICE r3 — float /32 loses exactness past 2^53).
            F.expr("pos DIV 32").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_member_keys(
    probe: DataFrame,
    bloom: DataFrame,
    key_col: str = "h",
    m_bits: int = 1 << 14,
    k: int = 2,
) -> DataFrame:
    """Keys from ``probe`` (deduplicated) that PASS the Bloom filter —
    a superset of the true members (false positives possible, false
    negatives impossible). The filter table is broadcast (fixed
    ``m_bits/32`` rows); each key passes iff all ``k`` probed bits are
    set, checked as ``count(bit hits) == k`` after a broadcast join on
    word. Downstream exact confirmation (a join against the true key
    set, now candidate-sized instead of corpus-sized) removes FPs.
    """
    probes = (
        probe.select(F.col(key_col).alias("key"))
        .distinct()
        .select(
            "key",
            F.explode(
                F.array(
                    *[
                        F.expr(f"(key DIV {m_bits ** s}) % {m_bits}")
                        for s in range(k)
                    ]
                )
            ).alias("pos"),
        )
        .select(
            "key",
            F.expr("pos DIV 32").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias(
                "mask"
            ),
        )
    )
    hits = probes.join(F.broadcast(bloom), "word").filter(
        F.col("bits").bitwiseAND(F.col("mask")) != 0
    )
    return (
        hits.groupBy("key")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == k)
        .select(F.col("key").alias(key_col))
    )


def bloom_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 5,
    m_bits: int | None = 1 << 14,
    k: int = 2,
    train_shingles: DataFrame | None = None,
    materialize_dir: str | None = None,
    materialize_local: bool = False,
) -> DataFrame:
    """:func:`benchmark_decontaminate` with a Bloom prefilter: the
    benchmark shingle digests build a fixed-size bitset
    (:func:`bloom_bitset`); only train digests that pass it reach the
    exact-confirmation join. Result columns (doc, n_shingles,
    n_matched, contaminated) are IDENTICAL to the exact path — the
    filter only prunes — plus ``n_candidates`` (Bloom survivors per
    doc) making the FP overhead observable.

    ``m_bits=None`` auto-sizes the filter to ~16 bits per benchmark
    digest (next power of two; k=2 gives ~1.4 % FP) from one bounded
    count — the production setting, since a filter the benchmark has
    outgrown degrades toward pass-everything (graceful but pointless:
    the 10x scale probe measured 4.5x wall from exactly that). A
    pinned ``m_bits`` keeps the layout reproducible for the oracle.

    Scale: the broadcast is ``m_bits/32`` longs instead of the O(|
    benchmark|) digest set, and the exact-confirm join's probe side
    shrinks from every train shingle to the Bloom survivors (true
    matches + ~FP-rate of the rest). The (doc, h) shingle table is
    consumed three times (probe, sizes, candidate re-join); the 100x
    probe showed the repeated tokenize+md5 scan dominating (SCALE.md).
    Two materialize-once escape hatches (VERDICT r3 #4): pass an
    already-materialized table via ``train_shingles``, or set
    ``materialize_dir`` to write the shingle table to a scratch
    parquet ONCE and read the three consumers from the file. A FILE,
    deliberately not ``persist()``: caching a shared-lineage subtree
    in a shared session cache-substitutes into OTHER queries' plans
    and knocks their dim joins off the broadcast path (the documented
    trap, caught by the decontaminate plan guard); a parquet read cuts
    lineage instead of aliasing it.
    """
    if train_shingles is not None:
        train_sh = train_shingles
    else:
        train_sh = hashed_shingle_table(train, id_col, text_col, n)
        if materialize_local:
            # r13: same lineage cut as the scratch parquet, without the
            # encode/commit/re-read round trip (~0.1 s at sf0.1) or the
            # scratch files. localCheckpoint does NOT register in the
            # CacheManager, so the cache-substitution trap below cannot
            # fire. Non-reliable storage (executor loss = job restart)
            # — production multi-tenant runs keep ``materialize_dir``.
            train_sh = hold(train_sh.localCheckpoint(eager=True))
        elif materialize_dir is not None:
            train_sh.write.mode("overwrite").parquet(materialize_dir)
            train_sh = train.sparkSession.read.parquet(materialize_dir)
    bench_h = hashed_shingle_table(benchmark, id_col, text_col, n).select("h").distinct()
    if m_bits is None:
        n_keys = bench_h.count()  # bounded driver state: one scalar
        m_bits = 1 << max(10, (16 * max(n_keys, 1) - 1).bit_length())
    bloom = bloom_bitset(bench_h, "h", m_bits, k)
    # the candidate key set feeds three broadcasts (cand_sh twice,
    # true_h) — persist it or each broadcast re-runs the whole probe
    # pipeline (4x wall at 10x data). Only this bloom-SPECIFIC subtree
    # is persisted: caching shared-lineage subtrees (train_sh/bench_h)
    # would cache-substitute into OTHER queries' plans in a shared
    # session and knock their dim joins off the broadcast path.
    cand = hold(bloom_member_keys(train_sh, bloom, "h", m_bits, k).persist())
    cand_sh = train_sh.join(F.broadcast(cand), "h")
    sizes = train_sh.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    n_cand = cand_sh.groupBy("doc").agg(F.count("*").alias("n_candidates"))
    # exact confirmation: resolve FPs against the true digest set, but
    # broadcasting only CANDIDATE-sized sets — the benchmark side is
    # filtered down to true members by the (small) candidate set first,
    # so no benchmark-sized relation is ever broadcast.
    true_h = bench_h.join(F.broadcast(cand), "h")
    matched = (
        cand_sh.join(F.broadcast(true_h), "h")
        .groupBy("doc")
        .agg(F.count("*").alias("n_matched"))
    )
    joined = (
        sizes.join(n_cand, "doc", "left")
        .join(matched, "doc", "left")
        .select(
            "doc",
            "n_shingles",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
        )
    )
    return joined.withColumn(
        "contaminated",
        (
            F.col("n_matched") * threshold_den
            >= F.col("n_shingles") * threshold_num
        ).cast("int"),
    )


def shard_snake_plan(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    tok_col: str = "n_tokens",
    num_partitions: int = 32,
) -> DataFrame:
    """Balanced training-shard assignment by SNAKE (boustrophedon)
    packing: documents ranked by descending token count are dealt to
    shards in alternating order (0..N-1, N-1..0, ...), the classic
    LPT-flavored heuristic that bounds shard skew by the largest
    single document — vs hash sharding's sqrt(n)-scale luck and
    range sharding's built-in imbalance. This is the layout step a
    training pipeline runs before writing epoch shards: every shard
    gets ~equal token mass so data-parallel workers finish together.

    The global rank is the same DISTRIBUTED PREFIX machinery as
    :func:`pack_sequences` (range-partition by the sort key, one
    O(#partitions) driver collect of per-partition COUNTS, broadcast
    exclusive offsets, partition-local row_number) — no single-task
    global window, output identical for any partition count.

    Output: (id, n_tokens, shard) — deterministic pure function of
    the data.
    """
    # Persisted BEFORE the counts collect — same rationale as
    # pack_sequences: one range-boundary draw must serve both the
    # offsets job and the final job, or broadcast offsets can mismatch
    # the second job's partitioning (sampled boundaries, n_tokens ties).
    ranged = hold(df.select(
        F.col(id_col).alias("id"), F.col(tok_col).alias("n_tokens")
    ).repartitionByRange(
        num_partitions, F.col("n_tokens").desc(), F.col("id")
    ).select(
        "id", "n_tokens", F.spark_partition_id().alias("__pid")
    ).persist(StorageLevel.MEMORY_AND_DISK))
    counts = {
        r["__pid"]: r["c"]
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("c")).collect()
    }
    offsets, running = {}, 0
    for pid in sorted(counts):
        offsets[pid] = running
        running += counts[pid]
    off_expr = F.create_map(
        *[F.lit(x) for pid in offsets for x in (pid, offsets[pid])]
    )
    w = Window.partitionBy("__pid").orderBy(
        F.col("n_tokens").desc(), F.col("id")
    )
    rank0 = (
        F.row_number().over(w) - 1 + F.coalesce(off_expr[F.col("__pid")], F.lit(0))
    ).cast("long")
    n = int(n_shards)
    shard = F.expr(
        f"CASE WHEN (__r DIV {n}) % 2 = 0 THEN __r % {n} "
        f"ELSE {n - 1} - (__r % {n}) END"
    )
    return (
        ranged.withColumn("__r", rank0)
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            shard.cast("int").alias("shard"),
        )
    )
