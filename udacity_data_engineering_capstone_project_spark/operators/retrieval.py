"""Sparse lexical retrieval: inverted-index postings, TF-IDF, BM25.

A training-data pipeline needs keyword retrieval both as a serving
primitive (find documents for a probe query) and as a curation tool
(surface documents dominated by a term, score doc "aboutness" for
mixture construction). The reference engine has no retrieval surface;
this module adds one Spark-first (no reference twin to cite).

Scale design
------------
``bm25_topk`` never shuffles the full corpus:

- per-document length ``dl`` is computed from the token array *before*
  the explode (a per-row ``size``), so no corpus-wide aggregate is
  needed for lengths — only a 1-row global (N, total_len) stats
  aggregate, which is a partial-agg reduce, not a shuffle of rows;
- exploded tokens are inner-joined to a **broadcast** of the query
  terms first, so only matching postings (a
  ``|terms| / |vocab|`` sliver of the corpus) ever reach a shuffle;
- document frequency ``df`` is computed *after* that filter — the
  filtered postings for a surviving term still contain every document
  holding it, so the count is exact;
- the per-term df table is tiny (≤ |terms| rows) and re-broadcast onto
  the postings for scoring.

Float discipline (cross-engine oracles)
---------------------------------------
``ln``/``/`` may differ by an ulp between JVM and libm, and the sum
over query terms is order-dependent in IEEE — so each per-term
contribution is rounded to x1e6 fixed point FIRST (killing ulp noise)
and summed as exact BIGINTs (killing order dependence). Ranking
happens on the integer score with a doc-id tie-break.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textnorm import tokens_col
from ..session import hold
from ..sources.index_store import IndexStore, Table
from ..sources.readers import from_records

#: Okapi BM25 defaults, kept as exact decimal literals that parse to
#: identical doubles in Spark and DuckDB (oracles cast to DOUBLE —
#: DuckDB parses bare numerics as DECIMAL otherwise).
K1 = 1.2
B = 0.75


def postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inverted-index postings list: (token, doc, tf, dl).

    ``dl`` (document token length) rides along from a pre-explode
    ``size()`` so downstream scoring never needs a second corpus scan.
    One shuffle, keyed on (doc, token).

    The token array is materialized in ITS OWN projection
    (:func:`_doc_token_arrays`) before the size/explode pair — writing
    ``select(size(toks_expr), explode(toks_expr))`` directly puts the
    size() Project ABOVE the Generate, re-running the whole regex +
    split + interpreted-filter tokenization once per EXPLODED row
    (~|doc| times per doc; measured 3.9 s vs 0.2 s on 270k postings at
    sf0.1, round 5). With the array as a named column, CollapseProject
    keeps the two Projects apart (the alias is referenced twice and is
    not cheap), so tokenization runs once per doc below the Generate.
    """
    exploded = _doc_token_arrays(docs, id_col, text_col).select(
        "doc",
        F.size("toks").alias("dl"),
        F.explode("toks").alias("token"),
    )
    return exploded.groupBy("token", "doc", "dl").agg(F.count("*").alias("tf"))


def _doc_token_arrays(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc, toks) with the normalized token array materialized as a
    column — the explode-safe base for any consumer that needs BOTH
    the array (size, slicing) and its elements (see postings())."""
    toks = F.filter(tokens_col(text_col), lambda t: t != F.lit(""))
    return docs.select(F.col(id_col).alias("doc"), toks.alias("toks"))


def _idf(df_col, n_docs_col):
    """Lucene's non-negative BM25 idf: ln(1 + (N - df + .5)/(df + .5))."""
    return F.log(
        F.lit(1.0)
        + (n_docs_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
) -> DataFrame:
    """Top-``k`` documents per query by BM25, deterministically ranked.

    Output: (query_id, rank, doc_id, score_x1e6) — ``score_x1e6`` is
    the BIGINT sum of per-term x1e6-rounded contributions (see module
    docstring for why the rounding happens before the sum).
    """
    qtoks = F.filter(tokens_col(query_text_col), lambda t: t != F.lit(""))
    terms = (
        queries.select(
            F.col(query_id_col).alias("query_id"), F.explode(qtoks).alias("token")
        )
        .distinct()
    )
    # Filter the exploded corpus down to query terms BEFORE any
    # aggregation — broadcast keeps the corpus side shuffle-free here.
    # Tokenize via the materialized-array base (see postings(): an
    # inline size/explode pair re-tokenizes once per exploded row).
    # r13: the base is localCheckpoint'ed so the corpus is tokenized
    # ONCE — the old shape ran the regex pipeline twice, here for the
    # postings and again for the corpus statistics (two independent subtrees
    # of one job; they overlap on idle cores but still burn 2x the
    # regex CPU — interleaved A/B: min 1.41 -> 1.33 s at sf0.1).
    # localCheckpoint, not persist: no CacheManager registration, so
    # the shared-lineage cache-substitution trap cannot fire.
    base = hold(_doc_token_arrays(docs, id_col, text_col).localCheckpoint(eager=True))
    exploded = base.select(
        "doc",
        F.size("toks").alias("dl"),
        F.explode("toks").alias("token"),
    )
    hits = exploded.join(
        F.broadcast(terms.select("token").distinct()), "token", "inner"
    )
    tf = hits.groupBy("token", "doc", "dl").agg(F.count("*").alias("tf"))
    # Exact df per surviving term (every doc holding the term is here).
    dfreq = tf.groupBy("token").agg(F.countDistinct("doc").alias("df"))
    # corpus-global (n_docs, total_len) from the SAME checkpointed base
    stats = base.select(F.size("toks").alias("dl")).agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", F.col("total_len") / F.col("n_docs"))
        .withColumn("idf", _idf(F.col("df"), F.col("n_docs")))
        .withColumn(
            "tfnorm",
            (F.col("tf") * F.lit(K1 + 1.0))
            / (
                F.col("tf")
                + F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .withColumn(
            "contrib_x1e6",
            F.floor(F.col("idf") * F.col("tfnorm") * F.lit(1e6) + F.lit(0.5)).cast(
                "bigint"
            ),
        )
    )
    per_doc = (
        scored.join(F.broadcast(terms), "token")
        .groupBy("query_id", "doc")
        .agg(F.sum("contrib_x1e6").alias("score_x1e6"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_x1e6").desc(), F.col("doc").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", F.col("doc").alias(id_col), "score_x1e6"
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF
    (tf * ln(1 + N/df)), the standard doc-keyword extraction pass used
    for corpus topic audits and mixture labeling.

    Output: (doc_id, rank, token, tfidf_x1e6). Two shuffles: the
    (doc, token) tf aggregate and the per-token df aggregate (the df
    table is vocabulary-sized and broadcast back).
    """
    post = postings(docs, id_col, text_col)
    dfreq = post.groupBy("token").agg(F.countDistinct("doc").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        post.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_x1e6",
            F.floor(
                F.col("tf")
                * F.log(F.lit(1.0) + F.col("n_docs") / F.col("df"))
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("tfidf_x1e6").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("doc").alias(id_col), "rank", "token", "tfidf_x1e6")
    )


def rrf_fuse(
    legs: list[DataFrame],
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09) of
    N retrieval legs — the standard hybrid-retrieval combiner (lexical
    BM25 + dense ANN) for RAG / training-data retrieval stacks: each
    leg contributes ``1/(k0 + rank)`` per (query, doc), summed across
    legs, re-ranked. Rank-based (not score-based), so legs with
    incomparable score scales fuse without calibration.

    Each leg must expose (query_id, doc_id, rank). Determinism: every
    contribution is one IEEE double division of small integers
    (bit-identical across engines); a (query, doc) pair has at most
    one row per leg, and the final ranking key is the x1e6-rounded
    integer score with doc_id tie-break — no float comparison crosses
    the engine boundary.

    Scale shape: the union is leg-count x (queries x k) rows — tiny
    relative to any corpus — so the fuse is a single small
    (query, doc) aggregation; the heavy lifting stays inside the legs
    (which keep their own broadcast/pruning plans).

    Output: (query_id, rank, doc_id, rrf_x1e6).
    """
    from functools import reduce

    u = reduce(
        lambda a, b: a.unionByName(b),
        [leg.select("query_id", "doc_id", "rank") for leg in legs],
    )
    contrib = u.select(
        "query_id",
        "doc_id",
        (F.lit(1.0) / (F.lit(float(k0)) + F.col("rank"))).alias("c"),
    )
    fused = (
        contrib.groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("s"))
        .withColumn(
            "rrf_x1e6",
            F.floor(F.col("s") * F.lit(1e6) + F.lit(0.5)).cast("bigint"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_x1e6").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "rrf_x1e6")
    )


def trigram_match(
    docs: DataFrame,
    patterns: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring search through a character-trigram inverted index —
    the pg_trgm / code-search plan shape: a LIKE '%pattern%' scan over
    a 100 TB corpus is a full read, but a doc can only contain the
    pattern if it contains EVERY one of the pattern's character
    trigrams, so the index prunes candidates to a bucket-join and the
    expensive exact containment check (``instr``) runs on the sliver.

    ``patterns``: (pattern_id, pattern), each pattern >= 3 chars after
    the same lowercase normalization applied to documents.

    Dataflow (r12, guide §2.4 — remove the shuffle outright): the
    candidate predicate "doc contains EVERY pattern trigram" is
    evaluated MAP-SIDE. A trigram is in a doc's trigram set iff it is
    a substring of the normalized text, so the per-(pattern, doc)
    bitmap the r5 explode+join built is exactly
    ``OR_j (instr(norm, tri_j) > 0) << bit_j`` over the pattern's
    <= 62 driver-known literal trigrams (the int64-bitmap bound
    _pattern_trigrams enforces), and candidacy is the bitmap being
    complete — no corpus trigram explode (a ~|chars| row blowup per
    doc), no postings shuffle, no aggregation. Exact ``instr``
    verification then runs on the candidate sliver as before. Output:
    (pattern_id, doc_id) verified matches — identical to the LIKE
    scan's answer (trigram pruning is lossless for literal patterns).

    History of this shape (SCALE.md round 5, plans/r12): a corpus-wide
    ``distinct()`` of the exploded index before the join shuffled the
    whole index (38 s vs 3.4 s at sf0.1-equivalent work); the
    bitmap-AND rewrite collapsed matched postings map-side but still
    paid the explode (~30x the corpus rows through a Generate) and one
    shuffle of the matched postings (2.8 s at sf0.1); the map-side
    instr bitmap is one pass over the corpus, zero exchanges — the
    floor for any query-time literal search, at every scale. The
    persisted-index deployment (trigram_match_indexed) remains the
    path whose serving I/O is corpus-size-independent.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    base = docs.select(F.col(id_col).alias("doc"), norm.alias("norm"))

    pats, tri_by_pat, pid_type = _pattern_trigrams(patterns)
    # pattern side is driver-literal by construction (<= 62 trigrams
    # per pattern enforced above; the pattern list itself is a probe
    # table) — compile the bitmap predicate per pattern. Patterns with
    # an empty trigram list (normalized below 3 chars) are SKIPPED:
    # the old postings join produced no candidates for them (ADVICE
    # r12: indexing tri_by_pat[pid] raised KeyError instead). The
    # emitted pattern_id literal is cast to the INPUT column's type —
    # the old int cast silently nulled bigint/string ids and
    # array_compact dropped every match for that pattern (ADVICE r12).
    # ONE corpus pass for all patterns (a per-pattern filter union
    # would re-scan and re-normalize the text once per pattern): per
    # doc, an array cell per pattern that passes bitmap + verification,
    # nulls compacted away, exploded to (pattern_id, doc) rows
    cells = []
    for pid in sorted(pats):
        tris = tri_by_pat[pid]
        if not tris:
            continue
        all_tris = functools.reduce(
            lambda a, b: a & b,
            (F.instr(F.col("norm"), F.lit(t)) > 0 for t in tris),
        )
        cells.append(
            F.when(
                all_tris & (F.instr(F.col("norm"), F.lit(pats[pid])) > 0),
                F.lit(pid).cast(pid_type),
            )
        )
    if not cells:
        # every pattern was trigram-less: no candidates, empty result
        return base.select(
            F.lit(None).cast(pid_type).alias("pattern_id"),
            F.col("doc").alias(id_col),
        ).filter(F.lit(False))
    return base.select(
        F.explode(F.array_compact(F.array(*cells))).alias("pattern_id"),
        F.col("doc").alias(id_col),
    )


def _pattern_trigrams(patterns: DataFrame):
    """Shared pattern-side prep for the trigram searchers: normalized
    pattern text and the per-pattern sorted distinct trigram list
    (``bit`` = position in that list). Enforces the <= 62-trigram
    int64-bitmap bound (driver state here is the pattern list only —
    bounded by construction).

    r13 (guide §1.2 — the pattern table is a driver-literal probe
    list): ONE tiny collect of the Spark-normalized patterns, trigram
    derivation in Python. The old shape ran THREE Spark jobs per serve
    (explode+distinct, a row_number window, and the >62 guard's
    collect) over a handful of rows — ~0.8 s of pure job-launch
    overhead on every trigram query. Normalization stays a Spark
    expression so the collected ``pat`` strings are bit-identical to
    what the document side computes; trigram slicing and the
    sorted-distinct bit order are engine-independent string ops.
    Returns ``(pats, tri_by_pat, pid_type)``: {pattern_id: pat},
    {pattern_id: [tri, ...] sorted}, and the pattern_id column's Spark
    type (so emitted literals preserve the caller's id type — ADVICE
    r12: the old int cast silently nulled bigint/string ids).
    Patterns normalizing below 3 chars get an EMPTY trigram list (no
    postings -> no candidates -> no matches, the old join semantics)."""
    pnorm = F.trim(
        F.regexp_replace(F.lower(F.col("pattern")), "[^a-z0-9]+", " ")
    )
    rows = patterns.select(F.col("pattern_id"), pnorm.alias("pat")).collect()
    pats = {r["pattern_id"]: r["pat"] for r in rows}
    tri_by_pat = {
        pid: sorted({pat[i : i + 3] for i in range(max(len(pat) - 2, 0))})
        for pid, pat in pats.items()
    }
    over = [pid for pid, ts in tri_by_pat.items() if len(ts) > 62]
    if over:
        raise ValueError(
            f"patterns {over} have > 62 distinct trigrams; "
            "the int64 bitmap AND needs <= 62 (split the pattern)"
        )
    return pats, tri_by_pat, patterns.schema["pattern_id"].dataType


def write_trigram_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the character-trigram inverted index on disk — the
    100 TB deployment shape for substring search (VERDICT r5 missing
    #2): :func:`trigram_match` pays the linear (doc, trigram) explode
    at EVERY query; this build pays it ONCE, and serving reads only
    the directories holding the probe pattern's trigrams.

    Layout: distinct (tri, doc) postings, parquet-partitioned by the
    trigram's 2-char prefix ``tri_p2`` — a FIXED directory fan-out
    (<= 37^2 for the [a-z0-9 ] normalized alphabet, the pg_trgm
    trigram space), independent of corpus size, so the build never
    creates a pathological small-file explosion and a serving query
    for a pattern with t trigrams opens <= t directories. Within a
    directory, rows are sorted by ``tri`` so min/max row-group stats
    make the residual ``tri IN (...)`` filter skip row groups.

    The build's shuffles are the postings ``distinct()`` — exactly
    the corpus-wide dedup the query-time path was explicitly
    restructured to avoid (SCALE.md round-5 probe) — and a
    ``repartition`` ON THE PARTITION KEY before the partitioned
    write (:meth:`..sources.index_store.Table.write`): without it
    every task holds every prefix, so each of up-to-shuffle-partitions
    tasks writes a file into every populated ``tri_p2=`` dir —
    tasks x dirs files. The r8 1000x run measured that explosion:
    build 678 s and a serve path that paid the whole tree's listing +
    footer opens, INVERTING the index (701 s vs the full scan's
    453 s — VERDICT r8 wrong #2). Keyed repartition puts each prefix
    in exactly one task: <= |distinct tri_p2| files total, independent
    of parallelism. Amortized across queries the build is the right
    trade, which is the whole point of the build/serve split.
    Incremental batches fold in through :func:`append_trigram_index`
    (crash-safe manifest swap), with :func:`compact_trigram_index` on
    the small-file cadence; the build stamps its dials
    (``_index_params.json``) so probes and appends validate the
    trigram alphabet before trusting the layout.
    """
    TRIGRAM_STORE.build(
        path,
        _TRIGRAM_PARAMS,
        lambda root: _TRIGRAM_TABLE.write(
            _trigram_postings(docs, id_col, text_col), root
        ),
    )


#: The build dials a probe must agree with: the normalization that
#: defines the trigram alphabet and the directory-prefix scheme. A
#: probe normalizing differently (or pruning on a different prefix
#: length) against an existing layout would silently return wrong or
#: empty matches — the same silent-miss class the MinHash index's
#: params stamp closed (ADVICE r7); hence the same validate-on-read
#: (VERDICT r9 missing #1).
_TRIGRAM_PARAMS = {
    "kind": "trigram_postings",
    "norm_regex": "[^a-z0-9]+",
    "norm": "lower_trim_single_space",
    "prefix_len": 2,
}

#: the trigram index's one table: postings at the index root, one dir
#: per 2-char prefix
_TRIGRAM_TABLE = Table("", "tri_p2", "string", "tri")
TRIGRAM_STORE = IndexStore("trigram", (_TRIGRAM_TABLE,))


def _trigram_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shared build/append posting derivation: distinct (doc, tri)
    pairs under the stamped normalization, plus the 2-char directory
    prefix. One definition so build and append can never drift."""
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.col(text_col)), _TRIGRAM_PARAMS["norm_regex"], " "
        )
    )
    base = docs.select(F.col(id_col).alias("doc"), norm.alias("norm"))
    # texts normalizing below 3 chars derive NO postings: without the
    # length filter, sequence(1, greatest(len-2, 0)) = sequence(1, 0)
    # DESCENDS ([1, 0] — Spark's implicit -1 step), emitting sub-3-char
    # junk postings and an empty-string partition dir for every short
    # doc. Probes never match them (probed trigrams are length 3), but
    # they pollute the layout and break the zero-postings no-op
    # contract of append_trigram_index (ADVICE r10).
    return (
        base.filter(F.length("norm") >= 3)
        .select(
            "doc",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(norm) - 2),"
                    " i -> substr(norm, i, 3))"
                )
            ).alias("tri"),
        )
        .distinct()
        .withColumn("tri_p2", F.expr("substr(tri, 1, 2)"))
    )


#: Per-dir file count past which append_trigram_index triggers
#: compact_trigram_index automatically. Each append adds one file per
#: touched tri_p2 dir, and every extra file is opened by every probe
#: whose pushed ``tri IN`` survives the partition filter (the 1000x
#: tier measured 30.5 s appended vs 17.1 s compacted serves) — without
#: a trigger, a long-running ingest loop degrades monotonically until
#: someone calls compact by hand (VERDICT r10 missing #3). At 8, the
#: compaction cost (one partitioned write of every crossing dir at
#: once, not a job per dir) amortizes over ~7 appends while the serve
#: overhead stays <= ~8 overlapping files.
_TRIGRAM_AUTO_COMPACT_FILES = 8


def append_trigram_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    auto_compact_threshold: int | None = _TRIGRAM_AUTO_COMPACT_FILES,
) -> dict:
    """Fold an ingested batch into a :func:`write_trigram_index` layout
    — the continuous-ingestion maintenance path (VERDICT r9 missing
    #1): the serve inversion fixed in r9 still left the BUILD a full
    rebuild (551.7 s at the 1000x tier), so a continuous-ingest
    deployment would rebuild the world per batch or serve stale.
    Cost is proportional to the BATCH: only the batch is normalized,
    exploded and written; the live index is never read or shuffled.

    The batch's postings are staged with the SAME partition scheme and
    swapped in by the index store's crash-safe staged append (contract
    in :mod:`..sources.index_store`). Batch doc ids must be disjoint
    from the index's (the ingest split's contract) so the layout-wide
    (doc, tri) distinctness is preserved without reading the live
    side. Repeated appends leave one file per batch per touched prefix
    dir; when any touched dir reaches ``auto_compact_threshold`` files,
    :func:`compact_trigram_index` runs on those dirs after the commit
    (pass ``None`` to manage compaction manually), so the ingest loop's
    serve latency stays bounded (VERDICT r10 missing #3). Returns
    {"postings_files": n, "auto_compacted": bool}.
    """
    (n_post,), crossing = TRIGRAM_STORE.append(
        path,
        _TRIGRAM_PARAMS,
        lambda root: _TRIGRAM_TABLE.write(
            _trigram_postings(docs, id_col, text_col), root
        ),
        # a batch whose texts all normalize below 3 chars is a true no-op
        lambda stats: not _trigram_postings(docs, id_col, text_col).isEmpty(),
        auto_compact_threshold,
    )
    if crossing:
        compact_trigram_index(
            docs.sparkSession, path, small_file_threshold=1, only_dirs=crossing
        )
    return {"postings_files": n_post, "auto_compacted": bool(crossing)}


def compact_trigram_index(
    spark,
    path: str,
    small_file_threshold: int = 2,
    only_dirs=None,
) -> dict:
    """Compact a trigram layout after repeated appends — rewrite every
    ``tri_p2=`` dir holding more than ``small_file_threshold`` files
    into ONE file re-sorted on ``tri``, restoring the row-group
    min/max pruning the build's sortWithinPartitions bought (appended
    files are each internally sorted but their ranges overlap, so a
    pushed ``tri IN`` opens every batch file until compaction). The
    whole pass is one partitioned write under one manifest, the index
    store's compaction (contract in :mod:`..sources.index_store`).
    ``only_dirs`` restricts the pass to exactly those ``tri_p2=`` dirs
    (the append trigger passes the touched dirs that crossed its
    threshold); ``None`` sweeps every dir.

    Returns {"dirs_compacted", "files_before", "files_after"}."""
    TRIGRAM_STORE.check(path, _TRIGRAM_PARAMS, "compact_trigram_index")
    return TRIGRAM_STORE.compact(spark, path, small_file_threshold, only_dirs)


def trigram_match_indexed(
    spark,
    index_path: str,
    docs: DataFrame,
    patterns: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Serve substring search from a :func:`write_trigram_index`
    layout — answers identical to :func:`trigram_match` (and to the
    full-scan LIKE oracle; the trigram prune is lossless for literal
    patterns), but the corpus-sized explode is gone: the probe's
    trigram prefixes (<= 62 per pattern, collected driver-side from
    the PATTERN list only) name the ``tri_p2`` dirs the read lists
    (``Table.read``: unprobed directories are never opened, and no
    plan-time job runs; the same prefixes stay a partition filter, so
    the plan shows the pruning) and the exact ``tri IN`` list is pushed
    into the parquet scan of the survivors. Serving I/O is O(postings of
    the probed trigrams), not O(corpus).

    The bitmap-AND candidate check is the same one-int64-row-per-
    (pattern, doc) shape as the query-time path; exact ``instr``
    verification then touches only candidate docs' text: the
    candidate-id join lands FIRST, on the raw (id, text) columns, and
    normalization runs on the post-join survivors only — the r8 1000x
    run caught the prior shape (normalize-then-join) paying the
    regex over the ENTIRE corpus on every probe, O(corpus) compute
    regardless of candidate count (VERDICT r8 wrong #2b). The join is
    hint-free: AQE sees the candidates' actual runtime size and
    broadcasts the small side, falling back to a keyed shuffle when a
    loose pattern matches a corpus-fraction (the r8 pinned-broadcast
    lesson). At 100 TB the doc side is a point-lookup-friendly store
    and this join becomes the pushed id lookup.

    Serving validates the layout's ``_index_params.json`` (raising on
    a normalization/prefix mismatch instead of silently missing
    matches) and heals any interrupted append/compact swap before
    reading — the MinHash index's probe contract (VERDICT r9 #3).
    """
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    TRIGRAM_STORE.open(index_path, _TRIGRAM_PARAMS, "trigram_match_indexed")
    pats, tri_by_pat, pid_type = _pattern_trigrams(patterns)
    tri_list = sorted({t for ts in tri_by_pat.values() for t in ts})
    p2_list = sorted({t[:2] for t in tri_list})
    if not tri_list:
        # every pattern normalized below 3 chars: no postings can match
        return docs.select(
            F.lit(None).cast(pid_type).alias("pattern_id"),
            F.col(id_col),
        ).filter(F.lit(False))

    # tiny local relations built from the driver-side pattern prep:
    # (pattern_id, tri, bit), (pattern_id, n_tris) and (pattern_id, pat).
    # from_records makes each a LocalTableScan, so their broadcasts run
    # no job and no Python worker. pattern_id keeps the caller's column
    # type (ADVICE r12).
    ptris = from_records(
        spark,
        [(pid, t, b) for pid, ts in tri_by_pat.items() for b, t in enumerate(ts)],
        StructType(
            [
                StructField("pattern_id", pid_type),
                StructField("tri", StringType()),
                StructField("bit", IntegerType()),
            ]
        ),
    )
    n_tris = from_records(
        spark,
        [(pid, len(ts)) for pid, ts in tri_by_pat.items() if ts],
        StructType(
            [
                StructField("pattern_id", pid_type),
                StructField("n_tris", IntegerType()),
            ]
        ),
    )
    p = from_records(
        spark,
        [(pid, pat) for pid, pat in pats.items()],
        StructType(
            [
                StructField("pattern_id", pid_type),
                StructField("pat", StringType()),
            ]
        ),
    )

    idx = (
        _TRIGRAM_TABLE.read(spark, index_path, p2_list)
        .filter(F.col("tri_p2").isin(p2_list))
        .filter(F.col("tri").isin(tri_list))
        .select("doc", "tri")
    )
    candidates = (
        idx.join(F.broadcast(ptris), "tri")
        .select(
            "pattern_id",
            "doc",
            F.expr("shiftleft(CAST(1 AS BIGINT), bit)").alias("m"),
        )
        .groupBy("pattern_id", "doc")
        .agg(F.expr("bit_or(m)").alias("mask"))
        .join(F.broadcast(n_tris), "pattern_id")
        .filter(F.bit_count("mask") == F.col("n_tris"))
        .select("pattern_id", "doc")
    )
    base = docs.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    norm = F.trim(F.regexp_replace(F.lower(F.col("_t")), "[^a-z0-9]+", " "))
    return (
        candidates.join(base, "doc")
        .withColumn("norm", norm)
        .join(F.broadcast(p), "pattern_id")
        .filter(F.instr(F.col("norm"), F.col("pat")) > 0)
        .select("pattern_id", F.col("doc").alias(id_col))
    )
