"""End-to-end LLM corpus-curation pipeline: the operator tiers composed
into ONE runnable job, the way a real 100 TB curation run chains them.

Stage order follows the public pipelines (CCNet / RefinedWeb / Dolma):

  ingest -> language + quality gate -> exact dedup -> MinHash-LSH
  near-dup (components -> canonical keeper) -> benchmark
  decontamination -> PII redaction -> temperature mixture ->
  sequence packing -> epoch shard assignment

Every stage is an independently-oracled operator (see
plans/queries_llm.py for each one's DuckDB twin); this module proves
they COMPOSE and emits a per-stage audit report — the artifact an
operator of the pipeline actually reviews. ``corpus_curation`` (the
oracled 4-stage composite acceptance query) is the correctness anchor
for composition; this is the full production shape.

Scale notes:
- near-dup digests default to ``hash_family="xxhash64"`` — the
  oracle-free production path (~30% cheaper; pair output identical,
  see operators/dedup._digest_expr).
- survivor frames are persisted at the two stage boundaries whose
  subtrees later stages re-read (post-near-dup, post-PII), held like
  every stage's resources in the caller's ``session.resource_scope``
  — at 100 TB these become parquet checkpoints between jobs, not
  memory caches.
- the report is a union of per-stage 1-row aggregates: one extra scan
  per audited stage, bounded output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import spark_hex_to_long
from ..functions.textnorm import tokens_col
from ..operators.cleaning import epoch_shuffle_shards
from ..operators.curation import (
    benchmark_decontaminate,
    mixture_sample,
    pack_sequences,
    redact_pii,
    temperature_mixture_plan,
)
from ..operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
)
from ..operators.textops import quality_score
from ..session import hold
from ..sources.readers import read_table


def _audit(name: str, order: int, df: DataFrame) -> DataFrame:
    return df.agg(
        F.lit(order).alias("stage_no"),
        F.lit(name).alias("stage"),
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens_col("text"))).cast("long").alias("n_tokens"),
    )


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    quality_floor: int = 60,
    near_dup_num: int = 3,
    near_dup_den: int = 5,
    mixture_total: int = 400,
    seq_len: int = 512,
    n_shards: int = 8,
    hash_family: str = "xxhash64",
) -> dict[str, DataFrame]:
    """Run the full curation pipeline; returns lazy DataFrames:

    - ``report``: (stage_no, stage, n_docs, n_tokens) per stage — the
      monotone survivor funnel (pytest asserts it never grows);
    - ``corpus``: the final curated (doc_id, source, text) frame;
    - ``packed``: per-sequence packing stats at ``seq_len``;
    - ``shards``: per-(epoch, shard) counts + membership checksums.
    """
    docs = read_table(spark, sf_dir, "documents")
    audits = [_audit("ingest", 0, docs)]

    # 1. language + quality gate (cheap map-side filters first)
    gated = (
        quality_score(docs, "doc_id", "text")
        .join(docs, "doc_id")
        .filter((F.col("lang") == "en") & (F.col("quality") >= quality_floor))
        .select("doc_id", "source", "text")
    )
    audits.append(_audit("lang_quality_gate", 1, gated))

    # 2. exact dedup (md5 digest groups, keep min id)
    keepers = exact_dedup(gated, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    # NO broadcast pin on keepers/drop/contaminated: all three are
    # corpus-FRACTION id lists (keepers is ~the whole corpus), so a
    # pinned broadcast collects GBs into the driver at scale — the r8
    # 1000x run aborted exactly here (maxResultSize on a 5M-doc
    # keeper list). Hint-free, AQE broadcasts them while small and
    # shuffle-semi-joins past the threshold (doc_id-keyed, co-shuffles
    # with the corpus it filters).
    exact_kept = gated.join(keepers, "doc_id", "left_semi")
    audits.append(_audit("exact_dedup", 2, exact_kept))

    # 3. near-dup: LSH pairs -> components -> canonical keeper (min id)
    pairs = minhash_lsh_pairs(
        exact_kept,
        "doc_id",
        "text",
        threshold_num=near_dup_num,
        threshold_den=near_dup_den,
        hash_family=hash_family,
    )
    comp = connected_components(pairs)
    drop = comp.filter(F.col("doc") != F.col("component")).select(
        F.col("doc").alias("doc_id")
    )
    near_kept = hold(exact_kept.join(drop, "doc_id", "left_anti").persist())
    audits.append(_audit("near_dedup", 3, near_kept))

    # 4. benchmark decontamination (eval split = md5 bucket >= 90 of
    #    the ORIGINAL corpus, same convention as decontaminate_overlap)
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    bench = docs.filter(b >= 90)
    contaminated = (
        benchmark_decontaminate(near_kept, bench)
        .filter(F.col("contaminated") == 1)
        .select(F.col("doc").alias("doc_id"))
    )
    clean = near_kept.join(contaminated, "doc_id", "left_anti")
    audits.append(_audit("decontaminate", 4, clean))

    # 5. PII redaction (map-only rewrite; text column replaced)
    redacted = redact_pii(clean, "text", "redacted").select(
        "doc_id", "source", F.col("redacted").alias("text")
    )
    audits.append(_audit("pii_redact", 5, redacted))

    # 6. temperature mixture: quota per source (bounded collect of
    #    #sources rows), deterministic md5-rank selection
    plan = temperature_mixture_plan(redacted, "source", mixture_total)
    quotas = {
        r["source"]: r["planned_docs"] for r in plan.collect()
    }  # bounded driver state: one row per source
    total_planned = sum(quotas.values()) or 1
    weights = {s: q / total_planned for s, q in quotas.items()}
    mixed = hold(mixture_sample(
        redacted, weights, total=total_planned, domain_col="source"
    ).persist())
    audits.append(_audit("mixture", 6, mixed))

    # 7. sequence packing layout at seq_len
    packed = pack_sequences(
        mixed.select(
            "doc_id", F.size(tokens_col("text")).cast("long").alias("n_tokens")
        ),
        seq_len=seq_len,
    )
    # 8. epoch shard assignment
    shards = epoch_shuffle_shards(mixed, "doc_id", n_shards=n_shards)

    report = audits[0]
    for a in audits[1:]:
        report = report.unionByName(a)
    return {
        "report": report,
        "corpus": mixed,
        "packed": packed,
        "shards": shards,
    }
