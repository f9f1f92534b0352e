"""Scan pipeline — SURVEY.md §3.1 re-architected as one lazily-planned
DAG.

Reference flow (jobs/scan.ts:18-105 + services/scan.ts:41-168):
connector candidates ∪ web_search → dedupeByUrl (first-wins) →
date-window filter → cap → canonicalize/policy-evaluate → LLM-extract →
validate → tier-route → {upsert main, append review} → lineage links →
run summary. Stages 3-5 were sequential row loops across process
boundaries; here they are a single DataFrame DAG per run:

  candidates → W1 window dedup (explicit arrival_seq) → F4 filter →
  T5 limit → F1/F9 policy columns → extractor → V3 normalize →
  V1/V2 validate+route → split → G5 link projections → A5 summary

The only Python stage is the pluggable extractor (and only in its
``mapInPandas`` flavor); everything else is codegen'd columnar work.

One materialization per run: the DAG is planned lazily, but two frames
are ``localCheckpoint``-ed (lazily, so no extra action) — the windowed,
capped, tier-annotated ``docs`` and the validated, ``routed`` items.
All five outputs are derived from those two leaves, so whichever sink
action runs first computes W1, T5 and the extract⋈docs join (and calls
the extractor) once; every later action — summary collect, MERGE key
bounds and stage write, review append, link union, near-dup signatures,
index postings — reads the pinned blocks. It also makes the outputs of
one run mutually consistent even when the extractor is not
deterministic. The blocks live in executor storage as long as any
output frame references them: once the ``ScanResult`` and every frame
derived from it are unreachable, Spark's ContextCleaner frees them
after the next JVM garbage collection, so a streaming caller that runs
one scan per micro-batch does not accumulate them. As with any
``localCheckpoint``,
a lost executor loses blocks that cannot be recomputed: the run fails,
and a restarted ``stream_scan`` query replays that micro-batch from its
checkpoint.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import urls
from ..functions.normalize import normalize_items
from ..operators.validate import split_routes, with_route, with_validation
from .extract import ColumnExtractor, Extractor


@dataclass
class ScanResult:
    """The scan run's output tables. Each is a lazy plan over the run's
    two pinned leaves (``docs`` and ``routed``, see the module
    docstring): no output re-runs the dedup window, the cap or the
    extractor, and the pinned blocks are freed once the result and the
    frames derived from it are garbage-collected."""

    documents: DataFrame  # deduped, windowed, policy-annotated candidates
    main_items: DataFrame  # validated TIER_A items → upsert into main
    review_items: DataFrame  # everything else → review_queue payloads
    links: DataFrame  # G5 lineage edges (run→doc, run→item, doc→item)
    summary: DataFrame  # A5 one-row rollup


def dedupe_first_wins_by_url(candidates: DataFrame) -> DataFrame:
    """W1 (scan.ts:312-321): first candidate per canonical URL in
    explicit arrival order — Spark unions don't preserve order, so
    ``arrival_seq`` must come from the source union."""
    canon = urls.canonicalize_url(F.col("url"))
    w = W.partitionBy("canonical_url").orderBy(F.asc("arrival_seq"))
    return (
        candidates.withColumn("canonical_url", canon)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def filter_date_window(candidates: DataFrame, days: int) -> DataFrame:
    """F4 (scan.ts:420-429): null/unparsable published dates PASS."""
    cutoff = F.date_sub(F.current_date(), days)
    return candidates.filter(
        F.col("published_date").isNull() | (F.col("published_date") >= cutoff)
    )


def run_scan(
    candidates: DataFrame,
    run_id: str,
    days_window: int = 90,
    max_results: int = 1000,
    extractor: Extractor | None = None,
    tier_for_profile: dict[str, str] | None = None,
) -> ScanResult:
    """Assemble the full scan DAG. ``candidates`` carries the
    source_documents shape (schemas.SOURCE_DOCUMENTS) with arrival_seq
    already synthesized at union time."""
    extractor = extractor or ColumnExtractor()
    tier_map = tier_for_profile or {
        "profile_0": "TIER_A_BINDING",
        "profile_1": "TIER_B_OFFICIAL",
        "profile_2": "TIER_C_MEDIA",
    }

    docs = (
        dedupe_first_wins_by_url(candidates)
        .transform(lambda df: filter_date_window(df, days_window))
        .orderBy("arrival_seq")
        .limit(max_results)  # T5 candidate cap in arrival order (scan.ts:111)
    )
    tier_expr = F.coalesce(
        *[
            F.when(F.col("source_profile_id") == pid, F.lit(tier))
            for pid, tier in tier_map.items()
        ],
        F.lit("TIER_D_QUARANTINE"),  # F9 default (policy.ts:163-170)
    )
    # Materialization 1 of 2: every output reads the deduped, capped
    # candidates from these blocks instead of re-planning W1 and T5.
    docs = docs.withColumn("trust_tier", tier_expr).localCheckpoint(eager=False)

    extracted = extractor.extract(docs)
    items = (
        extracted.join(
            docs.select(
                F.col("id").alias("source_document_id"),
                F.col("trust_tier"),
                F.col("published_date"),
                F.col("retrieved_at"),
            ),
            "source_document_id",
        )
        .withColumn("source_org", F.lit("Unknown"))
        .withColumn("source_type", F.lit("guidance"))
        .withColumn("status", F.lit("proposed"))
        .withColumn("impacted_areas", F.array().cast("array<string>"))
        .withColumn(
            "evidence",
            F.struct(
                F.lit(None).cast("string").alias("raw_file_uri"),
                F.lit(None).cast("string").alias("text_snapshot_uri"),
                F.array(
                    F.struct(
                        F.col("title").alias("title"),
                        F.col("url").alias("url"),
                        F.substring(F.col("summary_1line"), 1, 300).alias("snippet"),
                    )
                ).alias("citations"),
            ),
        )
    )
    # Materialization 2 of 2: the extractor runs and the extract⋈docs
    # join shuffles once per run, whichever sink reads first.
    routed = with_route(with_validation(normalize_items(items))).localCheckpoint(eager=False)
    main_items, review_items = split_routes(routed)

    # G5 link derivation (jobs/scan.ts:107-167): per-relation projections.
    run_lit = F.lit(run_id)
    link_cols = ["from_type", "from_id", "to_type", "to_id", "relation"]
    produced_docs = docs.select(
        F.lit("Run").alias("from_type"),
        run_lit.alias("from_id"),
        F.lit("SourceDocument").alias("to_type"),
        F.col("id").alias("to_id"),
        F.lit("produced").alias("relation"),
    )
    produced_items = main_items.select(
        F.lit("Run").alias("from_type"),
        run_lit.alias("from_id"),
        F.lit("RegulationItem").alias("to_type"),
        F.col("id").alias("to_id"),
        F.lit("produced").alias("relation"),
    )
    extracted_from = main_items.filter(F.col("source_document_id").isNotNull()).select(
        F.lit("SourceDocument").alias("from_type"),
        F.col("source_document_id").alias("from_id"),
        F.lit("RegulationItem").alias("to_type"),
        F.col("id").alias("to_id"),
        F.lit("extracted_from").alias("relation"),
    )
    queued = review_items.select(
        F.lit("Run").alias("from_type"),
        run_lit.alias("from_id"),
        F.lit("RegulationItem").alias("to_type"),
        F.col("id").alias("to_id"),
        F.lit("queued_for_review").alias("relation"),
    )
    links = (
        produced_docs.unionByName(produced_items)
        .unionByName(extracted_from)
        .unionByName(queued)
        .dropDuplicates(link_cols)
    )

    # A5 run-summary rollup (jobs/scan.ts:82-94) — one aggregated row
    # from the routed plan, not collected branch counts.
    summary = routed.agg(
        F.count(F.lit(1)).alias("discovered"),
        F.sum(F.when(F.col("route") == "main", 1).otherwise(0)).alias("accepted"),
        F.sum(F.when(F.col("route") == "review_queue", 1).otherwise(0)).alias("review"),
    ).withColumn("run_id", F.lit(run_id))

    return ScanResult(
        documents=docs,
        main_items=main_items,
        review_items=review_items,
        links=links,
        summary=summary,
    )
