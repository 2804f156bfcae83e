"""The five-stage KG-construction pipeline (SURVEY.md §7).

    webtext(url, warc_ts, html, text, lang, sidecar...)
      -> 1 extract   : byte-identical page text + sha256 doc_id
      -> 2 chunk     : word-budget chunks + summaries (+ embeddings)
      -> 3 triples   : the extraction kernel -> claims
      -> 4 link+canon: broadcast entity linking (inside stage 3's kernel) +
                       cogrouped fact-mutation replay
      -> 5 materialize: idempotent upserts keyed on content hashes + per-
                       partition lineage rows in `runs`

Resume story: every id is a content hash, every sink is an upsert, so
re-running any stage (or the whole job) converges to the same store state.
The `runs` table records per-partition metrics for each stage of each run_id;
a resumed run appears as a second run_id over the same keys with zero net
row changes.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .operators.canonicalize import (
    canonicalize_claims,
    graph_edges_from_outputs,
    incremental_support,
    split_claim_updates,
    split_edges,
    split_facts,
)
from .operators.chunking import build_chunks
from .operators.extraction import extract_claims_stage, extract_documents
from .schema import FACTS_SCHEMA
from .store import TableStore


def _first_per_doc(documents: DataFrame) -> DataFrame:
    """Keep one row per doc_id, deterministically the min url."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("url").asc())
    return documents.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _last_claim_wins(claims: DataFrame) -> DataFrame:
    """One row per claim_id; the reference's repeated MERGE leaves the
    last-extracted duplicate's properties (saia.py:1073-1107), i.e. max
    claim_seq within the doc."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("claim_id").orderBy(F.col("claim_seq").desc())
    return claims.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


@dataclass
class PipelineResult:
    documents: int
    chunks: int
    claims: int
    facts_current: int
    facts_superseded: int
    conflicts: int
    edges: int


def run_pipeline(
    spark: SparkSession,
    webtext: DataFrame,
    persons: list[dict],
    groups: list[dict],
    store: TableStore,
    *,
    run_id: str,
    run_ts: str,
    embed_chunks: bool = False,
    lang_filter: str | None = "en",
    claims_hook=None,
) -> PipelineResult:
    """claims_hook, when given, is called with this run's claims DataFrame
    after all table upserts commit and before the staging dir is dropped —
    the seam maintenance consumers (e.g. the incremental component store,
    operators/components.maintain_component_store) attach to without
    re-extracting the batch."""
    # --- stage 1: byte-deterministic text extraction --------------------------
    documents = extract_documents(webtext, lang_filter=lang_filter)
    # Content-level dedupe (P4/J10): pages with identical extracted text share
    # a doc_id; only one (deterministically the min url) is ingested, exactly
    # like the reference's skip-if-exists gate (services.py:1493-1499). Doing
    # it before the claim kernel also prunes the expensive stage's input.
    documents = _first_per_doc(documents)
    # Skip-if-exists (P4/J10, services.py:1493-1499): documents already in the
    # store are never re-chunked or re-extracted — THIS is the resume
    # mechanism. A re-run (or a replayed partition) anti-joins to nothing and
    # the whole job is a no-op.
    if store.exists("documents"):
        documents = documents.join(
            store.read(spark, "documents").select("doc_id"), "doc_id", "left_anti"
        )
    # One pass of the html kernel feeds both the chunk and claim stages:
    # materialize it once (staging parquet doubles as the stage checkpoint).
    store.overwrite(documents, f"_staging/{run_id}/documents")
    documents = store.read(spark, f"_staging/{run_id}/documents")

    # --- stage 2: chunks -------------------------------------------------------
    chunks = build_chunks(documents, embed=embed_chunks)

    # --- stage 3: claims -------------------------------------------------------
    claims = extract_claims_stage(documents, persons, groups, run_ts=run_ts)
    store.overwrite(claims, f"_staging/{run_id}/claims")
    claims = store.read(spark, f"_staging/{run_id}/claims")

    # --- stage 4: canonicalization --------------------------------------------
    # Only the keys touched by this batch need replaying: semi-join prunes the
    # facts table before it enters the Python cogroup (at 10^12-doc scale the
    # store dwarfs any one batch).
    existing = None
    if store.exists("facts"):
        existing = store.read(spark, "facts", FACTS_SCHEMA).join(
            claims.select("canonical_key").dropDuplicates(), "canonical_key", "left_semi"
        )
    union = canonicalize_claims(claims, existing, seen_at=run_ts)
    store.overwrite(union, f"_staging/{run_id}/mutations")
    union = store.read(spark, f"_staging/{run_id}/mutations")
    facts = split_facts(union)
    claim_updates = split_claim_updates(union)
    claim_fact_edges = split_edges(union)

    # claims carry their final promotion/mutation status (saia.py:1120-1130);
    # broadcast-join the small updates side onto the claim rows.
    updated_claims = _last_claim_wins(
        claims.drop("promotion_status", "mutation_action")
        .join(F.broadcast(claim_updates.dropDuplicates(["claim_id"])), "claim_id", "left")
    )

    # --- stage 5: materialize ---------------------------------------------------
    # Each upsert is a few small Spark jobs; run one after another they leave
    # most executor slots idle. They run instead as a dependency graph on
    # driver threads that inherit this thread's job group and description:
    #
    #   documents, chunks, claims ──────────────────┐
    #   claim_fact_edges ──> facts, edges ───────────┼──> store totals
    #   lineage scalars ──> runs ────────────────────┘
    #
    # Each upsert reads only staging parquet and its own table, except facts
    # and edges: incremental_support reads the committed claim_fact_edges
    # table. run_pipeline waits for every thread and only then raises the
    # first error (in task-list order); the staging dir is dropped only
    # after a fully successful run.

    def facts_with_support() -> DataFrame:
        # idempotent support_count, pruned to this batch: the replay already
        # emitted every fact of every canonical_key the batch touched, so
        # only those facts can change support. Re-derive from the edge
        # history of just those fact_ids (broadcast semi-join; at 10^12 docs
        # this is a bucketed probe, never an O(store) recompute) — untouched
        # facts keep their stored support_count.
        return incremental_support(facts, store.read(spark, "claim_fact_edges"))

    def upsert_edges() -> None:
        # Typed graph edges are additive projections of rows (SCD-2 never
        # removes an edge; a supersede only adds one), so deriving them from
        # the BATCH rows and upserting on (src, dst, type) reaches the same
        # store state as a full rebuild — without the O(store) rescan per
        # run. The batch facts cover every touched key (incl. replayed prior
        # versions), so status-change edges are always present.
        graph_edges = graph_edges_from_outputs(updated_claims, facts_with_support(), documents)
        store.upsert(graph_edges, "edges", ["src", "dst", "type"])

    def write_lineage() -> int:
        """Lineage (S15 analog): per-partition metrics plus a run-level
        summary row; returns the conflict count."""
        scalars = _lineage_scalars(documents, claims, claim_updates, claim_fact_edges)
        canonicalized, conflicts = scalars["claims_canonicalized"], scalars["conflicts"]
        runs = (
            claims.groupBy("partition_id")
            .agg(F.countDistinct("doc_id").alias("docs_processed"), F.count("*").alias("claims_extracted"))
            .select(
                F.lit(run_id).alias("run_id"),
                F.col("partition_id").cast("int"),
                F.lit("extract+canonicalize").alias("stage"),
                F.lit("completed").alias("status"),
                F.lit(run_ts).alias("processed_at"),
                F.col("docs_processed").cast("long"),
                F.col("claims_extracted").cast("long"),
                F.lit(canonicalized).cast("long").alias("claims_canonicalized"),
                F.lit(conflicts).cast("long").alias("conflicts_found"),
                F.lit(None).cast("string").alias("errors_json"),
            )
        )
        # run-level summary row (partition_id = -1): present even for a
        # no-op resume, so every run_id is visible in lineage. Built from
        # literals: no Python-side RDD (and its executor job) for one row.
        summary = spark.range(1).select(
            F.lit(run_id).alias("run_id"),
            F.lit(-1).alias("partition_id"),
            F.lit("run_summary").alias("stage"),
            F.lit("completed").alias("status"),
            F.lit(run_ts).alias("processed_at"),
            F.lit(scalars["ingested_docs"]).cast("long").alias("docs_processed"),
            F.lit(scalars["claims_total"]).cast("long").alias("claims_extracted"),
            F.lit(canonicalized).cast("long").alias("claims_canonicalized"),
            F.lit(conflicts).cast("long").alias("conflicts_found"),
            F.lit(None).cast("string").alias("errors_json"),
        )
        store.upsert(runs.unionByName(summary), "runs", ["run_id", "partition_id", "stage"])
        return conflicts

    # one thread per task: a dependent task holds its thread while it waits
    with ThreadPoolExecutor(max_workers=7, thread_name_prefix="upsert") as pool:

        def start(fn, *deps: Future) -> Future:
            def run():
                for dep in deps:
                    dep.result()
                return fn()

            return pool.submit(inheritable_thread_target(spark)(run))

        claim_edges_committed = start(
            lambda: store.upsert(
                claim_fact_edges, "claim_fact_edges", ["claim_id", "fact_id", "relation_type"]
            )
        )
        lineage = start(write_lineage)
        tasks = [
            start(lambda: store.upsert(documents.drop("message_id"), "documents", ["doc_id"])),
            start(lambda: store.upsert(chunks, "chunks", ["chunk_id"])),
            start(lambda: store.upsert(updated_claims, "claims", ["claim_id"])),
            claim_edges_committed,
            start(lambda: store.upsert(facts_with_support(), "facts", ["fact_id"]), claim_edges_committed),
            start(upsert_edges, claim_edges_committed),
            lineage,
        ]
    # leaving the pool waited for every thread
    for task in tasks:
        if task.exception() is not None:
            raise task.exception()

    totals = _store_totals(spark, store)
    result = PipelineResult(
        documents=totals["documents"],
        chunks=totals["chunks"],
        claims=totals["claims"],
        facts_current=totals["facts_current"],
        facts_superseded=totals["facts_superseded"],
        conflicts=lineage.result(),
        edges=totals["edges"],
    )
    if claims_hook is not None:
        claims_hook(claims)
    store.drop(f"_staging/{run_id}")
    return result


def _lineage_scalars(
    documents: DataFrame, claims: DataFrame, claim_updates: DataFrame, claim_fact_edges: DataFrame
) -> dict[str, int]:
    """This batch's lineage scalars, in one aggregate query."""
    canonicalized = F.col("mutation_action").isin(
        "insert_new_fact", "confirm_existing_fact", "supersede_current_fact"
    )
    return _count_tags(
        [
            (documents, F.lit("ingested_docs")),
            (claims, F.lit("claims_total")),
            (claim_updates, F.when(canonicalized, "claims_canonicalized")),
            (claim_fact_edges, F.when(F.col("relation_type") == "CONTRADICTS", "conflicts")),
        ],
        ["ingested_docs", "claims_total", "claims_canonicalized", "conflicts"],
    )


def _store_totals(spark: SparkSession, store: TableStore) -> dict[str, int]:
    """Whole-store row counts, facts split by status, in one aggregate query."""
    return _count_tags(
        [
            (store.read(spark, "documents"), F.lit("documents")),
            (store.read(spark, "chunks"), F.lit("chunks")),
            (store.read(spark, "claims"), F.lit("claims")),
            (store.read(spark, "facts"), F.concat(F.lit("facts_"), F.col("status"))),
            (store.read(spark, "edges"), F.lit("edges")),
        ],
        ["documents", "chunks", "claims", "facts_current", "facts_superseded", "edges"],
    )


def _count_tags(parts: list[tuple[DataFrame, Column]], tags: list[str]) -> dict[str, int]:
    """Count the rows each part's tag column marks with each tag: the parts
    are unioned, so every input is scanned once in a single scan stage."""
    tagged = reduce(DataFrame.unionAll, [df.select(tag.alias("tag")) for df, tag in parts])
    row = tagged.agg(*[F.count_if(F.col("tag") == tag).alias(tag) for tag in tags]).first()
    return {tag: row[tag] for tag in tags}
