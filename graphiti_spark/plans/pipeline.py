"""End-to-end batch pipeline — the Spark job DAG equivalent of
`Graphiti.add_episode_bulk` (graphiti.py:554-831; SURVEY §3.2).

Stages (each checkpointable + lineage-recorded when materializing):
  1 episodes     transcripts → episodes (windowed context available)
  2 extract      mentions (E1) + triples (E3) via Arrow-batched UDFs
  3 dedupe       blocking → verdict pairs → connected components →
                 uuid_map (J4/J5/J8 + G1)
  4 nodes        canonical entity nodes (+ hash embeddings)
  5 edges        pointer rewrite (P4) → dedupe → bi-temporal
                 invalidation (J6/J7, T1-T3)
  6 mentions     episodic MENTIONS edges (P1), canonical targets
  7 backrefs     episode entity_edges from the resolved edges
                 (graphiti.py:517)
  8 materialize  merge-parquet all five tables (run_pipeline)

The whole DAG shuffles on group-scoped keys only; the extraction
stage is embarrassingly parallel. At 10^12-turn scale the knobs are
partition count (`spark.sql.shuffle.partitions`), AQE skew-join for
hot conversations, and bucketed materialization (materialize.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark import ids
from graphiti_spark.operators import dedupe as dd
from graphiti_spark.operators import edge_resolution as er
from graphiti_spark.operators import episodes as ep_ops
from graphiti_spark.operators import extraction as ex
from graphiti_spark.operators import graph_resolution as gr
from graphiti_spark.plans import materialize as mat

RUN_TS = "2025-06-01 00:00:00"  # fixed transaction time → deterministic output


def build_graph(
    transcripts: DataFrame,
    run_ts: str = RUN_TS,
    with_embeddings: bool = True,
    existing_nodes: DataFrame | None = None,
    salt_hot_conversations: int | None = None,
) -> dict[str, DataFrame]:
    """Pure dataflow (no writes): transcripts → all graph tables.

    The shared intermediates (episodes, extraction outputs, uuid_map,
    edges) are localCheckpointed so forcing several output tables
    computes each layer once — the multi-action analog of the
    reference's LLM disk cache (llm_client/client.py:123-167, SURVEY
    §4); the episodes' entity_edges back-references and the edges
    table share one edge resolution. Measured: ~2.6× faster than
    recompute and ~2.6× faster than persist() for the 3-table force at
    sf0.1 (persist's row-cache write path loses to the checkpoint block
    write here).

    The checkpoints are `eager=False`, but this call is not a lazy
    plan: under AQE, localCheckpoint runs every shuffle stage upstream
    of the checkpointed frame when it is called, so building the graph
    runs most of the pipeline's jobs before any table is forced."""
    # Explicit group-aligned repartition at pipeline entry. Two reasons:
    # (a) co-locate each conversation for every downstream group-keyed
    # op; (b) pin the parallelism of the UDF extraction stage — AQE
    # coalesces the upstream exchange by *current* size (a small source
    # exploding into many episodes otherwise reaches extraction with a
    # handful of partitions; measured: 4 tasks on 32 cores, 6x slower).
    spark = transcripts.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    transcripts = transcripts.repartition(n_part, "conv_id")

    episodes = ep_ops.build_episodes(transcripts, created_at=run_ts).localCheckpoint(eager=False)

    # NOTE on a measured non-optimization: fusing E1+E3 into one
    # mapInPandas (shared regex captures, tagged union output) was tried
    # and is ~1.6x SLOWER than the two scans below — Arrow-serializing
    # and checkpointing the wide sparse union costs more than the second
    # regex sweep over the (checkpointed) episodes saves.
    # Hot-conversation salting for the UDF scans (north-star 10¹²-turn
    # design point): extraction is per-row, so re-keying its input by
    # (group, turn-range) is EXACT and bounds any one conversation's
    # rows per task at `salt_hot_conversations` turns. Opt-in because
    # it adds one shuffle of the episodes and forfeits the group-
    # aligned partitioning reuse downstream — worth it only when a
    # single conversation can exceed ~10⁵ turns (AQE cannot split a
    # skewed map-stage partition; it only splits join/agg reads). The
    # prev-episode window gets the same treatment unconditionally via
    # with_prev_context_salted (episodes.py), where salting is free.
    udf_in = episodes
    if salt_hot_conversations:
        udf_in = episodes.repartition(
            n_part, "group_id", F.floor(F.col("turn_idx") / salt_hot_conversations)
        )
    mentions_raw = ex.mentions_with_entity_uuid(ex.extract_mentions(udf_in)).localCheckpoint(eager=False)
    triples_raw = ex.triples_with_uuids(ex.extract_triples(udf_in)).localCheckpoint(eager=False)

    entities, uuid_map = dd.resolve_nodes(mentions_raw)
    if existing_nodes is not None:
        # cross-batch resolution against the materialized graph
        # (graphiti.py:722-781, SURVEY §3.2 step 9): any batch surface
        # matching an existing node remaps its whole within-batch
        # component onto the existing node's uuid
        matches = gr.match_existing(entities, existing_nodes)
        uuid_map = gr.extend_uuid_map(uuid_map, entities, matches)
    uuid_map = uuid_map.localCheckpoint(eager=False)
    nodes = dd.canonical_nodes(entities, uuid_map, run_ts, with_embeddings=with_embeddings)
    if existing_nodes is not None:
        nodes = gr.merge_node_payloads(nodes, existing_nodes)

    triples = er.resolve_edge_pointers(triples_raw, uuid_map)
    edges = er.resolve_edges(triples, run_ts, with_embeddings=with_embeddings).localCheckpoint(eager=False)

    mention_map = F.broadcast(uuid_map.select(F.col("raw_uuid").alias("entity_uuid"), "canonical_uuid"))
    mentions = (
        mentions_raw.join(mention_map, "entity_uuid", "left")
        .withColumn("entity_canon", F.coalesce("canonical_uuid", "entity_uuid"))
        .select(
            ids._md5_concat(
                F.lit("mn"), F.col("group_id"), F.col("episode_uuid"), F.col("entity_canon")
            ).alias("uuid"),
            F.col("episode_uuid").alias("source_node_uuid"),
            F.col("entity_canon").alias("target_node_uuid"),
            "group_id",
            F.lit(run_ts).cast("timestamp").alias("created_at"),
        )
        .distinct()  # rows identical per uuid (all cols derive from the
        # uuid inputs) — distinct() stays hash-based; dropDuplicates
        # (["uuid"]) would SortAggregate on first(string) buffers
    )

    # episode.entity_edges back-references (graphiti.py:517)
    ep_edges = (
        edges.select(F.explode("episodes").alias("uuid_ep"), F.col("uuid").alias("edge_id"))
        .groupBy("uuid_ep")
        .agg(F.sort_array(F.collect_set("edge_id")).alias("entity_edges"))
    )
    episodes_final = (
        episodes.drop("entity_edges")
        .join(ep_edges, episodes.uuid == ep_edges.uuid_ep, "left")
        .drop("uuid_ep")
        .withColumn("entity_edges", F.coalesce("entity_edges", F.array().cast("array<string>")))
        .drop("turn_idx")
    )

    return {
        "episodes": episodes_final,
        "nodes": nodes,
        "edges": edges,
        "mentions": mentions,
        "uuid_map": uuid_map,
    }


def force_outputs(
    tables: dict[str, DataFrame],
    names: tuple[str, ...] = ("edges", "nodes", "mentions"),
) -> None:
    """Drive the output tables through the noop sink the way a real job
    drives its sinks: shared upstream checkpoints first, then every
    sink CONCURRENTLY (the reference writes its four tables inside one
    bulk transaction, add_nodes_and_edges_bulk, bulk_utils.py:84-165).

    Serial sink submission leaves the executors idle during each job's
    driver phase (planning + scheduling) — pure non-scaling time that
    caps N-vs-4N scaling efficiency. Concurrent submission overlaps one
    sink's driver phase with another's executor work; Spark's scheduler
    interleaves the jobs' stages. The uuid_map pre-force materializes
    the shared lazy checkpoints (episodes, extraction outputs, uuid_map)
    exactly once so the concurrent jobs only read completed checkpoint
    blocks instead of racing to build them."""
    from concurrent.futures import ThreadPoolExecutor

    if "uuid_map" in tables:
        tables["uuid_map"].write.format("noop").mode("overwrite").save()

    def _force(name: str) -> None:
        tables[name].write.format("noop").mode("overwrite").save()

    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        list(pool.map(_force, names))


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    run_id: str = "run1",
    run_ts: str = RUN_TS,
    with_embeddings: bool = True,
    resume: bool = True,
) -> dict[str, int]:
    """Materializing run with per-stage lineage + resumability.

    A stage (table) already merged for this run_id is skipped when
    `resume` — the sentinel is `<out>/_stage_<name>_<run_id>` (the
    reference's analog is per-row MERGE idempotence; ours is
    per-stage, SURVEY §4.4)."""
    os.makedirs(out_dir, exist_ok=True)
    lineage = f"{out_dir}/lineage.parquet"
    # incremental runs resolve this batch against the already-
    # materialized graph (cross-batch canonicalization, §3.2 step 9)
    nodes_path = f"{out_dir}/nodes.parquet"
    existing_nodes = (
        spark.read.parquet(nodes_path) if os.path.exists(nodes_path) else None
    )
    tables = build_graph(
        transcripts,
        run_ts=run_ts,
        with_embeddings=with_embeddings,
        existing_nodes=existing_nodes,
    )
    counts: dict[str, int] = {}
    timer = mat.StageTimer()
    for name in ["episodes", "nodes", "edges", "mentions", "uuid_map"]:
        sentinel = f"{out_dir}/_stage_{name}_{run_id}"
        if resume and os.path.exists(sentinel):
            counts[name] = -1  # skipped (already materialized)
            continue
        key = "raw_uuid" if name == "uuid_map" else "uuid"
        # sort-within-files on valid_at → parquet row-group min/max stats
        # support time-range data skipping (S7 range-index analog)
        sort_within = ["valid_at"] if name in ("episodes", "edges") else None
        mat.merge_parquet(
            spark, tables[name], f"{out_dir}/{name}.parquet", key=key, sort_within=sort_within
        )
        counts[name] = mat.record_lineage(
            spark,
            lineage,
            run_id,
            name,
            spark.read.parquet(f"{out_dir}/{name}.parquet"),
            timer.lap(),
            triple_col="name" if name == "edges" else None,
        )
        open(sentinel, "w").close()
    return counts
