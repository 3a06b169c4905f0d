"""Structured Streaming ingestion wrapper (SURVEY §2.13).

The reference has no streaming subsystem — incrementality is "call
add_episode in a loop" (graphiti.py:412-415). The Spark-native
incremental path streams transcript turns and runs the SAME batch
pipeline per micro-batch via foreachBatch, merging into the graph
tables idempotently (content-derived uuids make replays safe, so
exactly-once falls out of at-least-once + idempotent merge).

A watermark on `ts` bounds state for the windowed per-conversation
context; late turns within the watermark still land in their
conversation's group via the merge keying.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark import rules
from graphiti_spark.operators import dataset_text as dtx
from graphiti_spark.plans import pipeline as pl
from graphiti_spark.schemas import TRANSCRIPTS


def _store_read_path(store_path: str) -> str | None:
    """Live store generation, or the `.old` fallback a crash mid-swap
    leaves behind (see _atomic_store_swap), or None for first batch."""
    import os

    if os.path.exists(store_path):
        return store_path
    if os.path.exists(store_path + ".old"):
        return store_path + ".old"
    return None


def _atomic_store_swap(df: DataFrame, store_path: str) -> None:
    """Commit a new state-store generation via write-to-temp + rename
    swap (ADVICE r4): Spark's mode('overwrite') deletes then rewrites
    in place, so a crash mid-write loses/corrupts the dedup state. Here
    every crash point leaves a readable generation: before the first
    rename the old store is live; between the renames the old store is
    at `.old` (the reader falls back to it — state regresses one batch
    and replay re-emits it: at-least-once, never corruption)."""
    import os
    import shutil

    tmp_path, old_path = store_path + ".tmp", store_path + ".old"
    shutil.rmtree(tmp_path, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp_path)
    shutil.rmtree(old_path, ignore_errors=True)
    if os.path.exists(store_path):
        os.rename(store_path, old_path)
    os.rename(tmp_path, store_path)
    shutil.rmtree(old_path, ignore_errors=True)


def stream_transcripts_from_dir(
    spark: SparkSession, input_dir: str, watermark: str = "10 minutes"
) -> DataFrame:
    """File-source stream of transcript parquet drops (stand-in for a
    Kafka topic of turns; same schema either way)."""
    return (
        spark.readStream.schema(TRANSCRIPTS)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
    )


def start_incremental_pipeline(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    run_ts: str = pl.RUN_TS,
    with_embeddings: bool = False,
):
    """writeStream.foreachBatch(batch KG pipeline → idempotent merges).

    Each micro-batch is a mini add_episode_bulk: `run_pipeline` under
    run_id `epoch<epoch_id>`, so it resolves the batch against the graph
    built so far (alias surfaces arriving in later batches merge onto the
    existing node, graphiti.py:722-781) and writes all five tables,
    uuid_map included, with their lineage rows and per-epoch resume
    sentinels. merge_parquet keyed on content-derived uuids makes
    re-delivered batches no-ops, and a replayed epoch skips the tables
    it already merged. The sentinels are keyed by epoch id, so `out_dir`
    belongs to one `checkpoint_dir`: a query started from a fresh
    checkpoint numbers its epochs from 0 again and would skip them."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pl.run_pipeline(
            batch_df.sparkSession,
            batch_df,
            out_dir,
            run_id=f"epoch{epoch_id}",
            run_ts=run_ts,
            with_embeddings=with_embeddings,
        )

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )


NEW_ENTITIES_SCHEMA = "conv_id string, entity_name string, first_turn_idx int"
_STATE_SCHEMA = "seen array<string>"


def track_new_entities(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-conversation entity-discovery deltas.

    State per conv_id = the set of entity names already seen; each
    micro-batch runs the same vectorized mention extractor the batch
    pipeline uses (rules.extract_mentions_pdf) over the new turns and
    emits only first-ever mentions — the streaming-native form of the
    reference's incremental add_episode entity discovery
    (graphiti.py:352-551), with exactly-once-per-entity output falling
    out of the keyed state instead of graph lookups. State is bounded
    by vocabulary per conversation, not turn count.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def track(key, pdfs, state):
        conv_id = key[0]
        seen = set(state.get[0]) if state.exists else set()
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("turn_idx")
            eps = pd.DataFrame(
                {
                    "uuid": pdf["turn_idx"].astype(str),
                    "group_id": conv_id,
                    "role": pdf["role"],
                    "text": pdf["text"],
                }
            )
            men = rules.extract_mentions_pdf(eps)
            # sort numerically by turn: the synthetic episode uuid is the
            # turn index as a string, and lexicographic order puts '10'
            # before '2' — which mis-reports first_turn_idx for any
            # conversation with 10+ turns in one micro-batch
            men["turn"] = men["episode_uuid"].astype(int)
            men = men.sort_values(["turn", "mention_order"])
            for r in men.itertuples():
                if r.entity_name not in seen:
                    seen.add(r.entity_name)
                    rows.append((conv_id, r.entity_name, int(r.turn)))
        state.update((sorted(seen),))
        yield pd.DataFrame(rows, columns=["conv_id", "entity_name", "first_turn_idx"])

    return stream.groupBy("conv_id").applyInPandasWithState(
        track,
        outputStructType=NEW_ENTITIES_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup_documents(
    stream: DataFrame,
    text_col: str = "text",
    event_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup over a document stream — the streaming
    analog of dataset_dedup.dedup_exact: the same normalization-stable
    fingerprint expression as the batch operator
    (dataset_text.fingerprint_expr), then dropDuplicatesWithinWatermark
    so dedup state is BOUNDED by the watermark window instead of
    growing with the corpus (a plain streaming dropDuplicates keeps
    every key forever — a non-starter for an unbounded crawl feed).

    A duplicate arriving inside the watermark is dropped; one arriving
    after its original's state evicted re-emits, which downstream
    idempotent merges absorb (the same at-least-once + idempotent-merge
    contract the KG pipeline uses)."""
    return (
        stream.withWatermark(event_col, watermark)
        .withColumn("fingerprint", dtx.fingerprint_expr(text_col))
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def stream_neardedup_minhash(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_hashes: int = 8,
    band_width: int = 4,
    retention_sec: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    event_col: str = "ts",
):
    """Streaming MinHash-LSH NEAR-dedup — the fuzzy companion to
    `stream_dedup_documents` (which only catches exact-fingerprint
    re-deliveries). dropDuplicatesWithinWatermark cannot express "drop
    if ANY band collides", and chaining a per-doc aggregation behind a
    streaming dedup stalls on the watermark in append mode, so this
    runs foreachBatch against a persistent band store — the same
    at-least-once + idempotent pattern the incremental KG pipeline
    uses. Per micro-batch:

    1. band keys via the SAME banding as the batch `minhash_pairs`
       (`dataset_dedup.minhash_bands`), so batch and streaming agree on
       what counts as a near-dup candidate;
    2. docs sharing any (band, h) with the store are dropped;
    3. within-batch near-dups resolve through the exact batch path
       (`minhash_pairs` + `dedup_resolve`, min-id canonical wins);
    4. survivors append to `{out_dir}/novel.parquet`, THEN their bands
       (stamped with the batch's max event time) append to the store —
       novel-first ordering means a crash between the writes re-emits
       the doc on retry (absorbed by idempotent downstream merges)
       rather than silently dropping it as a dup of its own bands;
    5. `retention_sec` prunes store rows older than max event time
       minus the retention — the band store's watermark analog, so
       state is bounded by the retention window, not the corpus.

    A replayed batch whose bands already reached the store collides and
    emits nothing; at-least-once with a bounded duplicate window — a
    crash between the novel write and the store commit re-emits that
    batch on replay (absorbed by idempotent downstream merges). The
    store commit is the crash-safe temp+rename swap.
    """
    import os

    from graphiti_spark.operators import dataset_dedup as ddp

    store_path = f"{out_dir}/band_store.parquet"
    novel_path = f"{out_dir}/novel.parquet"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint()
        bands = ddp.minhash_bands(
            batch_df, text_col=text_col, id_col=id_col,
            n_hashes=n_hashes, band_width=band_width,
        ).localCheckpoint()
        read_path = _store_read_path(store_path)
        if read_path is not None:
            store = spark.read.parquet(read_path)
            hit_ids = (
                bands.join(store.select("band", "h"), ["band", "h"], "left_semi")
                .select("id").distinct()
            )
            fresh = batch_df.join(
                hit_ids.withColumnRenamed("id", id_col), id_col, "left_anti"
            )
        else:
            store = None
            fresh = batch_df
        # within-batch near-dups: exact batch semantics, min-id keeps
        pairs = ddp.minhash_pairs(
            fresh, text_col=text_col, id_col=id_col,
            n_hashes=n_hashes, band_width=band_width, threshold=0.0,
        )
        verdict = ddp.dedup_resolve(fresh, pairs, id_col=id_col)
        novel = fresh.join(
            verdict.filter("keep").select(id_col), id_col, "left_semi"
        ).localCheckpoint()
        novel.write.mode("append").parquet(novel_path)
        max_ts = novel.agg(F.max(event_col)).first()[0]
        new_bands = (
            bands.join(
                novel.select(F.col(id_col).alias("id")), "id", "left_semi"
            ).select("band", "h", F.lit(max_ts).alias("ts"))
        )
        merged = store.unionByName(new_bands) if store is not None else new_bands
        if retention_sec is not None and max_ts is not None:
            merged = merged.filter(
                F.col("ts") >= F.lit(max_ts) - F.expr(f"INTERVAL {retention_sec} SECONDS")
            )
        # store is small (bands of surviving docs in the retention
        # window); committed via the crash-safe temp+rename swap
        _atomic_store_swap(merged.localCheckpoint().coalesce(8), store_path)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )


def stream_curation(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    min_quality: float = 0.5,
    n_shards: int = 16,
    retention_sec: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    event_col: str = "ts",
):
    """Incremental document curation — the streaming face of the batch
    `curation_pipeline` flagship. Per micro-batch (foreachBatch, the
    same at-least-once + idempotent pattern as the incremental KG
    pipeline and the streaming near-dedup):

    1. C4-style quality gate: `dataset_text.quality_score` >=
       min_quality (identical expression to the batch pipeline, so a
       document passes streaming iff it passes batch);
    2. exact dedup vs a persistent FINGERPRINT store using the batch
       `fingerprint_expr` (batch and streaming agree on identity);
       within-batch duplicates keep the min id;
    3. survivors get their shard via `dataset_mix.shard_expr` — shard
       membership is a pure function of doc_id, so it is stable
       across micro-batches, replays and engines (a per-batch
       row_number position is NOT emitted: positions are a batch-final
       layout concern, assigned by `shard_assign` when a training run
       snapshots the curated table) — and append to
       `{out_dir}/curated.parquet`;
    4. novel fingerprints (stamped with the batch max event time)
       append to the store AFTER the document write — novel-first
       crash ordering re-emits on retry instead of silently dropping —
       with `retention_sec` pruning as the store's watermark analog.

    Delivery guarantee: **at-least-once with a bounded duplicate
    window** (ADVICE r4 corrected the earlier "exactly-once" claim).
    A replayed batch whose fingerprints ALREADY reached the store
    collides and emits nothing — the common replay path is
    duplicate-free — but a crash in the window between the curated
    append and the store commit re-emits that one batch's documents on
    replay. Downstream exact dedup (the batch `dedup_exact` on
    fingerprint) removes them idempotently. The store commit itself is
    a write-to-temp + directory swap (never an in-place overwrite), so
    a crash mid-commit can never corrupt or truncate the dedup state:
    the previous store generation survives as `.old` and the reader
    falls back to it."""
    import os

    from graphiti_spark.operators import dataset_mix as dmx

    store_path = f"{out_dir}/fingerprint_store.parquet"
    curated_path = f"{out_dir}/curated.parquet"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        scored = (
            dtx.quality_score(batch_df, text_col)
            .filter(F.col("quality") >= min_quality)
            .withColumn("fingerprint", dtx.fingerprint_expr(text_col))
            .localCheckpoint()
        )
        read_path = _store_read_path(store_path)
        if read_path is not None:
            store = spark.read.parquet(read_path)
            fresh = scored.join(
                store.select("fingerprint"), "fingerprint", "left_anti"
            )
        else:
            store = None
            fresh = scored
        # within-batch exact dups: min id per fingerprint keeps
        keeper = fresh.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
        novel = fresh.join(keeper, [id_col, "fingerprint"], "left_semi").localCheckpoint()
        (
            novel.select(
                id_col, event_col, "quality", "fingerprint",
                dmx.shard_expr(id_col, n_shards, "shuffle").alias("shard"),
            )
            .write.mode("append")
            .parquet(curated_path)
        )
        max_ts = novel.agg(F.max(event_col)).first()[0]
        # cast: an all-filtered first batch has max_ts=None, and a bare
        # lit(None) writes a void column Spark 3.x parquet rejects
        new_fps = novel.select(
            "fingerprint", F.lit(max_ts).cast("timestamp").alias("ts")
        )
        merged = store.unionByName(new_fps) if store is not None else new_fps
        if retention_sec is not None and max_ts is not None:
            merged = merged.filter(
                F.col("ts") >= F.lit(max_ts) - F.expr(f"INTERVAL {retention_sec} SECONDS")
            )
        _atomic_store_swap(merged.localCheckpoint().coalesce(8), store_path)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )


def windowed_turn_counts(stream: DataFrame, window: str = "5 minutes", slide: str | None = None) -> DataFrame:
    """Streaming windowed aggregation example over the turn stream
    (watermark + window → late-data-tolerant counts per conversation)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return stream.groupBy(w, "conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
