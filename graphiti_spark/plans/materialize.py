"""Idempotent partitioned merge materialization (SURVEY §2.1 S3-S6).

The reference upserts row-by-row with Cypher `MERGE (n {uuid}) SET ...`
(models/nodes/node_db_queries.py:21-35, edge_db_queries.py:65-86) in
one transaction (bulk_utils.py:84-165). Spark-side the analog is
Iceberg/Delta `MERGE INTO` keyed on uuid; those catalogs aren't in
this sandbox image, so `merge_parquet` emulates MERGE with
updates-win anti-join + union and an atomic directory swap. Content-
derived uuids (ids.py) make the merge idempotent: re-running a batch
rewrites identical rows.

Tables are partitioned by `group_bucket = pmod(xxhash64(group_id), N)`
— at 10^12-turn scale this bounds partition count while keeping one
group's data co-located for the per-group joins; `valid_at` stays
sorted within files for min/max skipping (Z-order analog).

Every write appends a (run_id, stage, group_bucket, row_count,
triple_count, wall_sec) row per partition to the lineage sidecar —
the north rule's per-partition lineage + metrics; `resume` checks a
stage's _SUCCESS sentinel so any stage is restartable.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32


def with_group_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "group_bucket", F.pmod(F.xxhash64(F.col("group_id")), F.lit(n_buckets)).cast("int")
    )


def merge_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: str = "uuid",
    n_buckets: int = DEFAULT_BUCKETS,
    sort_within: list[str] | None = None,
) -> None:
    """MERGE INTO emulation: updates win on `key`.

    `sort_within` (e.g. ["valid_at"]) sorts rows inside each written
    file so parquet min/max row-group stats support data skipping on
    those columns — the Z-order/index analog of the reference's range
    indexes on dates (graph_queries.py:21-79, SURVEY §2.1 S7).

    Partition-pruned (the Iceberg dynamic-partition-overwrite analog):
    only the `group_bucket` partitions actually present in `updates`
    are read back, anti-joined, and rewritten — untouched partitions
    stay in place on disk. At 100 TB an incremental batch touching one
    group therefore pays for one bucket, not a full-table rewrite
    (VERDICT r1 #2). Each touched bucket directory is swapped with
    os.replace (per-bucket atomic; a crash mid-merge leaves other
    buckets at their old, internally consistent state — same contract
    as Iceberg's per-partition commit granularity emulated here).

    The deduplicated, bucketed input is checkpointed once; the touched
    buckets are collected from, and the write reads, that checkpoint.
    An empty input writing a new table is written unpartitioned (a
    partitioned write of an empty frame emits no schema footer), so the
    table stays readable; a later non-empty merge replaces that form."""
    updates = with_group_bucket(updates.dropDuplicates([key]), n_buckets).localCheckpoint()
    touched = [int(r[0]) for r in updates.select("group_bucket").distinct().collect()]
    has_buckets = os.path.exists(path) and any(
        d.startswith("group_bucket=") for d in os.listdir(path)
    )
    if has_buckets and not touched:
        return
    merged = updates
    if has_buckets:
        existing = spark.read.parquet(path).filter(F.col("group_bucket").isin(touched))
        kept = existing.join(updates.select(key), key, "left_anti")
        merged = kept.unionByName(updates.select(existing.columns))
    tmp = f"{path}.tmp-{_uuid.uuid4().hex[:8]}"
    if not touched:
        merged.coalesce(1).write.parquet(tmp)
    else:
        if sort_within:
            merged = merged.sortWithinPartitions("group_bucket", *sort_within)
        merged.write.partitionBy("group_bucket").parquet(tmp)
    if not has_buckets:
        if os.path.exists(path):  # the zero-row form
            shutil.rmtree(path)
        os.replace(tmp, path)
        return
    # every touched bucket holds at least one update row, so each has a
    # directory under tmp to swap in
    for b in touched:
        dst_dir = f"{path}/group_bucket={b}"
        if os.path.exists(dst_dir):
            shutil.rmtree(dst_dir)
        os.replace(f"{tmp}/group_bucket={b}", dst_dir)
    shutil.rmtree(tmp)


def record_lineage(
    spark: SparkSession,
    lineage_path: str,
    run_id: str,
    stage: str,
    df: DataFrame,
    wall_sec: float,
    triple_col: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
) -> int:
    """Append per-partition (group_bucket) row/triple counts for `stage`.
    Returns total rows (the action that materializes the stage)."""
    agg = [F.count(F.lit(1)).alias("row_count")]
    agg.append(
        (F.count(triple_col) if triple_col else F.count(F.lit(1))).alias("triple_count")
    )
    per_part = (
        with_group_bucket(df, n_buckets)
        .groupBy("group_bucket")
        .agg(*agg)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("stage", F.lit(stage))
        .withColumn("wall_sec", F.lit(float(wall_sec)))
        .withColumn("created_at", F.current_timestamp())
        .select(
            "run_id", "stage", "group_bucket", "row_count", "triple_count", "wall_sec", "created_at"
        )
    )
    pdf = per_part.toPandas()
    spark.createDataFrame(
        pdf,
        schema="run_id string, stage string, group_bucket int, row_count long, "
        "triple_count long, wall_sec double, created_at timestamp",
    ).write.mode("append").parquet(lineage_path)
    return int(pdf["row_count"].sum()) if len(pdf) else 0


class StageTimer:
    def __init__(self):
        self.t0 = time.time()

    def lap(self) -> float:
        now = time.time()
        dt = now - self.t0
        self.t0 = now
        return dt
