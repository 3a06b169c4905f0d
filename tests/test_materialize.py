"""merge_parquet's MERGE INTO contract and the KG write path's
compute-once guarantee."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from graphiti_spark import transcripts as tr
from graphiti_spark.operators import edge_resolution as er
from graphiti_spark.plans import materialize as mat
from graphiti_spark.plans import pipeline as pl

SCHEMA = "uuid string, group_id string, val long, valid_at timestamp"
T0 = dt.datetime(2025, 1, 1)


def _df(spark, rows):
    return spark.createDataFrame(
        [(u, g, v, T0 + dt.timedelta(minutes=m)) for u, g, v, m in rows], SCHEMA
    )


def _content(spark, path):
    pdf = spark.read.parquet(path).toPandas()
    return sorted(zip(pdf["uuid"], pdf["group_id"], pdf["val"], pdf["group_bucket"]))


def _bucket_files(path):
    return {
        d: sorted(os.listdir(f"{path}/{d}"))
        for d in os.listdir(path)
        if d.startswith("group_bucket=")
    }


def _two_groups_in_distinct_buckets(spark):
    names = [f"g{i}" for i in range(8)]
    buckets = (
        mat.with_group_bucket(spark.createDataFrame([(n,) for n in names], "group_id string"))
        .toPandas()
        .set_index("group_id")["group_bucket"]
    )
    other = next(n for n in names[1:] if buckets[n] != buckets["g0"])
    return "g0", other, int(buckets["g0"]), int(buckets[other])


def test_merge_parquet_new_table_sorted_and_partitioned(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    ga, gb, ba, bb = _two_groups_in_distinct_buckets(spark)
    rows = [("a", ga, 1, 5), ("b", ga, 2, 1), ("c", ga, 3, 3), ("d", gb, 4, 2)]
    mat.merge_parquet(spark, _df(spark, rows), path, sort_within=["valid_at"])

    assert set(_bucket_files(path)) == {f"group_bucket={ba}", f"group_bucket={bb}"}
    assert _content(spark, path) == sorted(
        (u, g, v, ba if g == ga else bb) for u, g, v, _ in rows
    )
    for d, files in _bucket_files(path).items():
        for f in files:
            if f.endswith(".parquet"):
                ts = pq.read_table(f"{path}/{d}/{f}").column("valid_at").to_pylist()
                assert ts == sorted(ts)


def test_merge_parquet_empty_write_then_merge(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    mat.merge_parquet(spark, _df(spark, []), path)
    # an empty table is written unpartitioned and keeps its schema
    empty = spark.read.parquet(path)
    assert empty.count() == 0
    assert empty.columns == ["uuid", "group_id", "val", "valid_at", "group_bucket"]
    assert _bucket_files(path) == {}
    # a second empty write keeps that form
    mat.merge_parquet(spark, _df(spark, []), path)
    assert spark.read.parquet(path).count() == 0

    ga, _, ba, _ = _two_groups_in_distinct_buckets(spark)
    mat.merge_parquet(spark, _df(spark, [("a", ga, 1, 0)]), path)
    assert set(_bucket_files(path)) == {f"group_bucket={ba}"}
    assert _content(spark, path) == [("a", ga, 1, ba)]


def test_merge_parquet_incremental_update_wins_and_untouched_bucket_kept(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    ga, gb, ba, bb = _two_groups_in_distinct_buckets(spark)
    base = [("a", ga, 1, 0), ("b", ga, 2, 1), ("x", gb, 9, 0)]
    mat.merge_parquet(spark, _df(spark, base), path, sort_within=["valid_at"])
    before = _bucket_files(path)

    batch = _df(spark, [("a", ga, 10, 2), ("c", ga, 3, 3)])
    mat.merge_parquet(spark, batch, path, sort_within=["valid_at"])
    assert _content(spark, path) == [
        ("a", ga, 10, ba), ("b", ga, 2, ba), ("c", ga, 3, ba), ("x", gb, 9, bb),
    ]
    after = _bucket_files(path)
    # the untouched bucket's files stay in place, untouched by name
    assert after[f"group_bucket={bb}"] == before[f"group_bucket={bb}"]
    assert not any(n.startswith("t.parquet.tmp-") for n in os.listdir(tmp_path))

    # re-merging the same batch is a no-op on content
    mat.merge_parquet(spark, batch, path, sort_within=["valid_at"])
    assert _content(spark, path) == [
        ("a", ga, 10, ba), ("b", ga, 2, ba), ("c", ga, 3, ba), ("x", gb, 9, bb),
    ]
    # an empty batch leaves a partitioned table as it is
    mat.merge_parquet(spark, _df(spark, []), path)
    assert _bucket_files(path)[f"group_bucket={bb}"] == before[f"group_bucket={bb}"]
    assert len(_content(spark, path)) == 4


def test_run_pipeline_resolves_edges_once(spark, tmp_path, monkeypatch):
    """Every resolved edge row is computed exactly once per run: the
    episodes' entity_edges back-references and the edges table read one
    resolution, and the write path adds no recomputation of its own."""
    acc = spark.sparkContext.accumulator(0)

    def _tick(_fact):
        acc.add(1)
        return True

    # a filter, unlike a projected column, survives column pruning, so it
    # also ticks on plans that never read `fact` (the back-references)
    tick = F.udf(_tick, "boolean").asNondeterministic()
    resolve = er.resolve_edges

    def tapped(*args, **kwargs):
        return resolve(*args, **kwargs).filter(tick(F.col("fact")))

    monkeypatch.setattr(er, "resolve_edges", tapped)
    t = tr.synthesize_transcripts(spark, n_convs=4, turns_per_conv=6)
    counts = pl.run_pipeline(spark, t, str(tmp_path / "graph"), with_embeddings=False)
    assert counts["edges"] > 0
    assert acc.value == counts["edges"], (
        f"edge resolution ran {acc.value / counts['edges']:.1f}x "
        f"({acc.value} ticks for {counts['edges']} edges)"
    )
