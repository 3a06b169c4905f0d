"""Output checks, run outside the timed region. Each raises CheckFailed."""

from __future__ import annotations

import os
import re
from collections import Counter

import duckdb
import pandas as pd

from graphiti_spark import oracle
from graphiti_spark import transcripts as tr

KG_TABLES = {"episodes": "uuid", "nodes": "uuid", "edges": "uuid", "mentions": "uuid", "uuid_map": "raw_uuid"}


class CheckFailed(Exception):
    pass


def duck(tmp_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    """A memory-capped DuckDB connection that spills into `tmp_dir`."""
    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect(
        config={"memory_limit": "1GB", "temp_directory": tmp_dir, "threads": threads}
    )
    con.execute("SET enable_progress_bar = false")
    return con


def _scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, union_by_name = true)"


def graph_digest(con: duckdb.DuckDBPyConnection, graph_dir: str) -> dict[str, tuple]:
    """Per KG table: (rows, distinct keys, order-insensitive content hash)."""
    out = {}
    for name, key in KG_TABLES.items():
        path = f"{graph_dir}/{name}.parquet"
        if not os.path.isdir(path):
            raise CheckFailed(f"table {name} was not written")
        out[name] = con.sql(
            f"SELECT count(*), count(DISTINCT {key}), sum(hash(t)) FROM {_scan(path)} t"
        ).fetchone()
    return out


def check_unique_keys(digest: dict[str, tuple]) -> None:
    for name, (rows, keys, _) in digest.items():
        if rows != keys:
            raise CheckFailed(f"{name}: {rows - keys} duplicate keys")


def triple_precision_recall(
    con: duckdb.DuckDBPyConnection, graph_dir: str, transcripts: pd.DataFrame
) -> tuple[float, float]:
    """Multiset P/R of the written edges against the rule oracle's ground
    truth, names compared on their first token (the BASELINE gate's
    definition, graphiti_spark.metrics, applied to committed output)."""
    got = con.sql(
        f"""SELECT e.group_id, split_part(s.name, ' ', 1), e.name, split_part(o.name, ' ', 1)
            FROM (SELECT group_id, name, source_node_uuid, target_node_uuid, unnest(episodes)
                  FROM {_scan(graph_dir + '/edges.parquet')}) e
            JOIN {_scan(graph_dir + '/nodes.parquet')} s ON s.uuid = e.source_node_uuid
            JOIN {_scan(graph_dir + '/nodes.parquet')} o ON o.uuid = e.target_node_uuid"""
    ).fetchall()
    exp_pdf = tr.ground_truth_triples_pdf(transcripts)
    exp = [
        (r.group_id, r.subj_name.split()[0], r.pred, r.obj_name.split()[0])
        for r in exp_pdf.itertuples()
    ]
    got_c, exp_c = Counter(got), Counter(exp)
    tp = sum((got_c & exp_c).values())
    return tp / max(sum(got_c.values()), 1), tp / max(sum(exp_c.values()), 1)


def resolved_onto_existing(con: duckdb.DuckDBPyConnection, base_dir: str, graph_dir: str) -> int:
    """Batch surfaces new to the graph whose uuid_map row points at a node
    the base graph already had (cross-batch resolution)."""
    return con.sql(
        f"""SELECT count(*) FROM {_scan(graph_dir + '/uuid_map.parquet')} m
            WHERE m.raw_uuid NOT IN (SELECT raw_uuid FROM {_scan(base_dir + '/uuid_map.parquet')})
              AND m.raw_uuid NOT IN (SELECT uuid FROM {_scan(base_dir + '/nodes.parquet')})
              AND m.canonical_uuid IN (SELECT uuid FROM {_scan(base_dir + '/nodes.parquet')})"""
    ).fetchone()[0]


CURATION_COLS = ["doc_id", "lang", "rate", "shard", "pos"]


def _curation_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[CURATION_COLS].astype(
        {"doc_id": "int64", "shard": "int64", "pos": "int64", "rate": "float64"}
    )
    pdf["rate"] = pdf["rate"].round(6)
    return pdf.sort_values("doc_id").reset_index(drop=True)


def curation_oracle(con: duckdb.DuckDBPyConnection, corpus_dir: str) -> pd.DataFrame:
    """oracle.curation_pipeline_sql over the corpus, with the parameters
    q_curation_pipeline uses. Its non-recursive CTEs are marked
    MATERIALIZED, which changes how DuckDB evaluates them, not what they
    return: inlined, the MinHash CTEs are recomputed at every reference
    (about 10x slower at 20k documents)."""
    con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM {_scan(corpus_dir + '/documents.parquet')}")
    sql = re.sub(r"\b(?!reach\b)(\w+) AS \(", r"\1 AS MATERIALIZED (", oracle.curation_pipeline_sql(8, 8))
    return _curation_frame(con.sql(sql).df())


def check_curation(con: duckdb.DuckDBPyConnection, out_dir: str, expected: pd.DataFrame) -> None:
    got = _curation_frame(con.sql(f"SELECT * FROM {_scan(out_dir)}").df())
    if len(got) != len(expected):
        raise CheckFailed(f"curation: {len(got)} rows, oracle {len(expected)}")
    diff = ~(got == expected).all(axis=1)
    if diff.any():
        raise CheckFailed(f"curation: {int(diff.sum())} rows differ from the oracle")
