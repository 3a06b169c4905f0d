"""The benchmark's workloads. Each drives the program only through its
public entry points (`plans.pipeline.run_pipeline`,
`__spark_entry__.q_curation_pipeline`); the traced pass instead calls the
layer functions those entry points compose, in the same order, forcing
each layer's output once at its boundary under a span of the layer's
name. The traced pass's output must equal the untraced passes'."""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entry
from graphiti_spark import ids
from graphiti_spark.operators import dataset_dedup as ddp
from graphiti_spark.operators import dataset_mix as dmx
from graphiti_spark.operators import dataset_text as dtx
from graphiti_spark.operators import dedupe as dd
from graphiti_spark.operators import edge_resolution as er
from graphiti_spark.operators import episodes as ep_ops
from graphiti_spark.operators import extraction as ex
from graphiti_spark.operators import graph_resolution as gr
from graphiti_spark.plans import materialize as mat
from graphiti_spark.plans import pipeline as pl
from graphiti_spark.schemas import TRANSCRIPTS

from perfbench import checks, corpora
from perfbench.checks import CheckFailed
from perfbench.ledger import Ledger

KG_LAYERS = [
    "build_graph", "episodes", "extraction", "dedupe", "graph_resolution", "nodes",
    "edge_resolution", "mentions", "backrefs", "materialize",
]
CURATION_LAYERS = ["minhash", "cc", "quality", "contamination", "mix", "write"]
LAYERS = KG_LAYERS + CURATION_LAYERS
COUNTERS = ["extraction.triples_per_turn", "dedupe.pairs_per_merge", "materialize.write_amp"]

# a seed offset no workload seed reaches, for warm-up inputs
WARM_SEED = 1_000_003


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


class KgMerge:
    """A batch of later turns of existing conversations, merged by
    `run_pipeline` into a base graph that set-up builds with the JVM's
    first, cold pass (on the fresh-write path). Every timed pass starts
    from a copy of the base graph."""

    name = "kg_merge"
    # timed pass on the reference host (4 vCPU); sets the pass count
    nominal_pass_s = 20.0
    BASE_CONVS, BASE_TURNS, BATCH_TURNS = 300, 10, 20

    @classmethod
    def make_inputs(cls, work: str, seed: int) -> dict:
        base = corpora.transcripts(cls.BASE_CONVS, cls.BASE_TURNS, seed + WARM_SEED)
        return {"base": base, "batch": corpora.later_turns(base, cls.BASE_CONVS, cls.BATCH_TURNS, seed)}

    def __init__(self, spark: SparkSession, work: str, inputs: dict, duck):
        self.spark, self.duck = spark, duck
        self.base_pdf, self.batch_pdf = inputs["base"], inputs["batch"]
        self.items = len(self.batch_pdf)
        self.base_dir, self.graph_dir = f"{work}/base", f"{work}/graph"
        self.expected: tuple | None = None

    def _batch(self) -> DataFrame:
        return self.spark.createDataFrame(self.batch_pdf, schema=TRANSCRIPTS)

    def setup(self) -> dict:
        base = self.spark.createDataFrame(self.base_pdf, schema=TRANSCRIPTS)
        pl.run_pipeline(self.spark, base, self.base_dir, run_id="base")
        checks.check_unique_keys(checks.graph_digest(self.duck, self.base_dir))
        p, r = checks.triple_precision_recall(self.duck, self.base_dir, self.base_pdf)
        if p < 0.95 or r < 0.95:
            raise CheckFailed(f"base graph triple P/R {p:.4f}/{r:.4f} below 0.95")
        return {"base_turns": len(self.base_pdf), "batch_turns": self.items,
                "base_precision": p, "base_recall": r}

    def prepare(self) -> None:
        shutil.rmtree(self.graph_dir, ignore_errors=True)
        shutil.copytree(self.base_dir, self.graph_dir)

    def run(self) -> None:
        pl.run_pipeline(self.spark, self._batch(), self.graph_dir, run_id="batch")

    def check(self) -> None:
        digest = checks.graph_digest(self.duck, self.graph_dir)
        checks.check_unique_keys(digest)
        resolved = checks.resolved_onto_existing(self.duck, self.base_dir, self.graph_dir)
        if resolved == 0:
            raise CheckFailed("no batch surface resolved onto an existing node")
        got = (digest, resolved)
        if self.expected is None:
            self.expected = got
        elif got != self.expected:
            raise CheckFailed(f"graph differs from the first pass: {got} vs {self.expected}")

    def traced(self, ledger: Ledger) -> None:
        """One pass of run_pipeline's composition, layer by layer."""
        spark, run_ts, out = self.spark, pl.RUN_TS, self.graph_dir
        transcripts = self._batch()
        with ledger.span("graph_resolution"):
            existing = spark.read.parquet(f"{out}/nodes.parquet")
        with ledger.span("build_graph"):
            pl.build_graph(transcripts, run_ts=run_ts, existing_nodes=existing)
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        with ledger.span("episodes"):
            episodes = _ckpt(
                ep_ops.build_episodes(transcripts.repartition(n_part, "conv_id"), created_at=run_ts)
            )
        with ledger.span("extraction"):
            mentions_raw = _ckpt(ex.mentions_with_entity_uuid(ex.extract_mentions(episodes)))
            triples_raw = _ckpt(ex.triples_with_uuids(ex.extract_triples(episodes)))
        with ledger.span("dedupe"):
            entities, uuid_map = dd.resolve_nodes(mentions_raw)
            uuid_map = _ckpt(uuid_map)
        with ledger.span("graph_resolution"):
            matches = gr.match_existing(entities, existing)
            uuid_map = _ckpt(gr.extend_uuid_map(uuid_map, entities, matches))
        with ledger.span("nodes"):
            nodes = _ckpt(dd.canonical_nodes(entities, uuid_map, run_ts, with_embeddings=True))
        with ledger.span("graph_resolution"):
            nodes = _ckpt(gr.merge_node_payloads(nodes, existing))
        with ledger.span("edge_resolution"):
            triples = er.resolve_edge_pointers(triples_raw, uuid_map)
            edges = _ckpt(er.resolve_edges(triples, run_ts, with_embeddings=True))
        # mentions and back-references are inline in build_graph; a drift
        # from it shows as a graph hash that differs from the untraced passes'
        with ledger.span("mentions"):
            mention_map = F.broadcast(
                uuid_map.select(F.col("raw_uuid").alias("entity_uuid"), "canonical_uuid")
            )
            mentions = _ckpt(
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
                .distinct()
            )
        with ledger.span("backrefs"):
            ep_edges = (
                edges.select(F.explode("episodes").alias("uuid_ep"), F.col("uuid").alias("edge_id"))
                .groupBy("uuid_ep")
                .agg(F.sort_array(F.collect_set("edge_id")).alias("entity_edges"))
            )
            episodes_final = _ckpt(
                episodes.drop("entity_edges")
                .join(ep_edges, episodes.uuid == ep_edges.uuid_ep, "left")
                .drop("uuid_ep")
                .withColumn("entity_edges", F.coalesce("entity_edges", F.array().cast("array<string>")))
                .drop("turn_idx")
            )
        tables = {
            "episodes": episodes_final, "nodes": nodes, "edges": edges,
            "mentions": mentions, "uuid_map": uuid_map,
        }
        with ledger.span("materialize"):
            timer = mat.StageTimer()
            for name, key in checks.KG_TABLES.items():
                path = f"{out}/{name}.parquet"
                mat.merge_parquet(
                    spark, tables[name], path, key=key,
                    sort_within=["valid_at"] if name in ("episodes", "edges") else None,
                )
                mat.record_lineage(
                    spark, f"{out}/lineage.parquet", "batch", name, spark.read.parquet(path),
                    timer.lap(), triple_col="name" if name == "edges" else None,
                )
        self._traced = (tables, triples_raw, entities)

    def counters(self) -> dict[str, float]:
        """Exact counters of the traced pass, computed after it."""
        tables, triples_raw, entities = self._traced
        batch_rows = written = 0
        for name, df in tables.items():
            buckets = [r[0] for r in mat.with_group_bucket(df).select("group_bucket").distinct().collect()]
            batch_rows += df.count()
            written += (
                self.spark.read.parquet(f"{self.graph_dir}/{name}.parquet")
                .filter(F.col("group_bucket").isin(buckets))
                .count()
            )
        candidates = dd.candidate_pairs(entities)
        return {
            "extraction.triples_per_turn": triples_raw.count() / self.items,
            "dedupe.pairs_per_merge": candidates.count() / max(dd.duplicate_pairs(candidates).count(), 1),
            "materialize.write_amp": written / batch_rows,
        }


class Curation:
    """`q_curation_pipeline` over a seeded documents corpus, written to
    parquet. Set-up warms it up on a small, separately seeded corpus of the
    same make-up and computes the DuckDB oracle's answer for the measured
    corpus; every pass is compared with that answer."""

    name = "curation"
    nominal_pass_s = 8.0
    N_DOCS = 8_000
    # warm-up passes cost mostly per-pass fixed work, so a small corpus
    # warms the same code at a fraction of the set-up time
    WARM_DOCS, WARM_PASSES = 2_000, 5

    @classmethod
    def make_inputs(cls, work: str, seed: int) -> dict:
        dirs = {"corpus": f"{work}/corpus", "warm": f"{work}/warm_corpus"}
        for d, n, s in zip(dirs.values(), (cls.N_DOCS, cls.WARM_DOCS), (seed, seed + WARM_SEED)):
            corpora.write_parts(corpora.documents(n, s), f"{d}/documents.parquet")
        return dirs

    def __init__(self, spark: SparkSession, work: str, inputs: dict, duck):
        self.spark, self.duck = spark, duck
        self.corpus_dir, self.warm_dir = inputs["corpus"], inputs["warm"]
        self.out_dir = f"{work}/curated"
        self.items = self.N_DOCS
        self.expected = None

    def _write(self, corpus_dir: str) -> None:
        entry.q_curation_pipeline(self.spark, corpus_dir).write.mode("overwrite").parquet(self.out_dir)

    def setup(self) -> dict:
        for _ in range(self.WARM_PASSES):
            self._write(self.warm_dir)
        self.expected = checks.curation_oracle(self.duck, self.corpus_dir)
        return {"documents": self.N_DOCS, "curated_rows": len(self.expected)}

    def prepare(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def run(self) -> None:
        self._write(self.corpus_dir)

    def check(self) -> None:
        checks.check_curation(self.duck, self.out_dir, self.expected)

    def traced(self, ledger: Ledger) -> None:
        """q_curation_pipeline's composition, layer by layer."""
        docs = self.spark.read.parquet(f"{self.corpus_dir}/documents.parquet")
        with ledger.span("minhash"):
            pairs = _ckpt(ddp.minhash_star_edges(docs, n_hashes=8, band_width=8))
        with ledger.span("cc"):
            keep_ids = _ckpt(ddp.dedup_resolve(docs, pairs).filter("keep").select("doc_id"))
        with ledger.span("quality"):
            quality_ok = _ckpt(
                dtx.quality_score(docs).filter(F.col("quality") >= 0.5).select("doc_id")
            )
        with ledger.span("contamination"):
            bench = docs.filter(F.col("doc_id") % 50 == 0)
            clean = _ckpt(
                ddp.contamination(docs, bench).filter(~F.col("contaminated")).select("doc_id")
            )
        with ledger.span("mix"):
            survivors = (
                docs.join(keep_ids, "doc_id", "left_semi")
                .join(quality_ok, "doc_id", "left_semi")
                .join(clean, "doc_id", "left_semi")
            )
            mixed = _ckpt(dmx.temperature_mix(
                survivors, alpha=0.5, budget_frac=0.5, strat_col="lang", salt="curate"
            ))
            sharded = dmx.shard_assign(mixed.select("doc_id"), n_shards=8, salt="curate-shard")
            result = _ckpt(
                mixed.join(sharded, "doc_id").select("doc_id", "lang", "rate", "shard", "pos")
            )
        with ledger.span("write"):
            result.write.mode("overwrite").parquet(self.out_dir)

    def counters(self) -> dict[str, float]:
        return dict.fromkeys(COUNTERS, 0.0)  # KG counters; this workload has no KG layer


WORKLOADS = {w.name: w for w in (KgMerge, Curation)}
