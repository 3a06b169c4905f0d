"""Benchmark harness — one JSON line per run (driver contract).

Headline queries over $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS]. `value` = total wall seconds across the
headline set (per-query BEST of $SPARK_GRAFT_BENCH_REPS passes, default
3, measured back-to-back in one process — the sandbox host shows
multi-minute noise windows that swing single passes 2-5×, so min-of-R
is the capability estimate). Per-query seconds under "queries"; all
raw passes under "queries_all"; CPU seconds under "queries_cpu" read
from a MONOTONIC cgroup counter (cpuacct.usage / cpu.stat), so worker
churn cannot produce negative deltas (a process-tree utime scan loses
CPU when pyspark daemon workers die and reparent mid-interval —
BENCH_r03 published -687 s that way). The counter is sandbox-wide, so
run the bench on an otherwise-idle host; CPU time is immune to
hypervisor steal, so regressions stay detectable through wall-clock
noise. "queries_cpu" reports the CPU of the SAME rep that produced
the min wall (not an independent min). Execution is forced with the
noop sink (full pipeline runs, nothing collected).

Scaling evidence (north rule: N vs 4N executors) is produced by
scripts/bench_scaling_paired.py which alternates single passes between
two live JVMs (local[N] / local[4N]) and appends to BENCH.md; this
file stays a single-process bench.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _cpu_counter_seconds() -> float:
    """Monotonic CPU-seconds counter that survives process churn.

    A live process-tree utime/stime scan loses the CPU a pyspark
    daemon worker accrued when the worker dies and reparents between
    the two snapshots (deltas went as low as -687 s in BENCH_r03), so
    read a kernel accumulator instead, in preference order:

    1. cgroup v2 ``cpu.stat`` usage_usec
    2. cgroup v1 ``cpuacct.usage`` (nanoseconds)
    3. ``/proc/stat`` non-idle jiffies (whole machine)

    All are monotonic; the delta over a bench rep can never go
    negative.  Scope is the sandbox cgroup (or machine), not just the
    bench tree — acceptable because the bench contract already
    requires an otherwise-idle host for the wall numbers to mean
    anything.
    """
    try:
        with open("/sys/fs/cgroup/cpu.stat") as f:
            for line in f:
                if line.startswith("usage_usec"):
                    return int(line.split()[1]) / 1e6
    except OSError:
        pass
    try:
        with open("/sys/fs/cgroup/cpuacct/cpuacct.usage") as f:
            return int(f.read()) / 1e9
    except OSError:
        pass
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    clk = os.sysconf("SC_CLK_TCK")
    # user nice system irq softirq (exclude idle/iowait/steal/guest)
    busy = int(parts[0]) + int(parts[1]) + int(parts[2]) + int(parts[5]) + int(parts[6])
    return busy / clk

from pyspark.sql import functions as F  # noqa: E402

from graphiti_spark import transcripts as tr  # noqa: E402
from graphiti_spark.operators import dataset_ann as ann  # noqa: E402
from graphiti_spark.operators import dataset_dedup as ddp  # noqa: E402
from graphiti_spark.operators import dataset_text as dtx  # noqa: E402
from graphiti_spark.operators import search as srch  # noqa: E402
from graphiti_spark.plans import pipeline as pl  # noqa: E402
from graphiti_spark.session import get_spark  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark(app_name="graphiti_bench", master=f"local[{cpus}]", shuffle_partitions=cpus)

    read = lambda name: spark.read.parquet(f"{sf_dir}/{name}.parquet")
    n_turns = read("events").count()

    def q_kg_pipeline():
        t = tr.transcripts_from_events(spark, sf_dir)
        tables = pl.build_graph(t, with_embeddings=True)
        pl.force_outputs(tables)

    def q_kg_extraction_only():
        t = tr.transcripts_from_events(spark, sf_dir)
        from graphiti_spark.operators import episodes as ep_ops, extraction as ex

        force(ex.extract_triples(ep_ops.build_episodes(t)))

    def q_bm25():
        force(srch.bm25_search(read("documents"), "text", "data join query spark", id_col="doc_id", limit=10))

    def q_ann_topk():
        embs = read("embeddings")
        probes = embs.filter("vec_id < 8").select(F.col("vec_id").alias("qid"), "embedding")
        force(ann.cosine_topk_join(probes, embs, k=10))

    def q_minhash():
        force(ddp.minhash_pairs(read("documents"), band_width=8, threshold=0.9))

    def q_simhash():
        force(ddp.simhash(read("documents")).select("doc_id", "simhash"))

    def q_text_quality():
        force(dtx.quality_score(dtx.lang_id(read("documents"))))

    def q_curation_r4():
        # round-4 curation family: LM-perplexity filter, TF-IDF top
        # terms, corpus-derived temperature mixing, centroid outliers
        from graphiti_spark.operators import dataset_mix as dmx

        docs, embs = read("documents"), read("embeddings")
        force(dtx.unigram_lm_score(docs))
        force(dtx.tfidf_top_terms(docs))
        force(dmx.temperature_mix(docs, strat_col="lang"))
        force(ann.centroid_outliers(embs))
        force(ann.semdedup_pairs(embs, threshold=0.35, n_centroids=8, n_probe=4))

    def q_curation_pipeline():
        # flagship curation composition (star-LSH dedup -> CC keep-list
        # -> quality gate -> decontamination -> temperature mix ->
        # shard layout), the documents-side analog of kg_pipeline
        import __spark_entry__ as se

        force(se.q_curation_pipeline(spark, sf_dir))

    def q_tpch_mix():
        li = read("lineitem")
        force(
            li.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum("l_quantity"), F.sum("l_extendedprice"), F.avg("l_discount"), F.count("*")
            )
        )
        o, c = read("orders"), read("customer")
        force(
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.sum("o_totalprice"), F.count("*"))
        )

    bench = {
        "kg_pipeline": q_kg_pipeline,
        "kg_extraction_only": q_kg_extraction_only,
        "bm25_documents": q_bm25,
        "ann_topk": q_ann_topk,
        "minhash_pairs": q_minhash,
        "simhash": q_simhash,
        "text_quality": q_text_quality,
        "curation_r4": q_curation_r4,
        "curation_pipeline": q_curation_pipeline,
        "tpch_mix": q_tpch_mix,
    }

    # one warmup pass of the flagship amortizes JVM/codegen compilation —
    # the steady-state number is the cluster-analog metric (long-running
    # executors are JIT-warm); measured cold-vs-warm delta is ~3×.
    bench["kg_pipeline"]()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    times: dict[str, float] = {}
    all_times: dict[str, list[float]] = {}
    cpu_times: dict[str, float] = {}
    for name, fn in bench.items():
        walls: list[float] = []
        cpus_used: list[float] = []
        for _ in range(reps):
            c0 = _cpu_counter_seconds()
            t0 = time.time()
            fn()
            walls.append(round(time.time() - t0, 3))
            cpus_used.append(round(_cpu_counter_seconds() - c0, 3))
        all_times[name] = walls
        best = min(range(reps), key=lambda i: walls[i])
        times[name] = walls[best]
        # CPU of the min-wall rep — pairing min(walls) with an
        # independent min(cpus) mixed reps (r3 advice).  Guard stays
        # although the counter is monotonic.
        cpu_times[name] = cpus_used[best] if cpus_used[best] >= 0 else None

    total = round(sum(times.values()), 3)
    turns_per_sec = round(n_turns / times["kg_pipeline"], 1) if times.get("kg_pipeline") else None

    # north-rule quality gate, reported alongside throughput
    from graphiti_spark.metrics import triple_precision_recall

    precision, recall = triple_precision_recall(spark)
    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "queries_all": all_times,
                "queries_cpu": cpu_times,
                "bench_reps": reps,
                "sf": sf_dir,
                "cpus": cpus,
                "turns_per_sec_kg_pipeline": turns_per_sec,
                "triple_precision": round(precision, 4),
                "triple_recall": round(recall, 4),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
