"""Query-time hybrid search over the materialized graph tables
(SURVEY §2.8, §2.10, §2.11).

Reference: search/search.py:66-162 fans out per-object sub-searches,
each = methods (bm25 | cosine_similarity | bfs) at 2×limit →
uuid-dedup → reranker (rrf | mmr | cross_encoder | node_distance |
episode_mentions) → [:limit]. Here every method is a DataFrame
function; fusion is `unionByName` + aggregation (§2.7 A1-A3).

Physical notes: BM25 uses a token posting join (the reference
delegates to a Lucene index, graph_queries.py:61-79 — a derived
posting table is the scan-time analog); cosine is a JVM-side
aggregate over pre-normalized arrays (no UDF); BFS is ≤3 frontier
hash-joins (MAX_SEARCH_DEPTH=3, search_utils.py:61). Top-k is
orderBy+limit → TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphiti_spark.functions import embeddings as emb
from graphiti_spark.functions import text as tx

DEFAULT_SEARCH_LIMIT = 10  # search_config.py:29
MAX_SEARCH_DEPTH = 3  # search_utils.py:61
MIN_SCORE = 0.6  # search_utils.py:59
MMR_LAMBDA = 0.5  # search_utils.py:60
RRF_K = 1  # rank constant, search_utils.py:872-888
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    df: DataFrame,
    text_col: str,
    query_tokens: list[str],
    id_col: str = "uuid",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Classic BM25 over a tokenized corpus → (id_col, score).

    One shuffle builds the posting lists (explode + groupBy token);
    query tokens are a broadcast literal filter so only matching
    postings are scanned (F5; word-overlap approximation is accepted
    by the reference itself, bulk_utils.py:228-230)."""
    toks = df.select(
        F.col(id_col), tx.tokens(F.col(text_col)).alias("toks"),
        F.size(F.split(F.lower(F.trim(F.col(text_col))), "\\s+")).alias("dl"),
    )
    stats = toks.select(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    postings = (
        toks.select(id_col, "dl", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin([t.lower() for t in query_tokens]))
    )
    dfreq = postings.groupBy("tok").agg(F.countDistinct(id_col).alias("df"))
    scored = (
        postings.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf", F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        )
        # token sets → tf == 1 when present (reference word-overlap analog)
        .withColumn(
            "s",
            F.col("idf")
            * (1.0 * (k1 + 1))
            / (1.0 + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy(id_col)
        .agg(F.sum("s").alias("score"))
    )
    return scored


def bm25_search(
    df: DataFrame,
    text_col: str,
    query: str,
    id_col: str = "uuid",
    limit: int = DEFAULT_SEARCH_LIMIT,
    group_ids: list[str] | None = None,
) -> DataFrame:
    if group_ids:
        df = df.filter(F.col("group_id").isin(group_ids))
    q = [t for t in query.lower().split() if t]
    if len(q) > 128:  # MAX_QUERY_LENGTH bail (search_utils.py:62,77-78)
        return df.select(id_col).limit(0).withColumn("score", F.lit(0.0))
    return (
        bm25_scores(df, text_col, q, id_col)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(limit)
    )


def cosine_search(
    df: DataFrame,
    emb_col: str,
    query_vec: list[float],
    id_col: str = "uuid",
    limit: int = DEFAULT_SEARCH_LIMIT,
    min_score: float = MIN_SCORE,
    group_ids: list[str] | None = None,
) -> DataFrame:
    """Vector scan ORDER BY cosine LIMIT (search_utils.py:188-249)."""
    if group_ids:
        df = df.filter(F.col("group_id").isin(group_ids))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.withColumn("score", emb.dot(F.col(emb_col).cast("array<double>"), q))
        .filter(F.col("score") >= min_score)
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(limit)
    )


def bfs_neighborhood(
    edges: DataFrame,
    origin_uuids: list[str] | DataFrame,
    max_depth: int = MAX_SEARCH_DEPTH,
) -> DataFrame:
    """G7: nodes reachable within max_depth RELATES_TO hops →
    (uuid, depth). Frontier ⋈ edges per level + visited anti-join."""
    spark = edges.sparkSession
    adj = (
        edges.select(F.col("source_node_uuid").alias("a"), F.col("target_node_uuid").alias("b"))
        .union(edges.select(F.col("target_node_uuid").alias("a"), F.col("source_node_uuid").alias("b")))
        .distinct()
    )
    if isinstance(origin_uuids, DataFrame):
        frontier = origin_uuids.select(F.col("uuid")).distinct()
    else:
        frontier = spark.createDataFrame([(u,) for u in origin_uuids], "uuid string")
    visited = frontier.withColumn("depth", F.lit(0))
    for depth in range(1, max_depth + 1):
        nxt = (
            adj.join(frontier, adj.a == frontier.uuid)
            .select(F.col("b").alias("uuid"))
            .distinct()
            .join(visited.select("uuid"), "uuid", "left_anti")
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.union(nxt.withColumn("depth", F.lit(depth))).localCheckpoint()
        frontier = nxt
    return visited


# --- rerankers (§2.10) ------------------------------------------------------

def rrf(ranked_lists: list[DataFrame], id_col: str = "uuid", rank_const: int = RRF_K) -> DataFrame:
    """A1/R1: score = Σ 1/(rank + const); rank from each list's own
    score ordering (search_utils.py:872-888)."""
    parts = []
    for df in ranked_lists:
        w = Window.orderBy(F.desc("score"), F.asc(id_col))
        parts.append(df.select(id_col, (F.row_number().over(w) - 1).alias("rank")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy(id_col)
        .agg(F.sum(1.0 / (F.col("rank") + F.lit(rank_const))).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
    )


def mmr_rerank(
    candidates: DataFrame,
    emb_col: str,
    query_vec: list[float],
    id_col: str = "uuid",
    lambda_: float = MMR_LAMBDA,
) -> DataFrame:
    """R2: single-pass MMR variant of the reference
    (search_utils.py:966-1004 — NOT greedy-iterative):
    mmr = λ·sim(query, c) + (λ−1)·max_sim(c, any other candidate)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    c = candidates.select(id_col, F.col(emb_col).cast("array<double>").alias("v"))
    a, b = c.alias("a"), c.alias("b")
    pair_max = (
        a.join(b, F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .withColumn("s", emb.dot(F.col("a.v"), F.col("b.v")))
        .groupBy(F.col(f"a.{id_col}").alias(id_col))
        .agg(F.max("s").alias("max_other"))
    )
    return (
        c.withColumn("qsim", emb.dot(F.col("v"), q))
        .join(pair_max, id_col, "left")
        .withColumn(
            "score",
            lambda_ * F.col("qsim") + (lambda_ - 1) * F.coalesce("max_other", F.lit(0.0)),
        )
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
    )


def cross_encoder_rank(
    df: DataFrame,
    text_col: str,
    query: str,
    id_col: str = "uuid",
    limit: int | None = None,
) -> DataFrame:
    """R3: deterministic cross-encoder stand-in. The reference scores
    each (query, passage) with a boolean-relevance classifier and uses
    P(True) as the score (cross_encoder/openai_reranker_client.py:
    61-118); the pluggable deterministic analog is lexical overlap:
    score = |query_toks ∩ passage_toks| / |query_toks| ∈ [0, 1].
    Pure column expressions — swaps for a model-backed pandas UDF
    without changing the dataflow (CrossEncoderClient contract,
    cross_encoder/client.py)."""
    q_toks = [t for t in dict.fromkeys(query.lower().split()) if t]
    q_arr = F.array(*[F.lit(t) for t in q_toks])
    out = df.select(
        id_col,
        (
            F.size(F.array_intersect(tx.tokens(F.col(text_col)), q_arr))
            / float(max(len(q_toks), 1))
        ).alias("score"),
    ).orderBy(F.desc("score"), F.asc(id_col))
    return out.limit(limit) if limit else out


def node_distance_rerank(
    candidates: DataFrame,
    edges: DataFrame,
    center_uuid: str,
    id_col: str = "uuid",
    far_score: float = float("inf"),
) -> DataFrame:
    """R4/G8: 1-hop adjacency to center → score 1, else ∞ (here a large
    sentinel); center itself 0.1; ascending (search_utils.py:891-934)."""
    adj = (
        edges.filter(
            (F.col("source_node_uuid") == center_uuid) | (F.col("target_node_uuid") == center_uuid)
        )
        .select(
            F.when(F.col("source_node_uuid") == center_uuid, F.col("target_node_uuid"))
            .otherwise(F.col("source_node_uuid"))
            .alias(id_col)
        )
        .distinct()
        .withColumn("adjacent", F.lit(1))
    )
    return (
        candidates.join(F.broadcast(adj), id_col, "left")
        .withColumn(
            "score",
            F.when(F.col(id_col) == center_uuid, 0.1)
            .when(F.col("adjacent") == 1, 1.0)
            .otherwise(far_score),
        )
        .select(id_col, "score")
        .orderBy(F.asc("score"), F.asc(id_col))
    )


def edge_provenance_rerank(edges: DataFrame, limit: int | None = None) -> DataFrame:
    """A3: edge reranker by provenance count — the reference's
    episode_mentions reranker for EDGES sorts candidates by
    len(edge.episodes) descending (search/search.py:272-280). One
    column expression, TakeOrderedAndProject when limited."""
    out = edges.withColumn(
        "score", F.size(F.col("episodes")).cast("double")
    ).orderBy(F.desc("score"), F.asc("uuid"))
    return out.limit(limit) if limit else out


def bfs_neighborhood_episodic(
    entity_edges: DataFrame,
    mentions: DataFrame,
    origin_episodes: DataFrame,
    max_depth: int = MAX_SEARCH_DEPTH,
) -> DataFrame:
    """G7 full parity: BFS whose frontier starts at EPISODIC nodes and
    walks MENTIONS (episode→entity) as well as RELATES_TO
    (entity↔entity) edges — the reference's bfs query matches
    `[:RELATES_TO|MENTIONS]` from episodic origins
    (search_utils.py:269,413). MENTIONS arcs are directed
    episode→entity; RELATES_TO arcs are walked both ways, matching the
    undirected entity expansion of bfs_neighborhood."""
    men = mentions.select(
        F.col("source_node_uuid").alias("a"), F.col("target_node_uuid").alias("b")
    )
    rel = (
        entity_edges.select(
            F.col("source_node_uuid").alias("a"), F.col("target_node_uuid").alias("b")
        )
        .union(
            entity_edges.select(
                F.col("target_node_uuid").alias("a"), F.col("source_node_uuid").alias("b")
            )
        )
    )
    adj = men.union(rel).distinct()
    frontier = origin_episodes.select(F.col("uuid")).distinct()
    visited = frontier.withColumn("depth", F.lit(0))
    for depth in range(1, max_depth + 1):
        nxt = (
            adj.join(frontier, adj.a == frontier.uuid)
            .select(F.col("b").alias("uuid"))
            .distinct()
            .join(visited.select("uuid"), "uuid", "left_anti")
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.union(nxt.withColumn("depth", F.lit(depth))).localCheckpoint()
        frontier = nxt
    return visited


def episode_mentions_rerank(candidates: DataFrame, mentions: DataFrame, id_col: str = "uuid") -> DataFrame:
    """R5/A2: candidates scored by MENTIONS count (search_utils.py:937-963)."""
    counts = mentions.groupBy(F.col("target_node_uuid").alias(id_col)).agg(
        F.count(F.lit(1)).alias("score")
    )
    return (
        candidates.join(counts, id_col, "left")
        .withColumn("score", F.coalesce(F.col("score").cast("double"), F.lit(0.0)))
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
    )


# --- F10 context rendering (search/search_helpers.py:28-73) -----------------

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _json_item(pairs: list[tuple[str, "F.Column"]]) -> "F.Column":
    """Render {"k": "v", ...} with fixed key order — the deterministic
    single-line analog of the reference's json.dumps(fact_json)."""
    parts: list[F.Column] = [F.lit("{")]
    for i, (k, v) in enumerate(pairs):
        if i:
            parts.append(F.lit(", "))
        parts.append(F.lit(f'"{k}": "'))
        parts.append(v)
        parts.append(F.lit('"'))
    parts.append(F.lit("}"))
    return F.concat(*parts)


def _section(df: DataFrame | None, item: "F.Column", group_col: str) -> DataFrame | None:
    if df is None:
        return None
    return (
        df.select(F.col(group_col), item.alias("item"))
        .groupBy(group_col)
        .agg(F.concat_ws(", ", F.sort_array(F.collect_list("item"))).alias("items"))
    )


def search_context(
    edges: DataFrame | None,
    nodes: DataFrame | None,
    episodes: DataFrame | None = None,
    communities: DataFrame | None = None,
    group_col: str = "group_id",
) -> DataFrame:
    """F10: search_results_to_context_string
    (search/search_helpers.py:28-73) — per group, the LLM-ready context
    string with <FACTS>/<ENTITIES>/<EPISODES>/<COMMUNITIES> sections.
    Field contract matches the reference exactly (fact + valid_at with
    'None' for null, invalid_at defaulting to 'Present'; entity_name +
    summary; source_description + content; community name + summary);
    items are single-line JSON objects sorted lexicographically for
    determinism (the reference's indent=12 pretty-printing is
    presentation only). Pure column expressions + one aggregate per
    section + broadcast-sized outer join on group."""
    fact_sec = _section(
        edges,
        _json_item(
            [
                ("fact", F.col("fact")),
                ("valid_at", F.coalesce(F.date_format("valid_at", _TS_FMT), F.lit("None"))),
                (
                    "invalid_at",
                    F.coalesce(F.date_format("invalid_at", _TS_FMT), F.lit("Present")),
                ),
            ]
        ),
        group_col,
    ) if edges is not None else None
    ent_sec = _section(
        nodes,
        _json_item([("entity_name", F.col("name")), ("summary", F.coalesce("summary", F.lit("")))]),
        group_col,
    ) if nodes is not None else None
    ep_sec = _section(
        episodes,
        _json_item(
            [
                ("source_description", F.coalesce("source_description", F.lit(""))),
                ("content", F.col("content")),
            ]
        ),
        group_col,
    ) if episodes is not None else None
    comm_sec = _section(
        communities,
        _json_item([("community_name", F.col("name")), ("summary", F.coalesce("summary", F.lit("")))]),
        group_col,
    ) if communities is not None else None

    base = None
    for sec, col_name in (
        (fact_sec, "facts"),
        (ent_sec, "entities"),
        (ep_sec, "eps"),
        (comm_sec, "comms"),
    ):
        if sec is None:
            continue
        sec = sec.withColumnRenamed("items", col_name)
        base = sec if base is None else base.join(sec, group_col, "full_outer")
    if base is None:
        raise ValueError("search_context needs at least one input table")
    for col_name in ("facts", "entities", "eps", "comms"):
        if col_name not in base.columns:
            base = base.withColumn(col_name, F.lit(""))
    return base.select(
        group_col,
        F.concat(
            F.lit("<FACTS>["),
            F.coalesce("facts", F.lit("")),
            F.lit("]</FACTS><ENTITIES>["),
            F.coalesce("entities", F.lit("")),
            F.lit("]</ENTITIES><EPISODES>["),
            F.coalesce("eps", F.lit("")),
            F.lit("]</EPISODES><COMMUNITIES>["),
            F.coalesce("comms", F.lit("")),
            F.lit("]</COMMUNITIES>"),
        ).alias("context"),
    )


# --- SearchFilters (search/search_filters.py:24-184) ------------------------

_OPS = {
    "=": lambda c, v: c == v,
    "<>": lambda c, v: c != v,
    ">": lambda c, v: c > v,
    "<": lambda c, v: c < v,
    ">=": lambda c, v: c >= v,
    "<=": lambda c, v: c <= v,
    "is_null": lambda c, v: c.isNull(),
    "is_not_null": lambda c, v: c.isNotNull(),
}


def compile_filters(
    node_labels: list[str] | None = None,
    edge_types: list[str] | None = None,
    date_filters: dict[str, list[list[tuple[str, object]]]] | None = None,
):
    """AND-of-ORs predicate compiler: date_filters maps a date column →
    [[(op, value), ...], ...] where inner lists OR and outer AND
    (search_filters.py:53-184). Returns a Column predicate."""
    pred = F.lit(True)
    if node_labels:
        pred = pred & F.arrays_overlap(F.col("labels"), F.array(*[F.lit(x) for x in node_labels]))
    if edge_types:
        pred = pred & F.col("name").isin(edge_types)
    for col_name, and_groups in (date_filters or {}).items():
        for or_group in and_groups:
            gp = F.lit(False)
            for op, val in or_group:
                v = F.lit(val).cast("timestamp") if val is not None else None
                gp = gp | _OPS[op](F.col(col_name), v)
            pred = pred & gp
    return pred
