"""Transcript inputs.

Two sources of the canonical `transcripts(conv_id, turn_idx, role,
text, tool, ts)` table (BASELINE.json input_hint):

1. ``TRANSCRIPTS_SQL`` — a deterministic derivation from the driver's
   `events` table, written in the common SQL dialect of Spark SQL and
   DuckDB so the *identical* statement runs in both engines. This is
   what makes the KG-pipeline operators oracle-checkable: the DuckDB
   oracle rebuilds the same transcripts from the same parquet and
   mirrors the extraction rules in SQL.

2. ``synthesize_transcripts`` — a seeded generator (FIXTURES.md §1)
   with ground-truth triples known by construction, used by pytest and
   by bench.py at configurable scale (including skewed conversation
   lengths to exercise salting/AQE).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from graphiti_spark import rules

PEOPLE = ["Alice", "Bob", "Carol", "Dave", "Erin", "Frank", "Grace", "Heidi"]
COMPANIES = ["Acme", "Globex", "Initech", "Umbrella", "Hooli", "Stark"]
CITIES = ["Paris", "London", "Tokyo", "Berlin", "Sydney", "Oslo"]
# alias surface forms per person (exercise dedupe blocking, FIXTURES.md §1)
ALIASES = {
    "Alice": ["Alice", "Alice Smith"],
    "Bob": ["Bob", "Bob Jones"],
    "Carol": ["Carol", "Carol King"],
    "Dave": ["Dave", "Dave Lee"],
    "Erin": ["Erin", "Erin Cole"],
    "Frank": ["Frank", "Frank Moore"],
    "Grace": ["Grace", "Grace Park"],
    "Heidi": ["Heidi", "Heidi Klum"],
}


def _sql_pick(expr: str, vocab: list[str]) -> str:
    """CASE <expr> WHEN i THEN vocab[i] ... — valid in Spark SQL and DuckDB."""
    whens = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(vocab))
    return f"CASE {expr} {whens} END"


_P = _sql_pick("user_id % 8", PEOPLE)
_Q = _sql_pick("(user_id + 3) % 8", PEOPLE)
_C = _sql_pick("event_id % 6", COMPANIES)
_L = _sql_pick("event_id % 6", CITIES)

def _transcripts_sql(subject: str) -> str:
    """The shared two-engine derivation, parameterized on the subject
    surface-form expression. Templates line up 1:1 with rules.RULES."""
    return f"""
SELECT
  concat('conv-', cast(user_id AS string)) AS conv_id,
  cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int) AS turn_idx,
  CASE WHEN event_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
  CASE event_id % 8
    WHEN 0 THEN concat({subject}, ' works at ', {_C}, '.')
    WHEN 1 THEN concat({subject}, ' no longer works at ', {_C}, '.')
    WHEN 2 THEN concat({subject}, ' moved to ', {_L}, '.')
    WHEN 3 THEN concat({subject}, ' likes ', {_Q}, '.')
    WHEN 4 THEN concat({subject}, ' dislikes ', {_Q}, '.')
    WHEN 5 THEN concat({subject}, ' is the CEO of ', {_C}, '.')
    WHEN 6 THEN concat('Tell me about ', {_C}, '.')
    ELSE 'The weather is nice today.'
  END AS text,
  CASE WHEN event_type = 'click' THEN 'browser'
       WHEN event_type = 'purchase' THEN 'checkout'
       ELSE '' END AS tool,
  ts
FROM events
"""


# One statement, two engines.
TRANSCRIPTS_SQL = _transcripts_sql(_P)

# Alias-bearing variant: half the mentions of each person use the
# two-token full-name surface form, so node dedupe / canonicalization
# has real duplicate components on the driver corpus too (the
# synthesized-fixture corpus already exercises this via ALIASES).
PEOPLE_FULL = [
    "Alice Smith", "Bob Jones", "Carol King", "Dave Lee",
    "Erin Cole", "Frank Moore", "Grace Park", "Heidi Klum",
]
_PF = _sql_pick("user_id % 8", PEOPLE_FULL)
_PA = f"CASE WHEN event_id % 16 >= 8 THEN {_PF} ELSE {_P} END"
ALIASED_TRANSCRIPTS_SQL = _transcripts_sql(_PA)

# Chain-alias variant: each person rotates through THREE surface forms
# — base ("Carol"), full ("Carol King"), alt ("Carol Novak") — whose
# two 2-token forms share only the first token, so the duplicate-pair
# verdict (exact-lower OR first-token + token-subset) connects
# full—base and alt—base but NOT full—alt: the duplicate graph is a
# STAR through the base form and component membership genuinely needs
# transitive closure. Because entity uuids are md5s, the component
# minimum frequently lands on a LEAF, where a one-hop
# least(raw, min(neighbor)) map (KG_CANONICAL_MAP's shape) diverges
# from true connected components — this corpus is what lets the DuckDB
# oracle check the executor-side union-find (G1) exactly, via a
# recursive-CTE reachability closure (oracle.KG_UUID_MAP_ALIAS).
# Alt second tokens are disjoint from PEOPLE_FULL's so no accidental
# cross-person token bridges exist.
PEOPLE_ALT = [
    "Alice Reyes", "Bob Tanaka", "Carol Novak", "Dave Okafor",
    "Erin Silva", "Frank Weber", "Grace Lindqvist", "Heidi Moreau",
]
_PALT = _sql_pick("user_id % 8", PEOPLE_ALT)
_PCHAIN = (
    f"CASE event_id % 3 WHEN 0 THEN {_P} WHEN 1 THEN {_PF} ELSE {_PALT} END"
)
CHAIN_TRANSCRIPTS_SQL = _transcripts_sql(_PCHAIN)


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(TRANSCRIPTS_SQL)


def transcripts_from_events_aliased(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(ALIASED_TRANSCRIPTS_SQL)


def transcripts_from_events_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(CHAIN_TRANSCRIPTS_SQL)


# ---------------------------------------------------------------------------
# Mixed-source episode corpus: message / text / json episode types
# (reference EpisodeType, nodes.py:35-52; three extraction prompt
# families prompts/extract_nodes.py:82,131,163). Derived from the same
# events table with one shared statement so the DuckDB oracle rebuilds
# the identical corpus. turn_idx % 4: 1 → raw `text` episode, 2 → flat
# `json` document (name/works_at when the turn carries a WORKS_AT
# fact, else an opaque note), other → `message` ("role: text").
# ---------------------------------------------------------------------------

_WORKS_PAT = rules.TRIPLE_RULES[0].pattern  # "^(NAME) works at (NAME)\.$"

MIXED_EPISODES_SELECT = f"""
SELECT md5(concat_ws('|', 'ep', conv_id, conv_id, cast(turn_idx AS string))) AS uuid,
       conv_id AS group_id,
       CASE cast(turn_idx AS int) % 4 WHEN 1 THEN 'text' WHEN 2 THEN 'json'
            ELSE 'message' END AS source,
       CASE WHEN cast(turn_idx AS int) % 4 = 0 OR cast(turn_idx AS int) % 4 = 3
            THEN role ELSE '' END AS role,
       CASE cast(turn_idx AS int) % 4
         WHEN 1 THEN text
         WHEN 2 THEN CASE WHEN regexp_extract(text, '{_WORKS_PAT}', 1) <> ''
              THEN concat('{{"name": "', regexp_extract(text, '{_WORKS_PAT}', 1),
                          '", "works_at": "', regexp_extract(text, '{_WORKS_PAT}', 2), '"}}')
              ELSE concat('{{"note": "', text, '"}}') END
         ELSE text
       END AS text,
       ts AS valid_at
FROM transcripts
"""

MIXED_EPISODES_STMT = f"""WITH transcripts AS ({TRANSCRIPTS_SQL})
SELECT uuid, group_id, source, role, text,
       CASE WHEN source = 'message' THEN concat(role, ': ', text)
            ELSE text END AS content,
       valid_at
FROM ({MIXED_EPISODES_SELECT})
"""


def spark_escape_sql(stmt: str) -> str:
    """Double backslashes for Spark execution of a shared statement.

    Spark's SQL parser processes backslash escapes inside string
    literals (so the interpolated regex ``\\.`` silently becomes ``.``,
    any-char) while DuckDB keeps them literal. Doubling every backslash
    in the Spark-executed copy gives both engines identical semantics;
    the raw statement stays the one the DuckDB oracle runs.
    """
    return stmt.replace("\\", "\\\\")


def mixed_episodes_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Episodes with per-row source in (message, text, json) — the
    identical statement the oracle runs in DuckDB (modulo string-literal
    backslash escaping, see spark_escape_sql)."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(spark_escape_sql(MIXED_EPISODES_STMT))


# ---------------------------------------------------------------------------
# Seeded synthetic generator with known ground truth (FIXTURES.md §1).
# ---------------------------------------------------------------------------

def synthesize_transcripts_pdf(
    n_convs: int = 20,
    turns_per_conv: int = 10,
    seed: int = 42,
    skew_frac: float = 0.02,
    skew_mult: int = 20,
) -> pd.DataFrame:
    """Pure function of (seed, sizes) → transcripts pandas frame.

    A `skew_frac` fraction of conversations is `skew_mult`× longer than
    the median to exercise skew handling. Alias surface forms are used
    for subjects on odd turns so node dedupe has real work to do.
    """
    rng = np.random.default_rng(seed)
    rows = []
    base_ts = pd.Timestamp("2025-01-01 00:00:00")
    for ci in range(n_convs):
        conv_id = f"conv{ci:05d}"
        n_turns = turns_per_conv * (skew_mult if rng.random() < skew_frac else 1)
        for ti in range(n_turns):
            r = int(rng.integers(0, 8))
            p = PEOPLE[int(rng.integers(0, len(PEOPLE)))]
            p_surface = ALIASES[p][ti % 2 if len(ALIASES[p]) > 1 else 0]
            q = PEOPLE[int(rng.integers(0, len(PEOPLE)))]
            c = COMPANIES[int(rng.integers(0, len(COMPANIES)))]
            ll = CITIES[int(rng.integers(0, len(CITIES)))]
            if r == 0:
                text = f"{p_surface} works at {c}."
            elif r == 1:
                text = f"{p_surface} no longer works at {c}."
            elif r == 2:
                text = f"{p_surface} moved to {ll}."
            elif r == 3:
                text = f"{p_surface} likes {q}."
            elif r == 4:
                text = f"{p_surface} dislikes {q}."
            elif r == 5:
                text = f"{p_surface} is the CEO of {c}."
            elif r == 6:
                text = f"Tell me about {c}."
            else:
                text = "The weather is nice today."
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": ti,
                    "role": "user" if ti % 2 == 0 else "assistant",
                    "text": text,
                    "tool": "",
                    "ts": base_ts + pd.Timedelta(minutes=ci * 1000 + ti),
                }
            )
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def synthesize_transcripts(spark: SparkSession, **kw) -> DataFrame:
    from graphiti_spark.schemas import TRANSCRIPTS

    return spark.createDataFrame(synthesize_transcripts_pdf(**kw), schema=TRANSCRIPTS)


def ground_truth_triples_pdf(transcripts: pd.DataFrame) -> pd.DataFrame:
    """Reference oracle: run the rule engine row-at-a-time in plain pandas
    (no Spark) to get expected (subj, pred, obj, valid_at, invalid_at)."""
    eps = transcripts.rename(columns={"ts": "valid_at"}).copy()
    eps["uuid"] = eps["conv_id"] + ":" + eps["turn_idx"].astype(str)
    eps["group_id"] = eps["conv_id"]
    return rules.extract_triples_pdf(eps[["uuid", "group_id", "text", "valid_at"]])
