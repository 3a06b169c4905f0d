"""Deterministic content-derived identifiers.

The reference assigns UUID4 per row at construction (nodes.py:82,
edges.py:45) and relies on Cypher `MERGE (n {uuid})` for idempotence
(models/nodes/node_db_queries.py:21-26). For idempotent, re-runnable
partitioned batch merges we instead derive ids from content with md5
(available identically in Spark, DuckDB, and hashlib — so oracle SQL
can reproduce them):

    episode_uuid = md5('ep|' || group_id || '|' || conv_id || '|' || turn_idx)
    entity_uuid  = md5('en|' || group_id || '|' || lower(name))
    edge_uuid    = md5('ed|' || group_id || '|' || episode_uuid || '|' ||
                       subj || '|' || pred || '|' || obj)
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "|"


def _md5_concat(*cols: Column) -> Column:
    return F.md5(F.concat_ws(SEP, *cols))


def episode_uuid(group_id: Column, conv_id: Column, turn_idx: Column) -> Column:
    return _md5_concat(F.lit("ep"), group_id, conv_id, turn_idx.cast("string"))


def entity_uuid(group_id: Column, name: Column) -> Column:
    return _md5_concat(F.lit("en"), group_id, F.lower(name))


def edge_uuid(group_id: Column, episode_uuid_col: Column, subj: Column, pred: Column, obj: Column) -> Column:
    return _md5_concat(F.lit("ed"), group_id, episode_uuid_col, subj, pred, obj)


def community_uuid(group_id: Column, label: Column) -> Column:
    return _md5_concat(F.lit("cm"), group_id, label.cast("string"))


# -- pure-python twins (for the pandas oracle in tests) ----------------------

def py_md5(*parts: str) -> str:
    return hashlib.md5(SEP.join(parts).encode("utf-8")).hexdigest()


def py_entity_uuid(group_id: str, name: str) -> str:
    return py_md5("en", group_id, name.lower())


# SQL fragment twins (DuckDB oracle) — keep in sync with the column fns above.
SQL_EPISODE_UUID = "md5(concat_ws('|', 'ep', {group_id}, {conv_id}, cast({turn_idx} as varchar)))"
SQL_ENTITY_UUID = "md5(concat_ws('|', 'en', {group_id}, lower({name})))"


# -- group-id validation (reference helpers.py:124-147) ----------------------

import re as _re

_GROUP_ID_RE = _re.compile(r"^[a-zA-Z0-9_-]+$")


class GroupIdValidationError(ValueError):
    def __init__(self, group_id: str):
        super().__init__(
            f"group_id {group_id!r} must contain only ASCII alphanumerics, dashes, underscores"
        )


def validate_group_id(group_id: str) -> bool:
    """Scalar twin of the reference validator (helpers.py:124-147):
    empty is allowed (default group), otherwise ASCII alphanumerics,
    dashes, underscores only; raises GroupIdValidationError."""
    if not group_id:
        return True
    if not _GROUP_ID_RE.match(group_id):
        raise GroupIdValidationError(group_id)
    return True


def invalid_group_ids(df, col: str = "group_id"):
    """Vectorized ingest-gate form: the offending rows of `df` whose
    group id fails the same rule — a codegen regex filter, not a UDF,
    so a 100 TB ingest validates in the scan stage. Empty/null pass
    (default group)."""
    c = F.col(col)
    return df.filter(
        c.isNotNull() & (c != "") & ~c.rlike("^[a-zA-Z0-9_-]+$")
    )
