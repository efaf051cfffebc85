"""Distributed fuzzy name search (U1 + O3/O4).

The reference pulls EVERY node to the client and scores in Python per query
(/root/reference/fastapi/services/student_service.py:236-262 — the O(N)
anti-pattern called out in BASELINE.md). Here scoring runs on executors over
the column, and the top-k is a TakeOrderedAndProject — nothing but k rows
ever reaches the driver.

Two scorers (functions/fuzz.py): the built-in Levenshtein-ratio form
(oracle-checkable — DuckDB has levenshtein()) and the exact Indel-ratio
Pandas UDF (rows-only check; pytest compares it against a brute-force
reference implementation).

:func:`fuzzy_search_arrow` is the Levenshtein-ratio search over a
driver-side node table (``pyarrow.Table``), scored in numpy with the same
arithmetic and rounding.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.functions.fuzz import (
    indel_ratio_col,
    levenshtein_distances,
    levenshtein_ratio,
    levenshtein_ratio_col,
    round_half_up,
)
from graphdb_neo4j_spark.sources.tpch import NODES_CTE, node_snapshot

DEFAULT_QUERY = "custoner#000000420"  # deliberate typo of customer#000000420
DEFAULT_THRESHOLD = 60.0
DEFAULT_K = 10


def fuzzy_search(
    nodes: DataFrame,
    query: str = DEFAULT_QUERY,
    threshold: float = DEFAULT_THRESHOLD,
    k: int = DEFAULT_K,
    exact: bool = False,
) -> DataFrame:
    """Top-k nodes of the node table whose name fuzzy-matches ``query`` at
    ≥ threshold. NULL names drop out (``greatest`` skips a NULL length, so
    the scorer alone would give them 100 against an empty query)."""
    q = F.lit(query.strip().lower())
    scorer = indel_ratio_col if exact else levenshtein_ratio_col
    return (
        nodes.where(F.col("name").isNotNull())
        .select(
            "id",
            "name",
            F.round(scorer(F.col("name"), q), 4).alias("score"),
        )
        .filter(F.col("score") >= threshold)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def fuzzy_search_arrow(
    nodes: pa.Table,
    query: str = DEFAULT_QUERY,
    threshold: float = DEFAULT_THRESHOLD,
    k: int = DEFAULT_K,
) -> list[dict]:
    """:func:`fuzzy_search` with the Levenshtein scorer over a driver-side
    node table: the same rows, as dicts, in the same order. NULL names drop
    out, and the threshold applies to the rounded score. Only names whose
    length bound (the score at distance ``|len − len(query)|``, a lower
    bound of the distance) reaches the threshold run the DP."""
    q = query.strip().lower()
    named = nodes.select(["id", "name"]).filter(pc.is_valid(nodes.column("name")))
    names = named.column("name").to_numpy()  # str objects, no per-row Python list
    lens = np.fromiter(map(len, names), np.int64, len(names))
    bound = round_half_up(levenshtein_ratio(np.abs(lens - len(q)), lens, len(q)), 4)
    cand = np.flatnonzero(bound >= threshold)
    dist = levenshtein_distances(names[cand], q)
    score = round_half_up(levenshtein_ratio(dist, lens[cand], len(q)), 4)
    hit, score = cand[score >= threshold], score[score >= threshold]
    ids = np.asarray(named.column("id"))[hit]
    top = np.lexsort((ids, -score))[:k]
    return [
        {"id": int(ids[t]), "name": names[hit[t]], "score": float(score[t])}
        for t in top
    ]


def fuzzy_search_lev_sql(
    query: str = DEFAULT_QUERY,
    threshold: float = DEFAULT_THRESHOLD,
    k: int = DEFAULT_K,
) -> str:
    q = query.strip().lower().replace("'", "''")
    return f"""
WITH {NODES_CTE.strip()},
scored AS (
    SELECT id, name,
           ROUND(CASE WHEN GREATEST(LENGTH(name), LENGTH('{q}')) = 0 THEN 100.0
                ELSE 100.0 * (1.0 - CAST(levenshtein(name, '{q}') AS DOUBLE)
                              / GREATEST(LENGTH(name), LENGTH('{q}')))
           END, 4) AS score
    FROM nodes WHERE name IS NOT NULL
)
SELECT id, name, score FROM scored
WHERE score >= {threshold}
ORDER BY score DESC, id ASC
LIMIT {k}
"""


def q_fuzzy_search_lev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fuzzy_search(node_snapshot(spark, sf_dir), exact=False)


def q_fuzzy_search_indel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Indel-ratio variant (Pandas UDF) — rows-only driver check."""
    return fuzzy_search(node_snapshot(spark, sf_dir), exact=True)


def q_fuzzy_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 argmax — the NL layer's single best name correction
    (llm_cypher.py:30-38: best match if score ≥ 75, else nothing)."""
    return fuzzy_search(node_snapshot(spark, sf_dir), threshold=75.0, k=1)


def fuzzy_best_match_sql() -> str:
    return fuzzy_search_lev_sql(threshold=75.0, k=1)
