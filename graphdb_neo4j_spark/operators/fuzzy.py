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
arithmetic and rounding. The names are laid out as a :class:`_NameIndex`
(rows, ids and an alphabet-coded (L, N) matrix with the lengths), once
per snapshot generation for a kept generation, per call for a service's
overlay rows or any other table, and scored by a bit-parallel Levenshtein
kernel for queries of up to 64 code points, by the DP for longer ones.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.functions.fuzz import (
    CodedNames,
    indel_ratio_col,
    levenshtein_ratio,
    levenshtein_ratio_col,
    round_half_up,
)
from graphdb_neo4j_spark.sources.tpch import (
    NODES_CTE,
    kept_generation,
    node_snapshot,
    snapshot_derived,
)

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
    out, and the threshold applies to the rounded score.

    Only names whose length bound (the score at distance
    ``|len − len(query)|``, a lower bound of the distance) reaches the
    threshold are scored, through a :class:`_NameIndex`. A kept snapshot
    generation that ``nodes`` starts with
    (:func:`~graphdb_neo4j_spark.sources.tpch.kept_generation`) keeps its
    index; the rows past it (a service's overlay), or a table that is no
    kept generation's, are indexed per call."""
    q = query.strip().lower()
    base = kept_generation(nodes)
    parts = [nodes] if base is None else [base, nodes.slice(base.num_rows)]
    found, start = [], 0
    for part in parts:
        rows, ids, score = snapshot_derived(part, _NameIndex.build).hits(q, threshold)
        found.append((rows + start, ids, score))
        start += part.num_rows
    rows, ids, score = (np.concatenate(cols) for cols in zip(*found))
    top = np.lexsort((rows, ids, -score))[:k]
    names = nodes.column("name").take(rows[top]).to_pylist()
    return [
        {"id": int(ids[t]), "name": name, "score": float(score[t])}
        for t, name in zip(top, names)
    ]


def _rounded_scores(dist: np.ndarray, lens: np.ndarray, query_len: int) -> np.ndarray:
    return round_half_up(levenshtein_ratio(dist, lens, query_len), 4)


@dataclass(frozen=True)
class _NameIndex:
    """A node table's non-NULL names laid out for scoring, in an order of
    non-increasing length (:class:`~graphdb_neo4j_spark.functions.fuzz.
    CodedNames`), with their rows and ids in that order."""

    rows: np.ndarray
    ids: np.ndarray
    names: CodedNames

    @classmethod
    def build(cls, table: pa.Table) -> "_NameIndex":
        valid = np.flatnonzero(np.asarray(pc.is_valid(table.column("name"))))
        names = table.column("name").take(valid).to_numpy(zero_copy_only=False)
        lens = np.fromiter(map(len, names), np.int64, len(names))
        order = np.argsort(-lens, kind="stable")
        rows = valid[order].astype(np.int32)
        ids = np.asarray(table.column("id").take(rows))
        return cls(rows, ids, CodedNames.of(names[order]))

    def hits(self, q: str, threshold: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(row, id, score) of the names scoring at least ``threshold``
        against ``q``. The length bound falls away from ``len(q)`` on both
        sides, so the names it admits are one run of the length order."""
        lens = self.names.lens
        bound = _rounded_scores(np.abs(lens - len(q)), lens, len(q))
        cand = np.flatnonzero(bound >= threshold)
        lo, hi = (int(cand[0]), int(cand[-1]) + 1) if len(cand) else (0, 0)
        dist = self.names.distances(q, lo, hi)
        score = _rounded_scores(dist, lens[lo:hi], len(q))
        hit = np.flatnonzero(score >= threshold)
        return self.rows[lo:hi][hit], self.ids[lo:hi][hit], score[hit]


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
