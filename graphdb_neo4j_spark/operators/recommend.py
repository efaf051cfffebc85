"""People recommendation — the reference's flagship read query.

Semantics (reference `recommend_people`,
/root/reference/fastapi/services/student_service.py:134-190): anchor node ×
all other nodes; four attribute-equality flags computed with
``CASE WHEN lower(trim(coalesce(attr,''))) = anchor THEN 1 ELSE 0``
(:151-154); interest-intersection size (:155); ``score = same_board +
same_stream + same_college + nearby + n_common`` (:156); keep ``score > 0``
(:157); ``ORDER BY score DESC`` (:161).

Spark plan: one pruned point read of the anchor (the id filter reaches the
scan of the node table, which holds each node's interests as an array),
then the anchor's attributes and its distinct interest tokens are bound as
literals, so scoring is scan → project → top-k with
``n_common = size(array_intersect(interests, <anchor tokens>))`` — no join
and no shuffle, O(N·|anchor interests|) work against the reference's O(N²)
nested list comprehension. The reference returns ALL matches (no LIMIT — a
scalability cliff noted in BASELINE.md); we add a deterministic top-k
(score DESC, id ASC) which Catalyst plans as TakeOrderedAndProject (no full
sort).

:func:`recommend_arrow` is the same read over a driver-side node table
(``pyarrow.Table``): the flags by ``pc.equal``, ``n_common`` by matching
the flattened interests against the anchor's tokens and counting each
(node, token) pair once, the top-k by ``np.lexsort``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_neo4j_spark.sources.tpch import CUST_PARTS_CTE, NODES_CTE

DEFAULT_ANCHOR = 1
DEFAULT_LIMIT = 100
_FLAGS = (
    ("same_college", "college"),
    ("same_board", "board"),
    ("same_stream", "stream"),
    ("nearby", "address"),
)


def recommend(
    nodes: DataFrame,
    anchor_id: int = DEFAULT_ANCHOR,
    limit: int | None = DEFAULT_LIMIT,
) -> DataFrame:
    """Top-k recommended peers for ``anchor_id`` with per-attribute flags,
    over a node table with an ``interests`` array
    (:func:`~graphdb_neo4j_spark.sources.tpch.node_snapshot`, or a service's
    snapshot ∪ overlay view). An unknown anchor scores every node 0, so the
    result is empty."""
    rows = nodes.filter(F.col("id") == anchor_id).collect()
    anchor = rows[0].asDict() if rows else {}
    tokens = sorted(set(anchor.get("interests") or ()))
    anchor_tokens = F.array(*map(F.lit, tokens)).cast("array<string>")
    flags = [
        F.when(F.col(attr) == F.lit(anchor.get(attr)).cast("string"), 1)
        .otherwise(0)
        .alias(flag)
        for flag, attr in _FLAGS
    ]
    scored = (
        nodes.filter(F.col("id") != anchor_id)
        .select(
            "id",
            "name",
            *flags,
            F.size(F.array_intersect("interests", anchor_tokens))
            .cast("long")
            .alias("n_common"),
        )
        .withColumn(
            "score",
            sum((F.col(flag) for flag, _ in _FLAGS), F.col("n_common")),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
    )
    return scored.limit(limit) if limit is not None else scored


def recommend_arrow(
    nodes: pa.Table,
    anchor_id: int = DEFAULT_ANCHOR,
    limit: int | None = DEFAULT_LIMIT,
) -> list[dict]:
    """:func:`recommend` over a driver-side node table: the same rows, as
    dicts, in the same order."""
    ids = nodes.column("id")
    hit = np.flatnonzero(np.asarray(pc.fill_null(pc.equal(ids, anchor_id), False)))
    if not len(hit):
        return []
    anchor = nodes.slice(int(hit[0]), 1).to_pylist()[0]
    tokens = pa.array(sorted(set(anchor["interests"] or ())), pa.string())
    cols = {}
    for flag, attr in _FLAGS:
        same = pc.equal(nodes.column(attr), pa.scalar(anchor[attr], pa.string()))
        cols[flag] = np.asarray(pc.fill_null(same, False), dtype=np.int64)
    # n_common counts distinct shared tokens, as array_intersect does
    interests = nodes.column("interests")
    lengths = np.asarray(pc.fill_null(pc.list_value_length(interests), 0))
    owner = np.repeat(np.arange(len(nodes)), lengths)
    token = np.asarray(pc.fill_null(pc.index_in(pc.list_flatten(interests), tokens), -1))
    shared = np.unique(owner[token >= 0] * len(tokens) + token[token >= 0])
    cols["n_common"] = np.bincount(shared // max(len(tokens), 1), minlength=len(nodes))
    score = sum(cols[flag] for flag, _ in _FLAGS) + cols["n_common"]
    other = np.asarray(pc.fill_null(pc.not_equal(ids, anchor_id), False))
    keep = np.flatnonzero((score > 0) & other)
    id_np = np.asarray(pc.fill_null(ids, 0))
    top = keep[np.lexsort((id_np[keep], -score[keep]))][:limit]
    names = nodes.column("name").take(top).to_pylist()
    return [
        {
            "id": int(id_np[i]),
            "name": name,
            **{flag: int(cols[flag][i]) for flag, _ in _FLAGS},
            "n_common": int(cols["n_common"][i]),
            "score": int(score[i]),
        }
        for i, name in zip(top, names)
    ]


def recommend_oracle_sql(
    anchor_id: int = DEFAULT_ANCHOR, limit: int = DEFAULT_LIMIT
) -> str:
    """DuckDB mirror of :func:`recommend` (same aliases, same ordering)."""
    return f"""
WITH {NODES_CTE.strip()},
{CUST_PARTS_CTE.strip()},
anchor AS (SELECT * FROM nodes WHERE id = {anchor_id}),
ncommon AS (
    SELECT cp.id, COUNT(*) AS n_common
    FROM cust_parts cp
    JOIN (SELECT interest FROM cust_parts WHERE id = {anchor_id}) ap USING (interest)
    WHERE cp.id <> {anchor_id}
    GROUP BY cp.id
),
scored AS (
    SELECT o.id AS id,
           o.name AS name,
           CASE WHEN o.college = a.college THEN 1 ELSE 0 END AS same_college,
           CASE WHEN o.board   = a.board   THEN 1 ELSE 0 END AS same_board,
           CASE WHEN o.stream  = a.stream  THEN 1 ELSE 0 END AS same_stream,
           CASE WHEN o.address = a.address THEN 1 ELSE 0 END AS nearby,
           COALESCE(nc.n_common, 0) AS n_common
    FROM nodes o
    CROSS JOIN anchor a
    LEFT JOIN ncommon nc ON nc.id = o.id
    WHERE o.id <> {anchor_id}
)
SELECT id, name, same_college, same_board, same_stream, nearby, n_common,
       (same_college + same_board + same_stream + nearby + n_common) AS score
FROM scored
WHERE (same_college + same_board + same_stream + nearby + n_common) > 0
ORDER BY score DESC, id ASC
LIMIT {limit}
"""
