"""Two-name relationship query (J4 + J5 + F7) — the reference's
"what is the connection between X and Y" template.

Reference semantics (/root/reference/src/llm_cypher.py:86-96):
    OPTIONAL MATCH p = (a)-[r]-(b)  -- undirected, keep a/b even with no edge
    RETURN a.name, b.name,
           [rel IN relationships(p) | type(rel)]        AS rel_types,
           [rel IN relationships(p) | properties(rel)]  AS rel_props,
           a.college = b.college                        AS same_college,
           a.board   = b.board                          AS same_board,
           a.stream  = b.stream                         AS same_stream,
           [x IN a.interests WHERE x IN b.interests]    AS common_interests

Spark shape — a PURE PAIR computation over the node table (each row holds
the node's interests as an array). Every derived edge type between two
specific nodes is decidable from the two node rows alone: attribute
equality plus the intersection of the two interest arrays. So the plan is
the two name-filtered rows of the node table (predicate pushdown to the
scan) crossed into a 1×1 row — NOTHING graph-wide is built, and no fact
table is read.

``rel_props`` carries the one edge property in the model — the sorted
``common`` interest list on SHARES_INTEREST (reference stores it at
create_relationships.py:86) — serialized per edge as ``TYPE:{...}`` joined
with ``|`` so the oracle hash is representation-stable across engines.

:func:`two_name_relationship_arrow` is the same pair computation in Python
over a driver-side node table (``pyarrow.Table``).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_neo4j_spark.sources.tpch import CUST_PARTS_CTE, NODES_CTE

DEFAULT_A = "Customer#000000042"
DEFAULT_B = "Customer#000000043"

# (edge type, node attribute it compares) — order matters only for the
# array literal; output is array_sort'ed in both engines.
_ATTR_EDGE_FLAGS = (
    ("SAME_COLLEGE", "college"),
    ("SAME_BOARD", "board"),
    ("SAME_STREAM", "stream"),
    ("NEARBY", "address"),
)


def _pair(nodes: DataFrame, name_a: str, name_b: str, cols: tuple[str, ...]) -> DataFrame:
    """The rows named ``name_a`` × the rows named ``name_b`` (names compared
    trimmed and lowercased), columns prefixed ``a_`` / ``b_``."""

    def side(name: str, prefix: str) -> DataFrame:
        return nodes.filter(F.col("name") == name.strip().lower()).select(
            *[F.col(c).alias(f"{prefix}_{c}") for c in cols]
        )

    return side(name_a, "a").crossJoin(side(name_b, "b"))


def two_name_relationship(
    nodes: DataFrame,
    name_a: str = DEFAULT_A,
    name_b: str = DEFAULT_B,
) -> DataFrame:
    """Relationship summary between two nodes looked up by name in a node
    table with an ``interests`` array."""
    pair = _pair(
        nodes,
        name_a,
        name_b,
        ("id", "name", "college", "board", "stream", "address", "interests"),
    ).withColumn("common", F.array_sort(F.array_intersect("a_interests", "b_interests")))
    n_common = F.size("common").cast("long")

    # Every edge type decided on the pair row itself (same predicates as the
    # backfill: non-empty attribute + equality; SHARES_INTEREST at ≥1 token).
    type_cells = [
        F.when(
            (F.col(f"a_{attr}") == F.col(f"b_{attr}")) & (F.col(f"a_{attr}") != ""),
            F.lit(etype),
        )
        for etype, attr in _ATTR_EDGE_FLAGS
    ] + [F.when(n_common >= 1, F.lit("SHARES_INTEREST"))]
    types_arr = F.array_sort(
        F.filter(F.array(*type_cells), lambda x: x.isNotNull())
    )

    rel_props = F.concat_ws(
        "|",
        F.transform(
            types_arr,
            lambda t: F.concat(
                t,
                F.lit(":{"),
                F.when(
                    t == "SHARES_INTEREST",
                    F.concat(
                        F.lit("common=["), F.concat_ws(",", "common"), F.lit("]")
                    ),
                ).otherwise(F.lit("")),
                F.lit("}"),
            ),
        ),
    )

    return pair.withColumn("types_arr", types_arr).select(
        "a_id",
        "a_name",
        "b_id",
        "b_name",
        F.concat_ws(",", "types_arr").alias("rel_types"),
        F.size("types_arr").cast("long").alias("n_rels"),
        rel_props.alias("rel_props"),
        (F.col("a_college") == F.col("b_college")).alias("same_college"),
        (F.col("a_board") == F.col("b_board")).alias("same_board"),
        (F.col("a_stream") == F.col("b_stream")).alias("same_stream"),
        n_common.alias("n_common_interests"),
    )


def _equal(a, b) -> bool | None:
    """SQL ``a = b``: NULL when either side is NULL."""
    return None if a is None or b is None else a == b


def two_name_relationship_arrow(
    nodes: pa.Table,
    name_a: str = DEFAULT_A,
    name_b: str = DEFAULT_B,
) -> list[dict]:
    """:func:`two_name_relationship` over a driver-side node table: the
    same rows, as dicts, the rows named ``name_a`` outer and those named
    ``name_b`` inner, each in table order."""

    def side(name: str) -> list[dict]:
        hit = pc.fill_null(pc.equal(nodes.column("name"), name.strip().lower()), False)
        return nodes.filter(hit).to_pylist()

    out = []
    for a in side(name_a):
        for b in side(name_b):
            common = sorted(set(a["interests"]) & set(b["interests"]))
            types = sorted(
                [etype for etype, attr in _ATTR_EDGE_FLAGS
                 if _equal(a[attr], b[attr]) and a[attr] != ""]
                + (["SHARES_INTEREST"] if common else [])
            )
            props = "|".join(
                t + ":{" + ("common=[" + ",".join(common) + "]" if t == "SHARES_INTEREST" else "") + "}"
                for t in types
            )
            out.append({
                "a_id": a["id"],
                "a_name": a["name"],
                "b_id": b["id"],
                "b_name": b["name"],
                "rel_types": ",".join(types),
                "n_rels": len(types),
                "rel_props": props,
                "same_college": _equal(a["college"], b["college"]),
                "same_board": _equal(a["board"], b["board"]),
                "same_stream": _equal(a["stream"], b["stream"]),
                "n_common_interests": len(common),
            })
    return out


def two_name_relationship_sql(
    name_a: str = DEFAULT_A, name_b: str = DEFAULT_B
) -> str:
    ea = name_a.replace("'", "''")
    eb = name_b.replace("'", "''")
    return f"""
WITH {NODES_CTE.strip()},
{CUST_PARTS_CTE.strip()},
a AS (SELECT * FROM nodes WHERE name = lower(trim('{ea}'))),
b AS (SELECT * FROM nodes WHERE name = lower(trim('{eb}'))),
common AS (
    SELECT p1.interest
    FROM (SELECT interest FROM cust_parts JOIN a ON cust_parts.id = a.id) p1
    JOIN (SELECT interest FROM cust_parts JOIN b ON cust_parts.id = b.id) p2
      ON p1.interest = p2.interest
),
cstats AS (
    SELECT COUNT(*) AS n_common_interests,
           COALESCE(string_agg(interest, ',' ORDER BY interest), '') AS common_interests
    FROM common
),
flags AS (
    SELECT a.id AS a_id, a.name AS a_name, b.id AS b_id, b.name AS b_name,
           a.college = b.college AS same_college,
           a.board   = b.board   AS same_board,
           a.stream  = b.stream  AS same_stream,
           cs.n_common_interests, cs.common_interests,
           list_sort([t FOR t IN [
               CASE WHEN a.college = b.college AND a.college <> '' THEN 'SAME_COLLEGE' END,
               CASE WHEN a.board   = b.board   AND a.board   <> '' THEN 'SAME_BOARD'   END,
               CASE WHEN a.stream  = b.stream  AND a.stream  <> '' THEN 'SAME_STREAM'  END,
               CASE WHEN a.address = b.address AND a.address <> '' THEN 'NEARBY'       END,
               CASE WHEN cs.n_common_interests >= 1 THEN 'SHARES_INTEREST' END
           ] IF t IS NOT NULL]) AS types_arr
    FROM a CROSS JOIN b CROSS JOIN cstats cs
)
SELECT a_id, a_name, b_id, b_name,
       array_to_string(types_arr, ',') AS rel_types,
       CAST(len(types_arr) AS BIGINT) AS n_rels,
       array_to_string(
           [t || ':{{' ||
            CASE WHEN t = 'SHARES_INTEREST'
                 THEN 'common=[' || common_interests || ']'
                 ELSE '' END || '}}'
            FOR t IN types_arr], '|') AS rel_props,
       same_college, same_board, same_stream,
       n_common_interests
FROM flags
"""


def common_interests_pair(
    nodes: DataFrame,
    name_a: str = DEFAULT_A,
    name_b: str = DEFAULT_B,
) -> DataFrame:
    """F7 — the interest-intersection list itself (the reference's
    ``[x IN a.interests WHERE x IN b.interests]``, llm_cypher.py:95),
    emitted as a sorted comma-joined string for hash stability, from the
    two name-filtered rows of the node table."""
    common = F.array_intersect("a_interests", "b_interests")
    return _pair(nodes, name_a, name_b, ("id", "interests")).select(
        "a_id",
        "b_id",
        F.concat_ws(",", F.array_sort(common)).alias("common_interests"),
        F.size(common).alias("n_common"),
    )


def common_interests_pair_sql(
    name_a: str = DEFAULT_A, name_b: str = DEFAULT_B
) -> str:
    ea = name_a.replace("'", "''")
    eb = name_b.replace("'", "''")
    return f"""
WITH {NODES_CTE.strip()},
{CUST_PARTS_CTE.strip()},
a AS (SELECT id FROM nodes WHERE name = lower(trim('{ea}'))),
b AS (SELECT id FROM nodes WHERE name = lower(trim('{eb}'))),
common AS (
    SELECT p1.interest
    FROM (SELECT interest FROM cust_parts JOIN a ON cust_parts.id = a.id) p1
    JOIN (SELECT interest FROM cust_parts JOIN b ON cust_parts.id = b.id) p2
      ON p1.interest = p2.interest
)
SELECT a.id AS a_id, b.id AS b_id,
       COALESCE((SELECT string_agg(interest, ',' ORDER BY interest) FROM common), '')
           AS common_interests,
       CAST((SELECT COUNT(*) FROM common) AS INT) AS n_common
FROM a CROSS JOIN b
"""
