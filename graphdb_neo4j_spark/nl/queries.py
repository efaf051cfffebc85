"""Registered (oracle-checked) query forms of the NL layer (N1-N7).

The NL pipeline is deterministic everywhere except the pluggable LLM:
fuzzy name correction (N1), template dispatch (N6), and the sanitize/
validate stages (N3-N5) need no model at all, and the codegen path (N2/N4)
is exercised here with a canned generator. That makes the whole layer
oracle-checkable: each query below routes a natural-language question
through :class:`~graphdb_neo4j_spark.nl.pipeline.NLEngine` and returns the
resulting DataFrame, whose DuckDB mirror is plain SQL over the same
parquet.

Reference parity: the questions mirror the authoritative examples in the
reference's prompt contract (/root/reference/src/llm_cypher.py:104-124 —
"who is X?" and "what is the connection between X and Y"), with a
misspelling to exercise the fuzzy correction stage (llm_cypher.py:41-57).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.nl.pipeline import NLEngine
from graphdb_neo4j_spark.operators.lookup import point_lookup_sql  # noqa: F401 (doc aid)
from graphdb_neo4j_spark.operators.relationship import two_name_relationship_sql
from graphdb_neo4j_spark.sources.tpch import CUST_PARTS_CTE, NODES_CTE

NAME_A = "Customer#000000042"
NAME_B = "Customer#000000043"
# Misspelled forms — exercise N1 fuzzy correction before dispatch.
TYPO_A = "Custoner#000000042"


def q_nl_single_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1+N6 — "who is <misspelled name>?" → fuzzy-correct → single-student
    template → point-lookup plan. The interests array is emitted as a
    sorted comma-join for hash stability."""
    eng = NLEngine(spark, sf_dir)
    ans = eng.answer(f"who is {TYPO_A}?", explain=False)
    assert ans.kind == "query" and ans.df is not None
    return ans.df.select(
        "id",
        "name",
        "address",
        "college",
        "board",
        "stream",
        F.concat_ws(",", F.array_sort("interests")).alias("interests"),
    )


def nl_single_name_sql() -> str:
    escaped = NAME_A.replace("'", "''")
    return f"""
WITH {NODES_CTE.strip()},
{CUST_PARTS_CTE.strip()}
SELECT id, name, address, college, board, stream,
       COALESCE((SELECT string_agg(interest, ',' ORDER BY interest)
                 FROM cust_parts cp WHERE cp.id = nodes.id), '') AS interests
FROM nodes WHERE name = lower(trim('{escaped}'))
"""


def q_nl_two_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1+N6 — "what is the connection between X and Y" → two-name template
    → pure-pair relationship plan (no graph-wide work)."""
    eng = NLEngine(spark, sf_dir)
    ans = eng.answer(
        f"what is the connection between {NAME_A} and {NAME_B}", explain=False
    )
    assert ans.kind == "query" and ans.df is not None
    return ans.df


def nl_two_name_sql() -> str:
    return two_name_relationship_sql(NAME_A, NAME_B)


def _canned_llm(prompt: str) -> str:
    """Deterministic stand-in generator: always emits the fenced count
    query (markdown fences exercise N3; the uppercase SELECT exercises the
    N6 dispatch; running it through spark.sql exercises N4 validation)."""
    return "```sql\nSELECT COUNT(*) AS n FROM nodes\n```"


def q_nl_codegen_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2-N6 — a question outside both templates goes through codegen:
    prompt build → (canned) LLM → fence strip → sanitize → Catalyst
    validate → execute against the registered views."""
    eng = NLEngine(spark, sf_dir, llm=_canned_llm)
    ans = eng.answer("how many students are there in total", explain=False)
    assert ans.kind == "query" and ans.df is not None
    return ans.df


NL_CODEGEN_COUNT_SQL = f"""
WITH {NODES_CTE.strip()}
SELECT COUNT(*) AS n FROM nodes
"""
