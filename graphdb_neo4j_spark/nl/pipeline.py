"""N2–N7 — LLM codegen to Spark SQL, sanitize pipeline, parse-validate-
repair, dispatch, execution, and result explanation.

Stage map to the reference (/root/reference/src/llm_cypher.py):

| stage | reference | here |
|---|---|---|
| N2 codegen prompt contract | :60-135 (Cypher) | :func:`build_prompt` (Spark SQL over ``nodes``/``edges`` views) |
| N3 fence stripping | :141-148 | :func:`strip_markdown_fences` |
| N4 syntax repair | :151-162, 186-224 (regex fixes) | :func:`NLEngine.run_sql` — ``spark.sql`` parse/analysis IS the validator; on failure the error text is fed back to the LLM for one repair round (Catalyst as the repair oracle, SURVEY.md §2.10-N4) |
| N5 semantic guard rewrite | :165-183 (force case-insensitive names) | :func:`sanitize_sql` (lowercase name literals — data is lowercase at rest) |
| N6 dispatch heuristic | :404-416 (``\\bMATCH\\b``) | :func:`is_query` (``\\bSELECT\\b``) |
| N7 result explanation | :248-345 (count fast-path :300-312) | :func:`explain_result` |

The LLM is injected as ``Callable[[str], str]`` — tests use mocks; a
driver-side HTTP client for any OpenAI/Ollama-style endpoint can be
plugged in by the embedding application. No LLM is required for the two
authoritative template shapes: the template dispatch recognizes one-name /
two-name questions directly from the (fuzzy-corrected) name dictionary
and routes them to the engine's native operators.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from graphdb_neo4j_spark.nl.names import NameDictionary
from graphdb_neo4j_spark.sources.tpch import node_snapshot

LLMClient = Callable[[str], str]

CHAT_SENTINEL = "CHAT"

# --- N2: prompt contract ----------------------------------------------------

SCHEMA_DOC = """
Tables available (Spark SQL views):
  nodes(id BIGINT, name STRING, address STRING, college STRING,
        board STRING, stream STRING, interests ARRAY<STRING>)
  edges(src BIGINT, dst BIGINT, type STRING, common ARRAY<STRING>)
      -- derived edges, canonical orientation src < dst
  edges_undirected(src BIGINT, dst BIGINT, type STRING, common ARRAY<STRING>)
      -- both orientations; USE THIS for relationship lookups
""".strip()

SINGLE_STUDENT_SQL = """
SELECT id, name, address, college, board, stream, interests
FROM nodes
WHERE lower(name) = lower('{name}')
LIMIT 1
""".strip()

TWO_NAME_SQL = """
SELECT a.name AS a_name, b.name AS b_name,
       sort_array(collect_list(e.type)) AS rel_types,
       any_value(a.college = b.college) AS same_college,
       any_value(a.board = b.board) AS same_board,
       any_value(a.stream = b.stream) AS same_stream,
       any_value(array_intersect(a.interests, b.interests)) AS common_interests
FROM nodes a
JOIN nodes b
  ON lower(a.name) = lower('{name_a}') AND lower(b.name) = lower('{name_b}')
LEFT JOIN edges_undirected e ON e.src = a.id AND e.dst = b.id
GROUP BY a.id, a.name, b.id, b.name
LIMIT 25
""".strip()


def build_prompt(question: str) -> str:
    """The codegen contract — same intent-handling rules as the reference
    prompt (llm_cypher.py:68-131), targeting Spark SQL."""
    return f"""You are an expert Spark SQL developer. Produce a single valid Spark SQL query only, no explanation or extra text.

{SCHEMA_DOC}

Absolute instructions:
- Only output one SQL query. No comments, no prose, no markdown.
- Node names are stored in lowercase. Always compare names case-insensitively: lower(name) = lower('the name').
- For other textual properties (college, board, stream), case-insensitive comparison is acceptable.
- Do not invent relationship types; when asked about relationships use the edges_undirected view and return type and common.

Intent handling:
- If the input is a greeting or small-talk (e.g., "hi", "hello", "hey", "how are you", "thanks"), do NOT produce SQL. Output exactly CHAT.
- If the input asks general capability/meta (e.g., "what can you do", "why need of query", "help"), output exactly CHAT.
- If the input contains a single personal name, produce the SINGLE-STUDENT DETAILS QUERY below.
- If the input contains exactly two distinct personal names, produce the TWO-NAME RELATIONSHIP QUERY below.

Two-name relationship pattern (case-insensitive):
{TWO_NAME_SQL.format(name_a="FirstName", name_b="SecondName")}

Single-student details pattern (case-insensitive):
{SINGLE_STUDENT_SQL.format(name="StudentName")}

Examples (authoritative):
Q: who is dikshanta?
A: (single-student details pattern, name 'dikshanta')

Q: dikshanta
A: (single-student details pattern, name 'dikshanta')

Q: what is the connection between Umesh and Rohan
A: (two-name relationship pattern, names 'umesh' and 'rohan')

Q: hi
A: CHAT

Q: hello
A: CHAT

Q: what can you do?
A: CHAT

Q: why need of query
A: CHAT

Fallback rule:
- Otherwise produce the most concise, syntactically-correct Spark SQL that answers the question. If the input is casual chat, return CHAT.

Question:
{question}
"""


def repair_prompt(question: str, sql: str, error: str) -> str:
    """N4 — feed the Catalyst parser/analyzer error back for one repair."""
    return f"""The following Spark SQL query failed. Fix it and output ONLY the corrected SQL, no explanation, no markdown.

{SCHEMA_DOC}

Question it must answer:
{question}

Failing query:
{sql}

Error:
{error}
"""


# --- N3: fence stripping ----------------------------------------------------


def strip_markdown_fences(text: str) -> str:
    """Strip ``` / ```sql fences (reference strip_markdown_code_blocks,
    llm_cypher.py:141-148)."""
    text = re.sub(r"^```(?:sql|cypher)?\s*\n?", "", text.strip(), flags=re.MULTILINE)
    text = re.sub(r"\n?```\s*$", "", text.strip(), flags=re.MULTILINE)
    return text.strip()


# --- N5: semantic guard rewrite ---------------------------------------------

_NAME_EQ_RE = re.compile(
    r"(?<!lower\()((?:[A-Za-z_][A-Za-z0-9_]*\.)?[Nn]ame)\s*=\s*(['\"])(.+?)\2"
)


def sanitize_sql(q: str) -> str:
    """Normalize whitespace + force case-insensitive name equality
    (reference enforce_case_insensitive_name_matching, llm_cypher.py:165-183
    — names are lowercase at rest, so ``name = 'Bob'`` can never match)."""
    q = re.sub(r"\s+", " ", q).strip().rstrip(";")

    def eq_repl(m: re.Match) -> str:
        prop, quote, lit = m.group(1), m.group(2), m.group(3)
        return f"lower({prop}) = {quote}{lit.lower()}{quote}"

    return _NAME_EQ_RE.sub(eq_repl, q)


# --- N6: dispatch heuristic -------------------------------------------------


def is_query(text: str) -> bool:
    """Reference dispatches on ``\\bMATCH\\b`` (llm_cypher.py:405); the SQL
    analog is SELECT."""
    return bool(re.search(r"\bSELECT\b", text, re.IGNORECASE))


# --- N7: result explanation -------------------------------------------------


def explain_result(question: str, rows: list[dict]) -> str:
    """Deterministic explanation template (reference explain_result /
    explain_result_with_llm fast paths, llm_cypher.py:248-312): empty
    message, single-scalar count fast-path, else a per-row detail list."""
    if not rows:
        return "I'm sorry, but I couldn't find any students matching your query in the database."
    first = rows[0]
    if len(rows) == 1 and len(first) == 1:
        value = next(iter(first.values()))
        if isinstance(value, (int, float)) and not isinstance(value, bool):
            return f"There are {value} students matching your query in the database."
    details = []
    for row in rows[:5]:
        details.append(
            "; ".join(f"{k}: {v}" for k, v in row.items() if v is not None)
        )
    more = f" (and {len(rows) - 5} more)" if len(rows) > 5 else ""
    return "I found the following matches:\n" + "\n".join(details) + more


# --- the engine -------------------------------------------------------------


class NLQueryError(RuntimeError):
    """SQL failed to parse/analyze after all repair attempts."""


@dataclass
class NLAnswer:
    kind: str  # 'query' | 'chat'
    question: str  # after fuzzy name correction
    sql: str | None = None
    df: DataFrame | None = None
    # a template's rows (dicts) when the engine reads a driver-side
    # ``table``; ``df`` is None then
    rows: list[dict] | None = None
    reply: str | None = None
    attempts: int = 1


@dataclass
class NLEngine:
    """End-to-end NL pipeline over a loaded graph (entry point A,
    SURVEY.md §3.1): correct → (template | LLM codegen) → sanitize →
    validate/repair → execute → explain."""

    spark: SparkSession
    sf_dir: str
    llm: LLMClient | None = None
    max_repair_attempts: int = 2
    # the node table the name dictionary and the templates read; None =
    # the persisted snapshot of ``sf_dir``
    nodes: DataFrame | None = field(default=None, repr=False)
    # the same node table held on the driver; when set, the dictionary and
    # the templates read it instead, with no Spark job
    table: pa.Table | None = field(default=None, repr=False)
    _names: NameDictionary | None = field(default=None, repr=False)
    _views_registered: bool = field(default=False, repr=False)

    # -- setup ---------------------------------------------------------------

    def register_views(self) -> None:
        """Create the lazy temp views the SQL surface queries (nodes with
        interests, canonical edges, undirected edge view §7.4-H5).
        :meth:`run_sql` calls it on the first question that reaches it, so
        the template path never pays for the views. The ``nodes`` view is
        the base snapshot of ``sf_dir``, without a service's overlay."""
        from graphdb_neo4j_spark.graph import PropertyGraph
        from graphdb_neo4j_spark.operators.edges import derive_all_edges

        nodes = node_snapshot(self.spark, self.sf_dir)
        edges = derive_all_edges(self.spark, self.sf_dir)
        nodes.createOrReplaceTempView("nodes")
        edges.createOrReplaceTempView("edges")
        PropertyGraph(nodes=nodes, edges=edges).edges_undirected().createOrReplaceTempView(
            "edges_undirected"
        )
        self._views_registered = True

    def node_table(self) -> DataFrame:
        if self.nodes is not None:
            return self.nodes
        return node_snapshot(self.spark, self.sf_dir)

    @property
    def names(self) -> NameDictionary:
        if self._names is None:
            self._names = NameDictionary.from_nodes(
                self.node_table() if self.table is None else self.table
            )
        return self._names

    # -- stages --------------------------------------------------------------

    def template_dispatch(
        self, question: str
    ) -> tuple[DataFrame | list[dict], str] | None:
        """The two authoritative shapes (llm_cypher.py:86-102) resolved
        DETERMINISTICALLY from the name dictionary — no LLM round-trip —
        and executed through the engine's native operators (pure-pair
        plans, not graph-wide SQL). Returns (result, display_sql) or None;
        the result is a DataFrame, or over a driver-side ``table`` the
        rows themselves (dicts, as the DataFrame's ``collect()`` gives)."""
        from graphdb_neo4j_spark.operators import lookup, relationship

        found = self.names.find_in(question)
        arrow = self.table is not None
        nodes = self.table if arrow else self.node_table()
        if len(found) == 1:
            detail = (
                lookup.single_student_detail_arrow if arrow
                else lookup.single_student_detail
            )
            return (
                detail(nodes, found[0]),
                SINGLE_STUDENT_SQL.format(name=found[0].replace("'", "''")),
            )
        if len(found) == 2:
            pair = (
                relationship.two_name_relationship_arrow if arrow
                else relationship.two_name_relationship
            )
            return (
                pair(nodes, found[0], found[1]),
                TWO_NAME_SQL.format(
                    name_a=found[0].replace("'", "''"),
                    name_b=found[1].replace("'", "''"),
                ),
            )
        return None

    def generate_sql(self, question: str) -> str:
        """LLM codegen for everything the templates don't cover."""
        if self.llm is None:
            return CHAT_SENTINEL
        return strip_markdown_fences(self.llm(build_prompt(question)))

    def run_sql(self, question: str, sql: str) -> tuple[DataFrame, str, int]:
        """N4 validate/repair loop: ``spark.sql`` parses AND analyzes
        eagerly, so Catalyst is the syntax+semantic validator; on failure
        the error is round-tripped to the LLM."""
        if not self._views_registered:
            self.register_views()
        attempts = 0
        while True:
            attempts += 1
            try:
                return self.spark.sql(sql), sql, attempts
            except Exception as e:  # ParseException / AnalysisException
                if self.llm is None or attempts >= self.max_repair_attempts:
                    raise NLQueryError(f"SQL failed after {attempts} attempt(s): {e}") from e
                sql = sanitize_sql(
                    strip_markdown_fences(self.llm(repair_prompt(question, sql, str(e))))
                )

    # -- entry point ---------------------------------------------------------

    def answer(self, question: str, explain: bool = True) -> NLAnswer:
        corrected = self.names.correct(question)

        templated = self.template_dispatch(corrected)
        if templated is not None:
            result, display_sql = templated
            df, rows = (None, result) if isinstance(result, list) else (result, None)
            reply = None
            if explain:
                shown = (
                    rows[:25] if df is None
                    else [r.asDict(recursive=True) for r in df.limit(25).collect()]
                )
                reply = explain_result(corrected, shown)
            return NLAnswer(
                kind="query",
                question=corrected,
                sql=display_sql,
                df=df,
                rows=rows,
                reply=reply,
            )

        text = self.generate_sql(corrected)
        if not is_query(text):
            # N6 chat path: the LLM (or a canned line without one) replies.
            reply = (
                self.llm(f"Reply conversationally and concisely.\nUser: {corrected}\nReply:")
                if self.llm is not None
                else "Hi there! Ask me about students in the database."
            )
            return NLAnswer(kind="chat", question=corrected, reply=reply)
        sql = sanitize_sql(text)
        df, final_sql, attempts = self.run_sql(corrected, sql)
        reply = None
        if explain:
            rows = [r.asDict(recursive=True) for r in df.limit(25).collect()]
            reply = explain_result(corrected, rows)
        return NLAnswer(
            kind="query",
            question=corrected,
            sql=final_sql,
            df=df,
            reply=reply,
            attempts=attempts,
        )
