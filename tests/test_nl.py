"""NL→Spark-SQL layer golden tests (SURVEY.md §5.2): the reference prompt's
authoritative Q→A pairs (/root/reference/src/llm_cypher.py:104-124) with a
mocked LLM, plus the sanitize/fence/repair stage invariants.

Name analogs: the testdata's node names (customer#…) stand in for the
reference's student names, per the SURVEY §1.4 projection.
"""

from __future__ import annotations

import pytest
from pyspark.errors import ParseException

from graphdb_neo4j_spark.nl import (
    NameDictionary,
    NLEngine,
    correct_names,
    explain_result,
    is_query,
    sanitize_sql,
    strip_markdown_fences,
)
from graphdb_neo4j_spark.nl.pipeline import check_query
from graphdb_neo4j_spark.operators.relationship import two_name_relationship
from graphdb_neo4j_spark.sources.tpch import node_snapshot

NAME_A = "customer#000000042"
NAME_B = "customer#000000043"


class MockLLM:
    """Scripted LLM: returns canned responses in order, records prompts."""

    def __init__(self, *responses: str):
        self.responses = list(responses)
        self.prompts: list[str] = []

    def __call__(self, prompt: str) -> str:
        self.prompts.append(prompt)
        return self.responses.pop(0)


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    eng = NLEngine(spark=spark, sf_dir=sf_dir, llm=None)
    eng.register_views()
    return eng


# --- golden: single-student pattern (prompt :104-109) -----------------------


def test_golden_who_is_name(engine):
    ans = engine.answer(f"who is {NAME_A}?")
    assert ans.kind == "query"
    rows = ans.df.collect()
    assert len(rows) == 1
    assert rows[0]["name"] == NAME_A
    # the 7-property detail row of the reference template (llm_cypher.py:101)
    assert set(ans.df.columns) == {
        "id", "name", "address", "college", "board", "stream", "interests"
    }
    assert NAME_A in ans.reply


def test_golden_bare_name(engine):
    ans = engine.answer(NAME_A)
    assert ans.kind == "query"
    assert ans.df.collect()[0]["name"] == NAME_A


# --- golden: two-name pattern (prompt :111-112) -----------------------------


def test_golden_connection_between(engine, spark, sf_dir):
    ans = engine.answer(f"what is the connection between {NAME_A} and {NAME_B}")
    assert ans.kind == "query"
    expected = two_name_relationship(node_snapshot(spark, sf_dir), NAME_A, NAME_B).collect()
    assert ans.df.collect() == expected
    row = ans.df.collect()[0]
    assert row["a_name"] == NAME_A and row["b_name"] == NAME_B


# --- golden: CHAT intents (prompt :114-124) ---------------------------------


@pytest.mark.parametrize(
    "question", ["hi", "hello", "what can you do?", "why need of query"]
)
def test_golden_chat_intents(spark, sf_dir, question):
    llm = MockLLM("CHAT", "Hello there!")
    eng = NLEngine(spark=spark, sf_dir=sf_dir, llm=llm)
    ans = eng.answer(question)
    assert ans.kind == "chat"
    assert ans.sql is None and ans.df is None
    assert ans.reply == "Hello there!"


def test_chat_without_llm(spark, sf_dir):
    ans = NLEngine(spark=spark, sf_dir=sf_dir, llm=None).answer("hi")
    assert ans.kind == "chat"
    assert ans.reply


# --- N1: fuzzy name correction ----------------------------------------------


def test_fuzzy_name_correction(engine):
    ans = engine.answer(f"who is custmer#000000042?")  # dropped 'o'
    assert ans.kind == "query"
    assert ans.df.collect()[0]["name"] == NAME_A


def test_correct_names_preserves_stopwords():
    names = ["customer#000000042"]
    q = correct_names("who is the custmer#000000042", names)
    assert q.startswith("who is the ")
    assert "customer#000000042" in q


def test_find_in_matches_whole_names_only():
    names = NameDictionary(names=["bob", "bobby", "ann"])
    assert names.find_in("who is bobby?") == ["bobby"]
    assert names.find_in("tell me about anna") == []
    assert names.find_in("bob and bobby") == ["bob", "bobby"]


# --- N3/N5: fence stripping + sanitize rewrites -----------------------------


def test_strip_fences():
    assert strip_markdown_fences("```sql\nSELECT 1\n```") == "SELECT 1"
    assert strip_markdown_fences("```\nSELECT 1\n```") == "SELECT 1"
    assert strip_markdown_fences("SELECT 1") == "SELECT 1"


def test_sanitize_lowercases_name_literals():
    out = sanitize_sql("SELECT * FROM nodes WHERE name = 'Customer#000000042'")
    assert out == "SELECT * FROM nodes WHERE lower(name) = 'customer#000000042'"
    out = sanitize_sql('SELECT * FROM nodes a WHERE a.Name = "BOB"')
    assert out == 'SELECT * FROM nodes a WHERE lower(a.Name) = "bob"'


def test_is_query_dispatch():
    assert is_query("SELECT 1")
    assert is_query("select name from nodes")
    assert not is_query("CHAT")
    assert not is_query("hello there")


# --- N4: parse-validate-repair loop (Catalyst as the repair oracle) ---------


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT 1",
        "WITH a AS (SELECT 1 AS x) SELECT x FROM a",
        "SELECT 1 UNION SELECT 2",
        "VALUES (1), (2)",
        "FROM (SELECT 1 AS x) SELECT x",
        "SELECT count(*) AS n FROM nodes WHERE college = 'x'",
        "WITH big AS (SELECT college FROM Nodes) SELECT * FROM big JOIN EDGES e",
        "SELECT * FROM edges_undirected WHERE src IN (SELECT id FROM nodes)",
        "SELECT upper(name), size(interests) FROM nodes",
    ],
)
def test_check_query_admits_queries(spark, sql):
    check_query(spark, sql)


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT * FROM text.`/etc/hostname`",
        "SELECT 1 WHERE EXISTS (SELECT * FROM json.`/etc/x`)",
        "SELECT * FROM spark_catalog.default.nodes",
        "SELECT * FROM secrets",
        "WITH `text, /etc/hostname` AS (SELECT 1) SELECT * FROM text.`/etc/hostname`",
        "SELECT reflect('java.lang.System', 'getProperty', 'user.name')",
        "SELECT BUILTIN.Reflect('java.lang.System', 'getProperty', 'user.name')",
        "SELECT java_method('java.lang.System', 'getProperty', 'user.name')",
        "SELECT try_reflect('java.lang.System', 'getProperty', 'user.name')",
        "SELECT transform(array(1), x -> reflect('java.lang.Math', 'abs', x))",
        "SELECT * FROM IDENTIFIER('text.`/etc/hostname`')",
        "SELECT IDENTIFIER('reflect')('java.lang.System', 'getProperty', 'user.name')",
    ],
)
def test_check_query_refuses_reads_beyond_the_views_and_reflection(spark, sql):
    with pytest.raises(ValueError, match="not allowed"):
        check_query(spark, sql)


def test_check_query_refuses_a_cte_named_after_a_catalog_view(spark):
    """A CTE name is readable in the whole query, so one that names a
    catalog view would read that view outside the CTE's scope."""
    spark.sql("SELECT 'top secret' AS s").createOrReplaceTempView("secret_t")
    try:
        for sql in [
            "SELECT * FROM (WITH secret_t AS (SELECT 1 AS x) SELECT * FROM secret_t) a,"
            " secret_t b",
            "WITH a AS (SELECT * FROM secret_t), secret_t AS (SELECT 1 AS x) SELECT * FROM a",
        ]:
            with pytest.raises(ValueError, match="not allowed"):
                check_query(spark, sql)
    finally:
        spark.catalog.dropTempView("secret_t")


def _refused_twice(spark, sf_dir, sql):
    """An LLM that answers ``sql`` and repairs it to ``sql`` again: the
    engine must give up rather than run it."""
    from graphdb_neo4j_spark.nl.pipeline import NLQueryError

    llm = MockLLM(sql, sql)
    with pytest.raises(NLQueryError, match="not allowed"):
        NLEngine(spark=spark, sf_dir=sf_dir, llm=llm).answer("show me the data please")
    assert len(llm.prompts) == 2  # the refusal went through the repair round


def test_llm_sql_cannot_read_a_local_file(spark, sf_dir, tmp_path):
    secret = tmp_path / "secret.txt"
    secret.write_text("s3cret\n")
    _refused_twice(spark, sf_dir, f"SELECT * FROM text.`{secret}`")
    _refused_twice(spark, sf_dir, f"SELECT * FROM IDENTIFIER('text.`{secret}`')")


@pytest.mark.parametrize("fn", ["reflect", "builtin.reflect", "java_method"])
def test_llm_sql_cannot_call_java_methods(spark, sf_dir, fn):
    _refused_twice(
        spark, sf_dir, f"SELECT {fn}('java.lang.System', 'getProperty', 'user.name') AS u"
    )


@pytest.mark.parametrize(
    "sql",
    [
        "INSERT OVERWRITE DIRECTORY '/nonexistent/x' USING csv SELECT 1",
        "INSERT INTO t SELECT 1",
        "CREATE TABLE t AS SELECT 1",
        "CREATE OR REPLACE TEMP VIEW nodes AS SELECT 1",
        "WITH a AS (SELECT 1 AS x) INSERT INTO t SELECT x FROM a",
        "SELECT 1; SELECT 2",
        "DROP VIEW nodes",
    ],
)
def test_check_query_refuses_commands(spark, sql):
    with pytest.raises(ParseException):
        check_query(spark, sql)


def test_repair_loop_fixes_bad_sql(spark, sf_dir, engine):
    llm = MockLLM(
        "```sql\nSELECT name FROM nodez LIMIT 5\n```",  # bad table name
        "SELECT name FROM nodes LIMIT 5",  # repaired on 2nd round
    )
    eng = NLEngine(spark=spark, sf_dir=sf_dir, llm=llm)
    ans = eng.answer("list five node names please")
    assert ans.kind == "query"
    assert ans.attempts == 2
    assert len(ans.df.collect()) == 5
    assert "Error" in llm.prompts[1] or "nodez" in llm.prompts[1]


def test_repair_gives_up_after_max_attempts(spark, sf_dir):
    llm = MockLLM("SELECT broken FROM nowhere", "SELECT still FROM nowhere")
    eng = NLEngine(spark=spark, sf_dir=sf_dir, llm=llm, max_repair_attempts=2)
    from graphdb_neo4j_spark.nl.pipeline import NLQueryError

    with pytest.raises(NLQueryError):
        eng.answer("something unanswerable")


# --- N7: explanation templates ----------------------------------------------


def test_explain_count_fast_path():
    out = explain_result("how many students", [{"n": 150}])
    assert "150" in out


def test_explain_empty():
    assert "couldn't find" in explain_result("who is nobody", [])


def test_llm_sql_count_roundtrip(spark, sf_dir, engine):
    llm = MockLLM("SELECT COUNT(*) AS n FROM nodes")
    eng = NLEngine(spark=spark, sf_dir=sf_dir, llm=llm)
    ans = eng.answer("how many students are there in total")
    assert ans.kind == "query"
    n = ans.df.collect()[0]["n"]
    assert str(n) in ans.reply
