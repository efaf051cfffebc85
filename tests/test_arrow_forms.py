"""The driver-side (``*_arrow``) forms of the service's reads return what
their Spark forms' ``collect()`` returns, on the same hand-built node
table: snapshot rows ∪ overlay rows, as ``GraphService`` reads them."""

from __future__ import annotations

import random

import pyarrow as pa
import pytest

from graphdb_neo4j_spark.functions.fuzz import levenshtein_distances
from graphdb_neo4j_spark.nl.names import NameDictionary
from graphdb_neo4j_spark.nl.pipeline import NLEngine
from graphdb_neo4j_spark.operators import lookup
from graphdb_neo4j_spark.operators.fuzzy import fuzzy_search, fuzzy_search_arrow
from graphdb_neo4j_spark.operators.recommend import recommend, recommend_arrow
from graphdb_neo4j_spark.operators.relationship import (
    two_name_relationship,
    two_name_relationship_arrow,
)
from graphdb_neo4j_spark.sources.tpch import ARROW_NODE_SCHEMA, NODE_SCHEMA

_ATTRS = [None, "", "x", "y"]
_TOKENS = ["1", "2", "3", "10", "20"]


def _base_rows() -> list[tuple]:
    """Seeded random nodes plus fixed edge cases: NULL and '' attributes,
    empty interests, a duplicated name, names with '#', NULL names, ties."""
    rng = random.Random(7)
    rows = [
        (
            i,
            f"customer#{i:03d}",
            rng.choice(_ATTRS),
            rng.choice(_ATTRS),
            rng.choice(_ATTRS),
            rng.choice(_ATTRS),
            sorted(rng.sample(_TOKENS, rng.randint(0, 3))),
        )
        for i in range(1, 25)
    ]
    rows += [
        (30, "abc", "", "", "", "", []),
        (31, "abd", None, None, None, None, []),  # 'abc' scores 66.6667 here
        (32, "customer#005", "x", "x", "x", "x", ["1", "2"]),  # a duplicated name
        (33, None, "x", "", "y", None, ["3"]),
        (34, "", "y", "y", "y", "y", ["10", "20"]),
        (35, "ab", "x", "x", "x", "x", ["1"]),
    ]
    return rows[::-1]  # table order is not id order


# overlay rows, as save_student appends them: a token repeated
_OVERLAY = [
    (40, "zelda quill", "x", "x", "x", "x", ["1", "1", "2"]),
    (41, "abc", "y", None, "", "x", ["20", "20"]),  # a second 'abc'
]


def _rows_of(rows):
    cols = list(ARROW_NODE_SCHEMA.names)
    return [dict(zip(cols, r)) for r in rows]


@pytest.fixture(scope="module")
def tables(spark):
    """(Spark snapshot ∪ overlay, the same rows as one Arrow table)."""
    base = pa.Table.from_pylist(_rows_of(_base_rows()), schema=ARROW_NODE_SCHEMA)
    overlay = pa.Table.from_pylist(_rows_of(_OVERLAY), schema=ARROW_NODE_SCHEMA)
    df = spark.createDataFrame(base, NODE_SCHEMA).unionByName(
        spark.createDataFrame(overlay, NODE_SCHEMA)
    )
    return df, pa.concat_tables([base, overlay])


def _collected(df) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def _typed(rows: list[dict]) -> list[list]:
    """Rows with each value's type, so 1 and True or 1 and 1.0 differ."""
    return [[(k, type(v), v) for k, v in r.items()] for r in rows]


_ANCHORS = [1, 5, 12, 30, 32, 34, 40, 41, 99, 0]


@pytest.mark.parametrize("limit", [None, 3])
def test_recommend_forms_agree(tables, limit):
    df, tab = tables
    for anchor in _ANCHORS:
        want = _collected(recommend(df, anchor, limit))
        assert _typed(recommend_arrow(tab, anchor, limit)) == _typed(want), anchor


def test_recommend_counts_distinct_shared_tokens(tables):
    """Overlay rows repeat tokens; a shared token counts once."""
    _, tab = tables
    rows = {r["id"]: r for r in recommend_arrow(tab, 40, None)}
    assert rows[32]["n_common"] == 2 and rows[32]["score"] == 6
    assert recommend_arrow(tab, 99, None) == []


# (query, threshold, k): 'abc' vs 'abd' is 66.66666… before rounding, so
# 66.6667 keeps it only after rounding; 'customer#00' ties many names
_SEARCHES = [
    ("abc", 66.6667, 10),
    ("abc", 66.66675, 10),
    ("  ABD ", 0.0, 50),
    ("customer#00", 60.0, 5),
    ("custoner#005", 60.0, 10),
    ("zelda quil", 75.0, 3),
    ("", 0.0, 100),
]


@pytest.mark.parametrize("query,threshold,k", _SEARCHES)
def test_search_forms_agree(tables, query, threshold, k):
    df, tab = tables
    want = _collected(fuzzy_search(df, query, threshold, k))
    assert _typed(fuzzy_search_arrow(tab, query, threshold, k)) == _typed(want)


def test_search_rounds_before_the_threshold(tables):
    _, tab = tables
    ids = {r["id"] for r in fuzzy_search_arrow(tab, "abc", 66.6667, 50)}
    assert 31 in ids  # 'abd' at 66.66666…, rounded to 66.6667


def test_levenshtein_distances_match_the_python_dp():
    def dp(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(3)
    names = ["".join(rng.choice("ab#é漢") for _ in range(rng.randint(0, 9))) for _ in range(300)]
    for query in ["", "a", "ab#", "é漢ab#ba"]:
        assert levenshtein_distances(names, query).tolist() == [dp(n, query) for n in names]


def test_point_and_exists_forms_agree(tables):
    df, tab = tables
    for node_id in _ANCHORS:
        assert lookup.point_lookup_arrow(tab, node_id) == _collected(
            lookup.point_lookup(df, node_id)
        )
        assert lookup.exists_arrow(tab, node_id) == _collected(lookup.exists(df, node_id))
    assert lookup.node_names_arrow(tab) == _collected(lookup.node_names(df))


_PAIRS = [
    ("customer#001", "customer#002"),
    ("Customer#005 ", "zelda quill"),  # customer#005 names two rows
    ("abc", "customer#005"),  # so does abc: 2 × 2 rows
    ("ab", "abd"),  # NULL attributes on one side
    ("customer#001", "nobody"),
]


@pytest.mark.parametrize("a,b", _PAIRS)
def test_relationship_forms_agree(tables, a, b):
    df, tab = tables
    want = _collected(two_name_relationship(df, a, b))
    assert _typed(two_name_relationship_arrow(tab, a, b)) == _typed(want)


_QUESTIONS = [
    "who is customer#007?",
    "who is customr#007?",
    "what is the connection between customer#001 and zelda quill",
    "what is the connection between abc and customer#005",
    "hi",
]


def test_name_dictionaries_agree_and_break_ties_by_id(tables):
    """Both dictionaries list names in ascending-id first-occurrence order,
    so a token tied between two names corrects to the lower id's."""
    df, tab = tables
    spark_names = NameDictionary.from_nodes(df)
    arrow_names = NameDictionary.from_nodes(tab)
    assert spark_names.names == arrow_names.names
    assert arrow_names.names[:2] == ["customer#001", "customer#002"]
    assert arrow_names.names[-4:] == ["abd", "", "ab", "zelda quill"]
    # 'customer#01' is one insertion from customer#001 and from customer#010
    for names in (spark_names, arrow_names):
        assert names.best("customer#01") == "customer#001"


@pytest.mark.parametrize("question", _QUESTIONS)
def test_template_chat_replies_agree(spark, sf_dir, tables, question):
    df, tab = tables
    on_spark = NLEngine(spark, sf_dir, nodes=df).answer(question)
    on_arrow = NLEngine(spark, sf_dir, table=tab).answer(question)
    assert on_arrow.reply == on_spark.reply
    assert on_arrow.question == on_spark.question
    # without the reply, the driver-side template still hands back its rows
    quiet = NLEngine(spark, sf_dir, table=tab).answer(question, explain=False)
    assert quiet.kind == on_spark.kind
    if on_spark.kind == "query":
        assert quiet.df is None and quiet.reply is None
        want = [r.asDict(recursive=True) for r in on_spark.df.collect()]
        assert quiet.rows == want
