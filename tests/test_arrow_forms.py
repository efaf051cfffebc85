"""The driver-side (``*_arrow``) forms of the service's reads return what
their Spark forms' ``collect()`` returns, on the same hand-built node
table: snapshot rows ∪ overlay rows, as ``GraphService`` reads them."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest

from graphdb_neo4j_spark.functions.fuzz import CodedNames, _bitparallel_distances
from graphdb_neo4j_spark.nl.names import NameDictionary
from graphdb_neo4j_spark.nl.pipeline import NLEngine
from graphdb_neo4j_spark.operators import lookup
from graphdb_neo4j_spark.operators.fuzzy import fuzzy_search, fuzzy_search_arrow
from graphdb_neo4j_spark.operators.recommend import recommend, recommend_arrow
from graphdb_neo4j_spark.operators.relationship import (
    two_name_relationship,
    two_name_relationship_arrow,
)
from graphdb_neo4j_spark.sources import tpch
from graphdb_neo4j_spark.sources.tpch import ARROW_NODE_SCHEMA, NODE_SCHEMA

_ATTRS = [None, "", "x", "y"]
_TOKENS = ["1", "2", "3", "10", "20"]


def _base_rows() -> list[tuple]:
    """Seeded random nodes plus fixed edge cases: NULL and '' attributes,
    empty interests, a repeated token, NULL tokens, a duplicated name,
    names with '#', NULL names, ties."""
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
        (35, "ab", "x", "x", "x", "x", ["1", "1"]),  # a token repeated
        (36, None, None, None, None, None, [None]),  # a NULL token
        (37, None, None, None, None, None, ["3", None]),
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


def _tables(spark):
    """(Spark snapshot ∪ overlay, the same rows as one Arrow table, the
    Arrow snapshot rows)."""
    base = pa.Table.from_pylist(_rows_of(_base_rows()), schema=ARROW_NODE_SCHEMA)
    overlay = pa.Table.from_pylist(_rows_of(_OVERLAY), schema=ARROW_NODE_SCHEMA)
    df = spark.createDataFrame(base, NODE_SCHEMA).unionByName(
        spark.createDataFrame(overlay, NODE_SCHEMA)
    )
    return df, pa.concat_tables([base, overlay]), base


@pytest.fixture(scope="module")
def tables(spark):
    """(Spark snapshot ∪ overlay, the same rows as one hand-built Arrow
    table): no kept generation, so the driver forms build their
    structures over every row per call."""
    df, tab, _ = _tables(spark)
    assert tpch.kept_generation(tab) is None
    return df, tab


@pytest.fixture(scope="module")
def kept_tables(spark):
    """:func:`tables` with the snapshot rows registered as a kept
    generation, as ``GraphService`` reads its generation ∪ overlay: the
    driver forms read the generation through its kept structures and
    build them over the overlay rows per call."""
    df, tab, base = _tables(spark)
    with pytest.MonkeyPatch.context() as mp:
        mp.setitem(tpch._SNAPSHOT_TABLES, "<hand-built store>", ("<generation>", base, {}))
        assert tpch.kept_generation(tab) is base
        yield df, tab


def _collected(df) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def _typed(rows: list[dict]) -> list[list]:
    """Rows with each value's type, so 1 and True or 1 and 1.0 differ."""
    return [[(k, type(v), v) for k, v in r.items()] for r in rows]


_ANCHORS = [1, 5, 12, 30, 32, 34, 35, 36, 40, 41, 99, 0]


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


@pytest.mark.parametrize("limit", [None, 3])
def test_recommend_forms_agree_on_a_kept_generation(kept_tables, limit):
    test_recommend_forms_agree(kept_tables, limit)


def test_recommend_counts_distinct_shared_tokens_on_a_kept_generation(kept_tables):
    test_recommend_counts_distinct_shared_tokens(kept_tables)


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
    # past one 64-bit word the DP scores; code points outside the names'
    # alphabet match nothing
    ("customer#0" * 7, 0.0, 40),
    ("é漢 abc", 0.0, 40),
    ("zelda quill" + "x" * 53, 0.0, 5),
]


@pytest.mark.parametrize("query,threshold,k", _SEARCHES)
def test_search_forms_agree(tables, query, threshold, k):
    df, tab = tables
    want = _collected(fuzzy_search(df, query, threshold, k))
    assert _typed(fuzzy_search_arrow(tab, query, threshold, k)) == _typed(want)


@pytest.mark.parametrize("query,threshold,k", _SEARCHES)
def test_search_forms_agree_on_a_kept_generation(kept_tables, query, threshold, k):
    test_search_forms_agree(kept_tables, query, threshold, k)


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
    names.sort(key=len, reverse=True)
    for query in ["", "a", "ab#", "é漢ab#ba"]:
        want = [dp(n, query) for n in names]
        assert CodedNames.of(names).distances(query).tolist() == want

    # the bit-parallel kernel: empty names, names past one 64-bit word,
    # astral-plane and NUL code points, and query code points no name
    # holds; a 65-code-point query takes the DP
    chars = "ab#é漢\U0001f600\x00"
    names = [
        "".join(rng.choice(chars) for _ in range(rng.choice([0, 1, 2, 9, 63, 64, 65, 80])))
        for _ in range(200)
    ]
    names.sort(key=len, reverse=True)
    coded = CodedNames.of(names)
    for m in (0, 1, 63, 64, 65):
        for _ in range(3):
            query = "".join(rng.choice(chars + "z\U00010348") for _ in range(m))
            want = [dp(n, query) for n in names]
            assert coded.distances(query).tolist() == want, query
            assert coded.distances(query, 40, 150).tolist() == want[40:150], query
    with pytest.raises(ValueError):
        _bitparallel_distances(coded.codes, coded.lens, np.zeros(65, np.int64), 1)


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


# --- the registry's graph queries over the snapshot ---------------------------

# (id, college, board, stream, address, interests): NULL and '' attributes, a
# college and a board sharing the value 'x', customers without orders, a hub
# token ('7') and disjoint token vocabularies, so there are several components
_GRAPH_ROWS = [
    (1, "x", "", "s1", None, ["100", "7"]),
    (2, "x", None, "s2", "", ["7"]),
    (3, "", "b1", "s1", "a1", ["101", "7"]),
    (4, None, "b1", "s2", "a1", ["101"]),
    (5, None, None, None, None, []),
    (6, "y", "", "s3", "a2", ["200", "201"]),
    (7, "", None, "s4", "a3", ["201"]),
    (8, "z", "b2", "s5", "a4", []),
    (9, "z", "x", "s6", "a5", []),
    (10, None, "", "s7", "a6", ["300"]),
    (11, "", "b3", "s8", "a7", ["300", "77"]),
    (12, "y", "b4", "s3", "a2", ["200"]),
    (13, "x", "b1", "s1", "a1", ["7"]),
]


@pytest.fixture(scope="module")
def graph_tables(spark):
    """(Spark node table, the same rows as a two-chunk Arrow table)."""
    rows = [
        {"id": i, "name": f"n{i}", "address": ad, "college": c, "board": b,
         "stream": st, "interests": tokens}
        for i, c, b, st, ad, tokens in _GRAPH_ROWS[::-1]  # table order ≠ id order
    ]
    halves = [pa.Table.from_pylist(part, schema=ARROW_NODE_SCHEMA)
              for part in (rows[:6], rows[6:])]
    tab = pa.concat_tables(halves)
    return spark.createDataFrame(tab, NODE_SCHEMA), tab


def _ranks(rows) -> dict:
    return {r["id"]: r["rank"] for r in rows}


@pytest.mark.parametrize("attrs", [("college", "board"), ("college", "stream")])
@pytest.mark.parametrize("seeds", [None, [1], [3, 10], [5], [99]])
def test_lumped_pagerank_forms_agree(graph_tables, attrs, seeds):
    from graphdb_neo4j_spark.operators import graphalgo

    df, tab = graph_tables
    want = _ranks(graphalgo.pagerank_clique_factored(df, attrs, 5, graphalgo.DAMPING, seeds).collect())
    got = _ranks(
        graphalgo._lumped_pagerank_arrow(tab, attrs, 5, graphalgo.DAMPING, seeds).to_pylist()
    )
    assert got.keys() == want.keys()
    for i in want:
        assert got[i] == pytest.approx(want[i], abs=1e-12), i


def test_components_forms_agree(graph_tables):
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.operators import graphalgo

    df, tab = graph_tables
    pairs = df.select("id", F.explode("interests").alias("interest"))
    inc = graphalgo.component_incidence(df, pairs)
    want = _collected(graphalgo.min_label_components(df.select("id"), inc, 20))
    got = graphalgo._snapshot_components(tab, 20).to_pylist()
    assert sorted(got, key=lambda r: r["id"]) == sorted(want, key=lambda r: r["id"])
    components = {r["id"]: r["component"] for r in got}
    assert components[5] == 5 and components[8] == components[9] == 8
    assert len(set(components.values())) == 5


def test_graph_queries_start_no_job_on_the_snapshot(spark, sf_dir):
    """Warm, the registry's graph queries read the snapshot's Arrow
    generation: the call and its collect start no Spark job."""
    from graphdb_neo4j_spark.operators import graphalgo
    from tests.test_load_table import _jobs_of

    for q in (graphalgo.q_graph_components, graphalgo.q_pagerank_factored,
              graphalgo.q_pagerank_ppr):
        q(spark, sf_dir).collect()  # warm
        assert _jobs_of(spark, lambda: q(spark, sf_dir).collect(), f"arrow_{q.__name__}") == []


def _rounding_inputs() -> list[float]:
    """Random doubles over many magnitudes, both signs; half-way ties at 6
    and 9 decimals built from their decimal strings; zeros, tiny negatives
    that round to zero, and doubles whose JDK 17 ``Double.toString`` is not
    the shortest decimal (1.9999999999999998E23 for 2e23)."""
    import numpy as np

    rng = np.random.default_rng(11)
    xs = list(rng.uniform(0, 2, 1000)) + list(rng.uniform(-1e3, 1e3, 1000))
    xs += list(np.exp(rng.uniform(-30, 55, 1000)) * rng.choice([-1, 1], 1000))
    for scale in (6, 9):
        xs += [float(f"{k}5e-{scale + 1}") for k in rng.integers(-10**9, 10**9, 1000)]
    xs += [0.0, -0.0, -1e-12, 5e-7, -5e-7, 5e-10, -5e-10, 0.1234565, 2e23, 8.41e21, 1e23]
    return [float(x) for x in xs]


@pytest.mark.parametrize("scale", [6, 9])
def test_round_half_up_is_sparks_round(spark, scale):
    """``round_half_up`` — the lumped PageRank's rounding of its class
    ranks — equals Spark's ``round`` on doubles bit for bit (sign of zero
    included), both as the optimizer folds it over a local relation and as
    generated code evaluates it."""
    import numpy as np
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.functions.fuzz import round_half_up

    xs = _rounding_inputs()
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x double")
    want = round_half_up(np.array(xs), scale)
    for form in (df, df.repartition(2)):
        rows = sorted(form.select("i", F.round("x", scale).alias("r")).collect())
        got = np.array([r["r"] for r in rows])
        assert got.tobytes() == want.tobytes(), [
            (xs[i], got[i], want[i]) for i in np.flatnonzero(got != want)[:5]
        ]
