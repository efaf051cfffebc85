"""U3 — GraphService boundary marshalling + write-path visibility."""

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark import api
from graphdb_neo4j_spark.api import GraphService, StudentCreate
from graphdb_neo4j_spark.nl.names import NameDictionary
from graphdb_neo4j_spark.operators import lookup, relationship
from graphdb_neo4j_spark.sources import tpch
from graphdb_neo4j_spark.sources.tpch import NODES_CTE
from tests.oracle_utils import run_oracle
from tests.test_graphalgo import _refuse


def _svc(spark, sf_dir):
    return GraphService(spark, sf_dir)


# every driver-side form a service read can reach
_ARROW_FORMS = (
    (api, "recommend_arrow"),
    (api, "fuzzy_search_arrow"),
    (api, "two_name_relationship_arrow"),
    (lookup, "point_lookup_arrow"),
    (lookup, "exists_arrow"),
    (lookup, "node_names_arrow"),
    (lookup, "single_student_detail_arrow"),
    (relationship, "two_name_relationship_arrow"),
)


def _force_spark(monkeypatch):
    """A zero result cap: no snapshot generation fits on the driver, so
    every service read runs its Spark operator. The size rule is decided
    when a generation is first read, so the memo starts empty."""
    monkeypatch.setattr(tpch, "driver_result_cap", lambda spark: 0)
    monkeypatch.setattr(tpch, "_SNAPSHOT_TABLES", {})
    for owner, name in _ARROW_FORMS:
        monkeypatch.setattr(owner, name, _refuse(name))


def test_ping_and_reads(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    assert svc.ping()

    detail = svc.get_student_by_id(42)
    assert detail is not None and detail.id == 42
    assert detail.name.startswith("customer#")
    assert isinstance(detail.interests, tuple)

    assert svc.student_exists(42)
    assert not svc.student_exists(10**9)

    names = svc.get_all_student_names()
    assert detail.name in names


def test_recommend_and_search_marshalling(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    recs = svc.recommend_people(1, limit=5)
    assert len(recs) == 5
    assert all(recs[i].score >= recs[i + 1].score for i in range(len(recs) - 1))

    matches = svc.search_students("customer#000000042", threshold=50.0, limit=3)
    assert matches and matches[0].id == 42 and matches[0].score == 100.0


def test_relationship_summary(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    rel = svc.relationship("Customer#000000042", "Customer#000000043")
    assert rel is not None
    assert set(rel.rel_types) <= {
        "SAME_COLLEGE", "SAME_BOARD", "SAME_STREAM", "NEARBY", "SHARES_INTEREST",
    }


def test_save_student_visibility(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    before = svc.get_all_student_names()
    new_id = svc.save_student(
        StudentCreate(
            name="  Test Person  ",
            address="addr_5",
            college="CANADA",
            board="AMERICA",
            stream="BUILDING",
            interests=("42", "100"),
        )
    )
    # id allocation: MAX(id)+1 over the visible node set
    assert svc.student_exists(new_id)
    detail = svc.get_student_by_id(new_id)
    assert detail is not None and detail.name == "test person"
    assert "test person" in svc.get_all_student_names()
    assert len(svc.get_all_student_names()) == len(before) + 1

    # second save allocates the next id
    second = svc.save_student(StudentCreate(name="Another Person"))
    assert second == new_id + 1

    # incremental edges for the overlay batch are derivable and typed
    edge_types = {
        r["type"] for r in svc.new_edges_for_overlay().select("type").distinct().collect()
    }
    assert edge_types <= {
        "SAME_COLLEGE", "SAME_BOARD", "SAME_STREAM", "NEARBY", "SHARES_INTEREST",
    }


def test_backfill_edges(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    counts = {
        r["type"]: r["n"]
        for r in svc.backfill_edges().groupBy("type").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {
        "SAME_COLLEGE", "SAME_BOARD", "SAME_STREAM", "NEARBY", "SHARES_INTEREST",
    }
    assert all(v > 0 for v in counts.values())


def test_chat_template_paths(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    reply = svc.chat("who is Customer#000000042?")
    assert "customer#000000042" in reply
    assert svc.chat("hi")  # chat path without an LLM returns the canned line


def test_chat_collects_the_name_dictionary_once(spark, sf_dir, monkeypatch):
    collected = []
    from_nodes = NameDictionary.from_nodes

    def counting(nodes):
        collected.append(1)
        return from_nodes(nodes)

    monkeypatch.setattr(NameDictionary, "from_nodes", staticmethod(counting))
    svc = _svc(spark, sf_dir)
    assert "customer#000000042" in svc.chat("who is Customer#000000042?")
    assert "customer#000000043" in svc.chat("who is custmer#000000043?")
    assert len(collected) == 1


def _drop_sql_views(spark):
    for view in ("nodes", "edges", "edges_undirected"):
        spark.catalog.dropTempView(view)


def _llm_count_case(sf_dir):
    """A stub LLM that answers with a college count, and the DuckDB count."""
    college, n = run_oracle(
        f"WITH {NODES_CTE} SELECT college, count(*) FROM nodes"
        " GROUP BY college ORDER BY 2 DESC, 1 LIMIT 1",
        sf_dir,
    ).fetchone()
    sql = f"SELECT count(*) FROM nodes WHERE college = '{college}'"

    def llm(prompt):
        return sql if "Spark SQL developer" in prompt else "ok"

    return llm, f"There are {n} students matching your query in the database."


def test_llm_chat_after_template_chat_registers_views(spark, sf_dir):
    _drop_sql_views(spark)
    svc = _svc(spark, sf_dir)
    assert "customer#000000042" in svc.chat("who is Customer#000000042?")
    assert not spark.catalog.tableExists("nodes")  # the template path needs no views
    llm, want = _llm_count_case(sf_dir)
    assert svc.chat("how many students are in the biggest college?", llm=llm) == want


def test_fresh_service_answers_llm_chat(spark, sf_dir):
    _drop_sql_views(spark)
    llm, want = _llm_count_case(sf_dir)
    assert _svc(spark, sf_dir).chat("how many students are in the biggest college?", llm=llm) == want


# --- writes reach every read (snapshot ∪ overlay) -----------------------------

ALL_TYPES = {"SAME_COLLEGE", "SAME_BOARD", "SAME_STREAM", "NEARBY", "SHARES_INTEREST"}


def _twin_of(detail, name):
    """A new student with ``detail``'s attributes and interests, the first
    interest token given twice."""
    return StudentCreate(
        name=name,
        address=detail.address,
        college=detail.college.upper(),
        board=detail.board,
        stream=detail.stream,
        interests=detail.interests + detail.interests[:1],
    )


@pytest.fixture(scope="module")
def onboarded(spark, sf_dir):
    """A service whose name dictionary exists before it saves the twin of
    base student 1; returns (service, anchor detail, new id, n tokens)."""
    svc = _svc(spark, sf_dir)
    assert svc.chat("hi")
    anchor = svc.get_student_by_id(1)
    assert anchor.interests
    new_id = svc.save_student(_twin_of(anchor, "  Zelda Quill "))
    return svc, anchor, new_id, len(set(anchor.interests))


def _recommends(svc, anchor_id):
    return [(r.id, r.score, r.n_common_interests) for r in svc.recommend_people(anchor_id)]


def _relationship(svc, anchor):
    rel = svc.relationship("Zelda Quill", anchor.name)
    return rel and (rel.a_name, set(rel.rel_types), rel.n_common_interests)


# case -> (what the read returns, what it must contain or equal); the twin
# shares all four attributes with student 1 and each token counts once
_VISIBILITY = {
    "recommend_as_anchor": lambda svc, a, new, n: (
        _recommends(svc, new), (1, 4 + n, n)),
    "recommend_as_candidate": lambda svc, a, new, n: (
        _recommends(svc, 1), (new, 4 + n, n)),
    "search": lambda svc, a, new, n: (
        [m.id for m in svc.search_students("zelda quil", limit=3)][:1], new),
    "relationship": lambda svc, a, new, n: (
        [_relationship(svc, a)], ("zelda quill", ALL_TYPES, n)),
    "chat": lambda svc, a, new, n: (
        svc.chat("who is Zelda Quill?"), "name: zelda quill"),
}


@pytest.mark.parametrize("case", sorted(_VISIBILITY))
def test_onboarded_student_reaches_every_read(onboarded, case):
    got, want = _VISIBILITY[case](*onboarded)
    assert want in got


@pytest.fixture(scope="module")
def onboarded_on_spark(spark, sf_dir):
    """:func:`onboarded`, written with the Spark path forced."""
    with pytest.MonkeyPatch.context() as mp:
        _force_spark(mp)
        return onboarded.__wrapped__(spark, sf_dir)


@pytest.mark.parametrize("case", sorted(_VISIBILITY))
def test_onboarded_student_reaches_every_read_on_spark(
    onboarded_on_spark, case, monkeypatch
):
    _force_spark(monkeypatch)
    got, want = _VISIBILITY[case](*onboarded_on_spark)
    assert want in got


def test_llm_sql_nodes_view_reads_the_base_snapshot(spark, sf_dir):
    """Known gap, pinned: the LLM-SQL ``nodes`` view does not see the
    overlay, so a count there excludes onboarded students."""
    _drop_sql_views(spark)
    (college,) = run_oracle(
        f"WITH {NODES_CTE} SELECT college FROM nodes"
        " GROUP BY college ORDER BY count(*) DESC, 1 LIMIT 1",
        sf_dir,
    ).fetchone()
    svc = _svc(spark, sf_dir)
    new_id = svc.save_student(StudentCreate(name="Overlay Only", college=college))
    assert svc.student_exists(new_id)
    llm, want = _llm_count_case(sf_dir)
    assert svc.chat("how many students are in the biggest college?", llm=llm) == want


def _warm_reads(svc):
    """read name -> call; each is warmed once before it is counted (the
    first read of a source version builds the snapshot)."""
    return {
        "get_student_by_id": lambda: svc.get_student_by_id(42),
        "recommend_people": lambda: svc.recommend_people(42),
        "relationship": lambda: svc.relationship("Customer#000000042", "Customer#000000043"),
        "search_students": lambda: svc.search_students("custmer#000000042"),
        "save_student": lambda: svc.save_student(StudentCreate(name="Budget Writer")),
        "chat": lambda: svc.chat("who is Customer#000000042?"),
    }


def test_warm_reads_stay_inside_their_job_budgets(spark, sf_dir):
    """On the driver-side snapshot every service read starts no Spark job,
    before and after a write."""
    from tests.test_load_table import _jobs_of

    svc = _svc(spark, sf_dir)
    for overlay in (False, True):
        if overlay:
            svc.save_student(StudentCreate(name="Budget Probe", college="x"))
        for name, read in _warm_reads(svc).items():
            read()
            jobs = _jobs_of(spark, read, f"budget_{name}_{overlay}")
            assert len(jobs) == 0, (name, overlay, len(jobs))


def test_warm_spark_reads_stay_inside_their_job_budgets(spark, sf_dir, monkeypatch):
    from tests.test_load_table import _jobs_of

    _force_spark(monkeypatch)
    svc = _svc(spark, sf_dir)
    reads = _warm_reads(svc)
    budgets = {"get_student_by_id": 2, "recommend_people": 4, "relationship": 4}
    for overlay in (False, True):
        if overlay:
            svc.save_student(StudentCreate(name="Budget Probe", college="x"))
        for name, budget in budgets.items():
            reads[name]()
            jobs = _jobs_of(spark, reads[name], f"budget_spark_{name}_{overlay}")
            assert 0 < len(jobs) <= budget, (name, overlay, len(jobs))


def test_spark_reads_run_under_their_api_label(spark, sf_dir, monkeypatch):
    """A Spark-path read labels its jobs ``api.<method>`` and restores the
    caller's description; a driver-side read sets no label."""
    from tests.test_graphalgo import _descriptions_during

    svc = _svc(spark, sf_dir)
    assert _descriptions_during(spark, monkeypatch, lambda: svc.get_student_by_id(42)) == []
    _force_spark(monkeypatch)
    seen = _descriptions_during(
        spark,
        monkeypatch,
        lambda: (svc.get_student_by_id(42), svc.recommend_people(42)),
    )
    assert seen == ["api.get_student_by_id", "api.recommend_people"]
