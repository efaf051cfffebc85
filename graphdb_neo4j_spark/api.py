"""U3 — the service facade: typed result marshalling at the API boundary.

Mirrors the reference's FastAPI service surface
(/root/reference/fastapi/services/student_service.py and
/root/reference/fastapi/routes/student_routes.py): every public method
returns plain dataclasses, and results are collected only here — the data
plane below stays distributed DataFrames end-to-end (SURVEY.md §2.9 U3:
"df.collect() → dataclass at API boundary only"). The one exception is
``recommend``'s point read of its anchor, which it binds as literals.

Every read goes through one view of the node table, snapshot ∪ overlay:

- The snapshot is :func:`~graphdb_neo4j_spark.sources.tpch.node_snapshot`:
  the nodes with their interests arrays, persisted once per source version
  under ``<spark.sql.warehouse.dir>/node_snapshot/``. Its version key is the
  source path plus the file stamps of customer, nation, region, orders and
  lineitem, so the first read after any of them is rewritten builds a new
  generation (and sweeps the old one); every other read is one pruned scan.
  Constructing a service builds and probes nothing.
- The overlay holds the students written by ``save_student`` in this
  service (the testdata is read-only). Its DataFrame is rebuilt when a
  write lands, and the new name joins the service's name dictionary, so an
  onboarded student reaches point reads, recommend (as anchor and as
  candidate), search, relationship and the template chat.

The LLM-SQL ``nodes`` view (``NLEngine.register_views``) reads the base
snapshot without the overlay.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.graph import NODE_COLUMNS
from graphdb_neo4j_spark.nl.names import NameDictionary
from graphdb_neo4j_spark.operators import ingest, lookup
from graphdb_neo4j_spark.operators.fuzzy import fuzzy_search
from graphdb_neo4j_spark.operators.recommend import recommend
from graphdb_neo4j_spark.operators.relationship import two_name_relationship
from graphdb_neo4j_spark.sources.tpch import NODE_SCHEMA, customer_nodes, node_snapshot

# --- boundary types (the reference's Pydantic models, student_service.py
# :124-132,165-190 — plain dataclasses here; Pydantic is an app concern) ----


@dataclass(frozen=True)
class StudentDetail:
    id: int
    name: str
    address: str
    college: str
    board: str
    stream: str
    interests: tuple[str, ...]


@dataclass(frozen=True)
class Recommendation:
    id: int
    name: str
    score: int
    same_college: bool
    same_board: bool
    same_stream: bool
    nearby: bool
    n_common_interests: int


@dataclass(frozen=True)
class FuzzyMatch:
    id: int
    name: str
    score: float


@dataclass(frozen=True)
class RelationshipSummary:
    a_name: str
    b_name: str
    rel_types: tuple[str, ...]
    rel_props: str
    same_college: bool
    same_board: bool
    same_stream: bool
    n_common_interests: int


@dataclass(frozen=True)
class StudentCreate:
    """Input model (student_routes.py:20-32 — strings normalized on entry)."""

    name: str
    address: str = ""
    college: str = ""
    board: str = ""
    stream: str = ""
    interests: tuple[str, ...] = ()


# --- the service ------------------------------------------------------------

_ARROW_NODES = pa.schema(
    [("id", pa.int64())]
    + [(c, pa.string()) for c in NODE_COLUMNS[1:-1]]
    + [("interests", pa.list_(pa.string()))]
)


@dataclass
class GraphService:
    """Entry-point facade: one instance per (session, graph dir)."""

    spark: SparkSession
    sf_dir: str
    _overlay: list[dict] = field(default_factory=list, repr=False)
    _overlay_df: DataFrame | None = field(default=None, repr=False)
    _names: NameDictionary | None = field(default=None, repr=False)

    # -- reads ---------------------------------------------------------------

    def _view(self) -> DataFrame:
        """The node table every read goes through: snapshot ∪ overlay."""
        base = node_snapshot(self.spark, self.sf_dir)
        return base if self._overlay_df is None else base.unionByName(self._overlay_df)

    def ping(self) -> bool:
        """S8 health check (student_service.py:192-199)."""
        return self.spark.range(1).count() == 1

    def get_student_by_id(self, node_id: int) -> StudentDetail | None:
        """P2 — 7-property detail row (student_service.py:110-132)."""
        rows = lookup.point_lookup(self._view(), node_id).collect()
        if not rows:
            return None
        r = rows[0]
        return StudentDetail(
            id=r["id"],
            name=r["name"],
            address=r["address"],
            college=r["college"],
            board=r["board"],
            stream=r["stream"],
            interests=tuple(sorted(r["interests"])),
        )

    def student_exists(self, node_id: int) -> bool:
        """P3 existence probe (student_service.py:139-144)."""
        return lookup.exists(self._view(), node_id).first()["found"]

    def get_all_student_names(self) -> list[str]:
        """P1 projection scan (llm_cypher.py:15-22)."""
        return [
            r["name"]
            for r in self._view().select("name").where("name IS NOT NULL").collect()
        ]

    def recommend_people(self, node_id: int, limit: int = 10) -> list[Recommendation]:
        """J3+A4+O1 — scored peers (student_service.py:146-190)."""
        rows = recommend(self._view(), anchor_id=node_id, limit=limit).collect()
        return [
            Recommendation(
                id=r["id"],
                name=r["name"],
                score=r["score"],
                same_college=bool(r["same_college"]),
                same_board=bool(r["same_board"]),
                same_stream=bool(r["same_stream"]),
                nearby=bool(r["nearby"]),
                n_common_interests=r["n_common"],
            )
            for r in rows
        ]

    def search_students(
        self, query: str, threshold: float = 60.0, limit: int = 10
    ) -> list[FuzzyMatch]:
        """U1+O3 — distributed fuzzy search (student_service.py:236-266)."""
        rows = fuzzy_search(
            self._view(), query=query, threshold=threshold, k=limit
        ).collect()
        return [FuzzyMatch(id=r["id"], name=r["name"], score=r["score"]) for r in rows]

    def relationship(self, name_a: str, name_b: str) -> RelationshipSummary | None:
        """J4+J5+F7 — the two-name template (llm_cypher.py:86-96)."""
        rows = two_name_relationship(self._view(), name_a, name_b).collect()
        if not rows:
            return None
        r = rows[0]
        return RelationshipSummary(
            a_name=r["a_name"],
            b_name=r["b_name"],
            rel_types=tuple(t for t in r["rel_types"].split(",") if t),
            rel_props=r["rel_props"],
            same_college=bool(r["same_college"]),
            same_board=bool(r["same_board"]),
            same_stream=bool(r["same_stream"]),
            n_common_interests=r["n_common_interests"],
        )

    # -- writes --------------------------------------------------------------

    def save_student(self, student: StudentCreate) -> int:
        """S4 — allocate id = MAX(id)+1 and make the node visible to every
        subsequent read (student_service.py:21-60). Normalization matches
        the route contract (student_routes.py:28-32)."""
        base = self._view().groupBy().agg(
            F.coalesce(F.max("id"), F.lit(0)).alias("m")
        ).collect()[0]["m"]
        new_id = int(base) + 1
        name = student.name.strip().lower()
        row = (
            new_id,
            name,
            student.address.strip().lower(),
            student.college.strip().lower(),
            student.board.strip().lower(),
            student.stream.strip().lower(),
            [t.strip().lower() for t in student.interests],
        )
        self._overlay.append(dict(zip(NODE_COLUMNS, row)))
        # an Arrow table becomes a LocalRelation: reads of the view then
        # start no Python worker and split into no extra partitions
        self._overlay_df = self.spark.createDataFrame(
            pa.Table.from_pylist(self._overlay, schema=_ARROW_NODES), NODE_SCHEMA
        )
        if self._names is not None:
            self._names.add(name)
        return new_id

    def new_edges_for_overlay(self) -> DataFrame:
        """Derived edges incident to the overlay batch (the five MERGEs of
        student_service.py:62-106), via the broadcast incremental plan."""
        from graphdb_neo4j_spark.sources.tpch import customer_interest_pairs

        batch = self._overlay_df
        if batch is None:
            batch = self.spark.createDataFrame([], NODE_SCHEMA)
        return ingest.derive_edges_for_batch(
            customer_nodes(self.spark, self.sf_dir),
            customer_interest_pairs(self.spark, self.sf_dir),
            batch,
        )

    def backfill_edges(self) -> DataFrame:
        """S7 — the startup backfill (reference launches it in a daemon
        thread on app start, src/main.py:25-35): full derived-edge rebuild
        as one batch plan. Persist with sources.sink.write_edges; schedule
        with any batch orchestrator or a Structured Streaming
        ``trigger(availableNow=True)`` run over an append source."""
        from graphdb_neo4j_spark.operators.edges import derive_all_edges

        return derive_all_edges(self.spark, self.sf_dir)

    def sync_lowercase_students(self) -> int:
        """S6 bulk normalize — returns rows processed (student_service.py
        :201-220). The projection is already normalized at read; count is
        the contract."""
        return self._view().count()

    # -- NL ------------------------------------------------------------------

    def chat(self, question: str, llm=None) -> str:
        """Entry point A — NL question → answer text (SURVEY.md §3.1).

        The name dictionary is collected from the service's view on the
        first chat, reused by every later one, and extended by
        ``save_student``. Each chat runs on a new ``NLEngine`` over the
        view, so the template path (one name, two names) reaches onboarded
        students. The engine registers the nodes/edges SQL views only when
        the question reaches the LLM-SQL path (``run_sql``), over the base
        snapshot without the overlay. Temp views are session-wide and
        another service may have pointed them at its own graph dir, so
        every such question registers them.
        """
        from graphdb_neo4j_spark.nl.pipeline import NLEngine

        eng = NLEngine(
            self.spark, self.sf_dir, llm=llm, nodes=self._view(), _names=self._names
        )
        self._names = eng.names
        ans = eng.answer(question, explain=True)
        return ans.reply or ""
