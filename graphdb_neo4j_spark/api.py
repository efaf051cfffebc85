"""U3 — the service facade: typed result marshalling at the API boundary.

Mirrors the reference's FastAPI service surface
(/root/reference/fastapi/services/student_service.py and
/root/reference/fastapi/routes/student_routes.py): every public method
returns plain dataclasses, built at this boundary from rows.

Every read goes through one view of the node table, snapshot ∪ overlay:

- The snapshot is :func:`~graphdb_neo4j_spark.sources.tpch.node_snapshot`:
  the nodes with their interests arrays, persisted once per source version
  under ``<spark.sql.warehouse.dir>/node_snapshot/``. Its version key is the
  source path plus the file stamps of customer, nation, region, orders and
  lineitem, so the first read after any of them is rewritten builds a new
  generation (and sweeps the old one). Constructing a service builds,
  loads and probes nothing.
- The overlay holds the students written by ``save_student`` in this
  service (the testdata is read-only), as Arrow rows. The new name joins
  the service's name dictionary, so an onboarded student reaches point
  reads, recommend (as anchor and as candidate), search, relationship and
  the template chat.

Each read has two plans and one size rule chooses between them:

- When the active generation's uncompressed bytes (from its parquet
  footers) fit ``spark.driver.maxResultSize`` (0 = unlimited),
  :func:`~graphdb_neo4j_spark.sources.tpch.node_snapshot_table` holds it on
  the driver as one ``pyarrow.Table``, read once per generation. Point,
  exists, names, recommend, fuzzy search, relationship, ``save_student``'s
  MAX(id) and the template chat (with its name dictionary) then run the
  operators' ``*_arrow`` forms over that table plus the overlay rows, in
  ``pyarrow.compute`` and numpy: no Spark job.
- Above that size, or without a local snapshot, the Spark operators read
  the snapshot DataFrame ∪ an overlay DataFrame built from the same rows
  (only when such a read needs it), under the job label ``api.<method>``;
  rows are collected only here.

Both kinds of row carry the same column names and Python types, so the
marshalling below is shared. The registry's ``q_*`` forms stay Spark.
The LLM-SQL ``nodes`` view (``NLEngine.register_views``) reads the base
snapshot without the overlay.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.graph import NODE_COLUMNS
from graphdb_neo4j_spark.nl.names import NameDictionary
from graphdb_neo4j_spark.obs import job_label
from graphdb_neo4j_spark.operators import ingest, lookup
from graphdb_neo4j_spark.operators.fuzzy import fuzzy_search, fuzzy_search_arrow
from graphdb_neo4j_spark.operators.recommend import recommend, recommend_arrow
from graphdb_neo4j_spark.operators.relationship import (
    two_name_relationship,
    two_name_relationship_arrow,
)
from graphdb_neo4j_spark.sources.tpch import (
    ARROW_NODE_SCHEMA,
    NODE_SCHEMA,
    customer_nodes,
    node_snapshot,
    node_snapshot_table,
)

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

# node ids are BIGINT: an id outside this range names no student
_ID_RANGE = range(-(1 << 63), 1 << 63)


@dataclass
class GraphService:
    """Entry-point facade: one instance per (session, graph dir)."""

    spark: SparkSession
    sf_dir: str
    _overlay: pa.Table = field(
        default_factory=lambda: ARROW_NODE_SCHEMA.empty_table(), repr=False
    )
    # (overlay rows, overlay DataFrame) of the last Spark overlay
    _overlay_df: tuple[int, DataFrame] | None = field(default=None, repr=False)
    _names: NameDictionary | None = field(default=None, repr=False)

    # -- the two views ---------------------------------------------------------

    def _table(self) -> pa.Table | None:
        """Snapshot ∪ overlay on the driver, or None when the snapshot
        generation does not fit there (the one dispatch point)."""
        base = node_snapshot_table(self.spark, self.sf_dir)
        if base is None or not self._overlay.num_rows:
            return base
        return pa.concat_tables([base, self._overlay])  # chunk references, no copy

    def _overlay_frame(self) -> DataFrame:
        rows = self._overlay.num_rows
        if self._overlay_df is None or self._overlay_df[0] != rows:
            # an Arrow table becomes a LocalRelation: reads of the view then
            # start no Python worker and split into no extra partitions
            self._overlay_df = (rows, self.spark.createDataFrame(self._overlay, NODE_SCHEMA))
        return self._overlay_df[1]

    def _view(self) -> DataFrame:
        """The Spark node table: snapshot ∪ overlay."""
        base = node_snapshot(self.spark, self.sf_dir)
        return base.unionByName(self._overlay_frame()) if self._overlay.num_rows else base

    def _rows(self, method: str, arrow, spark, *args) -> list:
        """``arrow(table, *args)`` on the driver-side view, else
        ``spark(view, *args).collect()`` under the job label ``api.<method>``."""
        table = self._table()
        if table is not None:
            return arrow(table, *args)
        with job_label(self.spark, f"api.{method}"):
            return spark(self._view(), *args).collect()

    # -- reads ---------------------------------------------------------------

    def ping(self) -> bool:
        """S8 health check (student_service.py:192-199)."""
        return self.spark.range(1).count() == 1

    def get_student_by_id(self, node_id: int) -> StudentDetail | None:
        """P2 — 7-property detail row (student_service.py:110-132)."""
        if node_id not in _ID_RANGE:
            return None
        rows = self._rows(
            "get_student_by_id", lookup.point_lookup_arrow, lookup.point_lookup, node_id
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
        if node_id not in _ID_RANGE:
            return False
        rows = self._rows("student_exists", lookup.exists_arrow, lookup.exists, node_id)
        return rows[0]["found"]

    def get_all_student_names(self) -> list[str]:
        """P1 projection scan (llm_cypher.py:15-22)."""
        rows = self._rows(
            "get_all_student_names", lookup.node_names_arrow, lookup.node_names
        )
        return [r["name"] for r in rows]

    def recommend_people(self, node_id: int, limit: int = 10) -> list[Recommendation]:
        """J3+A4+O1 — scored peers (student_service.py:146-190)."""
        if node_id not in _ID_RANGE:
            return []
        rows = self._rows("recommend_people", recommend_arrow, recommend, node_id, limit)
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
        """U1+O3 — fuzzy search (student_service.py:236-266)."""
        rows = self._rows(
            "search_students", fuzzy_search_arrow, fuzzy_search, query, threshold, limit
        )
        return [FuzzyMatch(id=r["id"], name=r["name"], score=r["score"]) for r in rows]

    def relationship(self, name_a: str, name_b: str) -> RelationshipSummary | None:
        """J4+J5+F7 — the two-name template (llm_cypher.py:86-96)."""
        rows = self._rows(
            "relationship",
            two_name_relationship_arrow,
            two_name_relationship,
            name_a,
            name_b,
        )
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

    def _max_id(self) -> int:
        """A1 — MAX(id) over the view, 0 when it is empty."""
        table = self._table()
        if table is not None:
            top = pc.max(table.column("id")).as_py()
        else:
            with job_label(self.spark, "api.save_student"):
                top = self._view().agg(F.max("id").alias("m")).collect()[0]["m"]
        return top or 0

    def save_student(self, student: StudentCreate) -> int:
        """S4 — allocate id = MAX(id)+1 and make the node visible to every
        subsequent read (student_service.py:21-60). Normalization matches
        the route contract (student_routes.py:28-32)."""
        new_id = self._max_id() + 1
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
        added = pa.Table.from_pylist([dict(zip(NODE_COLUMNS, row))], schema=ARROW_NODE_SCHEMA)
        self._overlay = pa.concat_tables([self._overlay, added]).combine_chunks()
        if self._names is not None:
            self._names.add(name)
        return new_id

    def new_edges_for_overlay(self) -> DataFrame:
        """Derived edges incident to the overlay batch (the five MERGEs of
        student_service.py:62-106), via the broadcast incremental plan."""
        from graphdb_neo4j_spark.sources.tpch import customer_interest_pairs

        return ingest.derive_edges_for_batch(
            customer_nodes(self.spark, self.sf_dir),
            customer_interest_pairs(self.spark, self.sf_dir),
            self._overlay_frame(),
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

        The name dictionary is built from the service's view on the first
        chat, reused by every later one, and extended by ``save_student``.
        Each chat runs on a new ``NLEngine`` over the view (the driver-side
        table when it fits, else the DataFrame), so the template path (one
        name, two names) reaches onboarded students. The engine registers
        the nodes/edges SQL views only when the question reaches the
        LLM-SQL path (``run_sql``), over the base snapshot without the
        overlay. Temp views are session-wide and another service may have
        pointed them at its own graph dir, so every such question registers
        them.
        """
        from graphdb_neo4j_spark.nl.pipeline import NLEngine

        table = self._table()
        eng = NLEngine(
            self.spark,
            self.sf_dir,
            llm=llm,
            nodes=self._view() if table is None else None,
            table=table,
            _names=self._names,
        )
        with job_label(self.spark, "api.chat"):
            self._names = eng.names
            return eng.answer(question, explain=True).reply or ""
