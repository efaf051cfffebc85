"""N1 — fuzzy question preprocessing: correct misspelled node names
against the database's name dictionary before codegen.

Reference behavior (/root/reference/src/llm_cypher.py:41-57): tokenize the
question, skip short tokens and stopwords (:48), fuzzy-match each
remaining token against ALL student names with fuzz.ratio ≥ threshold.

The reference refetches every name from the store for EVERY token
(llm_cypher.py:15-22 called from :26 — an N+1 full scan we must not
copy). Here the dictionary is collected ONCE from the node table (a
DataFrame, or the driver-side Arrow snapshot) and kept driver-side for the
life of the service: ``GraphService`` builds one
:class:`NameDictionary`, reuses it for every ``chat()`` and adds each name
``save_student`` writes (an ``NLEngine`` keeps its own). Correction is then pure Python over precomputed lowercased
names: exact hits are a dict lookup and a length bound skips names that
cannot win. A name dictionary is a driver-side asset by nature (it seeds
prompt/string rewriting, not a data-plane join) — collecting it is the
correct boundary, and it is one column, deduplicated.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from graphdb_neo4j_spark.functions.fuzz import indel_ratio

# Mirror of the reference's stopword list (llm_cypher.py:48).
STOPWORDS = frozenset(
    [
        "who", "what", "where", "when", "why", "how", "the", "and", "are",
        "can", "between", "about", "student", "students", "connection",
        "relationship",
    ]
)

_CLEAN_RE = re.compile(r"[^\w\s#]")  # keep '#' — node names contain it


def fuzzy_best_name(
    token: str, names: list[str], threshold: float = 75.0
) -> str | None:
    """Best Indel-ratio match for one token, or None below threshold
    (reference: fuzzy_match_student_name, llm_cypher.py:25-38;
    process.extractOne = argmax over the dictionary, first wins on ties)."""
    return NameDictionary(names).best(token, threshold)


def correct_names(
    question: str, names: list[str], threshold: float = 75.0
) -> str:
    """Per-token fuzzy name correction (reference
    preprocess_question_with_fuzzy_matching, llm_cypher.py:41-57); see
    :meth:`NameDictionary.correct`."""
    return NameDictionary(names).correct(question, threshold)


@dataclass
class NameDictionary:
    """Node-name dictionary with the lowercased names and a lowercase →
    first-name index precomputed once; correction and template matching
    then never lowercase the dictionary again."""

    names: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._known = set(self.names)
        self._lower = [n.lower() for n in self.names]
        self._first: dict[str, str] = {}
        for name, low in zip(self.names, self._lower):
            self._first.setdefault(low, name)

    def add(self, name: str) -> None:
        """Add one name (a new node's) unless the dictionary holds it."""
        if name is None or name in self._known:
            return
        self.names.append(name)
        self._known.add(name)
        self._lower.append(name.lower())
        self._first.setdefault(name.lower(), name)

    @classmethod
    def from_nodes(cls, nodes: DataFrame | pa.Table) -> "NameDictionary":
        """The distinct non-null names of a node table, ONCE, in ascending-id
        first-occurrence order, so :meth:`best`'s first-wins tie-break does
        not depend on how the names were collected. A Spark node table is
        collected as (id, name) in one Arrow collect (Catalyst prunes the
        scan to the two columns); a driver-side one is read in place."""
        if isinstance(nodes, DataFrame):
            nodes = nodes.select("id", "name").where("name IS NOT NULL").toArrow()
        order = pc.sort_indices(nodes, sort_keys=[("id", "ascending")])
        names = pc.drop_null(nodes.column("name").take(order))
        return cls(names=pc.unique(names).to_pylist())

    def best(self, token: str, threshold: float = 75.0) -> str | None:
        """:func:`fuzzy_best_name` over this dictionary.

        Score 100 means the lowercased strings are identical, so an exact
        hit returns its first name at once. Otherwise a name is scored only
        if its length bound ``100·2·min(m, L)/(m + L)`` (the ratio with
        LCS = the shorter length, in ``indel_ratio``'s own float expression,
        so no score exceeds it) reaches the threshold and beats the current
        best; a skipped name can be neither the winner nor a tie that wins.
        """
        tok = token.lower()
        hit = self._first.get(tok)
        if hit is not None:
            return hit if threshold <= 100.0 else None
        m = len(tok)
        best, best_score = None, -1.0
        for name, low in zip(self.names, self._lower):
            n = len(low)
            bound = 100.0 * (2.0 * min(m, n)) / (m + n)
            if bound < threshold or bound <= best_score:
                continue
            score = indel_ratio(tok, low)
            if score > best_score:
                best, best_score = name, score
        return best if best_score >= threshold else None

    def correct(self, question: str, threshold: float = 75.0) -> str:
        """Tokens shorter than 3 chars or in the stopword list pass through.
        A corrected token replaces the WHOLE original token (the reference's
        ``word.replace(clean_word, matched)`` silently no-ops when
        punctuation splits the cleaned token — e.g. names containing ``#``)."""
        out: list[str] = []
        for word in question.split():
            clean = _CLEAN_RE.sub("", word)
            if len(clean) >= 3 and clean.lower() not in STOPWORDS:
                matched = self.best(clean, threshold)
                if matched is not None and matched.lower() != clean.lower():
                    out.append(matched)
                    continue
            out.append(word)
        return " ".join(out)

    def find_in(self, question: str) -> list[str]:
        """Names present as whole words in the (corrected) question, in order
        of appearance — feeds the template dispatch. A name matches only
        where no word character or ``#`` touches it on either side; of two
        overlapping matches the longer one is kept."""
        q = question.lower()
        spans = []
        for name, low in zip(self.names, self._lower):
            if low and low in q:
                m = re.search(rf"(?<![\w#]){re.escape(low)}(?![\w#])", q)
                if m:
                    spans.append((m.start(), m.end(), name))
        kept: list[tuple[int, int, str]] = []
        for s, e, name in sorted(spans, key=lambda t: (t[0] - t[1], t[0])):
            if all(e <= ks or s >= ke for ks, ke, _ in kept):
                kept.append((s, e, name))
        return [name for _, _, name in sorted(kept)]
