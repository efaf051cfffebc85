"""Fuzzy string scoring — the reference's rapidfuzz layer re-expressed.

The reference scores names with ``rapidfuzz.fuzz.ratio`` (0-100 normalized
Indel similarity) both for search (/root/reference/fastapi/services/
student_service.py:245-262) and NL-question name correction
(/root/reference/src/llm_cypher.py:25-38). Two engine forms
(SURVEY.md §2.7-F1, §7.4-H4):

1. ``levenshtein_ratio_col`` — built-in expression
   ``100 * (1 - levenshtein(a,b) / greatest(len(a), len(b)))``.
   JVM-side, codegen'd, DuckDB-oracle-checkable. An *approximation* of
   fuzz.ratio (plain Levenshtein weighs substitution 1; Indel weighs it 2).
2. ``indel_ratio_udf`` — exact fuzz.ratio semantics:
   ``(|a| + |b| - d_indel) / (|a| + |b|) * 100`` with
   ``d_indel = |a| + |b| - 2·LCS(a,b)`` — i.e. edit distance with
   insert/delete only. Vectorized Pandas UDF (Arrow batches); pure-Python
   LCS row kernel (rapidfuzz itself is not available in this environment,
   and the kernel is exact, not a reimplementation of that library).

The driver-side search (``operators.fuzzy.fuzzy_search_arrow``) computes
form 1 in numpy: :class:`CodedNames` lays names out once for many queries
and scores a query of up to 64 code points with Myers' bit-vector
algorithm (one uint64 per name, one gather per character), a longer one
with a DP over all names at once; :func:`levenshtein_ratio` and
:func:`round_half_up` repeat the column's arithmetic and ``round(·, 4)``
exactly.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from decimal import MAX_PREC, ROUND_HALF_UP, Context, Decimal

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def levenshtein_ratio_col(a: F.Column, b: F.Column) -> F.Column:
    """0-100 similarity from Levenshtein distance, length-normalized.

    Both sides empty → 100.0 (identical); one side empty → 0.0.
    """
    la, lb = F.length(a), F.length(b)
    denom = F.greatest(la, lb)
    return F.when(denom == 0, F.lit(100.0)).otherwise(
        100.0 * (1.0 - F.levenshtein(a, b) / denom)
    )


def _dp_distances(codes: np.ndarray, lens: np.ndarray, q: Sequence[int]) -> np.ndarray:
    """Levenshtein distance (unit insert, delete and substitute costs, as
    Spark's ``levenshtein``) of each of N names to a query, by one DP for
    all names at once.

    The names are an (L, N) matrix of character codes, so the i-th
    characters of all N names form one contiguous row (past a name's
    length, any value), and ``q`` holds the query's codes in the same
    coding. Each DP cell D[i][j] is a vector over the N names; a name's
    distance is read at the row of its own length.
    """
    n, m = len(lens), len(q)
    out = np.full(n, m, np.int32)  # an empty name is m insertions away
    width = int(lens.max()) if n else 0
    row = np.repeat(np.arange(m + 1, dtype=np.int32)[:, None], n, axis=1)  # D[0][j] = j
    new = np.empty_like(row)
    diag = np.empty(n, np.int32)
    for i in range(1, width + 1):
        c = codes[i - 1]
        new[0] = i
        for j in range(1, m + 1):
            # D[i][j] = min(D[i-1][j] + 1, D[i][j-1] + 1, D[i-1][j-1] + cost)
            np.add(row[j - 1], c != q[j - 1], out=diag)
            np.minimum(row[j], new[j - 1], out=new[j])
            new[j] += 1
            np.minimum(new[j], diag, out=new[j])
        row, new = new, row
        done = lens == i
        out[done] = row[m, done]
    return out


# the longest query the bit-parallel kernel scores: one uint64 per name
WORD = 64


@dataclass(frozen=True)
class CodedNames:
    """Names laid out once for many :meth:`distances` calls, in an order
    of non-increasing length: ``codes[i, j]`` is the index in ``alphabet``
    (the names' distinct code points, ascending) of name j's i-th code
    point, as uint8 or uint16 when the alphabet fits; ``lens`` are the
    lengths in code points."""

    alphabet: np.ndarray
    codes: np.ndarray
    lens: np.ndarray

    @classmethod
    def of(cls, names: Sequence[str]) -> "CodedNames":
        """``names``, which must come in non-increasing length order."""
        n = len(names)
        lens = np.fromiter(map(len, names), np.int32, n)
        if np.any(np.diff(lens) > 0):
            raise ValueError("names must come in non-increasing length order")
        width = int(lens[0]) if n else 0
        points = np.array(names, f"<U{max(width, 1)}").view(np.uint32).reshape(n, max(width, 1))
        alphabet, index = np.unique(points[:, :width], return_inverse=True)
        kind = np.uint8 if len(alphabet) <= 1 << 8 else np.uint16 if len(alphabet) <= 1 << 16 else np.int32
        codes = np.ascontiguousarray(index.reshape(n, width).T, kind)
        return cls(alphabet, codes, lens)

    def distances(self, query: str, lo: int = 0, hi: int | None = None) -> np.ndarray:
        """Levenshtein distance (over code points, as Spark's
        ``levenshtein``) of names ``lo:hi`` to ``query``: bit-parallel for
        a query of at most :data:`WORD` code points, the DP for a longer
        one."""
        lens = self.lens[lo:hi]
        codes = self.codes[:, lo:hi]
        # a code point no name holds matches nothing: index len(alphabet)
        points = np.array([ord(c) for c in query], np.uint32)
        at = np.searchsorted(self.alphabet, points)
        known = at < len(self.alphabet)
        known[known] = self.alphabet[at[known]] == points[known]
        q = np.where(known, at, len(self.alphabet))
        if len(q) <= WORD:
            return _bitparallel_distances(codes, lens, q, len(self.alphabet))
        return _dp_distances(codes, lens, q.tolist())


def _bitparallel_distances(
    codes: np.ndarray, lens: np.ndarray, q: np.ndarray, alphabet_size: int
) -> np.ndarray:
    """:func:`_dp_distances` for a query of at most :data:`WORD` codes and
    names of non-increasing length, by Myers' bit-vector algorithm in
    Hyyrö's form for the global distance (Myers 1999; Hyyrö 2001).

    A DP column over the query is held as two bit masks per name, its +1
    and −1 vertical deltas, so one text character updates all of it in a
    few word operations. Names are the text: step i reads row i of
    ``codes``, one gather of the query's match masks per character, for the
    names at least i + 1 long (a prefix, by the length order). The bottom
    cell, the distance so far, moves with the top bit of the horizontal
    deltas; row 0 of the DP grows by one per character, so a 1 shifts in.
    """
    m = len(q)
    if m > WORD:
        raise ValueError(f"a query of {m} codes does not fit in {WORD} bits")
    if m == 0:
        return lens.astype(np.int32)
    one, top = np.uint64(1), np.uint64(m - 1)
    peq = np.zeros(alphabet_size + 1, np.uint64)  # match mask of each code
    for j, code in enumerate(q.tolist()):
        peq[code] |= np.uint64(1 << j)
    n = len(lens)
    pv = np.full(n, ~np.uint64(0))  # D[i][0] = i: every vertical delta +1
    mv = np.zeros(n, np.uint64)
    score = np.full(n, m, np.uint64)  # D[m][0]
    width = int(lens[0]) if n else 0
    # names at least i + 1 long, for each step i
    active = np.searchsorted(-lens, -np.arange(1, width + 1), side="right")
    for i, a in enumerate(active.tolist()):
        eq = peq[codes[i, :a]]
        p, mm = pv[:a], mv[:a]
        xv = eq | mm
        xh = (((eq & p) + p) ^ p) | eq
        ph = mm | ~(xh | p)
        mh = p & xh
        score[:a] += (ph >> top) & one
        score[:a] -= (mh >> top) & one
        ph = (ph << one) | one
        mh <<= one
        pv[:a] = mh | ~(xv | ph)
        mv[:a] = ph & xv
    return score.astype(np.int32)


def levenshtein_ratio(distance: np.ndarray, lens: np.ndarray, query_len: int) -> np.ndarray:
    """:func:`levenshtein_ratio_col` from distances and name lengths, in the
    column's own double arithmetic."""
    denom = np.maximum(lens, query_len)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = 100.0 * (1.0 - distance / denom)
    return np.where(denom == 0, 100.0, ratio)


def round_half_up(x: np.ndarray, scale: int) -> np.ndarray:
    """``round(x, scale)`` as Spark rounds a finite double: the shortest
    decimal that reads back as x, rounded HALF_UP, exactly (a large double
    has more digits than the default decimal context keeps); a result of
    zero is +0.0, as a BigDecimal has no negative zero."""
    step = Decimal(1).scaleb(-scale)
    exact = Context(prec=MAX_PREC)
    values, inverse = np.unique(x, return_inverse=True)
    rounded = [
        float(Decimal(repr(float(v))).quantize(step, ROUND_HALF_UP, exact)) + 0.0
        for v in values
    ]
    return np.asarray(rounded, np.float64)[inverse.reshape(-1)]


def _lcs_len(a: str, b: str) -> int:
    """Classic O(len(a)·len(b)) longest-common-subsequence length with a
    rolling row."""
    if not a or not b:
        return 0
    if len(b) > len(a):
        a, b = b, a
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        append = cur.append
        for j, cb in enumerate(b, start=1):
            if ca == cb:
                append(prev[j - 1] + 1)
            else:
                p, c = prev[j], cur[j - 1]
                append(p if p >= c else c)
        prev = cur
    return prev[-1]


def indel_ratio(a: str | None, b: str | None) -> float:
    """Exact normalized Indel similarity, 0-100 (fuzz.ratio semantics)."""
    a = a or ""
    b = b or ""
    total = len(a) + len(b)
    if total == 0:
        return 100.0
    lcs = _lcs_len(a, b)
    # d_indel = total - 2*lcs ; similarity = (total - d_indel) / total
    return 100.0 * (2.0 * lcs) / total


@F.pandas_udf(DoubleType())
def _indel_ratio_against(series: pd.Series, query: pd.Series) -> pd.Series:
    return pd.Series(
        [indel_ratio(s, q) for s, q in zip(series, query)], dtype="float64"
    )


def indel_ratio_col(a: F.Column, b: F.Column) -> F.Column:
    """Exact Indel-ratio column (Pandas UDF, Arrow-batched)."""
    return _indel_ratio_against(a, b)
