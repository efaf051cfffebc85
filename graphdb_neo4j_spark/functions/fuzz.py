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
form 1 in numpy: :func:`levenshtein_distances` runs one DP for many names
at once, and :func:`levenshtein_ratio` and :func:`round_half_up` repeat
the column's arithmetic and ``round(·, 4)`` exactly.
"""

from __future__ import annotations

from collections.abc import Sequence
from decimal import ROUND_HALF_UP, Decimal

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


def levenshtein_distances(names: Sequence[str], query: str) -> np.ndarray:
    """Levenshtein distance (unit insert, delete and substitute costs, over
    code points, as Spark's ``levenshtein``) of each name to ``query``.

    One DP runs for all names at once. The names are laid out as an
    (L, N) code-point matrix, so the i-th characters of all N names form
    one contiguous row, and each DP cell D[i][j] is a vector over the N
    names. A name's distance is read at the row of its own length.
    """
    n, m = len(names), len(query)
    lens = np.fromiter(map(len, names), np.int32, n)
    out = np.full(n, m, np.int32)  # an empty name is m insertions away
    width = int(lens.max()) if n else 0
    if width == 0:
        return out
    codes = np.array(names, f"<U{width}").view(np.uint32).reshape(n, width).T.copy()
    q = [ord(c) for c in query]
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


def levenshtein_ratio(distance: np.ndarray, lens: np.ndarray, query_len: int) -> np.ndarray:
    """:func:`levenshtein_ratio_col` from distances and name lengths, in the
    column's own double arithmetic."""
    denom = np.maximum(lens, query_len)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = 100.0 * (1.0 - distance / denom)
    return np.where(denom == 0, 100.0, ratio)


def round_half_up(x: np.ndarray, scale: int) -> np.ndarray:
    """``round(x, scale)`` as Spark rounds a double: the shortest decimal
    that reads back as x, rounded HALF_UP."""
    step = Decimal(1).scaleb(-scale)
    values, inverse = np.unique(x, return_inverse=True)
    rounded = [float(Decimal(repr(float(v))).quantize(step, ROUND_HALF_UP)) for v in values]
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
