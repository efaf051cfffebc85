"""Fuzzy scoring: exact Indel kernel invariants + UDF/bruteforce parity."""

import math
import random

from graphdb_neo4j_spark.functions.fuzz import _lcs_len, indel_ratio
from graphdb_neo4j_spark.operators.fuzzy import fuzzy_search
from graphdb_neo4j_spark.sources.tpch import node_snapshot


def brute_indel(a: str, b: str) -> float:
    """Independent check: Indel distance via DP over insert/delete only."""
    n, m = len(a), len(b)
    if n + m == 0:
        return 100.0
    prev = list(range(m + 1))
    for i in range(1, n + 1):
        cur = [i] + [0] * m
        for j in range(1, m + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1]
            else:
                cur[j] = 1 + min(prev[j], cur[j - 1])
        prev = cur
    dist = prev[m]
    return 100.0 * (n + m - dist) / (n + m)


def test_lcs_basic():
    assert _lcs_len("abcde", "ace") == 3
    assert _lcs_len("", "abc") == 0
    assert _lcs_len("abc", "abc") == 3


def test_indel_ratio_matches_bruteforce():
    rng = random.Random(42)
    alphabet = "abcdef# 0123"
    for _ in range(300):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        assert math.isclose(indel_ratio(a, b), brute_indel(a, b)), (a, b)


def test_indel_known_values():
    assert indel_ratio("", "") == 100.0
    assert indel_ratio("abc", "abc") == 100.0
    assert indel_ratio("abc", "") == 0.0
    # fuzz.ratio("this is a test", "this is a test!") == 96.55...
    assert math.isclose(indel_ratio("this is a test", "this is a test!"), 2 * 14 / 29 * 100)


def test_fuzzy_search_exact_udf(spark, sf_dir):
    df = fuzzy_search(node_snapshot(spark, sf_dir), query="custoner#000000042", exact=True, k=5)
    rows = df.collect()
    assert rows
    # the typo'd name should best-match the intended customer
    assert rows[0].name == "customer#000000042"
    for r in rows:
        assert math.isclose(r.score, round(indel_ratio(r.name, "custoner#000000042"), 4))


def test_fuzzy_search_lev_top1(spark, sf_dir):
    df = fuzzy_search(node_snapshot(spark, sf_dir), query="custoner#000000042", exact=False, k=1)
    assert df.first().name == "customer#000000042"
