"""Property-based tests (hypothesis) for the pure kernels: the Indel-ratio
scorer, the fuzzy name argmax and connected-components labeling."""

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from graphdb_neo4j_spark.functions.fuzz import indel_ratio
from graphdb_neo4j_spark.nl.names import fuzzy_best_name

TEXT = st.text(alphabet="abcde #", max_size=12)


def _lcs_ref(a: str, b: str) -> int:
    """Independent O(n·m) LCS for cross-checking the engine kernel."""
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b, 1):
            cur.append(prev[j - 1] + 1 if ca == cb else max(prev[j], cur[-1]))
        prev = cur
    return prev[-1]


@given(TEXT, TEXT)
def test_indel_ratio_matches_reference_formula(a, b):
    total = len(a) + len(b)
    expected = 100.0 if total == 0 else 100.0 * 2.0 * _lcs_ref(a, b) / total
    assert abs(indel_ratio(a, b) - expected) < 1e-9


@given(TEXT, TEXT)
def test_indel_ratio_symmetric_and_bounded(a, b):
    r = indel_ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert r == indel_ratio(b, a)


@given(TEXT)
def test_indel_ratio_identity(a):
    assert indel_ratio(a, a) == 100.0


def _components_ref(pairs):
    """Union-find reference."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=12,
    )
)
def test_connected_components_matches_union_find(spark, pairs):
    from graphdb_neo4j_spark.llmdata.dedup import connected_components

    df = spark.createDataFrame([(int(a), int(b)) for a, b in pairs], "a long, b long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == _components_ref(pairs)


def _asof_ref(events):
    """Pure-Python as-of reference: for each click, the latest purchase of
    the same user at-or-before its ts (ties: purchase wins), plus the
    count of purchases at-or-before."""
    out = {}
    for eid, uid, ts, typ in events:
        if typ != "click":
            continue
        rights = [
            (ts2, eid2)
            for eid2, uid2, ts2, typ2 in events
            if typ2 == "purchase" and uid2 == uid and ts2 <= ts
        ]
        prior = max(rights)[0] if rights else None
        out[eid] = (prior, len(rights))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # user
            st.integers(0, 5),  # second offset (collisions likely)
            st.sampled_from(["click", "purchase", "view"]),
        ),
        min_size=1,
        max_size=14,
    )
)
def test_asof_join_matches_reference(spark, rows):
    """Batch as-of (union + one ordered window pass) against a brute-force
    reference, including same-timestamp ties where the purchase must win."""
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.operators.events import asof_join_events

    events = [
        (i, uid, 1_700_000_000_000_000 + sec * 1_000_000, typ)
        for i, (uid, sec, typ) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        [(eid, uid, typ, us) for eid, uid, us, typ in events],
        "event_id long, user_id long, event_type string, us long",
    ).select(
        "event_id", "user_id", "event_type",
        F.timestamp_micros("us").alias("ts"),
    )
    got = {
        r["event_id"]: (r["prior_ts_ms"], r["n_prior"])
        for r in asof_join_events(df).collect()
    }
    expected = {
        eid: (None if prior is None else prior // 1000, n)
        for eid, (prior, n) in _asof_ref(events).items()
    }
    assert got == expected


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x24F),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_md5_bucket_is_engine_portable(spark, tokens):
    """The hashing-trick classifier's portability claim, property-tested:
    Spark's conv(substr(md5,1,8),16,10) % B must equal DuckDB's
    ('0x'||substr(md5,1,8))::BIGINT % B for ARBITRARY unicode tokens —
    md5 operates on identical UTF-8 bytes in both engines."""
    import duckdb
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.llmdata.classifier import N_BUCKETS

    df = spark.createDataFrame([(t,) for t in tokens], "token string")
    got = {
        r["token"]: r["b"]
        for r in df.select(
            "token",
            (
                F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
                % N_BUCKETS
            ).alias("b"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(token VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in tokens])
    want = dict(
        con.execute(
            f"SELECT token, CAST(('0x' || substring(md5(token), 1, 8)) AS BIGINT)"
            f" % {N_BUCKETS} FROM t"
        ).fetchall()
    )
    assert got == want


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=8_000_000_000), min_size=1, max_size=50, unique=True))
def test_lcg_bucket_is_engine_portable(spark, ids):
    """The id-keyed LCG (holdout split / stratified / cluster-cap
    membership) must agree across engines over its documented domain:
    ids small enough that id*a stays inside int64 (~8.3e9 — Spark ANSI
    mode hard-errors past it rather than silently wrapping, which is
    itself the right behavior; DuckDB would widen to int128 and the
    engines would silently disagree)."""
    import duckdb
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.llmdata.filterset import _LCG_A, _LCG_C, _LCG_M

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id",
            (
                ((F.col("doc_id") * F.lit(_LCG_A) + F.lit(_LCG_C)) % F.lit(_LCG_M))
                % 100
            ).alias("b"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in ids])
    want = dict(
        con.execute(
            f"SELECT doc_id, (doc_id * {_LCG_A} + {_LCG_C}) % {_LCG_M} % 100 FROM t"
        ).fetchall()
    )
    assert got == want


# --- CDC apply: random feeds vs a sequential fold -----------------------------

_OPS = st.sampled_from(["insert", "update", "delete"])
_FEED = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),    # key
        _OPS,
        st.floats(min_value=0, max_value=100, allow_nan=False),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(_FEED)
def test_cdc_apply_equals_sequential_fold(spark, feed):
    """cdc_apply over ANY feed (unique seq = arrival index) must equal
    replaying the feed in order into a dict — the definition of
    last-writer-wins with deletes."""
    from graphdb_neo4j_spark.operators.scd import cdc_apply

    rows = [
        (k, op, round(v, 2), i) for i, (k, op, v) in enumerate(feed)
    ]
    changes = spark.createDataFrame(
        rows, "user_id long, op string, value double, seq long"
    )
    got = {
        r["user_id"]: (r["op"], r["value"])
        for r in cdc_apply(changes, "user_id", "op", "seq").collect()
    }
    # spec: the key's LAST op wins; a winning delete removes the key
    # (no tombstone — a later non-delete reinserts)
    last: dict = {}
    for k, op, v, _ in rows:
        last[k] = (op, v)
    want = {k: (op, v) for k, (op, v) in last.items() if op != "delete"}
    assert got == want


def _jaccard_ref(texts, threshold, width, max_df):
    """Pure-Python reference for dedup_jaccard_pairs: normalize, shingle,
    full-corpus-df prune, exact jaccard over pruned sets."""
    import re

    sets = {}
    for i, t in enumerate(texts):
        n = re.sub(r"\s+", " ", t.strip().lower())
        sets[i] = {n[j : j + width] for j in range(max(len(n) - width + 1, 0))}
    df = {}
    for s in sets.values():
        for tok in s:
            df[tok] = df.get(tok, 0) + 1
    pruned = {
        i: {tok for tok in s if df[tok] <= max_df} for i, s in sets.items()
    }
    out = {}
    ids = sorted(pruned)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            sa, sb = pruned[a], pruned[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            union = len(sa) + len(sb) - inter
            if union and inter / union >= threshold:
                out[(a, b)] = round(inter / union, 6)
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.text(alphabet="ab ", min_size=0, max_size=10), min_size=1, max_size=6),
    st.lists(st.integers(0, 5), min_size=0, max_size=6),
)
def test_dedup_jaccard_compression_matches_bruteforce(spark, bases, copies):
    """The r6 representative-compression path (collapse identical
    fingerprints before the pair join, expand after) must equal the
    brute-force jaccard on corpora WITH forced exact duplicates — the
    regime the compression exists for. width=3/max_df=3 so tiny texts
    exercise shingling, zero-shingle dropout, AND full-corpus-df pruning."""
    from graphdb_neo4j_spark.llmdata.dedup import dedup_jaccard_pairs

    texts = list(bases) + [bases[i % len(bases)] for i in copies]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup_jaccard_pairs(
            docs, threshold=0.4, width=3, max_df=3
        ).collect()
    }
    want = _jaccard_ref(texts, threshold=0.4, width=3, max_df=3)
    assert set(got) == set(want), (sorted(got), sorted(want))
    for k in want:
        assert abs(got[k] - want[k]) <= 1e-6, k


# --- the compression primitives themselves (repcompress.py) ------------------


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(0, 4), min_size=1, max_size=12),
    st.lists(st.tuples(st.integers(0, 4), st.integers(0, 4)), max_size=6),
)
def test_repcompress_expansion_matches_bruteforce(spark, keys, rep_edges):
    """expand_cross_pairs + expand_in_group_pairs over exact_dup_members
    must reproduce exactly the member-level pair set a brute-force
    expansion gives: for any key assignment and any rep-level pair set,
    (a) every cross-group member pair appears once with its rep value,
    (b) every within-group pair appears once, (c) nothing else."""
    from graphdb_neo4j_spark.llmdata import repcompress as rc

    docs = spark.createDataFrame(
        [(i, f"k{k}") for i, k in enumerate(keys)], "doc_id long, key string"
    )
    member = rc.exact_dup_members(docs, F.col("key"), "doc_id")
    got_member = {r["doc_id"]: r["rep"] for r in member.collect()}
    # reference membership: rep = min doc_id per key
    rep_of_key = {}
    for i, k in enumerate(keys):
        rep_of_key.setdefault(k, i)
    want_member = {i: rep_of_key[k] for i, k in enumerate(keys)}
    assert got_member == want_member

    groups = {}
    for i, k in enumerate(keys):
        groups.setdefault(rep_of_key[k], []).append(i)

    # rep-level pairs: only valid (distinct-rep, ordered) edges survive
    edges = set()
    for x, y in rep_edges:
        kx, ky = f"k{x}", f"k{y}"
        if kx in rep_of_key and ky in rep_of_key:
            ra, rb = rep_of_key[kx], rep_of_key[ky]
            if ra != rb:
                edges.add((min(ra, rb), max(ra, rb)))
    edges = sorted(edges)
    rep_pairs = spark.createDataFrame(
        [(a, b, float(a * 100 + b)) for a, b in edges] or [(None, None, None)],
        "a long, b long, score double",
    ).filter(F.col("a").isNotNull())

    cross = {
        (r["a"], r["b"]): r["score"]
        for r in rc.expand_cross_pairs(rep_pairs, member, "doc_id").collect()
    }
    want_cross = {}
    for ra, rb in edges:
        for ma in groups[ra]:
            for mb in groups[rb]:
                want_cross[(min(ma, mb), max(ma, mb))] = float(ra * 100 + rb)
    assert cross == want_cross

    in_group = {
        (r["a"], r["b"])
        for r in rc.expand_in_group_pairs(member, "doc_id").collect()
    }
    want_in_group = {
        (a, b)
        for members in groups.values()
        for a in members
        for b in members
        if a < b
    }
    assert in_group == want_in_group
    # cross and in-group are disjoint by construction
    assert not (set(want_cross) & want_in_group)


@pytest.mark.parametrize("mega_k", [30, 50])
def test_repcompress_skewed_mega_group(spark, mega_k, tmp_path):
    """High-dup-factor stress (VERDICT r7 #7): the rep-level claims are
    pinned at dup-factor ~10 by the fixture; pin them where they matter —
    a SKEWED distribution with one mega-group of k ≥ 30 exact copies next
    to small groups and singletons. Asserts (a) compressed jaccard pairs
    == brute force, (b) rep-level component clustering == the expanded
    formulation, on the same corpus through the real parquet-reading
    query entry points."""
    from graphdb_neo4j_spark.llmdata import dedup as dd

    # one mega-group (k copies), two small groups (3 + 2), singletons;
    # texts engineered so near-dup (not just exact-dup) pairs exist
    # ACROSS groups (mega vs variant differs by one trailing token)
    base = "the quick brown fox jumps over the lazy dog again and again"
    variant = base + " x"
    other = "entirely different content with no shared shingles at all zz"
    texts = (
        [base] * mega_k
        + [variant] * 3
        + [other] * 2
        + ["unique text one about spark", "unique text two about duckdb"]
    )
    rows = [
        (i, t, "en", "synthetic", len(t)) for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "skewed")
    docs.coalesce(1).write.parquet(path + "/documents.parquet")

    # (a) compressed pair query == pure-python brute force
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dd.q_dedup_jaccard(spark, path, threshold=0.4).collect()
    }
    want = _jaccard_ref(texts, threshold=0.4, width=dd.SHINGLE_WIDTH,
                        max_df=dd.MAX_TOKEN_DF)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) <= 1e-6, k

    # (b) rep-level components == expanded formulation (pre-r7 shape)
    pairs = dd.q_dedup_jaccard(spark, path, threshold=0.4)
    comp = dd.connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    expanded = sorted(
        map(
            tuple,
            comp.join(sizes, "component")
            .select("node", "component", "cluster_size")
            .collect(),
        )
    )
    replevel = sorted(
        map(
            tuple,
            dd.q_dedup_components(spark, path, threshold=0.4)
            .select("doc_id", "canonical_id", "cluster_size")
            .collect(),
        )
    )
    assert expanded == replevel
    # sanity: the mega group + variants actually formed one big cluster
    big = max(r[2] for r in replevel)
    assert big >= mega_k + 3


def test_dedup_threshold_validation(spark):
    """Degenerate thresholds (>1 or <=0) must fail fast: the compressed
    paths settle exact-dup pairs at literal 1.0 and would otherwise
    silently diverge from the oracle's WHERE filter (r6 ADVICE)."""
    from graphdb_neo4j_spark.llmdata.dedup import (
        dedup_jaccard_pairs,
        q_dedup_incremental,
        q_dedup_minhash,
    )

    docs = spark.createDataFrame([(0, "aaa bbb ccc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold"):
        dedup_jaccard_pairs(docs, threshold=1.5)
    with pytest.raises(ValueError, match="threshold"):
        q_dedup_minhash(spark, "/root/testdata/sf0.001", threshold=0.0)
    with pytest.raises(ValueError, match="threshold"):
        q_dedup_incremental(spark, "/root/testdata/sf0.001", threshold=-0.2)


def _span_removal_ref(docs, width, min_df, priority=None):
    """Brute-force keep-one substring removal: removed positions are the
    union of every non-first occurrence of each duplicated gram (first =
    min by ``priority`` key, default (doc_id, start)). The engine's
    adjacent-island merging covers exactly this position set, so the
    position-set reference is exact."""
    from collections import defaultdict

    priority = priority or (lambda d, i: (d, i))
    gram_occ = defaultdict(list)
    for d, toks in docs.items():
        for i in range(len(toks) - width + 1):
            gram_occ[tuple(toks[i : i + width])].append((d, i))
    removed = defaultdict(set)
    for occ in gram_occ.values():
        if len({d for d, _ in occ}) < min_df:
            continue
        for d, i in sorted(occ, key=lambda p: priority(*p))[1:]:
            removed[d].update(range(i, i + width))
    out = {}
    for d, toks in docs.items():
        kept = [t for j, t in enumerate(toks) if j not in removed[d]]
        out[d] = (" ".join(kept), len(toks) - len(kept), len(kept))
    return out


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(
        st.integers(0, 7),
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=10),
        min_size=1,
        max_size=8,
    )
)
def test_span_removal_kernel_matches_bruteforce(spark, docs):
    """duplicated_gram_starts(keep_first=True) + _cut_spans against the
    brute-force position-set reference, on random tiny corpora where
    overlapping/adjacent duplicated grams are common."""
    from graphdb_neo4j_spark.llmdata.dedup import (
        _cut_spans,
        duplicated_gram_starts,
    )

    width, min_df = 2, 2
    ddf = spark.createDataFrame(
        [(int(d), " ".join(toks)) for d, toks in docs.items()],
        "doc_id long, text string",
    )
    arrs = ddf.select("doc_id", F.split(F.trim("text"), r"\s+").alias("arr"))
    hits = duplicated_gram_starts(ddf, width, min_df, keep_first=True).select(
        "doc_id", "start", (F.col("start") + width - 1).alias("end")
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"], r["n_kept"])
        for r in _cut_spans(arrs, hits).collect()
    }
    assert got == _span_removal_ref(docs, width, min_df)


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(
        st.integers(0, 7),
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=10),
        min_size=1,
        max_size=8,
    )
)
def test_span_removal_incremental_matches_bruteforce(spark, docs):
    """The history-priority rule ((doc_id % 2, doc_id, start) ordering,
    batch rows only) against the same brute-force reference with the
    incremental priority key."""
    from graphdb_neo4j_spark.llmdata.dedup import span_removal_incremental_frame

    width, min_df = 2, 2
    ddf = spark.createDataFrame(
        [(int(d), " ".join(toks)) for d, toks in docs.items()],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"], r["n_kept"])
        for r in span_removal_incremental_frame(ddf, width, min_df).collect()
    }
    ref = _span_removal_ref(
        docs, width, min_df, priority=lambda d, i: (d % 2, d, i)
    )
    assert got == {d: v for d, v in ref.items() if d % 2 == 1}


# --- cross-split jaccard machinery vs pure-Python reference (r12) -----------
#
# cross_split_jaccard_pairs became shared infrastructure in r12 (parity
# incremental dedup + benchmark paraphrase contamination ride it), so its
# semantics get a property pin: rep-compression, full-corpus df pruning,
# orientation, in-group 1.0 settling, and the zero-shingle exclusion must
# all agree with a direct set-algebra reference on arbitrary tiny corpora.

_DOC = st.text(alphabet="ab c", min_size=0, max_size=24)


def _shingle_ref(text, width):
    import re

    t = re.sub(r"\s+", " ", text.strip().lower())
    return {t[i : i + width] for i in range(len(t) - width + 1)}


def _cross_pairs_ref(texts, a_pred, b_pred, width, threshold, max_df):
    sh = {i: _shingle_ref(t, width) for i, t in enumerate(texts)}
    df = {}
    for s in sh.values():
        for tok in s:
            df[tok] = df.get(tok, 0) + 1
    sh = {i: {t for t in s if df[t] <= max_df} for i, s in sh.items()}
    out = {}
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a == b or not a_pred(a) or not b_pred(b) or not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= threshold:
                out[(a, b)] = round(j, 6)
    return out


@pytest.mark.parametrize(
    "a_pred,b_pred",
    [
        (lambda i: i % 2 == 0, lambda i: i % 2 == 1),
        (lambda i: i < 2, lambda i: i >= 2),
    ],
    ids=["parity", "threshold-split"],
)
@settings(max_examples=12, deadline=None)
@given(texts=st.lists(_DOC, min_size=2, max_size=6))
def test_cross_split_jaccard_matches_set_algebra(spark, a_pred, b_pred, texts):
    from graphdb_neo4j_spark.llmdata.dedup import cross_split_jaccard_pairs

    width, threshold, max_df = 3, 0.5, 3
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.xa, r.xb): r.jaccard
        for r in cross_split_jaccard_pairs(
            docs, a_pred, b_pred, threshold, width, max_df,
            out_a="xa", out_b="xb",
        ).collect()
    }
    assert got == _cross_pairs_ref(texts, a_pred, b_pred, width, threshold, max_df)


# --- fuzzy_best_name: the bounded scan equals the brute-force argmax ---------

# 'İ'.lower() is two characters long, so lowercasing changes the length
NAME_TEXT = st.text(alphabet="abAB#İ", max_size=6)


def _best_name_ref(token, names, threshold):
    """The unbounded scan: score every name, first wins on ties."""
    if not names:
        return None
    tok = token.lower()
    best, best_score = None, -1.0
    for name in names:
        score = indel_ratio(tok, name.lower())
        if score > best_score:
            best, best_score = name, score
    return best if best_score >= threshold else None


@example(token="", names=["ab", "b"], threshold=0.0)  # empty token
@example(token="ab", names=["ba", "ab#", "ab #"], threshold=0.0)  # ties
@example(token="ab", names=["Ab", "aB"], threshold=100.0)  # exact-hit tie
@example(token="aaaa", names=["b", "bb"], threshold=75.0)  # all below
@example(token="İİa", names=["İİ"], threshold=75.0)  # lower() grows 2 → 4
@given(
    token=NAME_TEXT,
    names=st.lists(NAME_TEXT, max_size=8),
    threshold=st.sampled_from([0.0, 75.0, 100.0]),
)
@settings(max_examples=400, deadline=None)
def test_fuzzy_best_name_equals_bruteforce_argmax(token, names, threshold):
    assert fuzzy_best_name(token, names, threshold) == _best_name_ref(
        token, names, threshold
    )
