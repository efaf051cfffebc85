"""Deduplication suite over the ``documents`` table — the core
training-data-pipeline operator family, each in its 100 TB shape:

- exact:          hash-groupBy on a normalized fingerprint (one shuffle)
- n-gram Jaccard: character-shingle equi-join — work ∝ Σ_shingle
                  C(df(shingle), 2), never an all-pairs nested loop
- MinHash + LSH:  signatures by min-aggregation per seed; banded bucket
                  join generates candidates; exact Jaccard verifies
                  CANDIDATES ONLY (pair-driven intersection join).
- SimHash:        64-bit sign-of-weighted-sum signature; banded 16-bit
                  sub-keys for candidate pairs; Hamming ≤ t verification
                  via xor + bit_count.

Token definition (the scale-critical choice): near-dup similarity runs on
**w-shingles** — distinct ``width``-char substrings of the
whitespace-normalized text (Broder's shingling, the standard MinHash
pre-step). Word unigrams are NOT used: a token's join cost is C(df, 2) and
natural-language unigrams (stopwords) have df ≈ N, turning the token join
into an all-pairs cross join — on this corpus the unigram form enumerated
~250M pairs at sf0.1 (151 s) while the shingle form enumerates ~670k.
A ``max_df`` guard additionally drops any pathological hot shingle
(boilerplate headers at 100 TB); dropped tokens carry no discriminative
signal, and the DuckDB oracle applies the identical cap so parity holds.

Exact and Jaccard forms have DuckDB SQL mirrors. MinHash/SimHash depend on
engine hashing (xxhash64) → rows-only driver check; pytest validates them
against exact Jaccard ground truth instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphdb_neo4j_spark.llmdata import genstore
from graphdb_neo4j_spark.llmdata import repcompress as rc
from graphdb_neo4j_spark.operators.graphalgo import min_label_components
from graphdb_neo4j_spark.session import materialize, widen_scan

# --- exact dedup ------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-id assignment by exact normalized-text fingerprint:
    (doc_id, fingerprint, canonical_id, is_duplicate).

    The canonical id is a ``groupBy(fingerprint).agg(min)`` joined back,
    NOT a ``min() OVER (PARTITION BY fingerprint)``: a window partition
    is one task, so a boilerplate fingerprint duplicated across millions
    of documents (exactly what exact dedup exists to catch) would
    serialize into a single straggler at 100 TB. The group-by is a
    mergeable two-phase partial aggregation (each map task collapses its
    copies of a hot fingerprint to ONE row before the shuffle) and the
    join-back is AQE-skew-splittable — the same de-windowing the span
    family got in r10. The DuckDB oracle deliberately keeps the window
    form (same answer via a different algorithm).
    """
    docs = widen_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    # checkpointed: consumed by BOTH the agg and the join-back — without
    # it each side would re-scan documents and re-hash the text (the
    # window form's one-pass advantage, kept)
    fp = docs.select("doc_id", F.md5(normalized).alias("fingerprint")).transform(materialize)
    canon = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("canonical_id"))
    return fp.join(canon, "fingerprint").select(
        "doc_id",
        "fingerprint",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
    )


DEDUP_EXACT_SQL = r"""
WITH fp AS (
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
    FROM documents
)
SELECT doc_id, fingerprint,
       MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
       doc_id <> MIN(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
FROM fp
"""


# --- token sets -------------------------------------------------------------

SHINGLE_WIDTH = 20
MAX_TOKEN_DF = 1000  # hot-shingle guard; no-op at test SFs, real at 100 TB


def doc_token_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, tok) distinct word-unigram pairs.

    Kept for SimHash unit invariants and callers that want word-level
    features; the near-dup joins use :func:`doc_shingles` (see module
    docstring for why unigrams must never feed a token self-join).
    """
    return (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+"))).alias(
                "tok"
            ),
        )
    )


def doc_shingles(
    docs: DataFrame, width: int = SHINGLE_WIDTH, parallelize: bool | None = None
) -> DataFrame:
    """(doc_id, tok) distinct character ``width``-shingles of the
    whitespace-normalized lowercased text (stride 1 — classic w-shingling).

    Docs shorter than ``width`` chars yield no shingles and drop out of the
    near-dup universe (documented; both engines agree).

    ``parallelize`` hash-repartitions the input by doc_id before the
    CPU-heavy shingling. Default (None) decides from the scan: a corpus
    that arrives as fewer partitions than the cluster has cores would run
    the whole shingle+hash pipeline on a handful of tasks (the sf0.1
    fixture is ONE 15 MB row group → one task → ~17 s serial), so the tiny
    text shuffle buys full-width parallelism. A block-split 100 TB corpus
    already has ≥cores partitions and skips the shuffle.
    """
    if parallelize is None:
        docs = widen_scan(docs, "doc_id")
    elif parallelize:
        docs = docs.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    t = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    shingles = F.expr(
        f"CASE WHEN length(t) >= {width} THEN "
        f"transform(sequence(1, length(t) - {width} + 1), i -> substring(t, i, {width})) "
        f"ELSE array() END"
    )
    return (
        docs.select("doc_id", t.alias("t"))
        .select("doc_id", F.explode(F.array_distinct(shingles)).alias("tok"))
    )


def prune_hot_tokens(toks: DataFrame, max_df: int = MAX_TOKEN_DF) -> DataFrame:
    """Drop tokens whose document frequency exceeds ``max_df``.

    The hot-token list is tiny by construction (few tokens can exceed a
    high df), so it broadcasts; the anti-join adds one aggregation pass and
    removes the quadratic C(df, 2) blowup a single pathological token would
    cause in the downstream self-join.
    """
    hot = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("tok")
    )
    return toks.join(F.broadcast(hot), "tok", "left_anti")


# DuckDB mirror of doc_shingles + prune_hot_tokens, parameterized.
def _shingle_toks_cte(width: int, max_df: int) -> str:
    return rf"""
norm AS (
    SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
    FROM documents
),
toks_all AS (
    SELECT doc_id,
           unnest(list_distinct([substr(t, i, {width})
                                 FOR i IN range(1, greatest(length(t) - {width} + 1, 0) + 1)])) AS tok
    FROM norm
),
hot AS (SELECT tok FROM toks_all GROUP BY tok HAVING COUNT(*) > {max_df}),
toks AS (SELECT t.doc_id, t.tok FROM toks_all t ANTI JOIN hot h ON t.tok = h.tok)
"""


def _validate_threshold(threshold: float) -> None:
    """The compressed paths settle exact-duplicate pairs analytically
    (Jaccard exactly 1.0) instead of re-filtering them; that is only
    oracle-equivalent when the threshold admits 1.0, so degenerate
    parameters fail fast rather than silently diverge (ADVICE r6).

    Non-positive thresholds are rejected DELIBERATELY as degenerate
    parameters, not for oracle-equivalence: a threshold ≤ 0 admits every
    pair (the compressed result would still match the oracle since the
    literal 1.0 in-group score passes any such filter), but it turns the
    near-dup query into an all-pairs cross product — never a meaningful
    request, so it fails fast too (ADVICE r7)."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"threshold must be in (0, 1], got {threshold!r} — a Jaccard "
            "similarity never exceeds 1.0"
        )


def _pair_jaccard(toks: DataFrame, inter: DataFrame, threshold: float) -> DataFrame:
    """(a, b, jaccard) from an intersection-count table + per-doc set sizes.

    Filters on the RAW ratio, THEN rounds for output — rounding first would
    admit pairs up to 5e-7 below the threshold and diverge from the oracle's
    raw-ratio WHERE clause (same discipline as simsearch.q_cosine_neardup).
    """
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    raw = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .filter(raw >= threshold)
        .select("a", "b", F.round(raw, 6).alias("jaccard"))
    )


def q_dedup_jaccard(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> DataFrame:
    """Near-duplicate pairs by char-shingle Jaccard ≥ threshold.

    Shingle equi-join computes |A∩B| per pair; |A∪B| = |A| + |B| − |A∩B|
    from per-doc set sizes — no arrays ever shipped through the shuffle,
    and work is Σ_shingle C(df, 2) with df capped by ``max_df``.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_jaccard_pairs(docs, threshold, width, max_df)


def dedup_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> DataFrame:
    """DataFrame-level body of :func:`q_dedup_jaccard` (docs needs
    ``doc_id`` and ``text``) — separated so the representative-compression
    path is property-testable against a pure-Python reference.

    """
    _validate_threshold(threshold)
    toks, member, rep_pairs = _jaccard_rep_level(docs, threshold, width, max_df)
    cross = rc.expand_cross_pairs(rep_pairs, member, "doc_id")
    # in-group pairs: exact duplicates, jaccard 1.0 — restricted to the
    # near-dup universe (≥1 surviving shingle; zero-shingle docs drop
    # out, same as the oracle)
    in_group = rc.expand_in_group_pairs(
        member, "doc_id", universe=toks.select("doc_id").distinct()
    ).select("a", "b", F.lit(1.0).alias("jaccard"))
    return cross.unionByName(in_group)


def _jaccard_rep_level(
    docs: DataFrame,
    threshold: float,
    width: int,
    max_df: int,
    member: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared rep-level core of the jaccard family: returns
    ``(toks, member, rep_pairs)`` where ``rep_pairs`` are the
    threshold-passing (a, b, jaccard) pairs over exact-duplicate
    REPRESENTATIVES only. ``dedup_jaccard_pairs`` expands these to doc
    pairs; ``q_dedup_components`` clusters them directly (components of
    the expanded graph are recoverable from rep-level components + the
    membership map, so the quadratic in-group edges never materialize).

    The pruned token table feeds three different shuffles (join a-side,
    hot-set agg, per-doc sizes); materialize it once instead of
    re-running the shingle pipeline per consumer — the single-query
    analog of the "write the shingle table, then join" step every
    at-scale dedup pipeline has (token table ≈ 0.3× corpus bytes).
    NOTE the order: pruning uses the FULL-corpus df (the oracle's
    semantics — compressing first would change which tokens clear
    max_df), and only THEN do exact duplicates collapse to a
    representative (r6 measurement: 10× dup-heavy stand-in 28 s → 5.7 s).
    """
    toks = prune_hot_tokens(doc_shingles(docs, width), max_df).transform(materialize)
    if member is None:
        member = rc.exact_dup_members(docs, rc.text_fingerprint("text"), "doc_id")
    rtoks = toks.join(rc.representatives(member, "doc_id"), "doc_id", "left_semi")
    a = rtoks.select(F.col("doc_id").alias("a"), "tok")
    b = rtoks.select(F.col("doc_id").alias("b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    rep_pairs = _pair_jaccard(rtoks, inter, threshold)
    return toks, member, rep_pairs


def dedup_jaccard_sql(
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> str:
    return rf"""
WITH {_shingle_toks_cte(width, max_df).strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
    SELECT t1.doc_id AS a, t2.doc_id AS b, COUNT(*) AS n_inter
    FROM toks t1 JOIN toks t2 ON t1.tok = t2.tok AND t1.doc_id < t2.doc_id
    GROUP BY t1.doc_id, t2.doc_id
)
SELECT a, b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= {threshold}
"""


def q_dup_source_matrix(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> DataFrame:
    """Cross-source duplication burden matrix (r11 debut):
    (source_a, source_b, n_pairs) — near-dup pairs from
    :func:`dedup_jaccard_pairs` attributed to the UNORDERED source pair
    of their endpoints. The curation diagnostic that tells you WHERE the
    duplication lives: a heavy diagonal cell means a source re-crawls
    itself (dedup within the source's ingest), a heavy off-diagonal
    means two feeds overlap (drop or down-weight one side); per-doc
    dedup output can't answer that without this rollup.

    Scale shape: the pair set is the bucketed/rep-compressed jaccard
    machinery's output (never all-pairs); source attribution is two
    equi-joins of that pair set against the (doc_id, source) projection
    — the pair side is the small one and broadcasts at test sf, AQE
    handles it at scale — and the rollup is ≤ |sources|² groups with
    map-side partials. Canonical ordering by (least, greatest) keeps the
    matrix upper-triangular and hash-stable.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup_jaccard_pairs(docs, threshold, width, max_df)
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(F.col("doc_id").alias("a"), F.col("source").alias("sa")),
            "a",
        )
        .join(
            src.select(F.col("doc_id").alias("b"), F.col("source").alias("sb")),
            "b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_pairs")
    )


def dup_source_matrix_sql(
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> str:
    return rf"""
WITH {_shingle_toks_cte(width, max_df).strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
    SELECT t1.doc_id AS a, t2.doc_id AS b, COUNT(*) AS n_inter
    FROM toks t1 JOIN toks t2 ON t1.tok = t2.tok AND t1.doc_id < t2.doc_id
    GROUP BY t1.doc_id, t2.doc_id
),
pairs AS (
    SELECT a, b FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= {threshold}
)
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       COUNT(*) AS n_pairs
FROM pairs
JOIN documents da ON da.doc_id = pairs.a
JOIN documents db ON db.doc_id = pairs.b
GROUP BY 1, 2
"""


# --- MinHash + LSH ----------------------------------------------------------

N_HASHES = 16
BAND_SIZE = 4  # 4 bands of 4 hashes


# Universal-hash permutation family over the Mersenne prime 2^31−1: every
# intermediate stays < 2^62, so the arithmetic is ANSI-safe (Spark 4 throws
# on signed-64 overflow). Constants are fixed pseudo-random values derived
# from splitmix64 finalizer constants.
_PERM_P = (1 << 31) - 1
_PERM_AS = [(0x9E3779B97F4A7C15 * (2 * i + 1)) % _PERM_P or 1 for i in range(64)]
_PERM_BS = [(0xBF58476D1CE4E5B9 * (i + 1)) % _PERM_P for i in range(64)]


def minhash_signatures(hashed: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """One row per doc with n_hashes min-hash columns h0..h{n-1}.

    ``hashed`` is (doc_id, h: long) — the token hashed ONCE with xxhash64.
    Permutation i is the universal family ``(a_i·(h mod p) + b_i) mod p``
    (p = 2^31−1), so each extra hash costs a multiply-add instead of
    re-hashing the 20-char shingle string — 16 string hashes per token
    collapse to 1. The signature is a plain min-aggregation — one shuffle,
    no UDFs, all inside whole-stage codegen.
    """
    hp = F.pmod(F.col("h"), F.lit(_PERM_P))
    aggs = [
        F.min(
            F.pmod(hp * F.lit(_PERM_AS[i]) + F.lit(_PERM_BS[i]), F.lit(_PERM_P))
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, n_hashes: int = N_HASHES, band_size: int = BAND_SIZE
) -> DataFrame:
    """Banded LSH: docs agreeing on ALL hashes of any band become candidate
    pairs. Bucket join on (band_idx, band_signature)."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{band * band_size + i}").cast("string")
                        for i in range(band_size)
                    ],
                )
            )
            for band in range(n_bands)
        ]
    )
    buckets = sigs.select(
        "doc_id", F.posexplode(bands).alias("band_idx", "band_sig")
    )
    l = buckets.select(F.col("doc_id").alias("a"), "band_idx", "band_sig")
    r = buckets.select(F.col("doc_id").alias("b"), "band_idx", "band_sig")
    return (
        l.join(r, ["band_idx", "band_sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def q_dedup_minhash(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified (candidates only).

    The verification join is PAIR-DRIVEN: candidate pairs join against the
    a-side token lists, then equi-join (b, tok) — cost ∝ Σ_cands |A| + |A∩B|.
    (The earlier shape ran the full token self-join and only then
    semi-joined candidates; Catalyst will not push a left-semi below an
    inner join, so the all-pairs enumeration LSH exists to avoid still
    executed.)

    rows-only driver check (engine-specific hashing); pytest compares the
    result against the exhaustive Jaccard pairs.
    """
    _validate_threshold(threshold)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # Token table hashed to longs ONCE: every downstream consumer
    # (signatures, verification joins, set sizes) works on 8-byte keys
    # instead of 20-char strings — smaller shuffles, cheaper compares. A
    # 64-bit collision can perturb n_inter by ±1 for one pair (P ≈ 1e-5
    # corpus-wide); this form is rows-only + pytest-verified against the
    # exact string-token Jaccard, which is where that tolerance is checked.
    th = (
        prune_hot_tokens(doc_shingles(docs, width), max_df)
        .select("doc_id", F.xxhash64("tok").alias("h"))
        .transform(materialize)
    )  # reused by signatures, verification a/b sides, and sizes
    # Signatures are tiny (one row per doc, 17 longs) but their lineage is
    # the whole shingle pipeline, and they feed BOTH the band self-join
    # (twice) and nothing prevents Catalyst from recomputing that lineage
    # per consumer — measured 110 s → 17 s at sf0.1. localCheckpoint
    # materializes them once and truncates lineage (same technique as the
    # BFS operator); at 100 TB this is N_docs × 136 B of executor storage.
    sigs = minhash_signatures(th).transform(materialize)
    cands = lsh_candidate_pairs(sigs)

    # EXACT-duplicate short-circuit (r6): identical normalized text ⇒
    # identical shingle sets ⇒ Jaccard exactly 1.0 and identical MinHash
    # signatures (so LSH always produces the pair — recall-neutral).
    # Fingerprint the SAME normalization the shingler sees and settle
    # those candidates without the token join. On duplication-heavy
    # corpora this is the dominant candidate class (the 10× stand-in,
    # where every doc has 9 exact copies: 78 s → the verify join runs
    # only on the genuinely-near pairs); on dup-light corpora it adds one
    # cheap projection + a candidate-sized join.
    fp = docs.select("doc_id", rc.text_fingerprint("text").alias("fp"))
    cands_fp = (
        cands.join(fp.select(F.col("doc_id").alias("a"), F.col("fp").alias("fp_a")), "a")
        .join(fp.select(F.col("doc_id").alias("b"), F.col("fp").alias("fp_b")), "b")
        .transform(materialize)  # consumed by both branches
    )
    exact_pairs = cands_fp.filter(F.col("fp_a") == F.col("fp_b")).select(
        "a", "b", F.lit(1.0).alias("jaccard")
    )
    near_cands = cands_fp.filter(F.col("fp_a") != F.col("fp_b")).select("a", "b")

    # Verification touches only docs that appear in some REMAINING
    # candidate pair: semi-join the token table down FIRST (candidate
    # docs ≪ corpus), so the expensive (b, h) equi-join runs on the
    # reduced sliver, not the full token table.
    cand_docs = (
        near_cands.select(F.col("a").alias("doc_id"))
        .unionByName(near_cands.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    ct = th.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    ta = ct.select(F.col("doc_id").alias("a"), "h")
    tb = ct.select(F.col("doc_id").alias("b"), "h")
    inter = (
        near_cands.join(ta, "a")  # (a, b, h): every token of a, per pair
        .join(tb, ["b", "h"])  # keep tokens present in b too
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    verified = _pair_jaccard(th, inter, threshold)  # sizes need doc_id rows
    return verified.unionByName(exact_pairs)


# --- SimHash ----------------------------------------------------------------


def simhash_signatures(toks: DataFrame, portable: bool = False) -> DataFrame:
    """64-bit SimHash per doc: for each bit position, +1 if the token
    hash has the bit set else −1; the signature bit is the sign of the sum.

    Implemented as ONE groupBy with 64 per-bit popcount sums (plus the
    token count): the per-bit contribution sum is 2·ones(bit) − n, so no
    row explosion is needed — the earlier posexplode form multiplied the
    token table ×64 before aggregating (89M intermediate rows at sf0.1).
    All expressions stay inside whole-stage codegen.

    The 64 token-hash bits default to xxhash64 (one JVM hash — the
    at-scale library form). ``portable=True`` draws them from two 32-bit
    md5 prefixes instead (bits 0–31 from hex chars 9–16, bits 32–63 from
    chars 1–8 — the same md5-prefix scheme the repo replays
    bit-identically in DuckDB): SimHash needs only deterministic
    independent bits, so the signatures — and every downstream
    band/Hamming decision — become exactly replayable cross-engine. The
    registered ``dedup_simhash`` uses it (oracle-promoted r10).
    """
    if portable:
        hashed = toks.select("doc_id", F.md5("tok").alias("m")).select(
            "doc_id",
            F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("lo"),
        )
        bit = lambda j: (  # noqa: E731 — bit j of the 64-bit (hi, lo) pair
            f"shiftright(lo, {j}) & 1L" if j < 32 else f"shiftright(hi, {j - 32}) & 1L"
        )
    else:
        hashed = toks.select("doc_id", F.xxhash64("tok").alias("h"))
        bit = lambda j: f"shiftright(h, {j}) & 1L"  # noqa: E731
    aggs = [
        F.sum(F.expr(f"CAST({bit(j)} AS LONG)")).alias(f"ones{j}")
        for j in range(64)
    ] + [F.count("*").alias("n_toks")]
    per_doc = hashed.groupBy("doc_id").agg(*aggs)
    sig = None
    for j in range(64):
        bit = F.when(
            F.col(f"ones{j}") * 2 - F.col("n_toks") > 0,
            F.expr(f"shiftleft(1L, {j})"),
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return per_doc.select("doc_id", sig.alias("simhash"))


def q_dedup_simhash(
    spark: SparkSession, sf_dir: str, max_hamming: int = 6
) -> DataFrame:
    """SimHash near-dup pairs: candidates share at least one of four 16-bit
    bands; verified by Hamming distance ≤ max_hamming (xor + bit_count).

    Runs on the same shingle features as the Jaccard/MinHash family — word
    unigrams on a small vocabulary give every doc a near-identical
    signature (no discrimination) AND a hot-band candidate blowup.

    Oracle-promoted (r10) via the portable md5-prefix bit source
    (:func:`simhash_signatures`): the DuckDB mirror
    (:func:`dedup_simhash_sql`) rebuilds the same 64 per-bit popcounts and
    compares bands/Hamming over an independently-shaped plan (four 16-bit
    band columns, OR-of-bands candidate join) — hash-green means the whole
    signature construction matches bit-for-bit cross-engine."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = prune_hot_tokens(doc_shingles(docs))
    # One row per doc; lineage-truncated for the same reason as MinHash.
    sigs = simhash_signatures(toks, portable=True).transform(materialize)

    bands = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * i)
                    .bitwiseAND(F.lit(0xFFFF))
                    .cast("int")
                    for i in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    l = bands.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("sig_a"), "band_idx", "band_val"
    )
    r = bands.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("sig_b"), "band_idx", "band_val"
    )
    return (
        l.join(r, ["band_idx", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_simhash_sql(
    max_hamming: int = 6,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> str:
    """DuckDB mirror of :func:`q_dedup_simhash` (portable bit source).

    Deliberately different representation: the signature is kept as four
    16-bit band integers (DuckDB's ``<<`` checks overflow, so the signed
    64-bit assembly Spark uses is not expressible) — banding reads the
    band columns directly and Hamming sums four per-band
    ``bit_count(xor(...))``. Bit j of the 64 comes from the same two md5
    prefixes as the Spark side: bits 0–31 from hex chars 9–16, 32–63 from
    chars 1–8.
    """

    def _ones(j: int) -> str:
        half = (
            f"('0x' || substr(md5(tok), 9, 8))::BIGINT"
            if j < 32
            else f"('0x' || substr(md5(tok), 1, 8))::BIGINT"
        )
        return f"SUM(({half} >> {j % 32}) & 1) AS ones{j}"

    ones_cols = ",\n           ".join(_ones(j) for j in range(64))

    def _band(b: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN 2 * ones{16 * b + j} - n_toks > 0 "
            f"THEN 1::BIGINT << {j} ELSE 0 END)"
            for j in range(16)
        )
        return f"({terms}) AS band{b}"

    band_cols = ",\n           ".join(_band(b) for b in range(4))
    band_eq = " OR ".join(f"a.band{b} = b.band{b}" for b in range(4))
    hamming = " + ".join(f"bit_count(xor(a.band{b}, b.band{b}))" for b in range(4))
    return rf"""
WITH {_shingle_toks_cte(width, max_df).strip()},
perdoc AS (
    SELECT doc_id,
           {ones_cols},
           COUNT(*) AS n_toks
    FROM toks
    GROUP BY doc_id
),
sigs AS (
    SELECT doc_id,
           {band_cols}
    FROM perdoc
)
SELECT * FROM (
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST({hamming} AS INTEGER) AS hamming
    FROM sigs a JOIN sigs b
      ON a.doc_id < b.doc_id AND ({band_eq})
)
WHERE hamming <= {max_hamming}
"""


# --- near-dup clustering (connected components) ------------------------------


def connected_components(
    pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """(node, component) for the undirected graph given as (a, b) pairs —
    component = min node id reachable (canonical-doc assignment over the
    near-dup pair graph; the batch analog of union-find).

    Min-label propagation through
    :func:`~graphdb_neo4j_spark.operators.graphalgo.min_label_components`:
    the nodes are the distinct endpoints and each pair is a two-member
    group keyed exactly by struct(a, b). A group's min label is the min
    over the pair, so f(L)(v) = least(L(v), min over v's neighbours) —
    each application moves every label one hop — and the homogeneity stop
    fires exactly when an application would change no label, so at most
    ``max_iterations`` applications run. Near-dup pair graphs
    are small next to one collect, so this takes the operator's
    driver path; the broadcast loop serves larger ones.
    """
    ends = F.explode(F.array("a", "b")).alias("id")
    node_ids = pairs.select(ends).distinct()
    inc = pairs.select(ends, F.struct("a", "b").alias("gk"))
    return min_label_components(node_ids, inc, max_iterations).select(
        F.col("id").alias("node"), "component"
    )


def q_dedup_components(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> DataFrame:
    """Canonical-document assignment: cluster the exact-Jaccard near-dup
    pair graph and emit (doc_id, canonical_id, cluster_size) for every doc
    that belongs to a near-dup cluster. The keep-one-per-cluster policy of
    a training-data pipeline is then a filter (doc_id = canonical_id).

    r7: clusters at the REPRESENTATIVE level instead of expanding pairs
    first. The expanded graph's components are exactly recoverable:
    every exact-dup group is a clique (its in-group 1.0 edges), so
    (a) members inherit their rep's component, (b) a group with ≥2
    shingle-bearing members forms a component even when its rep has no
    near-dup pair, and (c) component labels agree because rep = min(id)
    of its group and the label is the component-min id. On a dup-factor-k
    corpus the iterative label propagation would otherwise re-join the
    Σ C(g, 2) in-group clique edges EVERY iteration — the same
    duplicate-quadratic r6 killed in the pair family, but multiplied by
    the iteration count."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_components_from(docs, threshold, width, max_df)


def dedup_components_from(
    docs: DataFrame,
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
    member: DataFrame | None = None,
) -> DataFrame:
    """DataFrame-level body of :func:`q_dedup_components`. ``member`` —
    optional precomputed (doc_id, rep) exact-dup membership built from the
    SAME :func:`repcompress.text_fingerprint` normalization (r14: the
    fused training filter already md5s every document once in its base
    projection, so passing its membership here removes one full corpus
    text scan + hash pass from the inline components subtree; guide §2.4
    — share one materialization between consumers). Rows are identical
    either way; the DuckDB oracle pins it."""
    _validate_threshold(threshold)
    toks, member, rep_pairs = _jaccard_rep_level(
        docs, threshold, width, max_df, member=member
    )
    rep_comp = connected_components(rep_pairs.select("a", "b"))
    # shingle-bearing membership (zero-shingle docs are outside the
    # near-dup universe, as the oracle has it)
    shingled = member.join(toks.select("doc_id").distinct(), "doc_id", "left_semi")
    # groups that form a cluster on their own: ≥2 shingled members and
    # the rep untouched by any rep-level pair
    clique_reps = (
        shingled.groupBy("rep")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select(F.col("rep").alias("node"), F.col("rep").alias("component"))
        .join(rep_comp.select("node"), "node", "left_anti")
    )
    all_rep_comp = rep_comp.unionByName(clique_reps)
    comp = shingled.join(
        all_rep_comp.withColumnRenamed("node", "rep"), "rep"
    ).select(F.col("doc_id").alias("node"), "component")
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("canonical_id"),
            "cluster_size",
        )
    )


def dedup_components_sql(
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> str:
    """Recursive-CTE oracle: min reachable id per node over the pair graph."""
    return rf"""
WITH RECURSIVE {_shingle_toks_cte(width, max_df).strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
    SELECT t1.doc_id AS a, t2.doc_id AS b, COUNT(*) AS n_inter
    FROM toks t1 JOIN toks t2 ON t1.tok = t2.tok AND t1.doc_id < t2.doc_id
    GROUP BY t1.doc_id, t2.doc_id
),
pairs AS (
    SELECT a, b
    FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
    WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= {threshold}
),
edges AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
reach(x, y) AS (
    SELECT x, y FROM edges
    UNION
    SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
),
comp AS (
    SELECT x AS node, LEAST(x, MIN(y)) AS component
    FROM reach GROUP BY x
)
SELECT c.node AS doc_id,
       c.component AS canonical_id,
       s.cluster_size
FROM comp c
JOIN (SELECT component, COUNT(*) AS cluster_size
      FROM comp GROUP BY component) s USING (component)
"""


# --- segment-level exact dedup ----------------------------------------------

SEG_WIDTH = 10  # tokens per segment
SEG_MIN_DF = 2  # a segment appearing in >= this many docs is "duplicated"


def q_dedup_segments(
    spark: SparkSession,
    sf_dir: str,
    width: int = SEG_WIDTH,
    min_df: int = SEG_MIN_DF,
) -> DataFrame:
    """Segment-granularity exact duplication profile: split each document
    into non-overlapping ``width``-token segments, count each segment's
    document frequency corpus-wide, and report per-doc how much of the
    document is made of segments that also appear elsewhere — the
    segment-level analog of exact substring dedup (the C4/CCNet
    boilerplate-removal signal at paragraph granularity).

    Output: (doc_id, n_segments, n_dup_segments, dup_ratio).

    Scale shape: segments are built WITHOUT a groupBy — a codegen'd
    ``transform(sequence(...), i -> array_join(slice(arr, ...)))`` over
    the token array, then one posexplode. The df count is one partial-agg
    shuffle keyed by segment text; the join back is on the same key (the
    exchange is reused), and the final per-doc rollup is a second small
    shuffle. Boilerplate segments are hot keys at 100 TB — the df agg
    combines map-side, and AQE's skew-join handling covers the join back.
    """
    docs = widen_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    segs = docs.select(
        "doc_id",
        F.split(F.trim(F.col("text")), r"\s+").alias("arr"),
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(size(arr) / {width}.0)) - 1),"
                f" i -> array_join(slice(arr, i * {width} + 1, {width}), ' '))"
            )
        ).alias("seg_id", "seg_text"),
    )
    dfreq = segs.groupBy("seg_text").agg(
        F.count_distinct("doc_id").alias("seg_df")
    )
    dup = (F.col("seg_df") >= min_df).cast("long")
    return (
        segs.join(dfreq, "seg_text")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(dup).alias("n_dup_segments"),
            F.round(F.sum(dup) / F.count("*"), 4).alias("dup_ratio"),
        )
    )


def dedup_segments_sql(width: int = SEG_WIDTH, min_df: int = SEG_MIN_DF) -> str:
    return rf"""
WITH arrs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
              FROM documents),
toks AS (SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
         FROM arrs),
segs AS (SELECT doc_id, CAST((pos - 1) // {width} AS INT) AS seg_id,
                string_agg(tok, ' ' ORDER BY pos) AS seg_text
         FROM toks GROUP BY 1, 2),
dfreq AS (SELECT seg_text, COUNT(DISTINCT doc_id) AS seg_df FROM segs GROUP BY 1)
SELECT s.doc_id,
       COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN d.seg_df >= {min_df} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_segments,
       ROUND(CAST(SUM(CASE WHEN d.seg_df >= {min_df} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS dup_ratio
FROM segs s JOIN dfreq d ON s.seg_text = d.seg_text
GROUP BY s.doc_id
"""


# --- incremental (new-batch-vs-history) dedup --------------------------------
#
# A continuously-ingesting pipeline never re-deduplicates the whole corpus:
# each new batch is checked AGAINST the existing corpus (plus itself). Two
# forms, same split contract (history = even doc_id, batch = odd — a
# deterministic stand-in for "already ingested" vs "arriving", expressible
# in both engines):
#
# - q_dedup_incremental — exact shingle-Jaccard across the split, oracle-
#   backed. The join is history-tokens ⋈ batch-tokens: work is
#   Σ_tok df_hist·df_batch (not C(df,2) over the union), so a batch that is
#   1% of the corpus costs ~1% of a full re-dedup.
# - write_minhash_store / probe_minhash_store — the at-rest form: history
#   MinHash signatures + LSH band buckets persist as parquet; a new batch
#   shingles ONLY ITSELF, probes the bucket table, and verifies via
#   signature-estimated Jaccard without ever touching history text. Store
#   size is N_docs × ~200 B regardless of corpus bytes.


def batch_predicate() -> Column:
    """The parity convention of :func:`split_history_batch` as a column
    expression — the ONE place the history/batch split is defined, so
    frame kernels that need it inline (e.g.
    :func:`span_removal_incremental_frame`) cannot drift from the
    documented split contract."""
    return F.col("doc_id") % 2 == 1


def split_history_batch(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic (history, new-batch) split on doc_id parity."""
    return (docs.filter(~batch_predicate()), docs.filter(batch_predicate()))


def q_dedup_incremental(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> DataFrame:
    """(hist_id, new_id, jaccard): new-batch docs whose shingle Jaccard
    against some history doc clears ``threshold``.

    One shingle pass over the corpus feeds both sides (the checkpointed
    token table is the single-query analog of reading a persisted history
    token store); the token intersection join runs over EXACT-duplicate
    representatives only (r6 — same compression as :func:`q_dedup_jaccard`:
    full-corpus-df pruning first, then identical-fingerprint docs collapse;
    a dup-heavy history multiplies the token join otherwise), and rep
    pairs expand back split-aware: cross-group (hist member × batch
    member) pairs inherit the rep jaccard in both orientations, in-group
    hist×batch pairs are exactly 1.0.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cross_split_jaccard_pairs(
        docs,
        a_pred=lambda i: i % 2 == 0,
        b_pred=lambda i: i % 2 == 1,
        threshold=threshold,
        width=width,
        max_df=max_df,
        out_a="hist_id",
        out_b="new_id",
    )


def cross_split_jaccard_pairs(
    docs: DataFrame,
    a_pred,
    b_pred,
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
    out_a: str = "hist_id",
    out_b: str = "new_id",
) -> DataFrame:
    """Oriented cross-split shingle-Jaccard pairs (``out_a``, ``out_b``,
    ``jaccard``) between two disjoint doc populations given by the id
    predicates ``a_pred``/``b_pred`` (each a Column→Column lambda) — the
    r6 rep-compressed, orientation-direct machinery of
    :func:`q_dedup_incremental`, extracted (r12) so the
    benchmark-contamination form (:func:`~graphdb_neo4j_spark.llmdata.
    scrub.q_contamination_neardup`: bench side × corpus side) rides the
    identical plan instead of duplicating it.

    One shingle pass feeds both sides; token df pruning uses the FULL
    corpus (oracle semantics), exact-duplicate docs collapse to
    representatives before the intersection join, and rep pairs expand
    split-aware (cross-group pairs inherit the rep jaccard, in-group
    cross-boundary pairs are exactly 1.0).
    """
    _validate_threshold(threshold)
    toks = prune_hot_tokens(doc_shingles(docs, width), max_df).transform(materialize)
    member = rc.exact_dup_members(docs, rc.text_fingerprint("text"), "doc_id")
    # no second checkpoint: toks is already materialized, and the rep
    # semi-join is cheap to re-derive per consumer (a checkpoint here
    # would write a second corpus-sized token table — measured +15 s
    # at the 10× stand-in)
    rtoks = toks.join(rc.representatives(member, "doc_id"), "doc_id", "left_semi")
    # orientation-direct rep join: a-side = reps whose group holds ANY
    # a-side doc, b-side = reps whose group holds ANY b-side doc — each
    # ordered rep pair expands to exactly its (a member, b member)
    # outputs, so no symmetrize (a symmetrizing union would re-execute
    # the join subtree) and no within-side work
    a_reps = member.filter(a_pred(F.col("doc_id"))).select("rep").distinct()
    b_reps = member.filter(b_pred(F.col("doc_id"))).select("rep").distinct()
    ta = rtoks.join(
        a_reps.withColumnRenamed("rep", "doc_id"), "doc_id", "left_semi"
    ).select(F.col("doc_id").alias("a"), "tok")
    tb = rtoks.join(
        b_reps.withColumnRenamed("rep", "doc_id"), "doc_id", "left_semi"
    ).select(F.col("doc_id").alias("b"), "tok")
    inter = (
        ta.join(tb, "tok")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    rep_pairs = _pair_jaccard(rtoks, inter, threshold)
    cross = rc.expand_cross_pairs(
        rep_pairs,
        member,
        "doc_id",
        out_a=out_a,
        out_b=out_b,
        filter_a=a_pred,
        filter_b=b_pred,
        ordered=False,
    ).select(out_a, out_b, "jaccard")
    # in-group: identical docs across the split boundary, jaccard 1.0
    # (zero-shingle docs stay outside the near-dup universe, as the
    # oracle has it)
    in_group = rc.expand_in_group_pairs(
        member,
        "doc_id",
        a=out_a,
        b=out_b,
        universe=toks.select("doc_id").distinct(),
        filter_a=a_pred,
        filter_b=b_pred,
        ordered=False,
    ).select(out_a, out_b, F.lit(1.0).alias("jaccard"))
    return cross.unionByName(in_group)


def dedup_incremental_sql(
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> str:
    return rf"""
WITH {_shingle_toks_cte(width, max_df).strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
    SELECT t1.doc_id AS a, t2.doc_id AS b, COUNT(*) AS n_inter
    FROM toks t1 JOIN toks t2 ON t1.tok = t2.tok
    WHERE t1.doc_id % 2 = 0 AND t2.doc_id % 2 = 1
    GROUP BY t1.doc_id, t2.doc_id
)
SELECT a AS hist_id, b AS new_id,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= {threshold}
"""


MINHASH_STORE_META = "_minhash_store_meta.json"
_MINHASH_STORE = genstore.GenStore(
    "minhash", MINHASH_STORE_META, ("sigs", "buckets")
)


def _minhash_params(width: int, max_df: int) -> dict:
    """Build parameters a MinHash store probe or append must match."""
    return {
        "width": width,
        "max_df": max_df,
        "n_hashes": N_HASHES,
        "band_size": BAND_SIZE,
        "hash": "xxhash64",
    }


def repair_minhash_store(path: str) -> list[str]:
    """Mechanical recovery for a crashed append: the transaction commits
    at the meta write, so any generation dir (in EITHER table) whose id
    is not in ``active`` is an uncommitted orphan — delete it; the batch
    id never entered the replay ledger, so the caller's retry is
    accepted. Returns the actions taken (empty = already consistent).
    See :mod:`graphdb_neo4j_spark.llmdata.genstore` for the protocol."""
    return _MINHASH_STORE.sweep_orphans(path, _MINHASH_STORE.load(path))


def _band_sig_expr() -> "F.Column":
    """The banded-signature array shared by store writes and probes —
    bucketing is only meaningful if both sides band identically."""
    n_bands = N_HASHES // BAND_SIZE
    return F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{band * BAND_SIZE + i}").cast("string")
                        for i in range(BAND_SIZE)
                    ],
                )
            )
            for band in range(n_bands)
        ]
    )


def write_minhash_store(
    docs: DataFrame,
    path: str,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
    mode: str = "overwrite",
    generation: str = "g0",
) -> None:
    """Persist the MinHash state for ``docs``: ``sigs/`` (doc_id, h0..h15)
    and ``buckets/`` (band_idx, band_sig, doc_id), each laid out as one
    ``generation=<id>/`` partition directory per ingest batch.

    ``mode="append"`` is the incremental ingest path: a new batch lands
    as a NEW generation without rewriting history (signatures never
    change once computed; generations hold disjoint doc_ids).

    Crash consistency is the generation-store commit log
    (:mod:`graphdb_neo4j_spark.llmdata.genstore`): both tables'
    generation data commits first, then a ``_COMMITTED`` marker in each
    dir, and the ATOMIC ``_minhash_store_meta.json`` replace (replay
    ledger + ``active`` set + the signature parameters) is the commit
    point. The half-committed-append hazard this closes is SILENT: sigs
    landed but buckets didn't → the probe simply never finds the batch's
    bucket rows; a blind retry of the old both-tables append → duplicate
    sig rows → duplicate candidate pairs. Probes/appends validate layout
    and parameters (a probe at a different shingle width / band shape
    would miss every bucket); ``repair_minhash_store`` deletes orphan
    generations so the caller's retry is accepted. ``mode`` must be
    ``"overwrite"`` or ``"append"``, and appending to a path with no
    sidecar raises (cold-start it with ``mode="overwrite"``)."""
    meta = _MINHASH_STORE.begin_write(
        path, mode, generation, _minhash_params(width, max_df)
    )
    th = prune_hot_tokens(doc_shingles(docs, width), max_df).select(
        "doc_id", F.xxhash64("tok").alias("h")
    )
    sigs = minhash_signatures(th).transform(materialize)
    sigs.write.mode("overwrite").parquet(f"{path}/sigs/generation={generation}")
    (
        sigs.select(
            "doc_id", F.posexplode(_band_sig_expr()).alias("band_idx", "band_sig")
        )
        .write.mode("overwrite")
        .partitionBy("band_idx")
        .parquet(f"{path}/buckets/generation={generation}")
    )
    _MINHASH_STORE.commit(path, meta, generation)


def probe_minhash_store(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> DataFrame:
    """(hist_id, new_id, est_jaccard): new docs near-duplicating stored
    history, WITHOUT touching history text.

    The batch shingles only itself, computes signatures, and equi-joins the
    stored bucket table on (band_idx, band_sig); candidates verify by
    signature agreement (matching minhash fraction — the standard unbiased
    Jaccard estimator), so history cost is one read of the candidate
    signature rows. est_jaccard quantizes to k/N_HASHES; the pytest
    contract pins recall against the exact cross-split pairs.

    Probes validate the store's ``_minhash_store_meta.json``
    (:mod:`graphdb_neo4j_spark.llmdata.genstore`): a width/max_df/banding
    mismatch raises (the probe's buckets would silently miss every
    stored bucket otherwise), as does crash residue
    (``repair_minhash_store`` is the named remedy) and a path with no
    sidecar (cold-start it with ``write_minhash_store``).
    """
    _MINHASH_STORE.check_probe(path, _minhash_params(width, max_df))
    th = prune_hot_tokens(doc_shingles(new_docs, width), max_df).select(
        "doc_id", F.xxhash64("tok").alias("h")
    )
    sigs = minhash_signatures(th).transform(materialize)
    new_buckets = sigs.select(
        F.col("doc_id").alias("new_id"),
        F.posexplode(_band_sig_expr()).alias("band_idx", "band_sig"),
    )
    stored = spark.read.parquet(f"{path}/buckets").select(
        F.col("doc_id").alias("hist_id"), "band_idx", "band_sig"
    )
    cands = (
        stored.join(new_buckets, ["band_idx", "band_sig"])
        .filter(F.col("hist_id") != F.col("new_id"))
        .select("hist_id", "new_id")
        .distinct()
    )
    hist_sigs = spark.read.parquet(f"{path}/sigs")
    agree = sum(
        (F.col(f"l.h{i}") == F.col(f"r.h{i}")).cast("int") for i in range(N_HASHES)
    )
    return (
        cands.join(hist_sigs.alias("l"), F.col("hist_id") == F.col("l.doc_id"))
        .join(sigs.alias("r"), F.col("new_id") == F.col("r.doc_id"))
        .select(
            "hist_id",
            "new_id",
            F.round(agree / F.lit(float(N_HASHES)), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of the at-rest incremental path: build the history
    MinHash store fresh (in production it already exists — the build is
    the one-time backfill), probe it with the batch, return the estimated
    near-dup pairs. rows-only (engine hashing in the signatures); pytest
    pins recall against the exact cross-split pairs."""
    import tempfile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist, batch = split_history_batch(docs)
    store = tempfile.mkdtemp(prefix="minhash_store_")
    write_minhash_store(hist, store)
    return probe_minhash_store(spark, store, batch)


def q_dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(new_id, fingerprint, dup_of): batch docs whose EXACT normalized
    fingerprint already exists in history — the cheap first gate of
    incremental dedup (near-dup handles the rest).

    Plan shape: a Bloom filter of the history fingerprints (mergeable,
    ≤ m rows — at 100 TB it persists next to the MinHash store and
    appends per batch) broadcast-probes the batch; only the flagged
    SLIVER joins the history fingerprint table for exact verification,
    so false positives cost one small join and correctness never depends
    on the filter. The final answer is exact — oracle-checked.
    """
    from graphdb_neo4j_spark.llmdata.sketches import bloom_build, bloom_probe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    # (doc_id, md5) is ~50 B/row — checkpoint it so the four consumers
    # (bloom build, probe, candidate join, verify join) share ONE
    # normalize+hash pass instead of re-scanning the text four times
    # (production persists exactly this table next to the MinHash store)
    fp = docs.select("doc_id", F.md5(normalized).alias("fingerprint")).transform(materialize)
    hist = fp.filter(F.col("doc_id") % 2 == 0)
    batch = fp.filter(F.col("doc_id") % 2 == 1)

    bloom = bloom_build(hist.select(F.col("fingerprint").alias("key")))
    flagged = (
        bloom_probe(bloom, batch.select(F.col("fingerprint").alias("key")))
        .filter("might_contain")
        .select(F.col("key").alias("fingerprint"))
        .distinct()
    )
    cand = batch.join(F.broadcast(flagged), "fingerprint")
    return (
        cand.join(
            hist.select("fingerprint", F.col("doc_id").alias("hist_id")),
            "fingerprint",
        )
        .groupBy(F.col("doc_id").alias("new_id"), "fingerprint")
        .agg(F.min("hist_id").alias("dup_of"))
    )


DEDUP_INCREMENTAL_EXACT_SQL = r"""
WITH fp AS (
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
    FROM documents
)
SELECT b.doc_id AS new_id, b.fingerprint, MIN(h.doc_id) AS dup_of
FROM fp b JOIN fp h ON b.fingerprint = h.fingerprint
WHERE b.doc_id % 2 = 1 AND h.doc_id % 2 = 0
GROUP BY 1, 2
"""


def update_components(components: DataFrame, new_pairs: DataFrame) -> DataFrame:
    """Fold new near-dup pairs into an EXISTING (node, component) table
    without the original pair graph: each stored component collapses to a
    star around its canonical id (pseudo-edges node→component, self-rows
    kept so untouched singletons survive), the star union the new pairs
    re-clusters. Exact: a star connects precisely the old component's
    member set, and the canonical (min reachable id) of any merged
    cluster is the min over member mins.

    This is the 100 TB maintenance shape: the expensive artifact (the
    shingle-join pair graph) is never recomputed for history — each batch
    contributes its own small pair set and the label propagation runs on
    |corpus| pseudo-edges + |new pairs|, converging in O(merged-diameter)
    rounds (stars have diameter 2).
    """
    pseudo = components.select(
        F.col("node").alias("a"), F.col("component").alias("b")
    )
    return connected_components(pseudo.unionByName(new_pairs.select("a", "b")))


def q_dedup_components_incremental(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> DataFrame:
    """Registered form of incremental component maintenance: the history
    half's components play the persisted artifact; the batch contributes
    cross-split and within-batch pairs; :func:`update_components` folds
    them in. Oracle = the FULL-graph recursive-CTE components — the
    incremental fold must be indistinguishable from a fresh clustering.
    """
    _validate_threshold(threshold)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = prune_hot_tokens(doc_shingles(docs, width), max_df).transform(materialize)
    # r7: the three parity-pair token self-joins run over exact-duplicate
    # REPRESENTATIVES (same compression as the pair family — full-corpus
    # df pruning first, then identical-fingerprint docs collapse); each
    # (parity_l, parity_r) pair set expands back with the repcompress
    # primitives, oriented for the cross-split sets and ordered for the
    # within-parity ones. The fold itself (update_components) still
    # consumes the TRUE expanded pair sets — its contract is the exercise.
    member = rc.exact_dup_members(docs, rc.text_fingerprint("text"), "doc_id")
    rtoks = toks.join(rc.representatives(member, "doc_id"), "doc_id", "left_semi")
    universe = toks.select("doc_id").distinct()

    def pairs_between(left_parity: int, right_parity: int) -> DataFrame:
        same = left_parity == right_parity
        reps_l = (
            member.filter(F.col("doc_id") % 2 == left_parity)
            .select("rep")
            .distinct()
        )
        reps_r = (
            member.filter(F.col("doc_id") % 2 == right_parity)
            .select("rep")
            .distinct()
        )
        ta = rtoks.join(
            reps_l.withColumnRenamed("rep", "doc_id"), "doc_id", "left_semi"
        ).select(F.col("doc_id").alias("a"), "tok")
        tb = rtoks.join(
            reps_r.withColumnRenamed("rep", "doc_id"), "doc_id", "left_semi"
        ).select(F.col("doc_id").alias("b"), "tok")
        inter = ta.join(tb, "tok")
        inter = inter.filter(
            F.col("a") < F.col("b") if same else F.col("a") != F.col("b")
        )
        grouped = inter.groupBy("a", "b").agg(F.count("*").alias("n_inter"))
        rep_pairs = _pair_jaccard(rtoks, grouped, threshold)
        cross = rc.expand_cross_pairs(
            rep_pairs,
            member,
            "doc_id",
            filter_a=lambda i: i % 2 == left_parity,
            filter_b=lambda i: i % 2 == right_parity,
            ordered=same,
        )
        in_group = rc.expand_in_group_pairs(
            member,
            "doc_id",
            universe=universe,
            filter_a=lambda i: i % 2 == left_parity,
            filter_b=lambda i: i % 2 == right_parity,
            ordered=same,
        ).select("a", "b", F.lit(1.0).alias("jaccard"))
        return cross.select("a", "b", "jaccard").unionByName(in_group)

    hist_components = connected_components(pairs_between(0, 0))
    new_pairs = pairs_between(0, 1).unionByName(pairs_between(1, 1))
    comp = update_components(hist_components, new_pairs)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        "cluster_size",
    )


# --- exact-substring span dedup ----------------------------------------------
#
# The actionable form of substring-level deduplication (Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better"): find every
# OVERLAPPING width-token gram that occurs in >= min_df distinct documents,
# then merge per-document the hit positions into maximal token intervals —
# the spans a curation pass would cut, rather than the per-doc ratio
# q_dedup_segments profiles.

SPAN_WIDTH = 15  # tokens per overlapping gram
SPAN_MIN_DF = 2  # a gram appearing in >= this many docs is "duplicated"
# Optional hot-gram guard for the span family (mirrors MAX_TOKEN_DF, above):
# None by default — removing ultra-hot boilerplate is exactly what substring
# dedup exists for, and the keep-first reduction below is a mergeable
# partial agg with no per-gram serial stage, so hot grams cost a skewed
# (AQE-splittable) join-back, not a straggler. Set it when a pathological
# gram's occurrence rows (df × positions) would dominate the hit set; the
# trade-off is RECALL — grams hotter than the cap survive dedup entirely
# (like SNM's window bound, documented, not silent).
MAX_GRAM_DF: int | None = None


def duplicated_gram_starts(
    docs: DataFrame,
    width: int = SPAN_WIDTH,
    min_df: int = SPAN_MIN_DF,
    hashed: bool = False,
    keep_first: bool = False,
    max_df: int | None = MAX_GRAM_DF,
) -> DataFrame:
    """(doc_id, start) of every overlapping ``width``-token gram whose
    corpus document-frequency is >= ``min_df``.

    Scale shape: grams are built by a codegen'd
    ``transform(sequence(...), i -> array_join(slice(...)))`` — no groupBy,
    no self-join over token positions. The df aggregation is one
    partial-agg shuffle keyed by gram; the join back reuses the same key.
    ``hashed=True`` replaces the ~width·6-byte gram text with its
    ``xxhash64`` BEFORE the shuffle — the 100 TB form (shuffle bytes drop
    ~10×; collisions at 2^-64 are curation-noise). The text-keyed form is
    the DuckDB-oracle mirror; pytest pins the two identical.

    ``keep_first=True`` drops each gram's globally FIRST occurrence
    (min (doc_id, start)) from the result — the hit set for span
    REMOVAL, where one canonical copy of every duplicated passage must
    survive (Lee et al. 2022's keep-one contract). Keep-one needs only
    each gram's minimum (doc_id, start), so it rides the df aggregation
    itself: the count-distinct is written as its OWN two-level expansion
    — ``groupBy(gram, doc_id).min(start)`` then
    ``groupBy(gram).agg(count(*), min(struct(doc_id, start)))`` — and
    the second level carries the global first occurrence for free (the
    per-doc min of the smallest doc IS the global min, lexicographic).
    Both levels are mergeable partial aggs with map-side combine.
    Spelling the expansion out matters twice: (a) mixing
    ``count_distinct`` with another aggregate would trigger Catalyst's
    Expand strategy — every gram occurrence duplicated into the
    shuffle, measured +15-25% on the 10× replica; (b) the alternative
    per-gram rank WINDOW is a straggler at 100 TB — a window partition
    is one task, so a boilerplate gram duplicated across millions of
    documents (license headers — exactly what substring dedup removes)
    would serialize its whole occurrence list into one sorted task,
    and AQE can skew-split joins but not windows. The join-back then
    filters occurrences equal to the min — codegen, no sort. Plan
    budget pinned in ``test_plan_contracts``.

    ``max_df`` (default ``MAX_GRAM_DF``) optionally drops grams hotter
    than the cap from the hit set entirely — see the constant's note for
    the recall trade-off.
    """
    arrs = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("arr")
    ).filter(F.size("arr") >= width)
    grams = arrs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(arr) - {width}),"
                f" i -> array_join(slice(arr, i + 1, {width}), ' '))"
            )
        ).alias("start", "gram"),
    )
    if hashed:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    per_doc = grams.groupBy("gram", "doc_id").agg(F.min("start").alias("start"))
    aggs = [F.count("*").alias("gram_df")]
    if keep_first:
        aggs.append(F.min(F.struct("doc_id", "start")).alias("first_occ"))
    dup_grams = per_doc.groupBy("gram").agg(*aggs).filter(F.col("gram_df") >= min_df)
    if max_df is not None:
        dup_grams = dup_grams.filter(F.col("gram_df") <= max_df)
    hits = grams.join(dup_grams.drop("gram_df"), "gram")
    if keep_first:
        hits = hits.filter(
            (F.col("doc_id") != F.col("first_occ.doc_id"))
            | (F.col("start") != F.col("first_occ.start"))
        )
    return hits.select("doc_id", "start")


def q_dedup_spans(
    spark: SparkSession,
    sf_dir: str,
    width: int = SPAN_WIDTH,
    min_df: int = SPAN_MIN_DF,
    hashed: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans per document:
    (doc_id, span_start, span_end, span_tokens, n_grams).

    Interval merge is gaps-and-islands: per doc, a hit starts a new island
    iff its start exceeds the running max end of all earlier hits + 1
    (adjacent spans merge). Two window passes + one groupBy, all
    partitioned by doc_id — per-doc hit counts are bounded by doc length,
    so no skew beyond document length itself.
    """
    docs = widen_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    hits = duplicated_gram_starts(docs, width, min_df, hashed).select(
        "doc_id", "start", (F.col("start") + width - 1).alias("end")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max("end").over(w_prev)
    flagged = hits.withColumn(
        "new_island",
        F.when(
            prev_end.isNull() | (F.col("start") > prev_end + 1), 1
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
            (F.max("end") - F.min("start") + 1).alias("span_tokens"),
            F.count("*").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens", "n_grams")
    )


def dedup_spans_sql(width: int = SPAN_WIDTH, min_df: int = SPAN_MIN_DF) -> str:
    return rf"""
WITH arrs AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
  FROM documents
  WHERE array_length(regexp_split_to_array(trim(text), '\s+'), 1) >= {width}
),
grams AS (
  SELECT doc_id,
         unnest(range(0, array_length(arr, 1) - {width} + 1)) AS start,
         unnest(list_transform(range(1, array_length(arr, 1) - {width} + 2),
                i -> array_to_string(arr[i : i + {width} - 1], ' '))) AS gram
  FROM arrs
),
dup_grams AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= {min_df}
),
hits AS (
  SELECT g.doc_id, g.start, g.start + {width} - 1 AS "end"
  FROM grams g JOIN dup_grams d USING (gram)
),
flagged AS (
  SELECT doc_id, start, "end",
         CASE WHEN MAX("end") OVER w IS NULL OR start > MAX("end") OVER w + 1
              THEN 1 ELSE 0 END AS new_island
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
islands AS (
  SELECT doc_id, start, "end",
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT doc_id,
       MIN(start) AS span_start,
       MAX("end") AS span_end,
       MAX("end") - MIN(start) + 1 AS span_tokens,
       COUNT(*) AS n_grams
FROM islands
GROUP BY doc_id, island
"""


# --- duplicated-span REMOVAL (the cleaned corpus) -----------------------------


def _cut_spans(arrs: DataFrame, hits: DataFrame) -> DataFrame:
    """Interval-merge removal ``hits`` (doc_id, start, end) per doc and cut
    the covered token positions from ``arrs`` (doc_id, arr) →
    (doc_id, clean_text, n_removed, n_kept) for EVERY arrs row.

    Islands are the same gaps-and-islands discipline as
    :func:`q_dedup_spans`; the reconstruction is row-local (codegen'd
    filter/exists/transform/array_join — zero explode of token
    positions)."""
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max("end").over(w_prev)
    flagged = hits.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("start") > prev_end + 1), 1).otherwise(0),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    spans = (
        islands.groupBy("doc_id", "island")
        .agg(F.min("start").alias("s"), F.max("end").alias("e"))
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )
    joined = arrs.join(spans, "doc_id", "left")
    kept = F.expr(
        "CASE WHEN spans IS NULL THEN sequence(0, size(arr) - 1) "
        "ELSE filter(sequence(0, size(arr) - 1), "
        "i -> NOT exists(spans, sp -> i >= sp.s AND i <= sp.e)) END"
    )
    return joined.select(
        "doc_id",
        F.array_join(F.transform(kept, lambda i: F.col("arr")[i]), " ").alias(
            "clean_text"
        ),
        (F.size("arr") - F.size(kept)).alias("n_removed"),
        F.size(kept).alias("n_kept"),
    )


def q_dedup_span_removal(
    spark: SparkSession,
    sf_dir: str,
    width: int = SPAN_WIDTH,
    min_df: int = SPAN_MIN_DF,
    hashed: bool = False,
) -> DataFrame:
    """The REMOVAL step of exact substring dedup — the cleaned corpus
    itself: (doc_id, clean_text, n_removed, n_kept) for EVERY document.

    ``q_dedup_spans`` reports where the duplicated passages are; this is
    the operator a training pipeline actually feeds the tokenizer (Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better": remove repeated substrings, keep ONE canonical copy). The
    keep-one contract is deterministic: each duplicated ``width``-gram's
    globally first occurrence — min (doc_id, start) — survives; every
    other occurrence is a removal hit. Hits interval-merge per doc
    (gaps-and-islands, same discipline as ``q_dedup_spans``), and the
    covered token positions are cut from the document. Output text is
    token-normalized (single-space joined), the standard contract for a
    tokenizer-bound corpus.

    Scale shape: the hit pipeline is ``duplicated_gram_starts``'s
    gram-keyed work with keep-first folded into the df aggregation as a
    mergeable ``min(struct(doc_id, start))`` — ONE gram shuffle total,
    no rank window, no per-gram serial stage (budget pinned in
    ``test_plan_contracts``);
    islands + per-doc span lists are windows/groupBys keyed
    by doc_id (hit counts bounded by doc length); the reconstruction is
    ROW-LOCAL — spans join back to the doc scan on doc_id and a
    codegen'd ``filter(sequence(...), i -> NOT exists(spans, ...))`` +
    ``transform``/``array_join`` rebuilds the text with zero explode of
    token positions. The only per-token materialization in the whole
    plan is the gram build that every span operator already pays.
    DuckDB mirrors through an exploded token anti-join (EXISTS on the
    span intervals) — the engines agree via different algorithms.
    """
    docs = widen_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    arrs = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("arr")
    )
    hits = duplicated_gram_starts(
        docs, width, min_df, hashed, keep_first=True
    ).select("doc_id", "start", (F.col("start") + width - 1).alias("end"))
    return _cut_spans(arrs, hits)


def _span_cut_sql(
    width: int,
    min_df: int,
    rank_order: str,
    hits_where: str,
    docs_where: str = "TRUE",
) -> str:
    """Shared DuckDB-mirror template for the span-removal oracles: the
    gram build, duplicated-gram gate, interval merge, exploded token
    anti-join, and reconstruction are IDENTICAL between the one-shot and
    incremental forms — only the rank ordering (keep-one priority), the
    hit filter, and the output-doc restriction differ. One template
    means the two oracles cannot drift apart."""
    return rf"""
WITH arrs AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(range(0, array_length(arr, 1) - {width} + 1)) AS start,
         unnest(list_transform(range(1, array_length(arr, 1) - {width} + 2),
                i -> array_to_string(arr[i : i + {width} - 1], ' '))) AS gram
  FROM arrs WHERE array_length(arr, 1) >= {width}
),
dup_grams AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= {min_df}
),
occ AS (
  SELECT g.doc_id, g.start,
         ROW_NUMBER() OVER (PARTITION BY g.gram ORDER BY {rank_order}) AS rk
  FROM grams g JOIN dup_grams d USING (gram)
),
hits AS (
  SELECT doc_id, start, start + {width} - 1 AS "end" FROM occ WHERE {hits_where}
),
flagged AS (
  SELECT doc_id, start, "end",
         CASE WHEN MAX("end") OVER w IS NULL OR start > MAX("end") OVER w + 1
              THEN 1 ELSE 0 END AS new_island
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
islands AS (
  SELECT doc_id, start, "end",
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
spans AS (
  SELECT doc_id, MIN(start) AS s, MAX("end") AS e FROM islands GROUP BY doc_id, island
),
outdocs AS (
  SELECT doc_id, arr FROM arrs WHERE {docs_where}
),
tokens AS (
  SELECT doc_id, unnest(range(0, array_length(arr, 1))) AS i, unnest(arr) AS tok
  FROM outdocs
),
kept AS (
  SELECT t.doc_id, t.i, t.tok FROM tokens t
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = t.doc_id AND t.i BETWEEN s.s AND s.e)
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text, COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT a.doc_id,
       COALESCE(g.clean_text, '') AS clean_text,
       array_length(a.arr, 1) - COALESCE(g.n_kept, 0) AS n_removed,
       COALESCE(g.n_kept, 0) AS n_kept
FROM outdocs a LEFT JOIN agg g USING (doc_id)
"""


def dedup_span_removal_sql(
    width: int = SPAN_WIDTH, min_df: int = SPAN_MIN_DF
) -> str:
    """DuckDB mirror of :func:`q_dedup_span_removal` via an exploded
    token anti-join (EXISTS against the merged removal intervals) —
    deliberately a DIFFERENT algorithm from the Spark side's row-local
    higher-order-function reconstruction."""
    return _span_cut_sql(
        width,
        min_df,
        rank_order="g.doc_id, g.start",
        hits_where="rk >= 2",
    )


def q_dedup_span_removal_incremental(
    spark: SparkSession,
    sf_dir: str,
    width: int = SPAN_WIDTH,
    min_df: int = SPAN_MIN_DF,
    hashed: bool = False,
) -> DataFrame:
    """Incremental substring-dedup removal: clean the NEW batch against
    history — (doc_id, clean_text, n_removed, n_kept) for BATCH docs only
    (:func:`split_history_batch` parity split).

    Priority contract: HISTORY always holds the canonical copy — the
    history corpus was already cleaned and shipped, so a batch passage
    that history contains is cut from the batch no matter whose doc_id
    is smaller. Within the batch, keep-one applies batch-internally
    (first (doc_id, start) occurrence of a gram absent from history
    survives). Formally: rank gram occurrences over the history∪batch
    corpus by (is_batch, doc_id, start); every rank ≥ 2 occurrence in a
    batch doc of a gram with union document-frequency ≥ ``min_df`` is a
    removal hit. When all history ids precede all batch ids this
    ordering degenerates to plain (doc_id, start) — i.e. the one-shot
    :func:`q_dedup_span_removal` restricted to batch rows
    (pytest-pinned).

    Scale shape: identical to the one-shot form except history text
    enters only the gram side — at 100 TB the history grams come from a
    persisted gram table maintained per batch (the same
    materialize-then-consume split as ``dedup_incremental``'s
    checkpointed token store and ``training_filter``'s components
    artifact); this self-contained registered form derives them in-query.
    Batch-side cost is Σ df_hist(gram)-bounded probes plus the
    batch-sized windows — never a history rescan of text.
    """
    docs = widen_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return span_removal_incremental_frame(docs, width, min_df, hashed)


def span_removal_incremental_frame(
    docs: DataFrame,
    width: int = SPAN_WIDTH,
    min_df: int = SPAN_MIN_DF,
    hashed: bool = False,
) -> DataFrame:
    """Frame-level kernel of :func:`q_dedup_span_removal_incremental`
    (same contract, any (doc_id, text) input — property-tested against a
    brute-force reference on random corpora). The history/batch split is
    :func:`batch_predicate` — the one shared definition of the parity
    contract.

    Keep-one here is the union-rank over (is_batch, doc_id, start) —
    history-priority — reduced, like the one-shot form, to a mergeable
    ``min(struct(is_batch, doc_id, start))`` carried by the second level
    of the explicitly-expanded df aggregation (the ordering key is
    unique per gram, so "not the min" ⟺ "rank ≥ 2"; no per-gram rank
    window, no hot-gram straggler at 100 TB, no Expand — see
    :func:`duplicated_gram_starts`)."""
    batch_arrs = docs.filter(batch_predicate()).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("arr")
    )
    arrs = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("arr")
    ).filter(F.size("arr") >= width)
    grams = arrs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(arr) - {width}),"
                f" i -> array_join(slice(arr, i + 1, {width}), ' '))"
            )
        ).alias("start", "gram"),
    )
    if hashed:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    per_doc = grams.groupBy("gram", "doc_id").agg(F.min("start").alias("start"))
    dup_grams = (
        per_doc.groupBy("gram")
        .agg(
            F.count("*").alias("gram_df"),
            F.min(
                F.struct(
                    batch_predicate().cast("int").alias("is_batch"),
                    F.col("doc_id").alias("doc_id"),
                    F.col("start").alias("start"),
                )
            ).alias("first_occ"),
        )
        .filter(F.col("gram_df") >= min_df)
        .select("gram", "first_occ")
    )
    hits = (
        grams.join(dup_grams, "gram")
        .filter(
            batch_predicate()
            & (
                (F.col("doc_id") != F.col("first_occ.doc_id"))
                | (F.col("start") != F.col("first_occ.start"))
            )
        )
        .select("doc_id", "start", (F.col("start") + width - 1).alias("end"))
    )
    return _cut_spans(batch_arrs, hits)


def dedup_span_removal_incremental_sql(
    width: int = SPAN_WIDTH, min_df: int = SPAN_MIN_DF
) -> str:
    """DuckDB mirror of :func:`q_dedup_span_removal_incremental` — the
    shared :func:`_span_cut_sql` template with the history-priority rank
    ordering, hits restricted to batch occurrences, and output restricted
    to batch docs."""
    return _span_cut_sql(
        width,
        min_df,
        rank_order="g.doc_id % 2, g.doc_id, g.start",
        hits_where="rk >= 2 AND doc_id % 2 = 1",
        docs_where="doc_id % 2 = 1",
    )


# --- persisted gram store (at-rest incremental span removal) -----------------

GRAM_STORE_META = "_gram_store_meta.json"
_GRAM_STORE = genstore.GenStore("gram", GRAM_STORE_META, ("",))
_COMPACT_TMP = "_compact_tmp"  # compaction staging dir (invisible to Spark)


def _gram_params(width: int) -> dict:
    """Build parameters a gram store probe or append must match."""
    return {"width": width, "hash": "xxhash64"}


def repair_gram_store(path: str) -> list[str]:
    """Mechanical recovery for a crashed write/compaction — the remedy
    every gram-store validation error names. Returns the actions taken
    (empty = store was already consistent). Safe to run on a healthy
    store; requires a meta sidecar. See
    :mod:`graphdb_neo4j_spark.llmdata.genstore` for the protocol.

    - Interrupted COMPACTION (``pending_compact`` set): roll FORWARD.
      The staged ``_compact_tmp`` was fully committed before the flag was
      set, so finishing is always safe: delete every pre-compaction
      generation dir, rename the staging dir to
      ``generation=__compact__``, set ``active`` and clear the flag. If
      the staging dir is already gone the swap itself completed — only
      the meta finalize remains.
    - Interrupted WRITE (no flag): the append transaction commits at the
      meta write, so any generation dir NOT in ``active`` is an
      uncommitted orphan — delete it (the batch id never entered the
      replay ledger, so the caller's retry is accepted). A stale
      ``_compact_tmp`` from a crash before the flag was set is likewise
      deleted (the store itself was never touched).
    """
    import os
    import shutil

    meta = _GRAM_STORE.load(path)
    actions: list[str] = []
    tmp = os.path.join(path, _COMPACT_TMP)
    if meta.get("pending_compact"):
        if os.path.exists(tmp):
            if not os.path.exists(os.path.join(tmp, genstore.COMMITTED)):
                # flag is set strictly AFTER the staging commit, so an
                # uncommitted tmp under the flag means external tampering
                raise ValueError(
                    f"pending compaction at {path} but {_COMPACT_TMP} has no "
                    f"{genstore.COMMITTED} marker — refusing to guess; rebuild"
                )
            for g in genstore.generation_dirs(path).values():
                shutil.rmtree(g)
                actions.append(f"removed pre-compaction {os.path.basename(g)}")
            os.rename(tmp, f"{path}/generation={genstore.COMPACT_GENERATION}")
            actions.append(f"installed generation={genstore.COMPACT_GENERATION}")
        meta["active"] = [genstore.COMPACT_GENERATION]
        meta.pop("pending_compact", None)
        _GRAM_STORE.write_meta(path, meta)
        actions.append("finalized compaction meta")
        return actions
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
        actions.append(f"removed stale {_COMPACT_TMP}")
    return actions + _GRAM_STORE.sweep_orphans(path, meta)


def write_gram_store(
    docs: DataFrame,
    path: str,
    width: int = SPAN_WIDTH,
    mode: str = "overwrite",
    generation: str = "g0",
) -> None:
    """Persist per-gram history document frequencies — the at-rest half of
    incremental span removal: (gram xxhash64, df), laid out as one
    ``generation=<id>/`` partition directory per ingest batch. ~16 B/row,
    one row per DISTINCT gram in this generation (the generation id is a
    partition DIRECTORY, zero bytes per row).

    ``mode="append"`` is the per-batch ingest path (see
    :func:`append_gram_store`): generations hold DISJOINT doc_id sets, so
    per-generation distinct-doc counts are ADDITIVE and the probe sums
    them — the store never rewrites and history text is never re-read.
    :func:`compact_gram_store` sum-merges generations periodically to keep
    the probe-side aggregation one-generation-sized.

    Every write stamps/updates a ``_gram_store_meta.json`` sidecar (the
    underscore prefix hides it from parquet discovery) recording the
    build ``width``, the hash scheme, every generation id ever folded
    in (the replay ledger), and the ``active`` set of generation dirs
    expected on disk. Appends validate against it: a width mismatch or
    a replayed generation id (e.g. a retried batch after a partial
    failure, which would silently double-count dfs and over-remove
    batch text) raises instead of corrupting the store.

    Crash consistency is the generation-store commit log
    (:mod:`graphdb_neo4j_spark.llmdata.genstore`): the generation's
    parquet data is written first, then a ``_COMMITTED`` marker inside
    the dir, and the ATOMIC sidecar replace (ledger += id, active += id)
    is the commit point. A crash anywhere before the meta write leaves
    an orphan dir that every probe/append DETECTS and
    ``repair_gram_store`` deletes mechanically — the batch id never
    entered the ledger, so the caller's retry is accepted. ``mode`` must
    be ``"overwrite"`` or ``"append"``, and appending to a path with no
    sidecar raises: a fresh one-entry ledger would silently drop replay
    protection for everything folded in before."""
    meta = _GRAM_STORE.begin_write(path, mode, generation, _gram_params(width))
    arrs = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("arr")
    ).filter(F.size("arr") >= width)
    grams = arrs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(arr) - {width}),"
                f" i -> array_join(slice(arr, i + 1, {width}), ' '))"
            )
        ).alias("gram"),
    ).withColumn("gram", F.xxhash64("gram"))
    (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
        .write.mode("overwrite")
        .parquet(f"{path}/generation={generation}")
    )
    _GRAM_STORE.commit(path, meta, generation)


def append_gram_store(
    new_docs: DataFrame, path: str, width: int = SPAN_WIDTH, *, generation: str
) -> None:
    """Fold a new generation into the store (append-only; the probe sums
    partial dfs per gram — exact because generations hold disjoint ids).
    ``generation`` is the caller's batch id, required so a retried append
    of an already-folded batch is DETECTED (ValueError) rather than
    silently double-counted — see :func:`write_gram_store` and
    :mod:`graphdb_neo4j_spark.llmdata.genstore`."""
    write_gram_store(new_docs, path, width, mode="append", generation=generation)


def compact_gram_store(spark: SparkSession, path: str) -> int:
    """Sum-merge every generation of the store into ONE (gram, df)
    partition — the maintenance op that keeps the probe-side
    ``groupBy(gram).sum(df)`` one-generation-sized after many appends
    (without it the probe input grows linearly in generation count).
    Returns the generation count before compaction.

    Exact by the same additivity contract appends rely on: generations
    hold disjoint doc_id sets, so ``sum(df)`` per gram over partials ==
    the df of the union corpus (pytest pins compacted-store clean ≡
    multi-generation clean ≡ one-shot). The rewrite is one mergeable
    partial agg keyed by gram — the identical shuffle the probe would
    have paid ONCE — staged into ``_compact_tmp`` and swapped in,
    single-writer batch context like ``compact_partition``
    (``sources/layout.py``). The meta sidecar's ``generations`` replay
    ledger is PRESERVED: compaction changes the data layout, not the
    set of batches folded in, so a post-compaction retry of an old
    batch still fails.

    Crash consistency (write-new-then-delete, VERDICT r10 #5): the
    summed table is fully committed into the invisible staging dir
    FIRST (data + ``_COMMITTED`` marker), then ``pending_compact`` is
    set in the sidecar — the point of no return — and only then are the
    old generation dirs deleted and the staging dir renamed in. A crash
    before the flag leaves the store untouched (repair deletes the
    stale staging dir); a crash after it is rolled FORWARD by
    ``repair_gram_store`` (the staged data is already durable), and
    every probe/append in between refuses the store instead of reading
    a half-swapped layout (validation:
    :mod:`graphdb_neo4j_spark.llmdata.genstore`)."""
    import os
    import shutil

    meta = _GRAM_STORE.load(path)
    _GRAM_STORE.validate(path, meta)
    gens = sorted(genstore.generation_dirs(path).values())
    tmp = f"{path}/{_COMPACT_TMP}"
    (
        spark.read.parquet(path)
        .groupBy("gram")
        .agg(F.sum("df").alias("df"))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    with open(os.path.join(tmp, genstore.COMMITTED), "w"):
        pass
    meta["pending_compact"] = True
    _GRAM_STORE.write_meta(path, meta)
    for g in gens:
        shutil.rmtree(g)
    os.rename(tmp, f"{path}/generation={genstore.COMPACT_GENERATION}")
    meta["active"] = [genstore.COMPACT_GENERATION]
    meta.pop("pending_compact", None)
    _GRAM_STORE.write_meta(path, meta)
    return len(gens)


def clean_batch_with_gram_store(
    spark: SparkSession,
    store: str,
    batch: DataFrame,
    width: int = SPAN_WIDTH,
    min_df: int = SPAN_MIN_DF,
) -> DataFrame:
    """Incremental span removal against the PERSISTED history gram store —
    the production form of :func:`q_dedup_span_removal_incremental`
    (pytest pins the two identical on the parity split): history text is
    never read; the only history input is the (gram, df) table.

    Hit rule (provably equal to the union rank of the registered form):
    a batch occurrence of gram g is a removal hit iff
    ``hist_df(g) + batch_df(g) >= min_df`` AND (``hist_df(g) >= 1`` —
    history holds the canonical copy, every batch occurrence loses — OR
    the occurrence is not the batch-first by (doc_id, start)). When
    hist_df ≥ 1 the union rank-1 row is a history row, so all batch
    occurrences lose; when hist_df = 0 the union-first IS the
    batch-first. Store keys are xxhash64 (the at-rest form), so this
    mirrors the registered query's ``hashed=True`` twin.

    Scale shape: batch grams build row-locally; the gram-keyed work is
    the batch-df agg — which carries the batch-first occurrence as a
    mergeable ``min(struct(doc_id, start))``, no rank window, no
    hot-gram straggler — and the store-df agg (store-sized — the sum of
    generation partials; :func:`compact_gram_store` keeps it
    one-generation-sized). Islands + reconstruction are doc-keyed and
    touch batch docs only — every shuffle batch- or store-sized, joins
    broadcast at small sf and AQE-skew-handled at scale.

    Probes validate the store's ``_gram_store_meta.json``
    (:mod:`graphdb_neo4j_spark.llmdata.genstore`): a width mismatch
    raises (a store built at a different width would silently yield a
    mostly-miss clean otherwise), as does any crash residue — an
    uncommitted generation dir or an interrupted compaction would
    double- or under-count dfs (``repair_gram_store`` is the named
    remedy) — and a path with no sidecar (cold-start it with
    ``write_gram_store``)."""
    _GRAM_STORE.check_probe(store, _gram_params(width))
    hist_df = (
        spark.read.parquet(store)
        .groupBy("gram")
        .agg(F.sum("df").alias("hist_df"))
    )
    batch_arrs = batch.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("arr")
    )
    grams = batch_arrs.filter(F.size("arr") >= width).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(arr) - {width}),"
                f" i -> array_join(slice(arr, i + 1, {width}), ' '))"
            )
        ).alias("start", "gram"),
    ).withColumn("gram", F.xxhash64("gram"))
    # batch df + batch-first occurrence via the explicit two-level
    # expansion of count_distinct (per-(gram, doc) min, then per-gram
    # count + min(struct)) — the first occurrence is needed only for
    # hist_df=0 grams (when history holds the canonical copy EVERY batch
    # occurrence is a hit); mergeable partial aggs, no Expand, no
    # per-gram rank window (hot-gram straggler at 100 TB — see
    # duplicated_gram_starts)
    per_doc = grams.groupBy("gram", "doc_id").agg(F.min("start").alias("start"))
    batch_df = per_doc.groupBy("gram").agg(
        F.count("*").alias("batch_df"),
        F.min(F.struct("doc_id", "start")).alias("first_occ"),
    )
    hits = (
        grams.join(batch_df, "gram")
        .join(hist_df, "gram", "left")
        .withColumn("hist_df", F.coalesce("hist_df", F.lit(0)))
        .filter(F.col("hist_df") + F.col("batch_df") >= min_df)
        .filter(
            (F.col("hist_df") >= 1)
            | (F.col("doc_id") != F.col("first_occ.doc_id"))
            | (F.col("start") != F.col("first_occ.start"))
        )
        .select("doc_id", "start", (F.col("start") + width - 1).alias("end"))
    )
    return _cut_spans(batch_arrs, hits)


# --- gram novelty (memorization rate vs history) ------------------------------


def q_gram_novelty(
    spark: SparkSession, sf_dir: str, width: int = SPAN_WIDTH
) -> DataFrame:
    """Per-BATCH-doc novelty vs HISTORY at ``width``-gram granularity:
    (doc_id, n_grams, n_seen, novelty_rate) for every batch doc with at
    least one gram — the memorization/leakage profile a curation
    pipeline reads BEFORE deciding what span removal or decontamination
    should do (a doc that is 95% history grams is boilerplate or a
    paraphrase mosaic; span removal only catches verbatim runs, and the
    contamination query only checks a benchmark set; r11 debut).

    ``n_grams`` counts the doc's DISTINCT grams, ``n_seen`` those
    already present anywhere in history (parity split: history = even
    doc_ids, batch = odd — the repo's incremental contract),
    ``novelty_rate`` = 1 − n_seen/n_grams.

    Scale shape: both gram sets are mergeable distincts (map-side
    partial); the probe join's HISTORY side is unique per gram (a
    distinct set), so join multiplicity is ≤1 — hot grams are shuffle
    volume only, AQE-splittable, never a blowup. The per-doc rollup is
    doc-keyed. In production the history side is the persisted gram
    store (``hist_df >= 1`` ≡ seen; hashed keys) probed without
    re-reading history text — this registered form is its exact
    string-gram twin, same relationship the span family's ``hashed``
    flag documents.
    """
    docs = widen_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    hist, batch = split_history_batch(docs)

    def gram_set(df: DataFrame) -> DataFrame:
        arrs = df.select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("arr")
        ).filter(F.size("arr") >= width)
        return arrs.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(arr) - {width}),"
                    f" i -> array_join(slice(arr, i + 1, {width}), ' '))"
                )
            ).alias("gram"),
        ).distinct()

    hist_grams = gram_set(hist).select("gram").distinct()
    probed = gram_set(batch).join(
        hist_grams.withColumn("seen", F.lit(1)), "gram", "left"
    )
    return probed.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce("seen", F.lit(0))).cast("long").alias("n_seen"),
        F.round(
            F.lit(1.0)
            - F.sum(F.coalesce("seen", F.lit(0))) / F.count("*"),
            6,
        ).alias("novelty_rate"),
    )


def gram_novelty_with_store(
    spark: SparkSession, store: str, batch: DataFrame, width: int = SPAN_WIDTH
) -> DataFrame:
    """Production form of :func:`q_gram_novelty`: the history side is the
    PERSISTED gram store — (xxhash64 gram, df) generations — probed
    without re-reading any history text (``hist_df >= 1`` ≡ seen), so a
    per-batch novelty profile costs one batch gram pass + a
    store-keyed join. Same store validation as
    :func:`clean_batch_with_gram_store` (width / crash-residue /
    no-sidecar guards of :mod:`graphdb_neo4j_spark.llmdata.genstore`).
    Keys are hashed, so this is the registered query's ``hashed`` twin —
    pytest pins the two identical on the parity split (xxhash64
    collisions across a corpus' gram set are the same accepted risk the
    span family documents)."""
    _GRAM_STORE.check_probe(store, _gram_params(width))
    hist_grams = spark.read.parquet(store).select("gram").distinct()
    arrs = batch.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("arr")
    ).filter(F.size("arr") >= width)
    grams = (
        arrs.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(arr) - {width}),"
                    f" i -> array_join(slice(arr, i + 1, {width}), ' '))"
                )
            ).alias("gram"),
        )
        .withColumn("gram", F.xxhash64("gram"))
        .distinct()
    )
    probed = grams.join(hist_grams.withColumn("seen", F.lit(1)), "gram", "left")
    return probed.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce("seen", F.lit(0))).cast("long").alias("n_seen"),
        F.round(
            F.lit(1.0) - F.sum(F.coalesce("seen", F.lit(0))) / F.count("*"), 6
        ).alias("novelty_rate"),
    )


def gram_novelty_sql(width: int = SPAN_WIDTH) -> str:
    return rf"""
WITH arrs AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
  FROM documents
  WHERE array_length(regexp_split_to_array(trim(text), '\s+'), 1) >= {width}
),
bg AS (
  SELECT DISTINCT doc_id,
         array_to_string(arr[i : i + {width} - 1], ' ') AS gram
  FROM (SELECT doc_id, arr,
               unnest(range(1, array_length(arr, 1) - {width} + 2)) AS i
        FROM arrs WHERE doc_id % 2 = 1)
),
hg AS (
  SELECT DISTINCT array_to_string(arr[i : i + {width} - 1], ' ') AS gram
  FROM (SELECT arr,
               unnest(range(1, array_length(arr, 1) - {width} + 2)) AS i
        FROM arrs WHERE doc_id % 2 = 0)
)
SELECT b.doc_id,
       COUNT(*) AS n_grams,
       CAST(COALESCE(SUM(CASE WHEN h.gram IS NOT NULL THEN 1 END), 0)
            AS BIGINT) AS n_seen,
       ROUND(1.0 - CAST(COALESCE(SUM(CASE WHEN h.gram IS NOT NULL THEN 1 END), 0)
                        AS DOUBLE) / COUNT(*), 6) AS novelty_rate
FROM bg b LEFT JOIN hg h USING (gram)
GROUP BY b.doc_id
"""


# --- sorted-neighborhood dedup (SNM) -----------------------------------------

SNM_WINDOW = 3  # compare each doc with its w successors in sort order
SNM_BLOCK_CHARS = 8  # blocking key = first chars of the normalized text
SNM_THRESHOLD = 0.8


def q_dedup_snm(
    spark: SparkSession,
    sf_dir: str,
    window: int = SNM_WINDOW,
    block_chars: int = SNM_BLOCK_CHARS,
    threshold: float = SNM_THRESHOLD,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernandez–Stolfo SNM):
    (a, b, jaccard) for every pair within ``window`` positions of each
    other in blocked sort order whose word-unigram Jaccard >= threshold.

    SNM is the third classic dedup family next to shingle-join and
    MinHash-LSH (SURVEY.md §7.1-8): sort by a blocking key, slide a
    fixed window, verify only in-window pairs — O(N·w) verifications.

    Scale shape: the sort is NOT a global single-partition window — the
    blocking key (first ``block_chars`` of the normalized text) partitions
    the rank window, so ``row_number`` runs per block and the candidate
    join is an equi-join on (block, rank+d) for d in 1..w, d exploded
    from a literal array. Blocks are data-bounded (prefix granularity
    tunes them); pairs straddling a block boundary are missed, which is
    SNM's documented recall trade-off (multi-pass with a second key is
    the standard mitigation). Verification is array_intersect on distinct
    unigrams of JUST the w·N candidate pairs.
    """
    docs = widen_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    keyed = docs.select(
        "doc_id",
        normalized.alias("norm"),
        F.substring(normalized, 1, block_chars).alias("block"),
        F.array_distinct(F.split(normalized, " ")).alias("toks"),
    )
    w = Window.partitionBy("block").orderBy("norm", "doc_id")
    ranked = keyed.withColumn("rank", F.row_number().over(w))
    probe = ranked.select(
        "block",
        F.col("doc_id").alias("a"),
        F.col("toks").alias("toks_a"),
        F.explode(
            F.array(*[F.col("rank") + d for d in range(1, window + 1)])
        ).alias("rank"),
    )
    pairs = probe.join(
        ranked.select(
            "block", "rank", F.col("doc_id").alias("b"), F.col("toks").alias("toks_b")
        ),
        ["block", "rank"],
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        pairs.select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def dedup_snm_sql(
    window: int = SNM_WINDOW,
    block_chars: int = SNM_BLOCK_CHARS,
    threshold: float = SNM_THRESHOLD,
) -> str:
    offsets = ", ".join(str(d) for d in range(1, window + 1))
    return rf"""
WITH keyed AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
         substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, {block_chars}) AS block,
         list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
  FROM documents
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY block ORDER BY norm, doc_id) AS rank
  FROM keyed
),
probe AS (
  SELECT block, doc_id AS a, toks AS toks_a, rank + d.d AS rank
  FROM ranked, (SELECT unnest([{offsets}]) AS d) d
),
pairs AS (
  SELECT p.a, r.doc_id AS b,
         len(list_intersect(p.toks_a, r.toks)) AS n_inter,
         len(p.toks_a) + len(r.toks) - len(list_intersect(p.toks_a, r.toks)) AS n_union
  FROM probe p JOIN ranked r ON p.block = r.block AND p.rank = r.rank
)
SELECT DISTINCT
       LEAST(a, b) AS a,
       GREATEST(a, b) AS b,
       ROUND(CAST(n_inter AS DOUBLE) / n_union, 6) AS jaccard
FROM pairs
WHERE ROUND(CAST(n_inter AS DOUBLE) / n_union, 6) >= {threshold}
"""


# --- quality-ranked canonical selection --------------------------------------
#
# q_dedup_components keeps MIN(doc_id) per near-dup cluster — fine when all
# members are interchangeable, wrong when they aren't: the production policy
# is "keep the BEST copy" (highest quality score), not the lowest id. This
# operator re-elects each cluster's representative by quality.


def q_dedup_representatives(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> DataFrame:
    """(doc_id, component_id, rep_id, keep) for every doc in a near-dup
    cluster: ``rep_id`` is the cluster member with the highest quality
    score (ties broken by lowest doc_id), ``keep`` marks it.

    Scale shape: clustering work is inherited from
    :func:`q_dedup_components` (bucketed pair graph + label propagation —
    at 100 TB consume its materialized output instead, same contract as
    training_filter's ``components`` argument); the election itself adds
    one broadcast-joinable quality lookup and ONE mergeable argmax per
    component — ``max_by(doc_id, (quality_score, −doc_id))``, a two-phase
    partial aggregation joined back, NOT a per-component window: a
    pathological cluster holding millions of byte-similar boilerplate
    copies (exactly what dedup finds at 100 TB) would serialize a window
    partition into one task, while the partial agg collapses each map
    task's members to one candidate before the shuffle (r10
    de-windowing, same as the span family and exact dedup). Ranking
    compares the same double expression tree both engines compute, so
    the argmax is engine-stable; doc_id breaks ties.
    """
    from graphdb_neo4j_spark.llmdata.textstats import q_quality_scores

    comp = q_dedup_components(spark, sf_dir, threshold, width, max_df).select(
        "doc_id", F.col("canonical_id").alias("component_id")
    )
    quality = q_quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    # checkpointed: the argmax and the join-back both consume it, and
    # the upstream includes the full components computation
    member = comp.join(quality, "doc_id").transform(materialize)
    # argmax by (quality DESC, doc_id ASC) == max of (quality, -doc_id)
    rep = member.groupBy("component_id").agg(
        F.expr("max_by(doc_id, struct(quality_score, -doc_id))").alias("rep_id")
    )
    return member.join(rep, "component_id").select(
        "doc_id",
        "component_id",
        "rep_id",
        (F.col("doc_id") == F.col("rep_id")).alias("keep"),
    )


def dedup_representatives_sql(
    threshold: float = 0.8,
    width: int = SHINGLE_WIDTH,
    max_df: int = MAX_TOKEN_DF,
) -> str:
    """Recursive-CTE components + quality CTE + window election mirror."""
    from graphdb_neo4j_spark.llmdata.textstats import QUALITY_SCORES_SQL

    return rf"""
WITH RECURSIVE {_shingle_toks_cte(width, max_df).strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
    SELECT t1.doc_id AS a, t2.doc_id AS b, COUNT(*) AS n_inter
    FROM toks t1 JOIN toks t2 ON t1.tok = t2.tok AND t1.doc_id < t2.doc_id
    GROUP BY t1.doc_id, t2.doc_id
),
pairs AS (
    SELECT a, b
    FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
    WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= {threshold}
),
edges AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
reach(x, y) AS (
    SELECT x, y FROM edges
    UNION
    SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
),
comps AS (
    SELECT x AS doc_id, LEAST(x, MIN(y)) AS component_id
    FROM reach GROUP BY x
),
quality AS ({QUALITY_SCORES_SQL}),
ranked AS (
    SELECT c.doc_id, c.component_id, q.quality_score,
           ROW_NUMBER() OVER (PARTITION BY c.component_id
                              ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn
    FROM comps c JOIN quality q USING (doc_id)
),
reps AS (SELECT component_id, doc_id AS rep_id FROM ranked WHERE rn = 1)
SELECT r.doc_id, r.component_id, p.rep_id, r.doc_id = p.rep_id AS keep
FROM ranked r JOIN reps p USING (component_id)
"""
