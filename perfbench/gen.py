"""Seeded inputs for the benchmark.

Two kinds of input, both written before any timing starts:

- ``make_tables``: the TPC-H-shaped graph dataset the package reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) at a given scale factor. The benchmark builds it
  once per checkout from ``DATA_SEED`` so every run prices the same data.
- ``request_stream``: the per-run input drawn from ``--seed`` — the
  service request stream (Zipf ids, typo'd names, onboarding forms,
  stub-LLM SQL replies).

Run as a script to build the dataset: ``python3 perfbench/gen.py OUT_DIR [SF]``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
GEN_VERSION = "1"  # bump when the table generator changes (invalidates caches)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(np.int64)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_tables(out_dir: str, sf: float = 0.1, seed: int = DATA_SEED) -> None:
    """Write the ten tables at scale ``sf`` (0.1 → 15,000 customers,
    600,000 lineitems, 5,000 documents) into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = max(10, int(15_000 * sf)), int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random sentences over a small vocabulary; ~5% near-duplicates
    # (an earlier doc plus one token) and a few exact copies, so the dedup
    # and quality gates have work to do
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.05, (n_emb, 64))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


# --- per-run inputs drawn from --seed ---------------------------------------

# One pass of the service loop: reads, chats (template and stub-LLM) and one
# onboarding write (read back right away), in a fixed order so every run
# has the same mix.
SERVICE_CYCLE = (
    "student", "recommend", "search", "relationship", "chat_template",
    "onboard", "chat_llm",
)
_LLM_ATTRS = (("college", "nation_{}", 25), ("board", None, 5), ("stream", None, 5))


def _name(i: int) -> str:
    return f"customer#{i:09d}"


def _typo(rng, s: str) -> str:
    """One edit in the digit run: drop, repeat or swap a character."""
    j = int(rng.integers(9, len(s) - 1))
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return s[:j] + s[j + 1:]
    if kind == 1:
        return s[:j] + s[j] + s[j:]
    return s[:j] + s[j + 1] + s[j] + s[j + 2:]


def _form(rng, tag: str) -> dict:
    return {
        "name": f"Student {tag}",
        "address": f"addr_{int(rng.integers(0, 22))}",
        "college": f"NATION_{int(rng.integers(0, 25))}",
        "board": REGIONS[int(rng.integers(0, 5))],
        "stream": SEGMENTS[int(rng.integers(0, 5))],
        "interests": [str(int(p)) for p in rng.integers(0, 20_000, int(rng.integers(0, 4)))],
    }


def request_stream(seed: int, n_cycles: int, n_customers: int) -> list[dict]:
    """``n_cycles`` passes of ``SERVICE_CYCLE`` with seeded parameters.

    Ids are Zipf(1.3)-skewed over a seeded permutation of the customers,
    so a few hot ids repeat; search names carry one typo.
    """
    rng = np.random.default_rng(seed)
    perm = rng.permutation(n_customers)

    def hot_id() -> int:
        return int(perm[(int(rng.zipf(1.3)) - 1) % n_customers])

    out: list[dict] = []
    for c in range(n_cycles):
        for k, kind in enumerate(SERVICE_CYCLE):
            req: dict = {"kind": kind}
            if kind in ("student", "recommend"):
                req["id"] = hot_id()
            elif kind == "search":
                req["query"] = _typo(rng, _name(hot_id()))
            elif kind == "relationship":
                a, b = hot_id(), hot_id()
                req["a"], req["b"] = _name(a), _name(b if b != a else (a + 1) % n_customers)
            elif kind == "chat_template":
                req["question"] = f"who is {_name(hot_id()).capitalize()}?"
            elif kind == "chat_llm":
                col, fmt, n = _LLM_ATTRS[int(rng.integers(0, 3))]
                i = int(rng.integers(0, n))
                val = fmt.format(i) if fmt else (REGIONS if col == "board" else SEGMENTS)[i].lower()
                req["question"] = f"how many students have {col} {val}?"
                req["sql"] = f"SELECT count(*) AS n FROM nodes WHERE {col} = '{val}'"
                req["attr"], req["value"] = col, val
            elif kind == "onboard":
                req["form"] = _form(rng, f"{seed}-{c}-{k}")
            out.append(req)
    return out


if __name__ == "__main__":
    make_tables(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
