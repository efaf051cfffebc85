"""Output checks, run after timing: DuckDB oracles over the same parquet.

Registry queries are compared with ``registry.oracle_sql()`` run by DuckDB
(order-insensitive, columns by name, floats to a relative 1e-6). Oracle
answers depend only on the dataset, so each is computed once per dataset
and cached under the work directory.

``pagerank_factored``'s oracle is SQL over every attribute pair: 5 joins
over the ~45M SAME_BOARD pairs at sf0.1, too large for a check run next to
the benchmark. ``PY_ORACLES`` computes the same answer group by group:
every edge of that graph is "shares an attribute value", so a node's
neighbourhood is a union of attribute groups and the oracle never needs
the pairs themselves. ``selftest.py`` checks it against the SQL oracle on
a small dataset.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os

import duckdb
import numpy as np

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def connect(data_dir: str):
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 2,
                                 "temp_directory": os.path.join(data_dir, "duckdb_tmp"),
                                 "max_temp_directory_size": "2GB"})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _cell(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else f
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return [[k, _cell(x)] for k, x in sorted(v.items())]
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if hasattr(v, "asDict"):
        return _cell(v.asDict())
    return str(v)


def canon(cols: list[str], rows) -> list:
    """Columns sorted by name, cells normalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [[_cell(r[i]) for i in order] for r in rows]
    key = lambda row: json.dumps(row, default=str, sort_keys=True)  # noqa: E731
    return sorted(out, key=lambda r: key([round(x, 4) if isinstance(x, float) else x for x in r]))


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got: list, want: list) -> bool:
    return len(got) == len(want) and all(_close(g, w) for g, w in zip(got, want))


def _nodes(con, cols: str) -> list[tuple]:
    from graphdb_neo4j_spark.sources.tpch import NODES_CTE

    return con.execute(f"WITH {NODES_CTE} SELECT id, {cols} FROM nodes ORDER BY id").fetchall()


def _group_codes(values) -> np.ndarray:
    """Dense group index per row; -1 where the value is NULL or empty."""
    index: dict = {}
    return np.array([-1 if v is None or v == "" else index.setdefault(v, len(index))
                     for v in values])


def _others_sum(groups: np.ndarray, x: np.ndarray) -> np.ndarray:
    """For each row, the sum of ``x`` over the other rows of its group."""
    ok = groups >= 0
    totals = np.bincount(groups[ok], weights=x[ok], minlength=groups.max() + 1)
    return np.where(ok, totals[np.maximum(groups, 0)] - x, 0.0)


def pagerank_oracle(con, iterations: int = 5) -> tuple[list[str], list]:
    """``pagerank_factored``'s oracle: PageRank (d = 0.85, ranks start at
    1) over the SAME_COLLEGE ∪ SAME_BOARD pairs. A node's in-sum over the
    union is its college sum + its board sum − its (college, board) sum."""
    rows = _nodes(con, "college, board")
    ids = [r[0] for r in rows]
    c = _group_codes([r[1] for r in rows])
    b = _group_codes([r[2] for r in rows])
    cb = _group_codes([(x, y) if x >= 0 and y >= 0 else None for x, y in zip(c, b)])

    def neighbour_sum(x):
        return _others_sum(c, x) + _others_sum(b, x) - _others_sum(cb, x)

    deg = neighbour_sum(np.ones(len(ids)))
    rank = np.ones(len(ids))
    for _ in range(iterations):
        share = np.divide(rank, deg, out=np.zeros_like(rank), where=deg > 0)
        rank = 0.15000000000000002 + 0.85 * neighbour_sum(share)
    return ["id", "rank"], [(i, round(float(r), 6)) for i, r in zip(ids, rank)]


PY_ORACLES = {"pagerank_factored": pagerank_oracle}


def oracle_rows(name: str, oracle, data_dir: str, cache_dir: str) -> tuple[list[str], list]:
    """Canonical oracle answer for ``name`` (SQL text or a ``PY_ORACLES``
    function of a DuckDB connection), computed once per dataset."""
    path = os.path.join(cache_dir, f"{name}.json")
    if os.path.exists(path):
        with open(path) as f:
            d = json.load(f)
        return d["cols"], d["rows"]
    con = connect(data_dir)
    if callable(oracle):
        cols, raw = oracle(con)
    else:
        res = con.execute(oracle)
        cols, raw = [d[0] for d in res.description], res.fetchall()
    rows = json.loads(json.dumps(canon(cols, raw)))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump({"cols": sorted(cols), "rows": rows}, f)
    os.replace(path + ".tmp", path)
    return sorted(cols), rows


def check_query(name: str, cols: list[str], rows, oracles: dict, data_dir: str,
                cache_dir: str) -> str | None:
    """None when the result matches its oracle, else a one-line reason.
    ``oracles`` maps query names to SQL text or ``PY_ORACLES`` functions."""
    if name not in oracles:
        return f"{name}: no oracle"
    ocols, orows = oracle_rows(name, oracles[name], data_dir, cache_dir)
    if sorted(cols) != ocols:
        return f"{name}: columns {sorted(cols)} != oracle {ocols}"
    got = json.loads(json.dumps(canon(cols, rows)))
    if not same_rows(got, orows):
        return f"{name}: {len(got)} rows differ from the oracle's {len(orows)}"
    return None
