"""The benchmark's workloads: what one pass calls, and how its outputs are checked.

Each workload has ``prepare`` (seeded inputs, before timing), ``run_pass``
(one timed pass; returns op records) and ``check`` (after timing, Spark
stopped; marks wrong outputs as failed ops). An op record is
``{"name", "cls", "s", "error", "out", ...}``; ``cls`` groups latencies
(read / chat / write for the service, query for iterative_graph).
"""

from __future__ import annotations

import io
import json
from urllib.parse import urlencode

import gen

# --- service_mix -------------------------------------------------------------

SEARCH_THRESHOLD = 60.0
RECOMMEND_LIMIT = 10
ORACLE_ANCHORS = 3  # recommendation anchors compared with recommend_oracle_sql


def _http(ctx, method: str, path: str, body: str = "") -> tuple[int, dict]:
    env = {"REQUEST_METHOD": method, "PATH_INFO": path,
           "CONTENT_LENGTH": str(len(body)), "wsgi.input": io.BytesIO(body.encode())}
    status = {}

    def start_response(s, headers):
        status["code"] = int(s.split()[0])

    route = path.rsplit("/", 1)[0] if path[-1].isdigit() else path
    with ctx.tracer.span(f"rest.{method} {route}"):
        payload = b"".join(ctx.app(env, start_response))
    return status["code"], json.loads(payload)


_SERVICE_CLS = {"student": "read", "recommend": "read", "search": "read",
                "relationship": "read", "chat_template": "chat", "chat_llm": "chat",
                "onboard": "write"}


def _service_call(ctx, req: dict):
    svc, kind = ctx.svc, req["kind"]
    if kind == "student":
        return _http(ctx, "GET", f"/api/v1/students/{req['id']}")
    if kind == "recommend":
        return _http(ctx, "GET", f"/api/v1/recommend/people/{req['id']}")
    if kind == "search":
        return [(m.id, m.name, m.score)
                for m in svc.search_students(req["query"], threshold=SEARCH_THRESHOLD)]
    if kind == "relationship":
        r = svc.relationship(req["a"], req["b"])
        return None if r is None else (r.a_name, r.b_name)
    if kind == "chat_template":
        return svc.chat(req["question"])
    if kind == "chat_llm":
        sql = req["sql"]

        def stub_llm(prompt: str) -> str:
            return f"```sql\n{sql}\n```" if "Spark SQL developer" in prompt else "ok"

        return svc.chat(req["question"], llm=stub_llm)
    return _http(ctx, "POST", "/api/v1/onboard", urlencode(req["form"], doseq=True))


def _service_op(ctx, req: dict) -> dict:
    rec = ctx.timed_op(f"service.{req['kind']}", lambda: _service_call(ctx, req),
                       cls=_SERVICE_CLS[req["kind"]])
    rec["req"] = req
    return rec


def service_prepare(seed: int, ctx) -> dict:
    return {"requests": gen.request_stream(seed, n_cycles=200, n_customers=ctx.n_customers)}


def service_pass(ctx, cycle: int) -> list[dict]:
    n = len(gen.SERVICE_CYCLE)
    ops = []
    for req in ctx.inputs["requests"][cycle * n:(cycle + 1) * n]:
        rec = _service_op(ctx, req)
        ops.append(rec)
        if req["kind"] == "onboard" and not rec["error"]:
            code, body = rec["out"]
            ops.append(_service_op(ctx, {"kind": "student", "id": body.get("student_id", -1),
                                         "read_back": req["form"]}))
    return ops


def service_check(ops: list[dict], ctx) -> list[str]:
    from graphdb_neo4j_spark.operators.recommend import recommend_oracle_sql
    from graphdb_neo4j_spark.sources.tpch import NODES_CTE

    from checks import connect

    con = connect(ctx.data_dir)
    bad, anchors = [], {}
    for op in ops:
        if op["error"]:
            continue
        req, out, why = op["req"], op["out"], None
        kind = req["kind"]
        if kind == "student":
            code, body = out
            want = (req["read_back"]["name"].lower() if "read_back" in req
                    else f"customer#{req['id']:09d}")
            if code != 200 or body.get("id") != req["id"] or body.get("name") != want:
                why = f"student {req['id']}: {code} {body.get('name')!r} != {want!r}"
        elif kind == "recommend":
            code, body = out
            scores = [s["score"] for s in body.get("students", [])]
            if code != 200 or len(scores) > RECOMMEND_LIMIT or scores != sorted(scores, reverse=True):
                why = f"recommend {req['id']}: {code}, {len(scores)} rows, unsorted or over limit"
            elif len(anchors) < ORACLE_ANCHORS or req["id"] in anchors:
                anchors[req["id"]] = [(s["id"], s["score"]) for s in body["students"]]
        elif kind == "search":
            if len(out) > 10 or any(score < SEARCH_THRESHOLD for _, _, score in out) or not out:
                why = f"search {req['query']!r}: {len(out)} matches, scores {[s for *_, s in out]}"
        elif kind == "relationship":
            if out != (req["a"], req["b"]):
                why = f"relationship {req['a']}/{req['b']}: {out}"
        elif kind == "chat_template":
            name = req["question"].split()[-1].rstrip("?").lower()
            if f"name: {name}" not in out:
                why = f"chat {req['question']!r}: reply lacks {name}"
        elif kind == "chat_llm":
            n = con.execute(f"WITH {NODES_CTE} SELECT count(*) FROM nodes "
                            f"WHERE {req['attr']} = ?", [req["value"]]).fetchone()[0]
            want = f"There are {n} students matching your query in the database."
            if out != want:
                why = f"chat {req['question']!r}: {out!r} != {want!r}"
        elif kind == "onboard":
            code, body = out
            if code != 200 or not isinstance(body.get("student_id"), int):
                why = f"onboard: {code} {body}"
        if why:
            op["error"] = why
    for anchor, got in anchors.items():
        sql = recommend_oracle_sql(anchor_id=anchor, limit=RECOMMEND_LIMIT)
        want = [(r[0], r[-1]) for r in con.execute(sql).fetchall()]
        if got != want:
            bad.append(f"recommend {anchor}: {got[:3]}... != oracle {want[:3]}...")
    return bad


# --- iterative_graph: driver-loop registry queries -----------------------------

ITERATIVE_QUERIES = (
    ("operators.graphalgo", "pagerank_factored"),
    ("operators.graphalgo", "graph_components"),
)


def _query_op(ctx, layer: str, name: str) -> dict:
    fn = ctx.registry_fns[name]
    tr = ctx.tracer

    def call():
        with tr.span(f"{layer}.{name}.construct"):
            df = fn(ctx.spark, ctx.data_dir)
        with tr.span(f"{layer}.{name}.execute"):
            return df.columns, df.collect()

    rec = ctx.timed_op(f"{layer}.{name}", call, cls="query")
    rec["query"] = name
    return rec


def iterative_prepare(seed: int, ctx) -> dict:
    return {}


def iterative_pass(ctx, k: int) -> list[dict]:
    return [_query_op(ctx, layer, name) for layer, name in ITERATIVE_QUERIES]


def iterative_check(ops: list[dict], ctx) -> list[str]:
    """Each result equals its oracle: the registry's DuckDB SQL for
    graph_components, ``checks.PY_ORACLES`` for pagerank_factored."""
    from checks import PY_ORACLES, check_query

    oracles = {**ctx.oracles, **PY_ORACLES}
    for op in ops:
        if not op["error"]:
            cols, rows = op["out"]
            op["error"] = check_query(op["query"], cols, rows, oracles,
                                      ctx.data_dir, ctx.oracle_dir)
    return []


WORKLOADS = {
    "service_mix": (service_prepare, service_pass, service_check),
    "iterative_graph": (iterative_prepare, iterative_pass, iterative_check),
}
