"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

Run from the repository root (it writes under ``.perfbench_work/selftest``).
Checks the percentile helper; that the generator is byte-identical for a
fixed seed; that the group-wise Python oracle equals the registry's SQL
oracle on a small dataset; that a wrong iterative result or a wrong
service reply fails its check; that the event-log roll-up agrees with
Spark's own status tracker on a tiny sf0.001 query; and that
``BENCHMARK.json`` lists exactly the workloads and per-layer metrics the
run prints.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402


def test_tail_percentile() -> None:
    assert tracing.tail_percentile([1.0] * 10) == (None, None, 10)
    xs = [float(i) for i in range(1, 21)]
    assert tracing.tail_percentile(xs) == (50, 10.0, 20)
    xs = [float(i) for i in range(1, 101)]
    assert tracing.tail_percentile(xs) == (90, 90.0, 100)
    xs = [float(i) for i in range(1, 1001)]
    assert tracing.tail_percentile(xs) == (99, 990.0, 1000)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_generator_is_deterministic(work: str) -> None:
    a, b = os.path.join(work, "gen_a"), os.path.join(work, "gen_b")
    for d in (a, b):
        gen.make_tables(d, sf=0.001)
    assert _digest(a) == _digest(b)
    assert gen.request_stream(7, 3, 150) == gen.request_stream(7, 3, 150)
    assert gen.request_stream(7, 3, 150) != gen.request_stream(8, 3, 150)


def test_python_oracles_match_sql(work: str) -> None:
    """The group-wise oracles equal the registry's SQL oracles (which are
    small enough to run here), and a perturbed or truncated result fails
    the check."""
    from graphdb_neo4j_spark import registry

    import checks

    data = os.path.join(work, "gen_a")
    sql = registry.oracle_sql()
    con = checks.connect(data)
    for name, oracle in checks.PY_ORACLES.items():
        cols, rows = oracle(con)
        res = con.execute(sql[name])
        want = checks.canon([d[0] for d in res.description], res.fetchall())
        got = checks.canon(cols, rows)
        assert checks.same_rows(json.loads(json.dumps(got)), json.loads(json.dumps(want))), name
        cache = os.path.join(work, "oracle")
        assert checks.check_query(name, cols, rows, checks.PY_ORACLES, data, cache) is None
        wrong = [(rows[0][0], rows[0][1] + 1)] + rows[1:]
        assert checks.check_query(name, cols, wrong, checks.PY_ORACLES, data, cache), name
        assert checks.check_query(name, cols, rows[1:], checks.PY_ORACLES, data, cache), name


class _Ctx:
    def __init__(self, data_dir: str):
        self.data_dir = data_dir


def test_service_checks_catch_wrong_replies(work: str) -> None:
    """Wrong replies of each request kind are marked failed."""
    import workloads

    ctx = _Ctx(os.path.join(work, "gen_a"))
    name = "customer#000000007"
    cases = [
        ({"kind": "student", "id": 7}, (200, {"id": 7, "name": "customer#000000008"})),
        ({"kind": "recommend", "id": 7},
         (200, {"students": [{"id": 1, "score": 1.0}, {"id": 2, "score": 2.0}]})),
        ({"kind": "search", "query": "customer#00000007"}, [(7, name, 40.0)]),
        ({"kind": "relationship", "a": name, "b": "customer#000000009"}, None),
        ({"kind": "chat_template", "question": f"who is {name.capitalize()}?"}, "no idea"),
        ({"kind": "chat_llm", "question": "q", "attr": "board", "value": "asia"},
         "There are 0 students matching your query in the database."),
        ({"kind": "onboard"}, (500, {})),
    ]
    ops = [{"req": req, "out": out, "error": None} for req, out in cases]
    workloads.service_check(ops, ctx)
    assert all(op["error"] for op in ops), [op["req"]["kind"] for op in ops if not op["error"]]


def test_rollup_and_small_oracles(work: str) -> None:
    data = os.path.join(work, "gen_a")
    events = os.path.join(work, "eventlog")
    os.makedirs(events, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from graphdb_neo4j_spark import registry
    from graphdb_neo4j_spark.session import get_spark

    import checks
    import workloads

    spark = get_spark(app_name="perfbench-selftest", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{events}",
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    tracer = tracing.Tracer(tag_jobs=True)
    fns, oracles = registry.queries(), registry.oracle_sql()
    results = {}
    try:
        with tracer.span("q.shipping_priority"):
            df = fns["shipping_priority"](spark, data)
            results["shipping_priority"] = (df.columns, df.collect())
        tracker = spark.sparkContext.statusTracker()
        job_ids = tracker.getJobIdsForGroup("pb0")
        stage_ids = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
        tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stage_ids
                    if tracker.getStageInfo(s) is not None)
        for _, name in workloads.ITERATIVE_QUERIES:
            df = fns[name](spark, data)
            results[name] = (df.columns, df.collect())
    finally:
        spark.stop()
    per_span, totals = tracing.rollup(events, tracer.spans)
    assert per_span[0]["jobs"] == len(job_ids) > 0, (per_span[0], job_ids)
    assert per_span[0]["tasks"] == tasks > 0, (per_span[0], tasks)
    assert per_span[0]["input_mb"] > 0
    assert totals["jobs"] >= per_span[0]["jobs"]
    for name, (cols, rows) in results.items():
        why = checks.check_query(name, cols, rows, {**oracles, **checks.PY_ORACLES}, data,
                                 os.path.join(work, "oracle"))
        assert why is None, why


def test_benchmark_json_lists_per_layer() -> None:
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.per_layer_names()
    assert {w["name"] for w in bench["workloads"]} == set(run.workloads.WORKLOADS)


def main() -> int:
    sys.path.insert(0, os.getcwd())
    work = os.path.join(os.getcwd(), ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    test_tail_percentile()
    test_generator_is_deterministic(work)
    test_python_oracles_match_sql(work)
    test_service_checks_catch_wrong_replies(work)
    test_benchmark_json_lists_per_layer()
    test_rollup_and_small_oracles(work)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
