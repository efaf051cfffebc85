"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process, one client thread, Spark
``local[nproc]``. The run builds the dataset once per checkout (under
``.perfbench_work/``), draws the workload's inputs from ``--seed``, sets
the engine up five times (``setup_s`` is the median), runs whole passes
of the workload until ``--seconds`` have elapsed, stops Spark, checks the
outputs against DuckDB oracles and prints one JSON line last:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``
(Spark jobs tagged per span, event log rolled up per span).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SETUPS = 5
DRIVER_MEM = "3g"
SERVICE_CLASSES = ("read", "chat", "write")

# api/nl spans installed around the package's public calls
API_SPANS = ("get_student_by_id", "recommend_people", "search_students",
             "relationship", "save_student", "chat")
# package functions spanned wherever they are called from: the layers the
# service reaches below the api
FUNCTION_SPANS = (
    ("graphdb_neo4j_spark.sources.tpch", "customer_nodes"),
    ("graphdb_neo4j_spark.sources.tpch", "full_nodes"),
    ("graphdb_neo4j_spark.operators.lookup", "single_student_detail"),
    ("graphdb_neo4j_spark.operators.recommend", "recommend"),
    ("graphdb_neo4j_spark.operators.fuzzy", "fuzzy_search"),
    ("graphdb_neo4j_spark.operators.relationship", "two_name_relationship"),
)
def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, with its unit, in output order."""
    out = [(f"spark.{m}", u) for m, u in tracing.COUNTERS.items()]
    out += [("driver.construct_s", "s"), ("driver.execute_s", "s"), ("setup.cold_s", "s")]
    out += [(f"service.{c}_p50_ms", "ms") for c in SERVICE_CLASSES]
    out += [("service.requests_per_s", "1/s"), ("rest.self_ms", "ms")]
    for op in API_SPANS:
        out += [(f"api.{op}.ms", "ms"), (f"api.{op}.jobs", "count")]
    out += [("nl.register_views.s", "s"), ("nl.names.s", "s"), ("nl.answer.s", "s"),
            ("nl.answer.jobs", "count")]
    for module, fn in FUNCTION_SPANS:
        span = f"{module.split('.', 1)[1]}.{fn}"
        out += [(f"{span}.s", "s"), (f"{span}.jobs", "count")]
    for layer, q in workloads.ITERATIVE_QUERIES:
        out += [(f"{layer}.{q}.{m}", u) for m, u in (
            ("s", "s"), ("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"),
            ("tasks", "count"), ("exec_cpu_s", "s"), ("offcpu_ratio", "ratio"),
            ("input_mb", "MB"), ("shuffle_mb", "MB"))]
    return out


class Ctx:
    """What a workload pass needs: the live session, inputs and the tracer."""

    def __init__(self, tracer, data_dir, run_dir, oracle_dir):
        self.tracer, self.data_dir, self.run_dir = tracer, data_dir, run_dir
        self.oracle_dir = oracle_dir
        self.current_pass = -1
        self.spark = self.svc = self.app = None

    def timed_op(self, name: str, fn, cls: str) -> dict:
        rec = {"name": name, "cls": cls, "pass": self.current_pass, "error": None}
        with self.tracer.span(name, op=self.current_pass) as span:
            try:
                rec["out"] = fn()
            except Exception as e:  # a failed op is counted, not fatal
                rec["error"] = f"{name}: {type(e).__name__}: {str(e)[:300]}"
        rec["s"] = span["dur_s"]
        return rec


def ensure_dataset(work: str) -> str:
    """Build the sf0.1 tables once per checkout in a child process (so the
    generator's memory never counts towards this process's peak RSS)."""
    data_dir = os.path.join(work, f"data-v{gen.GEN_VERSION}-seed{gen.DATA_SEED}")
    if not os.path.exists(os.path.join(data_dir, "_DONE")):
        tmp = data_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), tmp, "0.1"], check=True)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(data_dir, ignore_errors=True)
        os.replace(tmp, data_dir)
    return data_dir


def spark_conf(run_dir: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed, pre-touched heap keeps the JVM's resident memory from
        # depending on when G1 grows the heap or first touches a region, so
        # peak_rss_mb moves with off-heap, metaspace and Python memory
        "spark.driver.extraJavaOptions": (f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                                          f"-Djava.io.tmpdir={run_dir}/tmp"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def install_spans(tracer) -> None:
    from graphdb_neo4j_spark.api import GraphService
    from graphdb_neo4j_spark.nl.names import NameDictionary
    from graphdb_neo4j_spark.nl.pipeline import NLEngine

    for m in API_SPANS:
        tracer.wrap(GraphService, m, f"api.{m}")
    tracer.wrap(NLEngine, "register_views", "nl.register_views")
    tracer.wrap(NLEngine, "answer", "nl.answer")
    tracer.wrap(NameDictionary, "from_nodes", "nl.names")
    for module, fn in FUNCTION_SPANS:
        tracer.wrap_function(module, fn)


def setup_once(ctx, conf: dict, first: bool) -> float:
    """Session start, GraphService/RestApp construction and a health ping."""
    from graphdb_neo4j_spark.api import GraphService
    from graphdb_neo4j_spark.rest import RestApp
    from graphdb_neo4j_spark.session import get_spark

    t = time.perf_counter()
    if not first:
        ctx.spark.stop()
    ctx.spark = get_spark(app_name="perfbench", extra_conf=conf)
    ctx.svc = GraphService(ctx.spark, ctx.data_dir)
    ctx.app = RestApp(ctx.svc)
    if not ctx.svc.ping():
        raise RuntimeError("health ping failed")
    return time.perf_counter() - t


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_engine(ctx) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def layer_metrics(spans, per_span, passes: int, setup_cold: float, extra: dict) -> dict:
    """Per-layer values: means per call of each span name (inclusive of
    nested spans), Spark totals over the measured ops per pass."""
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    def is_measured(s):
        op = root(s)["op"]
        return "dur_s" in s and op is not None and op >= 0

    measured = [s for s in spans if is_measured(s)]
    zero = dict.fromkeys(tracing.COUNTERS, 0.0)
    agg: dict[str, dict] = {}
    for s in measured:
        a = agg.setdefault(s["name"], {"n": 0, "dur": 0.0, **zero})
        a["n"] += 1
        a["dur"] += s["dur_s"]
        for k, v in per_span.get(s["id"], zero).items():
            a[k] += v
    vals = {"setup.cold_s": setup_cold, **extra}
    for name, a in agg.items():
        n = a["n"]
        vals[f"{name}.s"] = a["dur"] / n
        vals[f"{name}.ms"] = 1000 * a["dur"] / n
        for k in tracing.COUNTERS:
            vals[f"{name}.{k}"] = a[k] / n
        if a["exec_run_s"]:
            vals[f"{name}.offcpu_ratio"] = 1 - a["exec_cpu_s"] / a["exec_run_s"]
        for phase in ("construct", "execute"):
            if name.endswith("." + phase):
                vals[f"{name[: -len(phase) - 1]}.{phase}_s"] = a["dur"] / n
                vals[f"driver.{phase}_s"] = vals.get(f"driver.{phase}_s", 0) + a["dur"] / passes
    tops = [s for s in measured if s["parent"] is None]
    for k in tracing.COUNTERS:
        vals[f"spark.{k}"] = sum(per_span.get(s["id"], zero)[k] for s in tops) / passes
    rest = [s for s in measured if s["name"].startswith("rest.")]
    if rest:
        self_s = [s["dur_s"] - sum(c["dur_s"] for c in measured if c["parent"] == s["id"])
                  for s in rest]
        vals["rest.self_ms"] = 1000 * sum(self_s) / len(self_s)
    return vals


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    traced = bool(args.trace)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        from graphdb_neo4j_spark import registry
    except ImportError as e:
        print(f"perfbench: the package is not importable from {root}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work")
    data_dir = ensure_dataset(work)
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    tempfile.tempdir = os.path.join(run_dir, "tmp")

    prepare, run_pass, check = workloads.WORKLOADS[args.workload]
    tracer = tracing.Tracer(tag_jobs=traced)
    ctx = Ctx(tracer, data_dir, run_dir, os.path.join(data_dir, "oracle"))
    ctx.n_customers = 15_000
    ctx.inputs = prepare(args.seed, ctx)  # seeded inputs, before any timing
    install_spans(tracer)
    conf = spark_conf(run_dir, traced)

    ops: list[dict] = []
    passes: list[float] = []
    try:
        setups = [setup_once(ctx, conf, first=i == 0) for i in range(SETUPS)]
        # unpriced warm-up: the JVM's first scan, join and collect
        if not ctx.svc.get_student_by_id(0):
            raise RuntimeError("warm-up read failed")
        ctx.registry_fns, ctx.oracles = registry.queries(), registry.oracle_sql()
        k = 0
        t0 = time.perf_counter()
        while True:
            ctx.current_pass = k
            tp = time.perf_counter()
            ops += run_pass(ctx, k)
            passes.append(time.perf_counter() - tp)
            k += 1
            if time.perf_counter() - t0 >= args.seconds:
                break
        wall = time.perf_counter() - t0
        jvm_pid = ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = _hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    finally:
        stop_engine(ctx)

    unattached = check(ops, ctx)  # marks failed ops; returns failures of no single op
    errors = [op["error"] for op in ops if op["error"]] + unattached
    failed = len(errors)

    detail = {"workload": args.workload, "seed": args.seed, "passes": len(passes),
              "nproc": os.cpu_count(), "setups_s": [round(s, 3) for s in setups],
              "ops_failed": failed, "ops_attempted": len(ops),
              "ops_failed_ratio": failed / max(1, len(ops)),
              "requests_per_s": len(ops) / wall,
              "op_s": [[op["name"], round(op["s"], 3)] for op in ops]}
    for cls in SERVICE_CLASSES:
        lat = [1000 * op["s"] for op in ops if op["cls"] == cls]
        if lat:
            detail[f"{cls}_p50_ms"] = tracing.median(lat)
            p, v, n = tracing.tail_percentile(lat)
            detail[f"{cls}_tail_ms"] = {"percentile": p, "value": v, "samples": n}

    history = os.path.join(work, f"untraced_pass_s.{args.workload}.json")
    past = json.load(open(history)) if os.path.exists(history) else []
    if traced:
        if past:
            detail["tracing_overhead_s"] = tracing.median(passes) - tracing.median(past)
        tracer.dump(os.path.join(work, f"spans.{args.workload}.jsonl"))
        per_span, _ = tracing.rollup(os.path.join(run_dir, "eventlog"), tracer.spans)
        extra = {f"service.{k}": v for k, v in detail.items()
                 if k.endswith("_p50_ms") or k == "requests_per_s"}
        vals = layer_metrics(tracer.spans, per_span, len(passes), setups[0], extra)
        metrics = {name: {"value": vals.get(name, 0.0), "unit": unit}
                   for name, unit in per_layer_names()}
    else:
        with open(history, "w") as f:
            json.dump((past + [tracing.median(passes)])[-20:], f)
        metrics = {
            "setup_s": {"value": tracing.median(setups), "unit": "s"},
            "pass_s": {"value": tracing.median(passes), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        }
    for e in errors[:20]:
        print("perfbench: failed:", e)
    print(json.dumps({"detail": detail}))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
