"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload sparql_read --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up builds the workload's state; the timed
region then runs whole request cycles (sparql_read) or catalog passes
(catalog_ops) until ``--seconds`` have passed. ``--tiny`` and ``--clients``
exist for the self-tests in test_perfbench.py. The last line
of standard output is one JSON object: with ``--trace 0`` the end-to-end
metrics of BENCHMARK.json, with ``--trace 1`` the per-layer metrics of a
traced run (spans are written to .perfbench/out/). Earlier lines carry the
human-readable summary: every end-to-end metric with its unit, error_rate,
the tail percentile and sample count, the host-noise canaries and any
session-conf drift.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure as tr  # noqa: E402

# metric names, units and directions; layers.json holds the design record
# BENCHMARK.json cannot (tail percentiles, accounting tolerance, targets)
BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
LAYERS = json.load(open(os.path.join(HERE, "layers.json")))
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}


class Context:
    """What a workload gets from the runner: the session, the seed, the
    tracer, input sizes, and counters for the checks it makes."""

    def __init__(self, spark, seed, tracer, data_dir, sizes, clients, conf_keys):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.data_dir = data_dir
        self.sizes = sizes
        self.clients = clients
        self.conf_keys = conf_keys
        self.conf_start = tr.conf_snapshot(spark, conf_keys)
        self.warmup_ops = 0
        self.warmup_notes: list[str] = []
        self.op_ids: list[str] = []
        self.drift_ops: list[str] = []

    def warmup_check(self, op) -> None:
        """Count a check made during set-up (warm-up ops, oracle compares)."""
        self.warmup_ops += 1
        if not op.ok:
            self.warmup_notes.append(f"{op.kind}: {op.detail}")

    def after_op(self, op_id: str) -> None:
        """Traced run only: harvest the op's Spark jobs, count enricher diffs
        and probe the session conf (drift is recorded, never reset)."""
        if not self.tracer.enabled:
            return
        self.op_ids.append(op_id)
        self.tracer.harvest(op_id)
        self.tracer.count_diffs()
        if tr.conf_snapshot(self.spark, self.conf_keys) != self.conf_start:
            self.drift_ops.append(op_id)


def instrument(tracer) -> None:
    """Spans around the calls into each layer's public functions."""
    from thymeflow_back_spark.api import service
    from thymeflow_back_spark.operators import closure
    from thymeflow_back_spark.rdf.store import StatementStore

    tracer.patch(service, "query_form", "plans.parse")
    # handle's final action for JSON/XML results runs in this helper: the
    # Spark job plus the Arrow transfer of its rows
    tracer.patch(service, "_exact_pandas", "api.fetch")
    tracer.patch(service, "execute_sparql", "plans.compile")
    tracer.patch(closure, "connected_components_star", "operators.path_cc")
    for name in ("quads_ntriples", "ask_json", "ask_xml"):
        tracer.patch(service, name, "api.serialize")
    for media, writer in list(service._SELECT_WRITERS.items()):
        service._SELECT_WRITERS[media] = tracer.wrap("api.serialize", writer)
    tracer.patch(StatementStore, "add_documents", "rdf.add_documents")
    tracer.patch(StatementStore, "apply_diff", "rdf.apply_diff")
    tracer.patch(StatementStore, "materialize", "rdf.materialize", tracer.take_enricher)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(pct) - 1]


def subtree(span: dict, view: dict) -> list[dict]:
    out = [span]
    for c in view["children"].get(span["id"], []):
        out += subtree(c, view)
    return out


def layer_metrics(ctx, ops_ids: list[str], setup_id: str, store_quads: float) -> dict:
    """Per-layer metrics of a traced run: means per op of span durations
    (inclusive) and of job counts; see layers.json for each metric's target."""
    tracer = ctx.tracer
    by_op: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_op.setdefault(s["op"], []).append(s)
    values: dict[str, list[float]] = {m["name"]: [] for m in BENCH["per_layer"]}

    def add(name: str, value: float) -> None:
        values.setdefault(name, []).append(value)

    accounted = []
    for op_id in ops_ids + [setup_id]:
        spans = by_op.get(op_id, [])
        roots = [s for s in spans if s["parent"] is None]
        if not roots:
            continue
        root = roots[0]
        jobs = tracer.jobs.get(op_id, [])
        view = tr.op_view(spans, jobs)

        def dur(pred, spans=spans) -> float:
            return sum(s["end"] - s["start"] for s in spans if pred(s))

        def njobs(pred, spans=spans, view=view) -> list[dict]:
            seen = {}
            for s in spans:
                if pred(s):
                    for j in tr.jobs_within(s, view):
                        seen[j["job"]] = j
            return list(seen.values())

        def named(n):
            return lambda s: s["name"] == n

        for write in [s for s in spans if s["name"] == "write.round"]:
            # the write path: delivery, enrichment, update, freshness read
            sub = subtree(write, view)
            for e in ("ifp", "primary_facet"):
                build = [s for s in sub if s["name"] == f"enrichers.{e}.build"]
                execs = lambda s, e=e: s["name"] == "rdf.materialize" and s["tags"].get("enricher") == e  # noqa: E731
                add(f"enrichers.{e}.build_s", dur(named(f"enrichers.{e}.build"), sub))
                add(f"enrichers.{e}.exec_s", dur(execs, sub))
                add(f"enrichers.{e}.jobs", len(njobs(named(f"enrichers.{e}.build"), sub)) + len(njobs(execs, sub)))
                add(f"enrichers.{e}.added", sum(s["tags"].get("added", 0) for s in build))
                add(f"enrichers.{e}.removed", sum(s["tags"].get("removed", 0) for s in build))
            add("sources.convert_s", dur(named("sources.convert"), sub))
            add("rdf.add_documents_s", dur(named("rdf.add_documents"), sub))
            add("rdf.materialize_s", dur(named("rdf.materialize"), sub))
            add("rdf.materialize.jobs", len(njobs(named("rdf.materialize"), sub)))
            add("update.apply_s", dur(named("update.apply"), sub))
            add("write.round_s", write["end"] - write["start"])
        if op_id == setup_id:
            continue
        add("plans.parse_s", dur(named("plans.parse")))
        add("plans.compile_s", dur(named("plans.compile")))
        add("plans.compile.jobs", len(njobs(named("plans.compile"))))
        done = [j for j in jobs if j["submit"] is not None and j["end"] is not None]
        add("spark.exec_s", tr.union_seconds([(j["submit"], j["end"]) for j in done]))
        add("spark.jobs", len(jobs))
        add("spark.stages", sum(j["stages"] for j in jobs))
        add("spark.tasks", sum(j["tasks"] for j in jobs))
        add("spark.failed_tasks", sum(j["failed_tasks"] for j in jobs))
        if root["tags"].get("kind") == "path":
            add("operators.path_cc_s", dur(named("operators.path_cc")))
            add("operators.path_cc.jobs", len(njobs(named("operators.path_cc"))))
        if root["name"] == "api.handle":
            add("api.serialize_s", dur(lambda s: s["name"] in ("api.serialize", "api.stream")))
            add("api.result_rows", root["tags"].get("rows", 0))
            add("api.body_bytes", root["tags"].get("body_bytes", 0))
        row = root["tags"].get("row")
        if row:
            add(f"queries.{row}.build_s", dur(named(f"queries.{row}.build")))
            add(f"queries.{row}.exec_s", dur(named(f"queries.{row}.exec")))
            add(f"queries.{row}.jobs", len(jobs))
            add(f"queries.{row}.stages", sum(j["stages"] for j in jobs))
        total = root["end"] - root["start"]
        if total > 0:
            accounted.append(1.0 - view["self"][root["id"]] / total)
    out = {name: (statistics.fmean(v) if v else 0.0) for name, v in values.items()}
    out["rdf.store_quads"] = store_quads
    out["trace.accounted_share"] = statistics.median(accounted) if accounted else 0.0
    out["session.conf_drift_ops"] = float(len(ctx.drift_ops))
    return out


def accounting_failure(share: float) -> str:
    """The traced run's self-time check: layer spans and attributed Spark
    jobs must cover at least 1 - accounting_tolerance of the median op.
    Returns the failure, or "" when the check passes."""
    floor = 1.0 - LAYERS["accounting_tolerance"]
    if share >= floor:
        return ""
    return f"accounting: spans and jobs cover {share:.3f} of the median op, below {floor:.3f}"


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001-sized inputs (self-tests)")
    ap.add_argument("--clients", type=int, default=2, help="sparql_read client threads")
    args = ap.parse_args(argv)

    # the program under test must be importable from the working directory
    sys.path.insert(0, os.getcwd())
    try:
        import thymeflow_back_spark.session as session
    except ImportError as e:
        print(f"perfbench: the program is not in {os.getcwd()}: {e}", file=sys.stderr)
        return 2
    from workloads import SIZES, TINY, WORKLOADS

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    os.makedirs(os.path.join(out_dir, "out"), exist_ok=True)
    # the run writes only inside the checkout: Spark's block manager, the
    # JVM's temp files (native-library extraction) and Python temp files
    tmp_dir = tempfile.mkdtemp(dir=out_dir, prefix="tmp-")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tempfile.tempdir = tmp_dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"

    host_before = tr.host_canaries()
    t_setup = time.perf_counter()
    spark = session.get_spark("perfbench")
    session_start_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tr.Tracer(spark, enabled=bool(args.trace))
    if tracer.enabled:
        instrument(tracer)
    ctx = Context(
        spark, args.seed, tracer, out_dir,
        sizes=TINY if args.tiny else SIZES,
        clients=args.clients,
        conf_keys=["spark.sql.shuffle.partitions", *session.RUNTIME_CONFS],
    )
    conf_start = ctx.conf_start
    workload = WORKLOADS[args.workload](ctx)
    with tracer.op("setup", "setup"):
        workload.setup()
    tracer.harvest("setup")
    tracer.count_diffs()
    setup_s = time.perf_counter() - t_setup

    conf_setup = tr.conf_snapshot(spark, ctx.conf_keys)
    pid = os.getpid()
    cpu0 = tr.tree_cpu_seconds(pid)
    t0 = time.perf_counter()
    ops = workload.run(t0 + args.seconds)
    elapsed = time.perf_counter() - t0
    cpu = tr.tree_cpu_seconds(pid) - cpu0
    conf_after = tr.conf_snapshot(spark, ctx.conf_keys)
    host_after = tr.host_canaries()

    latencies = [op.latency for op in ops]
    tail_pct = LAYERS["workloads"][args.workload]["tail_pct"]
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(latencies),
        "op_tail_s": percentile(latencies, tail_pct),
        "throughput_ops_s": len(ops) / elapsed,
        "cpu_s_per_op": cpu / len(ops),
        "peak_rss_mb": tr.peak_rss_mb(pid),
    }
    failures = [f"{op.kind}: {op.detail}" for op in ops if not op.ok] + ctx.warmup_notes
    attempted = len(ops) + ctx.warmup_ops
    stem = os.path.join(out_dir, "out", f"{args.workload}-s{args.seed}-t{args.trace}")
    if tracer.enabled:
        endpoint = getattr(workload, "endpoint", None)
        store_quads = float(endpoint.store.quads.count()) if endpoint is not None else 0.0
        per_layer = layer_metrics(ctx, ctx.op_ids, "setup", store_quads)
        per_layer["session.start_s"] = session_start_s
        per_layer["trace.op_p50_s"] = e2e["op_p50_s"]
        tracer.write(stem + ".spans.jsonl")
        metrics = {
            m["name"]: {"value": per_layer.get(m["name"], 0.0), "unit": m["unit"]}
            for m in BENCH["per_layer"]
        }
        # the accounting check is one more check of the run
        attempted += 1
        miss = accounting_failure(per_layer["trace.accounted_share"])
        if miss:
            failures.append(miss)
    else:
        metrics = {name: {"value": value, "unit": UNITS[name]} for name, value in e2e.items()}
    failed = len(failures)
    error_rate = failed / attempted
    drift = {
        k: {"session_start": conf_start[k], "after_setup": conf_setup[k], "after_run": conf_after[k]}
        for k in conf_start
        if not conf_start[k] == conf_setup[k] == conf_after[k]
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(ops),
        "tail_pct": tail_pct,
        "e2e": e2e,
        "error_rate": error_rate,
        "kinds": {
            kind: {"n": len(ls), "median_s": statistics.median(ls), "max_s": max(ls)}
            for kind in sorted({op.kind for op in ops})
            for ls in [[op.latency for op in ops if op.kind == kind]]
        },
        "failures": failures[:20],
        "host": {
            "loadavg_before": host_before["loadavg"],
            "loadavg_after": host_after["loadavg"],
            "steal_share": tr.steal_share(host_before, host_after),
        },
        "conf_drift": drift,
        "conf_drift_ops": ctx.drift_ops[:50],
    }
    if tracer.enabled:
        record["per_layer"] = per_layer
    for name, value in e2e.items():
        print(f"{args.workload} {name} = {value:.6g} {UNITS[name]}")
    print(f"{args.workload} error_rate = {error_rate:.6g} ratio ({failed}/{attempted})")
    print(f"{args.workload} ops = {len(ops)}; op_tail_s is p{tail_pct}")
    for line in record["failures"]:
        print(f"FAIL {line}")
    print(
        "host: loadavg {} -> {}, steal {:.1%}".format(
            host_before["loadavg"], host_after["loadavg"], record["host"]["steal_share"]
        )
    )
    if drift or ctx.drift_ops:
        print(f"SESSION-CONF DRIFT (ROADMAP item 4): {drift} after ops {ctx.drift_ops[:10]}")

    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    stop(spark)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
