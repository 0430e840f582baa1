"""Self-tests of the benchmark: seeded inputs are reproducible, a tiny run of
each workload passes its own output checks, traced per-request job counts
repeat exactly, and the benchmark refuses to run without the program.

Run from the repository root:  python3 -m pytest perfbench/test_perfbench.py -q
(the Spark-backed tests take a few minutes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import TINY  # noqa: E402

BENCH = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def _inputs(seed: int):
    frames = gen.tables(seed, TINY["scale"])
    cards = gen.contacts(seed, frames["customer"], TINY["persons"])
    requests = gen.requests(seed, cards, 4)
    return frames, cards, [c.vcf() for c in cards], requests


def test_same_seed_gives_identical_inputs():
    a, b = _inputs(11), _inputs(11)
    assert a[0].keys() == b[0].keys()
    for name in a[0]:
        assert a[0][name].equals(b[0][name]), name
    assert a[1:] == b[1:]


def test_different_seed_gives_different_inputs():
    a, b = _inputs(11), _inputs(12)
    assert not a[0]["lineitem"].equals(b[0]["lineitem"])
    assert not a[0]["documents"].equals(b[0]["documents"])
    for i in (1, 2, 3):
        assert a[i] != b[i]


def test_request_mix_is_fixed():
    cycles = gen.requests(3, _inputs(3)[1], 4)
    for cycle in cycles:
        assert [r.kind for r in cycle] == list(gen.MIX)
    # one request of each of the 9 kinds: equal shares
    assert len(gen.MIX) == len(set(gen.MIX)) == 9


def _traced_op(op_id: str, child_s: float) -> list[dict]:
    """Spans of one 1-second op whose single child covers ``child_s``."""
    root = {"id": 1, "name": "api.handle", "parent": None, "op": op_id, "tags": {}, "start": 0.0, "end": 1.0}
    child = {"id": 2, "name": "plans.compile", "parent": 1, "op": op_id, "tags": {}, "start": 0.1, "end": 0.1 + child_s}
    return [root, child]


@pytest.mark.parametrize("child_s, fails", [(0.3, True), (0.9, False)])
def test_accounting_tolerance_is_enforced(child_s, fails):
    import run

    tracer = SimpleNamespace(spans=_traced_op("c0-0", child_s), jobs={})
    per_layer = run.layer_metrics(SimpleNamespace(tracer=tracer, drift_ops=[]), ["c0-0"], "setup", 0.0)
    assert per_layer["trace.accounted_share"] == pytest.approx(child_s)
    assert bool(run.accounting_failure(per_layer["trace.accounted_share"])) is fails


def _run(workload: str, seed: int, trace: int, *extra: str, cwd: str = REPO):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    return proc


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_has_no_errors(workload):
    res = _result(_run(workload, 5, 0, "--tiny"))
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def _job_counts() -> dict[str, tuple[int, str]]:
    """op id -> (jobs, request kind) from the last traced tiny run."""
    path = os.path.join(REPO, ".perfbench", "out", "sparql_read-s7-t1.spans.jsonl")
    with open(path) as f:
        lines = f.read().strip().splitlines()
    jobs = json.loads(lines[-1])["jobs"]
    kinds = {}
    for line in lines[:-1]:
        span = json.loads(line)
        if span["parent"] is None:
            kinds[span["op"]] = span["tags"].get("kind")
    return {op: (len(js), kinds.get(op)) for op, js in jobs.items() if op != "setup"}


@pytest.fixture(scope="module")
def two_traced_runs():
    counts = []
    for _ in range(2):
        res = _result(_run("sparql_read", 7, 1, "--tiny", "--clients", "1"))
        assert set(res["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
        counts.append(_job_counts())
    common = sorted(set(counts[0]) & set(counts[1]))
    assert len(common) >= len(gen.MIX)
    return [{op: c[op] for op in common} for c in counts]


def test_traced_job_counts_repeat_on_one_client(two_traced_runs):
    a, b = ({op: v for op, v in run.items() if v[1] != "path"} for run in two_traced_runs)
    assert a == b


@pytest.mark.xfail(
    strict=False,
    reason="the same star-CC path request on one client launches 31 jobs in most runs and "
    "32 in some (one more 2-stage job in the first loop round). The listener bus is drained "
    "before the harvest and every job has its end time, so the variation is in the program, "
    "not a late job event",
)
def test_traced_star_cc_job_counts_repeat_on_one_client(two_traced_runs):
    a, b = ({op: v for op, v in run.items() if v[1] == "path"} for run in two_traced_runs)
    assert a and a == b


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("catalog_ops", 1, 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
