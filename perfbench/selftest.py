"""Self-test of the benchmark, in about five minutes.

    python3 perfbench/selftest.py

First it feeds the metric functions a run in which every op failed, and
asserts that every metric is still reported (NaN where no successful op
defines it), so a failing run ends with its result line, not a traceback.
Then it runs each workload as defined, untraced and traced, and asserts
that:

- the last stdout line has exactly the contract's keys, is correct, and
  prints every metric that BENCHMARK.json names, with its unit;
- every span of the trace nests inside its parent;
- ``query.build_jobs`` equals the job spans under the build spans;
- every op writes the same shuffle bytes, in its execute phase and over all
  its jobs, in each traced repetition (the cold one included), because
  caches and module memos are reset before each op.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as runner  # noqa: E402
from measure import NEST_TOL_S, Tracer  # noqa: E402

SEED = 7
# Relative tolerance for equal shuffle bytes: row order inside a shuffle
# block can differ between repetitions, which moves compressed sizes a little.
SHUFFLE_TOL = 0.05


def run(workload: str, trace: int) -> dict:
    # Two warm passes: a traced run traces the cold pass and the first warm
    # pass, and leaves the second one untraced.
    seconds = 2 * runner.WORKLOADS[workload].pass_s
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_failure_report(spec: list[dict]) -> None:
    cpu = {"jvm": 1.0, "driver": 0.5, "pyworker": 0.0}
    passes = [{"n": n, "traced": False, "wall": 1.0, "cpu": cpu, "ops": 0} for n in (0, 1)]
    failed = SimpleNamespace(
        records=[{"op": "q", "rep": n, "ok": False, "check_s": 0.0} for n in (0, 1)],
        rmse=[],
    )
    m = runner.end_to_end(failed, passes, 1.0, 100.0)
    assert {k: v["unit"] for k, v in m.items()} == {e["name"]: e["unit"] for e in spec}, m
    for k in ("batch_s", "query_geomean_s", "cpu_per_op_s", "als_rmse"):
        assert math.isnan(m[k]["value"]), (k, m[k])
    # An op whose plan step raised leaves a plan span without its exchanges.
    tr = Tracer()
    tr.on = True
    with tr.span("op", op="q", rep=1) as op, tr.span("plan"):
        pass
    assert runner.op_layers(tr, op, [])["plans.exchanges"] == 0


def check_result(out: dict, spec: list[dict], where: str) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, (where, set(out))
    assert out["correct"] is True and out["failed"] == 0, (where, out)
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1, (where, out)
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want, (where, sorted(set(got) ^ set(want)), got)
    for k, v in out["metrics"].items():
        assert set(v) == {"value", "unit"}, (where, k, v)
        assert isinstance(v["value"], (int, float)), (where, k, v)


def check_trace(path: str, build_jobs: float) -> None:
    with open(path) as f:
        detail = json.load(f)
    spans = {s["id"]: s for s in detail["spans"]}
    for s in spans.values():
        if s["parent"] is None:
            continue
        p = spans[s["parent"]]
        assert p["start"] - NEST_TOL_S <= s["start"] <= s["end"] <= p["end"] + NEST_TOL_S, (
            "span outside its parent", s, p)
    children: dict[int, list[dict]] = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s)
    per_pass = []
    for ps in (s for s in spans.values() if s["name"] == "pass" and s["n"] > 0):
        n = 0
        for op in (s for s in children.get(ps["id"], []) if s["name"] == "op"):
            for ph in children.get(op["id"], []):
                if ph["name"] == "build":
                    n += sum(1 for j in children.get(ph["id"], []) if j["name"] == "job")
        per_pass.append(n)
    assert per_pass and statistics.median(per_pass) == build_jobs, (per_pass, build_jobs)
    spread = detail["shuffle_write_spread"]
    bad = {op: d for op, d in spread.items() if d > SHUFFLE_TOL}
    assert not bad, ("shuffle bytes differ between repetitions", bad)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_failure_report(bench["end_to_end"])
    print("ok  failure report")
    for w in bench["workloads"]:
        name = w["name"]
        check_result(run(name, 0), bench["end_to_end"], f"{name} trace=0")
        out = run(name, 1)
        check_result(out, bench["per_layer"], f"{name} trace=1")
        check_trace(os.path.join(runner.WORK, f"trace-{name}-seed{SEED}.json"),
                    out["metrics"]["query.build_jobs"]["value"])
        print(f"ok  {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
