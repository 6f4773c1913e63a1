"""Self-test of the benchmark harness. Run from the repository root:

    python3 pipebench/selftest.py    # ~2.5 min on 4 cores

Checks: the generator writes byte-identical inputs for a seed (and other
inputs for another seed); BENCHMARK.json equals ``spec.benchmark_json()``;
without the package next to it the benchmark exits non-zero and prints
no result. It then drives ``run.py`` as a user would, once
untraced and once traced per workload, and checks that the metric names
and units printed are exactly those in BENCHMARK.json, that every
output was correct, and that the ops' ``exec`` spans sum to no more than
the traced pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".pipebench_work", "selftest")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spec  # noqa: E402


def _files(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def check_generator() -> None:
    for workload in gen.SHAPES:
        a = _files(gen.generate(workload, 7, os.path.join(WORK, "a")))
        b = _files(gen.generate(workload, 7, os.path.join(WORK, "b")))
        c = _files(gen.generate(workload, 8, os.path.join(WORK, "c")))
        assert a == b, f"{workload}: seed 7 wrote different bytes twice"
        data = [n for n in a if n != gen.MANIFEST]
        assert any(a[n] != c[n] for n in data), f"{workload}: seeds 7 and 8 agree"


def check_spec() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        committed = json.load(f)
    assert committed == spec.benchmark_json(), \
        "BENCHMARK.json differs from spec.py; run: python3 pipebench/run.py --write-spec"


def check_refuses_without_program() -> None:
    bare = os.path.join(WORK, "bare")
    shutil.copytree(HERE, os.path.join(bare, "pipebench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "pipebench/run.py", "--workload",
                        spec.WORKLOADS[0][0], "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True,
                       text=True, timeout=180)
    assert p.returncode != 0, "ran without dataproc_spark"
    assert '"metrics"' not in p.stdout, "printed a result without dataproc_spark"


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run([sys.executable, "pipebench/run.py", "--workload", workload,
                        "--seed", "5", "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, \
        f"{workload} trace={trace}: {result['failed']} failed\n{p.stderr[-3000:]}"
    return result


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        committed = json.load(f)
    e2e = {m["name"]: m["unit"] for m in committed["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in committed["per_layer"]}
    for workload in (w["name"] for w in committed["workloads"]):
        metrics = _run(workload, 0)["metrics"]
        assert {k: v["unit"] for k, v in metrics.items()} == e2e, workload
        assert all(v["value"] > 0 for v in metrics.values()), (workload, metrics)
        metrics = _run(workload, 1)["metrics"]
        assert {k: v["unit"] for k, v in metrics.items()} == layer, workload
        with open(os.path.join(ROOT, ".pipebench_work", f"spans-{workload}-5.json")) as f:
            spans = json.load(f)
        (pass_span,) = [s for s in spans if s["name"] == "pass"]
        pass_s = pass_span["end"] - pass_span["start"]
        exec_spans = sum(s["end"] - s["start"] for s in spans if s["name"].endswith(".exec"))
        exec_metrics = sum(v["value"] for k, v in metrics.items() if k.endswith(".exec_s"))
        assert exec_spans <= pass_s and exec_metrics <= pass_s, \
            f"{workload}: exec spans {exec_spans:.3f} s > pass {pass_s:.3f} s"
        assert all(s["run"] == f"{workload}-5" for s in spans)


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        check_generator()
        check_spec()
        check_refuses_without_program()
        check_runs()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
