"""Self-test of the benchmark: run it from the repository root.

    python3 perfbench/selftest.py

Checks, in order (about three minutes on 4 cores):

1. ``BENCHMARK.json`` declares exactly the metrics the runner emits.
2. A directory holding only ``BENCHMARK.json`` and ``perfbench/`` makes
   the runner exit non-zero without printing a result.
3. Each workload runs at sf0.001 with a few operations, passes every
   output check and prints exactly its declared metrics (``interactive``
   traced, ``batch`` untraced).
4. A deliberately corrupted result is caught: the run reports
   ``correct: false``, counts the op as failed and exits non-zero.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)


def declared() -> "tuple[dict, set, set]":
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (spec, {m["name"] for m in spec["end_to_end"]},
            {m["name"] for m in spec["per_layer"]})


def check_declarations() -> None:
    import workloads
    from spans import LAYERS

    spec, e2e, layer = declared()
    assert e2e == {n for n, _u in workloads.END_TO_END}, "end_to_end names drift from runner"
    emitted = {n for n, _u in workloads.PER_LAYER}
    emitted |= {f"layer.{n}.{k}" for n in LAYERS for k in ("self_ms_per_op", "calls_per_op")}
    assert layer == emitted, f"per_layer names drift from runner: {layer ^ emitted}"
    units = dict(workloads.END_TO_END + workloads.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        if m["name"] in units:
            assert m["unit"] == units[m["name"]], f"unit of {m['name']}"
    assert {w["name"] for w in spec["workloads"]} == {"interactive", "batch"}
    assert "setup_s" in e2e
    print("ok  BENCHMARK.json matches the runner")


def run(args: list[str], cwd: str = ROOT) -> "tuple[int, dict | None, str]":
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        res = None
    return p.returncode, res, p.stdout + p.stderr


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        rc, res, _out = run(["--workload", "interactive", "--seed", "1",
                             "--seconds", "1", "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and res is None, f"bare directory: rc={rc} result={res}"
    print("ok  bare directory exits non-zero without a result")


def check_workload(name: str, trace: int, max_ops: int) -> None:
    _spec, e2e, layer = declared()
    rc, res, out = run(["--workload", name, "--seed", "7", "--seconds", "1",
                        "--trace", str(trace), "--scale", "tiny", "--max-ops", str(max_ops)])
    assert rc == 0 and res is not None, f"{name}: rc={rc}\n{out[-3000:]}"
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    want = layer if trace else e2e
    assert set(res["metrics"]) == want, set(res["metrics"]) ^ want
    for k, v in res["metrics"].items():
        assert set(v) == {"value", "unit"} and isinstance(v["value"], (int, float)), k
    print(f"ok  {name} (trace {trace}) at sf0.001: {res['attempted']} ops, all checks pass")


def check_corruption() -> None:
    rc, res, out = run(["--workload", "interactive", "--seed", "7", "--seconds", "1",
                        "--trace", "0", "--scale", "tiny", "--max-ops", "3", "--corrupt", "0"])
    assert rc != 0 and res is not None, f"rc={rc}\n{out[-3000:]}"
    assert res["correct"] is False and res["failed"] >= 1, res
    assert "FAILED op0" in out and "output mismatch" in out, out[-3000:]
    print("ok  a corrupted result is caught (correct=false, failed op, exit", rc, ")")


def main() -> int:
    check_declarations()
    check_bare_directory()
    check_workload("interactive", 1, 6)
    check_workload("batch", 0, 1)
    check_corruption()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
