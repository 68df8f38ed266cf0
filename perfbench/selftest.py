"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced with ``--tiny`` and checks
the output contract: the result line's keys, every metric BENCHMARK.json
names with its unit, a row per layer in the traced run's JSON, and the span
fields. Also checks that the benchmark refuses to run, without printing a
result, in a directory that holds only BENCHMARK.json and the benchmark.
Takes about four minutes on a 4-core host.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import RUN_ROOT  # noqa: E402
from workloads import LAYERS, WORKLOADS  # noqa: E402

SPAN_FIELDS = {"name", "start", "end", "parent", "span_id", "trace_id"}


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def bench(cwd: Path, workload: str, trace: int, tiny: bool = True) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)] + (["--tiny"] if tiny else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def result_line(proc: subprocess.CompletedProcess) -> dict:
    check(proc.returncode == 0, f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"result keys {sorted(res)}")
    check(res["correct"] is True and res["failed"] == 0, f"incorrect run: {res}")
    check(isinstance(res["attempted"], int) and res["attempted"] >= 1, "attempted < 1")
    return res


def check_metrics(res: dict, spec: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = res["metrics"]
    check(set(got) == set(want), f"{what}: metric names differ: {set(got) ^ set(want)}")
    for name, m in got.items():
        check(m["unit"] == want[name], f"{what}: {name} unit {m['unit']} != {want[name]}")
        check(isinstance(m["value"], (int, float)) and math.isfinite(m["value"]),
              f"{what}: {name} = {m['value']!r}")


def check_trace(workload: str) -> None:
    doc = json.loads((RUN_ROOT / f"trace-{workload}-seed7.json").read_text())
    rows = doc["layers"]
    for layer in ("session", *LAYERS, "trace"):
        check(layer in rows, f"{workload}: trace JSON has no row for layer {layer}")
    for layer in WORKLOADS[workload].layers:
        check(rows[layer]["wall_s"] > 0 and rows[layer]["jobs"] > 0,
              f"{workload}: exercised layer {layer} reports no work: {rows[layer]}")
    check(doc["spans"], f"{workload}: no spans")
    for s in doc["spans"]:
        check(SPAN_FIELDS <= set(s), f"{workload}: span fields {sorted(s)}")
        check(s["end"] >= s["start"], f"{workload}: span {s['name']} ends before it starts")
    names = {s["name"] for s in doc["spans"]}
    check(set(WORKLOADS[workload].layers) <= names, f"{workload}: layer spans missing: {names}")


def check_refuses_without_program() -> None:
    bare = RUN_ROOT / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    try:
        proc = bench(bare, "checkpoint_resume", 0, tiny=False)
        check(proc.returncode != 0, "ran without the program")
        check(not proc.stdout.strip(), f"printed a result without the program: {proc.stdout!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_refuses_without_program()
    for workload in WORKLOADS:
        check_metrics(result_line(bench(ROOT, workload, 0)), spec["end_to_end"], workload)
        check_metrics(result_line(bench(ROOT, workload, 1)), spec["per_layer"], f"{workload} traced")
        check_trace(workload)
        print(f"selftest: {workload} ok", flush=True)
    print("selftest: all ok")


if __name__ == "__main__":
    main()
