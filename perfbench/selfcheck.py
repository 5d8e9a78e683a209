"""Self-check of the benchmark, at sf0.001 with the shortest runs.

    python3 perfbench/selfcheck.py

From the root of a checkout, it checks that:
- BENCHMARK.json keeps to the benchmark's file format;
- every workload prints, as its last line, a result whose metrics are
  exactly the declared end-to-end metrics (`--trace 0`) or per-layer
  metrics (`--trace 1`), each with its declared unit, with no failure;
- the traced run's layer self times add up to its wall time within
  COVERAGE_TOLERANCE;
- a deliberately corrupted expected result is counted as a failure, on a
  query workload and on `versioned_txn`;
- in a directory holding only BENCHMARK.json and perfbench/, the
  benchmark exits non-zero without printing a result.
Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COVERAGE_TOLERANCE = 0.01
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def fail(msg: str) -> None:
    print(f"selfcheck FAILED: {msg}", flush=True)
    sys.exit(1)


def check_spec(spec: dict) -> None:
    if set(spec) != {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}:
        fail(f"BENCHMARK.json keys {sorted(spec)}")
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    if len(names) != len(set(names)):
        fail("a name is used twice")
    for n in names:
        if not NAME.match(n):
            fail(f"bad name {n!r}")
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            fail(f"bad workload entry {w}")
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            fail(f"bad end-to-end entry {m}")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT.match(m["unit"]) or m["better"] not in ("lower", "higher"):
            fail(f"bad metric entry {m}")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        fail("setup_s must be an end-to-end metric in s, lower is better")
    if setup[0]["bound"] != max(m["bound"] for m in spec["end_to_end"]):
        fail("setup_s must have the largest bound")
    if not 1 <= spec["run_seconds"] <= 60 or not 2 <= len(spec["workloads"]) <= 8:
        fail("run_seconds or workload count out of range")


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True,
        timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return p.returncode, None


def check_result(res: dict | None, declared: list[dict], what: str) -> dict:
    if res is None or set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{what}: last line is not a result: {res}")
    if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
        fail(f"{what}: correct={res['correct']} failed={res['failed']} attempted={res['attempted']}")
    got = res["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    if set(got) != set(want):
        fail(f"{what}: metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    for name, v in got.items():
        if v.get("unit") != want[name] or not isinstance(v.get("value"), (int, float)):
            fail(f"{what}: {name} = {v}")
        if not math.isfinite(v["value"]):
            fail(f"{what}: {name} is not finite")
    return got


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_spec(spec)
    print("BENCHMARK.json format ok", flush=True)
    base = ["--seed", "1", "--seconds", "1", "--sf", "0.001"]
    for w in spec["workloads"]:
        name = w["name"]
        _, res = run(["--workload", name, "--trace", "0", *base])
        got = check_result(res, spec["end_to_end"], f"{name} --trace 0")
        zero = [k for k, v in got.items() if v["value"] <= 0]
        if zero:
            fail(f"{name}: end-to-end metrics not positive: {zero}")
        _, res = run(["--workload", name, "--trace", "1", *base])
        got = check_result(res, spec["per_layer"], f"{name} --trace 1")
        cov = got["trace.coverage"]["value"]
        if abs(cov - 1.0) > COVERAGE_TOLERANCE:
            fail(f"{name}: layer self times cover {cov:.4f} of the traced wall time")
        print(f"{name}: metrics ok, trace coverage {cov:.4f}", flush=True)

    for name in ("analytics", "versioned_txn"):
        _, res = run(["--workload", name, "--trace", "0", "--corrupt-expected", *base])
        if res is None or res["correct"] or res["failed"] < 1:
            fail(f"{name}: a corrupted expected result was not counted: {res}")
        print(f"{name}: corrupted expected result counted ({res['failed']} failed)", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        code, res = run(["--workload", "analytics", "--trace", "0", *base], cwd=bare)
        if code == 0 or res is not None:
            fail(f"without the program: exit {code}, result {res}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        if not os.listdir(os.path.dirname(bare)):
            os.rmdir(os.path.dirname(bare))
    print("without the program: exits non-zero, no result", flush=True)
    print("selfcheck ok", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
