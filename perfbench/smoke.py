"""Smoke self-test of the benchmark at the smallest input size.

    python3 perfbench/smoke.py

For every workload, runs ``perfbench/run.py`` untraced and traced on tiny
inputs and checks that: the result line has exactly the contract's keys;
every output check ran and passed; every end-to-end (untraced) or
per-layer (traced) metric of ``BENCHMARK.json`` is printed with its unit;
the report lines name the workload's end-to-end metrics with units; and
``BENCHMARK.json`` agrees with ``perfbench/metrics.py``.  Last, it runs
the benchmark in a directory holding only ``BENCHMARK.json`` and
``perfbench/`` and checks that it fails without printing a result.
Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

# report lines each workload must print: its end-to-end metrics under the
# names they have on that workload, each produced by an output check
REPORT = {
    metrics.BATCH: ["setup_s s", "peak_rss_mb MB", "op_fail_ratio ratio",
                    "er_wall_s s", "er_pair_f1 ratio"],
    metrics.STREAM: ["setup_s s", "peak_rss_mb MB", "op_fail_ratio ratio",
                     "assign_p50_ms ms", "assign_tail_ms ms", "assign_accuracy ratio"],
}


def fail(msg: str) -> None:
    print(f"FAIL: {msg}")
    sys.exit(1)


def check_catalogue(bench: dict) -> None:
    e2e = [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]]
    if e2e != [tuple(m) for m in metrics.END_TO_END]:
        fail("BENCHMARK.json end_to_end differs from perfbench/metrics.py")
    layers = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    if layers != [tuple(m[:3]) for m in metrics.PER_LAYER]:
        fail("BENCHMARK.json per_layer differs from perfbench/metrics.py")
    if [w["name"] for w in bench["workloads"]] != list(metrics.WORKLOADS):
        fail("BENCHMARK.json workloads differ from perfbench/metrics.py")


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [*bench_command(), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.splitlines()


def bench_command() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["command"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_catalogue(bench)
    for workload in metrics.WORKLOADS:
        for trace in (0, 1):
            rc, out = run(ROOT, workload, trace)
            if rc != 0 or not out:
                fail(f"{workload} trace={trace}: exit {rc}")
            result = json.loads(out[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                fail(f"{workload}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                fail(f"{workload} trace={trace}: checks did not pass: {out[-1]}")
            want = bench["per_layer"] if trace else bench["end_to_end"]
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != {m["name"]: m["unit"] for m in want}:
                fail(f"{workload} trace={trace}: metrics {got}")
            if any(not isinstance(v["value"], (int, float)) for v in result["metrics"].values()):
                fail(f"{workload} trace={trace}: a metric value is not a number")
            for spec in REPORT[workload]:
                name, unit = spec.split()
                if not any(
                    line.startswith(f"metric {name} = ") and f" {unit}" in line
                    for line in out
                ):
                    fail(f"{workload}: no report line for {name} in {unit}")
            if trace and not any(line.startswith("trace spans=") for line in out):
                fail(f"{workload}: traced run reported no spans or overhead")
            print(f"ok {workload} trace={trace}")

    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(HERE, "_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(
            HERE, os.path.join(bare, "perfbench"),
            ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"),
        )
        rc, out = run(bare, metrics.BATCH, 0)
        if rc == 0 or any(line.startswith("{") for line in out):
            fail("the benchmark printed a result without the program")
        print("ok bare directory fails")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
