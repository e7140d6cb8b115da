"""Self-test of the benchmark: every workload at a tiny size.

    python3 perfbench/selftest.py

For each workload it runs ``run.py`` untraced and traced with tiny inputs
and checks that the result line has exactly the contract's keys, that the
outputs were checked and found correct, and that every metric
``BENCHMARK.json`` names is present and finite (end-to-end ones also
positive). It also checks that the benchmark refuses to run, without
printing a result, from a directory holding only ``BENCHMARK.json`` and
``perfbench/``. Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int, timeout: int = 600) -> tuple[int, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout, check=False)
    return p.returncode, p.stdout


def check_result(workload: str, trace: int, spec: dict) -> None:
    rc, out = run(ROOT, workload, trace)
    if rc != 0:
        raise SystemExit(f"{workload} trace={trace}: exit code {rc}")
    res = json.loads(out.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{workload} trace={trace}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
        raise SystemExit(f"{workload} trace={trace}: checks {res['attempted']}/{res['failed']} failed")
    declared = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        raise SystemExit(f"{workload} trace={trace}: metrics differ from BENCHMARK.json: "
                         f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for k, v in res["metrics"].items():
        x = v["value"]
        if not isinstance(x, (int, float)) or not math.isfinite(x) or (not trace and x <= 0):
            raise SystemExit(f"{workload} trace={trace}: {k} = {x!r}")
    print(f"ok   {workload} trace={trace}: {len(got)} metrics, {res['attempted']} checks")


def check_refuses_without_program() -> None:
    bare = os.path.join(HERE, ".work", f"selftest-bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
        rc, out = run(bare, "clip_label", 0, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or out.strip():
        raise SystemExit(f"bare checkout: exit code {rc}, stdout {out[-200:]!r}")
    print(f"ok   refuses to run without the program (exit code {rc})")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_refuses_without_program()
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_result(w["name"], trace, spec)


if __name__ == "__main__":
    main()
