"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload at a tenth of its size, untraced and traced, and
checks that the result line carries exactly the metrics BENCHMARK.json
declares (names and units), that the report names every end-to-end
figure, and that outside a full checkout the benchmark fails without
printing a result. Takes a few minutes; exits non-zero on any problem.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
REPORTED = (
    "setup_s", "job_s", "input_rows_per_s", "query_p50_s", "increment_p50_s",
    "dup_recall", "dup_precision", "store_bytes_per_doc", "peak_rss_mb", "failed_ratio",
)


def run(args: list[str], cwd: str) -> tuple[int, list[str]]:
    p = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            label = f"{w['name']} trace={trace}"
            code, lines = run(["--workload", w["name"], "--seed", "1", "--seconds", "1",
                               "--trace", str(trace), "--scale", "0.1"], ROOT)
            if code != 0 or not lines:
                problems.append(f"{label}: exit {code}")
                continue
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{label}: result keys {sorted(result)}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{label}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got) ^ set(want[trace]))}")
            shown = {ln.split()[1] for ln in lines if ln.startswith("metric ")}
            if shown != set(REPORTED):
                problems.append(f"{label}: report lacks {sorted(set(REPORTED) - shown)}")
            print(f"ok {label}: {result['attempted']} checks, {len(got)} metrics", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                       "--seconds", "1", "--trace", "0"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or any(ln.startswith("{") for ln in lines):
        problems.append(f"bare directory: exit {code}, output {lines[-1:]}")
    else:
        print(f"ok bare directory: exit {code}, no result", flush=True)

    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
