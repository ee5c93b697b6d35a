#!/usr/bin/env python3
"""Self-test of the benchmark (run from the repository root, ~3 minutes):

    python3 perfbench/selftest.py

1. Each workload, at self-test size and with and without tracing, prints a
   last line that parses, with exactly the keys ``correct``, ``attempted``,
   ``failed`` and ``metrics``; every metric ``BENCHMARK.json`` names for
   that mode is present with its unit; the outputs are correct and no
   request failed. serve_prod also sends the payloads in
   ``serve.KNOWN_DEFECTS``, so a defect the measured workload leaves out
   still fails here.
2. In a directory holding only ``BENCHMARK.json`` and the benchmark, a run
   exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile


def run_once(bench: dict, workload: str, trace: int, cwd: str) -> list[str]:
    cmd = [*bench["command"], "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--tiny"]
    if workload == "serve_prod":
        cmd.append("--known-defects")  # fails until the program refuses them with 422
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={trace}"
    lines = proc.stdout.strip().splitlines()
    if not lines:
        return [f"{tag}: no output (exit {proc.returncode}): {proc.stderr[-500:]}"]
    try:
        out = json.loads(lines[-1])
    except json.JSONDecodeError:
        return [f"{tag}: last line is not JSON: {lines[-1][:200]}"]
    errs = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: keys {sorted(out)}")
    want = bench["per_layer" if trace else "end_to_end"]
    for m in want:
        got = out.get("metrics", {}).get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"),
                                                                         (int, float)):
            errs.append(f"{tag}: metric {m['name']} missing or wrong: {got}")
    if len(out.get("metrics", {})) != len(want):
        errs.append(f"{tag}: {len(out['metrics'])} metrics, expected {len(want)}")
    if out.get("correct") is not True or out.get("failed") != 0 or proc.returncode != 0:
        detail = json.loads(lines[-2]) if len(lines) > 1 else {}
        errs.append(f"{tag}: correct={out.get('correct')} failed={out.get('failed')} "
                    f"exit={proc.returncode} outcomes={detail.get('outcomes_total')} "
                    f"{detail.get('errors') or detail.get('problems')}")
    if not out.get("attempted", 0) >= 1:
        errs.append(f"{tag}: attempted={out.get('attempted')}")
    return errs


def check_refuses_without_program(bench: dict, root: str) -> list[str]:
    with tempfile.TemporaryDirectory(dir=root, prefix=".perfbench-bare-") as bare:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(root, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        cmd = [*bench["command"], "--workload", bench["workloads"][0]["name"], "--seed", "1",
               "--seconds", "1", "--trace", "0"]
        proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[:200]!r}"]
    return []


def main() -> int:
    root = os.getcwd()
    sys.path[0] = root
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errs = check_refuses_without_program(bench, root)
    for w in bench["workloads"]:
        for trace in (0, 1):
            errs += run_once(bench, w["name"], trace, root)
            print(f"{w['name']} trace={trace}: done", flush=True)
    for e in errs:
        print("FAIL", e)
    print("selftest:", "FAIL" if errs else "ok")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
