#!/usr/bin/env python3
"""Run a workload on several seeds and summarise how its metrics spread
(run from the repository root):

    python3 perfbench/spread.py run serve_prod 1-10 perfbench/runs/serve_prod.A.jsonl
    python3 perfbench/spread.py summary perfbench/runs/serve_prod.A.jsonl \
        [perfbench/runs/serve_prod.B.jsonl]

``run`` appends one JSON line per seed (the result line, the detail line
before it, the exit code and the wall seconds) to the given file.
``summary`` prints, for each metric of each file, the median and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. Given two
files it also prints the shift of the second median from the first, as a
share of the first, signed so that positive is worse.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seeds: str, out: str, seconds: int, trace: int) -> None:
    for seed in _seeds(seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(trace)],
            capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        row = {"workload": workload, "seed": seed, "rc": proc.returncode,
               "wall_s": round(time.perf_counter() - t0, 1),
               "result": json.loads(lines[-1]) if lines else None,
               "detail": json.loads(lines[-2]) if len(lines) > 1 else None}
        with open(out, "a") as fh:
            fh.write(json.dumps(row) + "\n")
        res = row["result"] or {}
        print(f"{workload} seed {seed}: rc {proc.returncode} wall {row['wall_s']} s "
              f"correct {res.get('correct')} failed {res.get('failed')}", flush=True)


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def stats(rows: list[dict]) -> dict[str, tuple[float, float]]:
    """Metric -> (median, spread) over the rows that printed a result."""
    values: dict[str, list[float]] = {}
    for r in rows:
        for k, v in (r["result"] or {}).get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    out = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        out[k] = (med, (q[2] - q[0]) / med if med else 0.0)
    return out


def summary(paths: list[str]) -> None:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    meta = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sets = [stats(load(p)) for p in paths]
    for p in paths:
        rows = load(p)
        print(f"{p}: {len(rows)} runs, rc {sorted({r['rc'] for r in rows})}, "
              f"failed {[((r['result'] or {}).get('failed')) for r in rows]}, "
              f"wall {statistics.median(r['wall_s'] for r in rows):.1f} s median")
    print(f"{'metric':32s}{'bound':>7s}" + "".join(
        f"{'median':>14s}{'spread':>8s}" for _ in sets) + ("   shift" if len(sets) > 1 else ""))
    for k in sets[0]:
        m = meta.get(k, {})
        line = f"{k:32s}{m.get('bound', ''):>7}"
        line += "".join(f"{s[k][0]:14.4g}{s[k][1]:8.3f}" for s in sets if k in s)
        if len(sets) > 1 and k in sets[1] and sets[0][k][0]:
            shift = sets[1][k][0] / sets[0][k][0] - 1
            line += f"{shift if m.get('better') == 'lower' else -shift:8.3f}"
        print(line)


def main(argv: list[str]) -> int:
    if argv[:1] == ["run"] and len(argv) == 4:
        with open("BENCHMARK.json") as fh:
            seconds = json.load(fh)["run_seconds"]
        run(argv[1], argv[2], argv[3], seconds, int(os.environ.get("TRACE", "0")))
        return 0
    if argv[:1] == ["summary"] and len(argv) in (2, 3):
        summary(argv[1:])
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
