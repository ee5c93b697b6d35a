#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload serve_prod --seed 1 --seconds 5 --trace 0

Workloads: ``serve_prod`` (serve.py) and ``registry_sf0.01`` (registry.py).
Each run starts its own Spark session and sets up: ``setup_s`` is the
session start plus the workload's set-up (serve_prod: the lake ingest;
registry: loading the query registry). It then makes one cold pass through
the workload's mix (``cold_pass_s``) and measures whole passes until
``--seconds`` have passed (at least two). Every output is checked. With
``--trace 1`` the measured time is split into an untraced and a traced
half; the traced half records spans and Spark's event log, and the run
prints the per-layer metrics instead of the end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit), with the metric names
and units ``BENCHMARK.json`` lists for the mode. The line before it holds
the host snapshot and the outcome counts per request type. Spans of
traced runs are written under ``.perfbench/traces/``. The run is
correct, and exits 0, only when no request or query failed: a 5xx, a 504,
an exception, a wrong status or a wrong output each fail it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

WORKLOADS = ("serve_prod", "registry_sf0.01")


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta[:8]), 1)


def _process_tree() -> set[int]:
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    own, grew = {os.getpid()}, True
    while grew:
        new = {p for p, pp in parent.items() if pp in own} - own
        own |= new
        grew = bool(new)
    return own


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process and its children."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval, self.peak_kb, self._stop_evt = interval, 0, threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            total = 0
            for pid in _process_tree():
                try:
                    with open(f"/proc/{pid}/status") as fh:
                        for line in fh:
                            if line.startswith("VmRSS:"):
                                total += int(line.split()[1])
                                break
                except OSError:
                    continue
            self.peak_kb = max(self.peak_kb, total)
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0


def start_session(workload: str, work: str, trace: bool):
    from skope_api_spark.session import get_spark

    from perfbench.trace import event_log_conf

    # -Xms: start at the heap ceiling, so peak RSS follows the pages the run
    # touches rather than when the collector chose to grow the heap
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"}
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return get_spark(f"perfbench-{workload}", fair_scheduling=workload != "registry_sf0.01",
                     extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - then make sure it is gone
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- main -------------------------------------------------------------------------


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test size: a small lbda-shaped cube")
    ap.add_argument("--known-defects", action="store_true",
                    help="serve_prod: also send, in the cold pass, the payloads the "
                         "program is known to mishandle (serve.KNOWN_DEFECTS)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "skope_api_spark", "__init__.py")):
        print("perfbench: run from the repository root (skope_api_spark/ not found)",
              file=sys.stderr)
        return 2
    # the script's own directory would shadow stdlib names (trace) for everyone
    sys.path[0] = root

    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench", name)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the run starts keeps its temp files in the work directory
    # and writes no /tmp/hsperfdata entry
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    # a modest heap: the 8g default left peak RSS to GC timing (it varied by
    # a quarter between identical runs); 2g holds both workloads
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    from bench import host_telemetry

    host_before, jiffies = host_telemetry(), cpu_jiffies()
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(args.workload, work, bool(args.trace))
        session_s = time.perf_counter() - t0
        if args.workload == "registry_sf0.01":
            from perfbench import registry

            res = registry.run(spark, args.seed, args.seconds, bool(args.trace), work, root)
        else:
            from perfbench import serve

            res = serve.run(spark, args.seed, args.seconds, bool(args.trace), args.tiny, work,
                            args.known_defects)
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        stop_session(spark)  # also completes the event log
        spark = None
        if args.trace:
            from perfbench.trace import parse_event_log

            event_log = parse_event_log(os.path.join(work, "eventlog"))
    finally:
        if spark is not None:
            stop_session(spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    host_after = host_telemetry()
    host_after["cpu_steal_share"] = steal_share(jiffies, cpu_jiffies())
    res.e2e["setup_s"] += session_s
    res.e2e["peak_rss_mb"] = peak_mb

    error_rate = res.failed / max(res.attempted, 1)
    if args.trace:
        traces = os.path.join(root, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        res.tracer.dump(os.path.join(traces, name + ".jsonl"))
        layers = {
            **res.layers,
            **res.finish(event_log),
            "session.persisted_rdds_after": persisted,
            "error_rate": error_rate,
            "requests.attempted": res.attempted,
            **{f"requests.{k}": res.outcomes[k] for k in
               ("ok", "expected_422", "timeout_504", "error_5xx", "mismatch")},
            "host.nproc": host_before["cpus"],
            "host.loadavg_before": host_before["loadavg"][0],
            "host.loadavg_after": host_after["loadavg"][0],
            "host.competing_procs": host_before["competing_jvm_py"],
            "host.cpu_steal_share": host_after["cpu_steal_share"],
        }
        # a layer the workload bypasses reads 0
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in listed}
    else:
        metrics = {m["name"]: {"value": float(res.e2e[m["name"]]), "unit": m["unit"]}
                   for m in listed}

    print(json.dumps({"workload": args.workload, "seed": args.seed, "session_s": session_s,
                      "host_before": host_before, "host_after": host_after,
                      "session.persisted_rdds_after": persisted, "error_rate": error_rate,
                      "outcomes_total": dict(res.outcomes), **res.detail}))
    correct = res.failed == 0
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
