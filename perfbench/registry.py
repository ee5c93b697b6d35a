"""The registry workload: named ``skope_api_spark.contract`` queries over
generated sf0.01 tables, one client, sequential, every result checked
against a committed digest.

The query names are copied here rather than imported from ``bench.py`` so
that editing that file cannot change this workload.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import json
import math
import os
import random
import time
from collections import Counter
from dataclasses import dataclass, field

from perfbench.result import Result, median, percentile
from perfbench.trace import Tracer, ledger_for, spark_metrics

SF = 0.01
DATA_SEED = 42
DIGEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_digest.json")

# One query per operator family of the registry: relational, dedup,
# similarity, text, graph and entity resolution. The graph, ER and dedup
# queries pin lineage while they build their plans.
QUERIES = [
    "q1_pricing_summary",
    "dedup_minhash_near_duplicates",
    "sim_cosine_topk",
    "text_tfidf_top_terms",
    "graph_pagerank_copurchase",
    "er_customer_record_clusters",
]


def generate_tables(root: str, out: str) -> None:
    """Write the sf0.01 tables with the repository's deterministic generator."""
    path = os.path.join(root, "scripts", "gen_testdata.py")
    spec = importlib.util.spec_from_file_location("gen_testdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with contextlib.redirect_stdout(io.StringIO()):
        mod.generate(SF, out, seed=DATA_SEED)


# --- result digest (normalised as scripts/check_correctness.py does) ----------


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0 else v
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return v


def digest(columns: list[str], rows: list) -> dict:
    """Row count and an order-insensitive hash of the values."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    norm.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    h = hashlib.sha256(repr(([columns[i] for i in order], norm)).encode()).hexdigest()
    return {"rows": len(rows), "hash": h}


def load_digest() -> dict:
    with open(DIGEST) as fh:
        return json.load(fh)["queries"]


# --- the loop ---------------------------------------------------------------------


@dataclass
class PassLog:
    wall_s: float
    query_s: dict[str, float]
    build_s: float = 0.0
    action_s: float = 0.0


@dataclass
class RegistryRun:
    spark: object
    data_dir: str
    seed: int
    tracer: object
    expected: dict
    queries: dict = field(default_factory=dict)
    outcomes: Counter = field(default_factory=Counter)
    problems: list[str] = field(default_factory=list)

    def order(self, n_pass: int) -> list[str]:
        names = list(QUERIES)
        random.Random(f"{self.seed}:{n_pass}").shuffle(names)
        return names

    def one_pass(self, n_pass: int, tag: str) -> PassLog:
        """Each query: build the plan, then collect it; check every result."""
        log = PassLog(0.0, {})
        t_pass = time.perf_counter()
        for name in self.order(n_pass):
            rid = f"{tag}#{n_pass}:{name}"
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"contract.{name}", request=rid):
                    with self.tracer.span("contract.build"):
                        df = self.queries[name](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    with self.tracer.span("contract.action"):
                        rows = df.collect()
                t2 = time.perf_counter()
            except Exception as ex:  # noqa: BLE001 - a failed query is a result
                self.outcomes["error_5xx"] += 1
                self.problems.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
                continue
            log.query_s[name] = t2 - t0
            log.build_s += t1 - t0
            log.action_s += t2 - t1
            # untimed: the check runs between queries, outside every timer
            pause = time.perf_counter()
            got = digest(df.columns, rows)
            if got == self.expected.get(name):
                self.outcomes["ok"] += 1
            else:
                self.outcomes["mismatch"] += 1
                self.problems.append(f"{name}: got {got}, expected {self.expected.get(name)}")
            t_pass += time.perf_counter() - pause
        log.wall_s = time.perf_counter() - t_pass
        return log

    def passes(self, seconds: float, start: int, tag: str, at_least: int) -> list[PassLog]:
        """Whole passes until ``seconds`` have passed and ``at_least`` are done."""
        out, t0 = [], time.perf_counter()
        while len(out) < at_least or time.perf_counter() - t0 < seconds:
            out.append(self.one_pass(start + len(out), tag))
        return out


def run(spark, seed: int, seconds: float, trace: bool, work: str, root: str) -> Result:
    """Set up, one cold pass, then measured passes. A traced run measures
    half its time untraced and half with build and action spans. The
    tables are generated once, outside every timer: they are a fixture,
    not the program; set-up is loading the query registry."""
    data = os.path.join(work, "data")
    generate_tables(root, data)
    t0 = time.perf_counter()
    import __spark_entry__ as entry

    queries = entry.queries()
    load_s = time.perf_counter() - t0

    tracer = Tracer(spark)
    rr = RegistryRun(spark, data, seed, tracer, load_digest(),
                     queries={q: queries[q] for q in QUERIES})
    cold = rr.one_pass(0, "cold")
    traced = []
    # two passes at least: a single pass gives six samples, and its median
    # spread by a fifth between runs
    if trace:
        warm = rr.passes(seconds / 2, 1, "untraced", 1)
        tracer.enabled = True
        traced = rr.passes(seconds / 2, 1 + len(warm), "traced", 1)
        tracer.enabled = False
    else:
        warm = rr.passes(seconds, 1, "measure", 2)

    samples = [s for p in warm for s in p.query_s.values()]
    e2e = {
        "latency_p50_ms": median(samples) * 1000,
        "latency_p90_ms": percentile(samples, 90) * 1000,
        "throughput_rps": len(samples) / sum(p.wall_s for p in warm),
        "pass_s": median(p.wall_s for p in warm),
        "cold_pass_s": cold.wall_s,
        "setup_s": load_s,
    }
    layers: dict[str, float] = {"latency.samples": len(samples)}
    finish = None
    if trace:
        for q in QUERIES:
            layers[f"contract.{q}_s"] = median(p.query_s.get(q, 0.0) for p in traced)
        layers["contract.build_s"] = median(p.build_s for p in traced)
        layers["contract.action_s"] = median(p.action_s for p in traced)
        layers["trace.overhead_ms"] = 1000 * (
            median(s for p in traced for s in p.query_s.values()) - median(samples))

        def finish(ledgers: dict) -> dict:
            top = [sp for sp in tracer.spans if sp.parent is None]
            build = [sp.span_id for sp in tracer.spans if sp.name == "contract.build"]
            out = spark_metrics(ledgers, tracer.spans, top, len(traced))
            out["checkpoint.jobs_build"] = ledger_for(build, ledgers).jobs / len(traced)
            return out

    detail = {"problems": rr.problems[:20], "passes": len(warm) + len(traced),
              "registry_load_s": load_s}
    return Result(e2e, layers, rr.outcomes, detail, tracer, finish)
