#!/usr/bin/env python3
"""Regenerate ``registry_digest.json`` (run from the repository root):

    python3 perfbench/make_digest.py

Generates the registry workload's sf0.01 tables, requires
``scripts/check_correctness.py`` to pass every workload query against its
DuckDB oracle on them, then records each query's row count and value hash.
Run it only when the registry's expected outputs change on purpose.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile


def main() -> int:
    root = os.getcwd()
    sys.path[0] = root
    from perfbench import registry as G

    with tempfile.TemporaryDirectory(dir=root, prefix=".perfbench-digest-") as tmp:
        data = os.path.join(tmp, "data")
        G.generate_tables(root, data)
        env = {**os.environ, "SPARK_GRAFT_SF_DIR": data}
        check = subprocess.run(
            [sys.executable, "scripts/check_correctness.py", *G.QUERIES],
            env=env, capture_output=True, text=True)
        print(check.stdout)
        if check.returncode != 0 or f"{len(G.QUERIES)} pass" not in check.stdout:
            print("oracle check did not pass every query; digest not written")
            return 1

        import __spark_entry__ as entry
        from skope_api_spark.session import get_spark

        spark = get_spark("perfbench-digest")
        queries = entry.queries()
        out = {}
        for name in G.QUERIES:
            df = queries[name](spark, data)
            out[name] = G.digest(df.columns, df.collect())
        spark.stop()
    with open(G.DIGEST, "w") as fh:
        json.dump({"sf": G.SF, "data_seed": G.DATA_SEED, "queries": out}, fh, indent=1)
        fh.write("\n")
    print(f"wrote {G.DIGEST}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
