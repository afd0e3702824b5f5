#!/usr/bin/env python3
"""Regenerates golden.json: row count and order-insensitive digest of every
corpus op the benchmark runs, at the sf0.1 fixtures.

    python3 perfbench/golden.py

Each digest is cross-checked once against the DuckDB oracle the corpus
declares for that query; a query without an oracle keeps its row count
only. A digest that disagrees with its oracle stops the script.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from benchlib import build, digest, workloads  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir = workloads.SF_DIR
    sets = {"governed_sql": workloads.GOVERNED_SQL,
            "curation_pipeline": workloads.CURATION_PIPELINE}
    names = [n for ns in sets.values() for n in ns]
    cp = build.classpath(os.path.join(build.ROOT, ".bench_results", "build.log"))
    oracles = json.loads(subprocess.run(
        ["java", "-cp", cp, "graftbench.Oracles"] + names, check=True,
        capture_output=True, text=True).stdout.strip().splitlines()[-1])

    workdir = os.path.join(build.ROOT, ".bench_work", "golden")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        ops = [{"id": i, "round": 0, "kind": "corpus", "name": n}
               for i, n in enumerate(names)]
        spec = {"sf_dir": sf_dir, "seconds": 0, "trace": False, "min_rounds": 1,
                "ops": ops}
        with open(os.path.join(workdir, "spec.json"), "w") as f:
            json.dump(spec, f)
        out = os.path.join(workdir, "result.json")
        rc, _ = build.run_harness(cp, workdir, [os.path.join(workdir, "spec.json"), out],
                                  1800, os.path.join(workdir, "log.txt"))
        if rc != 0:
            raise SystemExit(f"harness failed ({rc})")
        with open(out) as f:
            got = {o["name"]: o for o in json.load(f)["ops"]}
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    golden = {}
    for w, ns in sets.items():
        golden[w] = {}
        for n in ns:
            o = got[n]
            if o["error"]:
                raise SystemExit(f"{n} failed: {o['error']}")
            entry = {"rows": int(o["digest"].split(":")[0])}
            if n in oracles:
                rel = con.sql(oracles[n])
                want = digest.digest(rel.columns, rel.fetchall())
                if want != o["digest"]:
                    raise SystemExit(f"{n}: engine digest {o['digest']} != oracle {want}")
                entry["digest"] = o["digest"]
            golden[w][n] = entry
            print(n, entry, file=sys.stderr)
    with open(os.path.join(build.BENCH_DIR, "golden.json"), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
