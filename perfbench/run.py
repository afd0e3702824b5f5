#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload governed_sql --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (once per source state),
runs the workload's seeded op sequence in a fresh working directory with a
fresh catalog warehouse, checks every result, and prints one JSON line as
the last line of stdout: the end-to-end metrics (--trace 0) or the
per-layer metrics of a traced run (--trace 1). The line before it carries
the run's context: sample count, tail percentile, failure ratio, cores,
heap, JDK, Spark version and the per-op breakdown.

Fixture tables are read from $GRAFT_BENCH_SF_DIR, by default the
project's sf0.1 fixtures (benchlib/workloads.py, TESTDATA.md).
"""
import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from benchlib import build, metrics, workloads  # noqa: E402

BENCH_DIR = build.BENCH_DIR
ROOT = build.ROOT
WORKLOADS = ("governed_sql", "curation_pipeline", "catalog_dml")
SPARE_ROUNDS = 3  # generated beyond the minimum, for --seconds longer than it


def load_base(sf_dir):
    """Per order key (rows, non-null quantities, quantity sum) of the CTAS
    source, read independently of the engine under test."""
    import duckdb
    path = os.path.join(sf_dir, "lineitem.parquet")
    rows = duckdb.connect().execute(
        "SELECT l_orderkey, count(*), count(l_quantity), "
        "coalesce(sum(l_quantity), 0) FROM read_parquet(?) GROUP BY 1",
        [path]).fetchall()
    return {k: (c, nn, float(q)) for k, c, nn, q in rows}


def make_spec(workload, seed, seconds, trace, sf_dir, workdir):
    # a traced run alternates traced and untraced rounds: it needs two
    rounds = max(workloads.MIN_ROUNDS[workload], 2 if trace else 1)
    spec = {"sf_dir": sf_dir, "seconds": seconds, "trace": bool(trace),
            "min_rounds": rounds}
    rounds += SPARE_ROUNDS
    gen = None
    if workload == "catalog_dml":
        gen = workloads.DmlGenerator(seed, load_base(sf_dir))
        warehouse = os.path.join(workdir, "warehouse")
        os.makedirs(warehouse)
        spec["build"] = [{"id": -1 - i, "round": -2, "kind": "write", "name": "setup",
                          "sql": s} for i, s in enumerate(
                              workloads.dml_setup_sql(warehouse, sf_dir))]
        spec["warmup"] = gen.ops(workloads.DML_WARMUP, -1, 100000)
        spec["ops"] = []
        for r in range(rounds):
            spec["ops"] += gen.ops(workloads.DML_ROUND, r, len(spec["ops"]))
        spec["table_dir"] = os.path.join(warehouse, "li")
    else:
        names = (workloads.GOVERNED_SQL if workload == "governed_sql"
                 else workloads.CURATION_PIPELINE)
        warm = workloads.corpus_ops(names, seed + 7919,
                                    workloads.WARMUP_ROUNDS[workload])
        for o in warm:
            o["id"] += 100000
            o["round"] -= workloads.WARMUP_ROUNDS[workload]
        spec["warmup"] = warm
        spec["ops"] = workloads.corpus_ops(names, seed, rounds)
    return spec, gen


def check(workload, spec, result, gen, golden):
    """Returns (failed measured ops, every failure message)."""
    problems, failed = [], 0
    expect = {o["id"]: o for o in spec["warmup"] + spec["ops"]}
    measured = {o["id"] for o in result["ops"]}
    for o in result["warmup"] + result["ops"]:
        bad = o["error"]
        if not bad and o["kind"] == "corpus":
            g = golden[workload][o["name"]]
            rows, _, _ = o["digest"].split(":")
            if int(rows) != g["rows"]:
                bad = f"{rows} rows, expected {g['rows']}"
            elif g.get("digest") and o["digest"] != g["digest"]:
                bad = f"digest {o['digest']}, expected {g['digest']}"
        elif not bad and o["kind"] == "read":
            if not workloads.check_read(expect[o["id"]], o["rows"]):
                bad = f"read {o['rows'][:5]} does not match {expect[o['id']]['expect']}"
        if bad:
            problems.append(f"{o['name']} (op {o['id']}): {bad}")
            failed += o["id"] in measured
    if gen is not None:
        # a fresh copy of the live rows takes the set-up CTAS's bytes per
        # row; the live set differs from the CTAS source by well under 1%
        fp, live = result["footprint"], gen.model.totals[0]
        fp["live_rows"] = live
        fp["fresh_bytes"] = fp["built_bytes"] * live / gen.model.versions[1][0]
    return failed, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still removes its work dir and stops the harness
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    results_dir = os.path.join(ROOT, ".bench_results")
    os.makedirs(results_dir, exist_ok=True)
    cp = build.classpath(os.path.join(results_dir, "build.log"))
    t0 = time.time()
    sf_dir = workloads.SF_DIR
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        raise SystemExit(f"perfbench: no fixture tables in {sf_dir}")
    with open(os.path.join(BENCH_DIR, "golden.json")) as f:
        golden = json.load(f)

    # hermetic: corpus ops write relative target/... state, so each run gets
    # its own working directory (and catalog warehouse) and removes it after
    workdir = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    try:
        spec, gen = make_spec(a.workload, a.seed, a.seconds, a.trace, sf_dir, workdir)
        spec_path = os.path.join(workdir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        res_path = os.path.join(results_dir, f"{tag}.json")
        spans_path = os.path.join(results_dir, f"{tag}.spans.json")
        log = os.path.join(results_dir, f"{tag}.log")
        timeout = max(30.0, 175.0 - (time.time() - t0))
        rc, env = build.run_harness(cp, workdir, [spec_path, res_path, spans_path],
                                    timeout, log)
        if rc != 0:
            with open(log) as f:
                sys.stderr.write(f.read()[-3000:])
            raise SystemExit(f"perfbench: harness exited with {rc}, log {log}")
        with open(res_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    failed, problems = check(a.workload, spec, result, gen, golden)
    for p in problems:
        print(f"[perfbench] wrong result: {p}", file=sys.stderr)
    e2e, info = metrics.end_to_end(result, failed, a.workload)
    info.update(seed=a.seed, cores=env["cores"], driver_mem=env["driver_mem"],
                max_heap_mb=result["jvm"]["max_heap_mb"], jdk=result["jvm"]["jdk"],
                spark=result["jvm"]["spark"], measured_s=result["measured_s"])
    if a.trace:
        with open(spans_path) as f:
            spans = json.load(f)
        chosen, detail = metrics.layers(result, spans, a.workload,
                                        gen.changed_rows if gen else {})
        info["detail"] = {k: {"value": v, "unit": u} for k, (v, u) in detail.items()}
        info["spans"] = os.path.relpath(spans_path, ROOT)
    else:
        chosen = e2e
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not problems,
        "attempted": len(result["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
