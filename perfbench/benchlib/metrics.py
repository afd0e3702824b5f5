"""End-to-end and per-layer metrics from a harness result and its spans."""
import statistics


def percentile(values, q):
    """Linear-interpolation percentile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    i = int(pos)
    if i >= len(xs) - 1:
        return xs[-1]
    return xs[i] + (xs[i + 1] - xs[i]) * (pos - i)


def tail_quantile(n):
    """The highest percentile with at least ten samples beyond it at sample
    count n, never below the median: below 20 samples no such percentile
    lies above the median, and the tail is reported at the median."""
    return min(0.99, max(0.5, 1.0 - 10.0 / n))


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def ops_per_s(ops):
    """Completed ops per second of op wall time, per round; the median over
    rounds, so one round slowed by the machine does not move it."""
    rounds = {}
    for o in ops:
        n, t = rounds.get(o["round"], (0, 0.0))
        rounds[o["round"]] = (n + 1, t + o["wall_s"])
    return statistics.median(n / t for n, t in rounds.values())


def end_to_end(result, failed, workload):
    ops = result["ops"]
    lat = [o["wall_s"] for o in ops]
    n = len(lat)
    q = tail_quantile(n)
    m = {
        "setup_s": (result["setup"]["total_s"], "s"),
        "ops_per_s": (ops_per_s(ops), "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (percentile(lat, q), "s"),
        "retained_heap_mb": (result["jvm"]["retained_heap_mb"], "MB"),
    }
    info = {"workload": workload, "n": n, "tail_quantile": round(q, 4),
            "failed_ratio": failed / max(1, n)}
    fp = result.get("footprint")
    if fp:
        info["space_amp"] = fp["table_bytes"] / fp["fresh_bytes"]
    return m, info


def layers(result, spans, workload, changed_rows):
    """Per-layer figures from the traced rounds of a traced run.

    Every span carries the id of the op it belongs to. An op's driver gap is
    its wall time minus the union of its Spark job intervals; Catalyst time
    is the sum of tracked analysis/optimization/planning phases.
    changed_rows maps a catalog_dml write's op id to the rows it changed.
    """
    ops = result["ops"]
    traced_ids = {s["op"] for s in spans if s["kind"] == "op"}
    traced = [o for o in ops if o["id"] in traced_ids]
    untraced = [o for o in ops if o["id"] not in traced_ids]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    cores = result["jvm"]["cores"]
    tot = dict.fromkeys([
        "construct", "gap", "phases", "qe", "jobs", "stages", "job_wall",
        "task", "cpu", "gc", "shuffle_w", "shuffle_r", "spill", "in_bytes",
        "in_rows", "out_bytes"], 0.0)
    point_in, point_out, changed = 0.0, 0.0, 0.0
    per_name = {}
    for o in traced:
        sp = by_op.get(o["id"], [])
        opspan = next(s for s in sp if s["kind"] == "op")
        lo, hi = opspan["start_ms"], opspan["end_ms"]
        jobs = [(s["start_ms"], s["end_ms"]) for s in sp if s["kind"] == "job"]
        stages = [s for s in sp if s["kind"] == "stage"]
        job_wall = union_length(clip(jobs, lo, hi)) / 1e3
        tot["construct"] += o["construct_s"]
        tot["gap"] += o["wall_s"] - job_wall
        tot["job_wall"] += job_wall
        tot["phases"] += sum(s["end_ms"] - s["start_ms"] for s in sp
                             if s["kind"] == "catalyst") / 1e3
        tot["qe"] += sum(1 for s in sp if s["kind"] == "catalyst"
                         and s["name"] == "analysis")
        tot["jobs"] += len(jobs)
        tot["stages"] += len(stages)
        for key, attr in [("task", "task_s"), ("cpu", "cpu_s"), ("gc", "gc_s"),
                          ("shuffle_w", "shuffle_write_bytes"),
                          ("shuffle_r", "shuffle_read_bytes"),
                          ("spill", "spill_bytes"), ("in_bytes", "input_bytes"),
                          ("in_rows", "input_rows"), ("out_bytes", "output_bytes")]:
            tot[key] += sum(s[attr] for s in stages)
        if o["name"] == "point_read":
            point_in += sum(s["input_rows"] for s in stages)
            point_out += len(o["rows"] or [])
        changed += changed_rows.get(o["id"], 0)
        per_name.setdefault(o["name"], []).append(o["wall_s"])
    k = max(1, len(traced))
    setup = result["setup"]
    m = {
        "queries.construct_s": (tot["construct"] / k, "s"),
        "driver.gap_s": (tot["gap"] / k, "s"),
        "catalyst.phases_s": (tot["phases"] / k, "s"),
        "catalyst.qe_per_op": (tot["qe"] / k, "count"),
        "spark.jobs_per_op": (tot["jobs"] / k, "count"),
        "spark.stages_per_op": (tot["stages"] / k, "count"),
        "spark.job_wall_s": (tot["job_wall"] / k, "s"),
        "exec.task_s": (tot["task"] / k, "s"),
        "exec.cpu_s": (tot["cpu"] / k, "s"),
        "exec.gc_s": (tot["gc"] / k, "s"),
        "exec.busy_ratio": (tot["task"] / max(1e-9, tot["job_wall"] * cores), "ratio"),
        "shuffle.write_bytes": (tot["shuffle_w"] / k, "bytes"),
        "shuffle.read_bytes": (tot["shuffle_r"] / k, "bytes"),
        "exec.spill_bytes": (tot["spill"] / k, "bytes"),
        "sources.input_bytes": (tot["in_bytes"] / k, "bytes"),
        "sources.input_rows": (tot["in_rows"] / k, "count"),
        "setup.session_s": (setup["session_s"], "s"),
        "setup.build_s": (setup["build_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "jvm.heap_peak_mb": (result["jvm"]["heap_peak_mb"], "MB"),
        "trace.overhead_ratio": (
            ops_per_s(traced) / ops_per_s(untraced) if untraced else 1.0, "ratio"),
    }
    # the per-op breakdown: operators.<q>_s, sql.<q>_s or catalog.<kind>_s
    prefix = {"governed_sql": "sql", "curation_pipeline": "operators",
              "catalog_dml": "catalog"}[workload]
    detail = {f"{prefix}.{name}_s": (statistics.median(v), "s")
              for name, v in sorted(per_name.items())}
    fp = result.get("footprint")
    if fp:
        # bytes of the changed rows, at the fresh copy's bytes per live row
        changed *= fp["fresh_bytes"] / max(1, fp["live_rows"])
        detail["catalog.write_amp"] = (tot["out_bytes"] / changed if changed else 0.0, "ratio")
        detail["catalog.table_files"] = (fp["table_files"], "count")
        detail["catalog.table_bytes"] = (fp["table_bytes"], "bytes")
        detail["catalog.rows_examined_per_row"] = (
            point_in / point_out if point_out else point_in, "ratio")
    return m, detail
