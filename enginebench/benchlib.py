"""Statistics, span arithmetic and output formats of the engine benchmark.

Pure functions over the run records the benchmark JVM writes, kept apart
from run.py so that test_benchlib.py can check them without Spark.
"""
import math
import statistics

# A timing's higher percentile is reported only where at least this many
# samples lie beyond it.
TAIL_SAMPLES = 10


def summary(values):
    """Median, quartiles and sample count, plus the highest of p90/p99
    that has at least TAIL_SAMPLES samples beyond it."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("no samples")
    out = {"n": n, "p50": statistics.median(vals)}
    if n >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out["q1"], out["q3"] = q1, q3
    else:
        out["q1"] = out["q3"] = vals[0]
    for pct in (99, 90):
        if n * (100 - pct) / 100.0 >= TAIL_SAMPLES:
            out["p%d" % pct] = statistics.quantiles(vals, n=100)[pct - 1]
            break
    return out


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover.

    Children are clipped to the parent's interval and their overlaps are
    counted once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def descendants(spans, root_id):
    """Every span below `root_id`."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


def layer_table(spans):
    """Rows of (span name, count, total s, self s, self share of all self time)."""
    selfs = self_times(spans)
    rows = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += (s["end_ns"] - s["start_ns"]) / 1e9
        r[2] += selfs[s["id"]] / 1e9
    total_self = sum(r[2] for r in rows.values()) or 1.0
    return sorted(((name, c, tot, sf, sf / total_self) for name, (c, tot, sf) in rows.items()),
                  key=lambda r: -r[3])


def metric_line(name, value, unit, stats=None):
    """One human-readable metric line: name, value, unit, and for a timing
    its quartiles, sample count and any reported tail percentile."""
    line = "metric %-34s %14.6g %-6s" % (name, value, unit)
    if stats:
        line += " (n=%d q1=%.6g q3=%.6g" % (stats["n"], stats["q1"], stats["q3"])
        for pct in ("p90", "p99"):
            if pct in stats:
                line += " %s=%.6g" % (pct, stats[pct])
        line += ")"
    return line.rstrip()


def result_line(correct, attempted, failed, metrics):
    """The last line of the benchmark's output. `metrics` maps a name to
    (value, unit)."""
    import json
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })


# ------------------------------------------------------------ per-layer

READ_KINDS = ("full", "project", "host", "point", "ts")
# reads with a predicate; full scans and projections never prune
PRUNING_KINDS = ("host", "point", "ts")


def _stage_sum(spans, roots, key):
    total = 0.0
    for r in roots:
        for d in descendants(spans, r["id"]):
            if d["name"] == "spark.stage":
                total += d["attrs"].get(key, 0.0)
    return total


def _stages(spans, roots):
    return [d for r in roots for d in descendants(spans, r["id"]) if d["name"] == "spark.stage"]


def _median(values, default=0.0):
    return statistics.median(values) if values else default


def per_layer(spans, codec, cpus):
    """Per-layer metrics from the span file of a traced run.

    Only traced operations, the last set-up, the checks and the layer
    sweep record spans. Per-call figures are medians over calls."""
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out = {}

    # graft.jobs.EncodeJob: one figure per direct EncodeJob.run call
    enc = by_name.get("graft.jobs.EncodeJob", [])
    per_call = []
    for e in enc:
        stages = _stages(spans, [e])
        maps = [st for st in stages if st["attrs"].get("shuffle_write_mb", 0) > 0]
        reds = [st for st in stages if st["attrs"].get("shuffle_read_mb", 0) > 0]
        wall = (e["end_ns"] - e["start_ns"]) / 1e9
        red_run = sum(st["attrs"]["task_run_s"] for st in reds)
        kernel = e["attrs"].get("kernel_s", 0.0)
        p50s = [st["attrs"]["task_p50_s"] for st in reds if st["attrs"]["task_p50_s"] > 0]
        maxes = [st["attrs"]["task_max_s"] for st in reds]
        per_call.append({
            "encode.bounds_s": e["attrs"]["bounds_s"],
            "encode.write_phase_s": e["attrs"]["write_phase_s"],
            "encode.manifest_s": e["attrs"]["manifest_s"],
            "encode.output_mb": e["attrs"]["output_mb"],
            "encode.kernel_s": kernel,
            "encode.kernel_share": kernel / red_run if red_run > 0 else 0.0,
            "encode.map.shuffle_write_mb": sum(st["attrs"]["shuffle_write_mb"] for st in maps),
            "encode.map.shuffle_write_s": sum(st["attrs"]["shuffle_write_s"] for st in maps),
            "encode.reduce.spill_mb": sum(st["attrs"]["spill_mb"] for st in reds),
            "encode.reduce.task_run_s": red_run,
            "encode.reduce.task_cpu_s": sum(st["attrs"]["task_cpu_s"] for st in reds),
            "encode.reduce.gc_s": sum(st["attrs"]["gc_s"] for st in reds),
            "encode.reduce.task_max_over_p50": (max(maxes) / _median(p50s)) if p50s else 0.0,
            "encode.cpu_util": sum(st["attrs"]["task_cpu_s"] for st in stages) / (wall * cpus),
            "encode.jobs": float(sum(1 for d in descendants(spans, e["id"]) if d["name"] == "spark.job")),
            "encode.tasks": float(sum(st["attrs"]["tasks"] for st in stages)),
        })
    for k in (per_call[0].keys() if per_call else ()):
        out[k] = _median([c[k] for c in per_call])

    # graft.codec: the single-threaded probe
    out.update(codec)

    # graft.sources.GraftDataSource, per read kind
    scans = by_name.get("graft.sources.GraftDataSource", [])
    for k in READ_KINDS:
        calls = [s for s in scans if s["attrs"].get("kind") == k]
        rows = []
        for s in calls:
            total = s["attrs"].get("chunks_total", 0)
            read = s["attrs"].get("chunks_read", 0)
            rows.append({
                "plan_ms": s["attrs"].get("plan_ms", 0.0),
                "bytes_read_mb": s["attrs"].get("bytes_read_mb", 0.0),
                "chunks_read": float(read),
                "prune_ratio": 1.0 - read / total if total else 0.0,
                "task_run_s": _stage_sum(spans, [s], "task_run_s"),
            })
        for m in ("plan_ms", "bytes_read_mb", "chunks_read", "task_run_s"):
            out["scan.%s.%s" % (k, m)] = _median([r[m] for r in rows])
        if k in PRUNING_KINDS:
            out["scan.%s.prune_ratio" % k] = _median([r["prune_ratio"] for r in rows])

    # graft.jobs.DecodeJob: the typed full scan
    typed = by_name.get("graft.jobs.DecodeJob", [])
    out["decode_typed.task_run_s"] = _median([_stage_sum(spans, [s], "task_run_s") for s in typed])
    out["decode_typed.bytes_read_mb"] = _median([s["attrs"].get("bytes_read_mb", 0.0) for s in typed])

    # graft.jobs.VerifyJob
    out["verify.s"] = _median([(s["end_ns"] - s["start_ns"]) / 1e9 for s in by_name.get("graft.jobs.VerifyJob", [])])

    # graft.streaming.StreamingEncode: one figure per drop
    drops = by_name.get("graft.streaming.StreamingEncode", [])
    per_drop = []
    for d in drops:
        kids = descendants(spans, d["id"])
        batches = [b for b in kids if b["name"] == "spark.stream.batch"]
        per_drop.append({
            "wall": (d["end_ns"] - d["start_ns"]) / 1e9,
            "append.start_s": d["attrs"].get("start_s", 0.0),
            "append.trigger_s": sum(b["attrs"].get("triggerExecution.s", 0.0) for b in batches),
            "append.add_batch_s": sum(b["attrs"].get("addBatch.s", 0.0) for b in batches),
            "append.planning_s": sum(b["attrs"].get("queryPlanning.s", 0.0) for b in batches),
            "append.wal_commit_s": sum(b["attrs"].get("walCommit.s", 0.0) for b in batches),
            "append.jobs_per_drop": float(sum(1 for j in kids if j["name"] == "spark.job")),
        })
    for k in ("append.start_s", "append.trigger_s", "append.add_batch_s", "append.planning_s",
              "append.wal_commit_s", "append.jobs_per_drop"):
        out[k] = _median([p[k] for p in per_drop])
    out["append.drop_growth"] = drop_growth([p["wall"] for p in per_drop])
    return out


def trace_overhead_pct(samples):
    """Traced over untraced median wall, geometric mean over the operation
    kinds that have both, as a percentage above 1."""
    ratios = []
    for kind in sorted({s["kind"] for s in samples if s["phase"] == "traced"}):
        t = [s["ms"] for s in samples if s["kind"] == kind and s["phase"] == "traced"]
        u = [s["ms"] for s in samples if s["kind"] == kind and s["phase"] == "plain"]
        if u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return 100.0 * (geomean(ratios) - 1.0)


def drop_growth(walls):
    """Median drop time of the last third of drops over that of the first
    third, in the order the drops ran; 0 when there are fewer than three."""
    if len(walls) < 3:
        return 0.0
    third = len(walls) // 3
    return statistics.median(walls[-third:]) / statistics.median(walls[:third])
