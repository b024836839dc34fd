#!/usr/bin/env python3
"""Engine benchmark: encode_bulk, read_mix and append_drops on this host.

    python3 enginebench/run.py --workload encode_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt into .bench_build/ (and the sbt target/ dirs); later
runs reuse the build while the sources are unchanged. Each run starts
one benchmark JVM (plus one per extra core level for the encode_bulk
scaling leg), prints one metric line per measured figure, and ends with
one JSON result line. With --trace 1 it prints the per-layer table and
per-layer metrics instead of the end-to-end ones, and keeps the span file
under .bench_build/spans/. See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

WORKLOADS = ("encode_bulk", "read_mix", "append_drops")
# Corpus sizes, drops and set-ups per run: chosen so that a run takes
# about a minute on a 4-core host, cold JVM and warm-up included (see
# README.md for the sizes and the spreads they give).
DOCS = {"encode_bulk": 48000, "read_mix": 24000, "append_drops": 24000}
DROPS = 8
SETUPS = 3
SCALE_REPS = 2
CODEC_ROWS = 3000
DEFAULT_SEED = 42
JVM_HEAP = "2g"
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[enginebench] %s" % msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")):
        if not os.path.exists(need):
            raise SystemExit("enginebench: the engine sources are missing (%s); run from a "
                             "checkout of the repository" % os.path.relpath(need, ROOT))
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building the engine and the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("enginebench: build failed (exit %d)" % proc.returncode)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.0f s" % (time.time() - t0))
    return cp


def run_jvm(cp, work, cpus, args, log_name, deadline):
    """Run the benchmark JVM with `cpus` visible cores; return its record."""
    out = os.path.join(work, log_name + ".json")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Xmx" + JVM_HEAP,
        "-Xms" + JVM_HEAP,
        # pinned in every level: a 1-CPU JVM would otherwise fall back to SerialGC
        "-XX:+UseParallelGC",
        "-XX:ActiveProcessorCount=%d" % cpus,
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + local,
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        # the same scan partitions at every core level: the encoder's url
        # bounds are sampled per scan partition, and Spark sizes file
        # splits by the core count, so without this the levels would
        # encode different pid ranges of the same input
        "-Dspark.sql.files.minPartitionNum=%d" % (os.cpu_count() or 1),
        "-cp", cp, "graftbench.Main", "--out", out, "--work", work, "--cpus", str(cpus),
    ] + [str(a) for a in args]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local
    with open(os.path.join(work, log_name + ".log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("enginebench: %s timed out" % log_name)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, log_name + ".log")) as f:
            lines = [l for l in f if not l.startswith("\tat ")]
        sys.stderr.write("".join(lines[-60:]))
        raise SystemExit("enginebench: %s failed (exit %d)" % (log_name, code))
    with open(out) as f:
        return json.load(f)


def plain(rec, kind):
    return [s for s in rec["samples"] if s["kind"] == kind and s["phase"] == "plain"]


def correctness(workload, rec, scale, seed):
    """The benchmark's own checks on the run record: name -> error or None."""
    table = rec["table"]
    checks = {"ratio_vs_fl<=1": None if table["enc_bytes"] <= table["fl_bytes"] else
              "encBytes %d > flBaselineBytes %d" % (table["enc_bytes"], table["fl_bytes"])}
    if workload == "encode_bulk":
        sizes = {s["enc_bytes"] for s in rec["samples"] if s["kind"] == "encode"}
        sizes |= set(scale["enc_bytes"]) if scale else set()
        checks["enc_bytes_identical_across_reps_and_levels"] = (
            None if len(sizes) == 1 else "encBytes differ: %s" % sorted(sizes))
        with open(os.path.join(HERE, "expected.json")) as f:
            exp = json.load(f)
        if seed == exp["seed"] and rec["docs"] == exp["docs"]:
            checks["enc_bytes_matches_expected"] = (
                None if table["enc_bytes"] == exp["enc_bytes"] else
                "encBytes %d != recorded %d" % (table["enc_bytes"], exp["enc_bytes"]))
    return checks


def end_to_end(workload, rec, scale):
    """Every end-to-end metric of this workload (name -> (value, unit)) and
    the figures the metrics summarize (name, value, unit, stats or None)."""
    table = rec["table"]
    figures = []
    raw_mb = table["raw_bytes"] / 1e6

    if workload == "encode_bulk":
        enc = plain(rec, "encode")
        walls = [s["wall_s"] for s in enc]
        mbs = benchlib.summary([s["raw_bytes"] / 1e6 / s["wall_s"] for s in enc])
        t4n = statistics.median(walls)
        tn = statistics.median(scale["wall_s"])
        eff = (tn / t4n) / (rec["cpus"] / scale["cpus"])
        figures.append(("encode_mb_s", mbs["p50"], "MB/s", mbs))
        figures.append(("scaling_eff", eff, "ratio", None))
        raw_mb_s, op_ms = mbs["p50"], t4n * 1e3
    elif workload == "read_mix":
        stats = {k: benchlib.summary([s["ms"] for s in plain(rec, k)])
                 for k in ("full", "typed", "project", "host", "point", "ts")}
        full_mbs = raw_mb / (stats["full"]["p50"] / 1e3)
        typed_mbs = raw_mb / (stats["typed"]["p50"] / 1e3)
        figures += [
            ("decode_full_mb_s", full_mbs, "MB/s", None),
            ("decode_typed_mb_s", typed_mbs, "MB/s", None),
            ("project_ms_p50", stats["project"]["p50"], "ms", stats["project"]),
            ("host_lookup_ms_p50", stats["host"]["p50"], "ms", stats["host"]),
        ]
        if "p90" in stats["host"]:
            figures.append(("host_lookup_ms_p90", stats["host"]["p90"], "ms", None))
        else:
            figures.append(("host_lookup_ms_p90", None, "ms", stats["host"]))
        figures += [
            ("point_lookup_ms_p50", stats["point"]["p50"], "ms", stats["point"]),
            ("ts_window_ms_p50", stats["ts"]["p50"], "ms", stats["ts"]),
            ("full_scan_ms_p50", stats["full"]["p50"], "ms", stats["full"]),
            ("typed_scan_ms_p50", stats["typed"]["p50"], "ms", stats["typed"]),
        ]
        raw_mb_s = benchlib.geomean([full_mbs, typed_mbs])
        op_ms = benchlib.geomean([stats[k]["p50"] for k in ("project", "host", "point", "ts")])
    else:
        drops = plain(rec, "drop")
        ms = [s["ms"] for s in drops]
        st = benchlib.summary([m / 1e3 for m in ms])
        figures.append(("append_drop_s_p50", st["p50"], "s", st))
        raw_mb_s = raw_mb / (sum(ms) / 1e3)
        figures.append(("append_mb_s", raw_mb_s, "MB/s", None))
        op_ms = st["p50"] * 1e3

    setup = benchlib.summary(rec["setup_s"])
    rss = max([rec["peak_rss_mb"]] + ([scale["peak_rss_mb"]] if scale else []))
    metrics = {
        "raw_mb_s": (raw_mb_s, "MB/s"),
        "op_ms": (op_ms, "ms"),
        "stored_ratio": (table["enc_bytes"] / table["raw_bytes"], "ratio"),
        "ratio_vs_fl": (table["enc_bytes"] / table["fl_bytes"], "ratio"),
        "setup_s": (setup["p50"], "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    figures += [("stored_ratio", metrics["stored_ratio"][0], "ratio", None),
                ("ratio_vs_fl", metrics["ratio_vs_fl"][0], "ratio", None),
                ("setup_s", setup["p50"], "s", setup),
                ("peak_rss_mb", rss, "MB", None)]
    return metrics, figures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S

    cp = build()
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S - 20)
    cpus = os.cpu_count() or 1
    level_n = max(1, cpus // 4)
    parts = 2 * cpus  # EncodeJob.suggestPartitions at this corpus size, fixed for both levels
    work = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(cp, work, cpus, [
            "--role", "main", "--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--docs", DOCS[a.workload], "--parts", parts, "--setups", SETUPS,
            "--drops", DROPS, "--codec_rows", CODEC_ROWS], "main", deadline)
        scale = None
        if a.workload == "encode_bulk" and a.trace == 0:
            t0 = time.time()
            scale = run_jvm(cp, work, level_n, [
                "--role", "scale", "--corpus", os.path.join(work, "corpus"), "--parts", parts,
                "--reps", SCALE_REPS], "scale_%d" % level_n, deadline)
            scale_s = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = rec["attempted"], rec["failed"]
    print("run time: " + ", ".join("%s %.1f s" % (n, sec) for n, sec in rec["phases"]) +
          (", scaling leg %.1f s" % scale_s if scale else ""))
    host = "host steal_pct=%.2f loadavg1=%.2f" % (rec["steal_pct"], rec["loadavg1"])
    if scale:
        host += " | level %d: steal_pct=%.2f loadavg1=%.2f" % (
            scale["cpus"], scale["steal_pct"], scale["loadavg1"])

    if a.trace == 0:
        metrics, figures = end_to_end(a.workload, rec, scale)
        print("workload %s seed %d: %d docs, %.1f MB raw, encBytes %d, local[%d]%s" % (
            a.workload, a.seed, rec["docs"], rec["table"]["raw_bytes"] / 1e6,
            rec["table"]["enc_bytes"], cpus,
            ", scaling leg local[%d]" % level_n if scale else ""))
        print(host)
        for name, value, unit, stats in figures:
            if value is None:
                print("metric %-34s %14s %-6s (n=%d: fewer than %d samples beyond p90)" % (
                    name, "n/a", unit, stats["n"], benchlib.TAIL_SAMPLES))
            else:
                print(benchlib.metric_line(name, value, unit, stats))
        result = metrics
    else:
        spans = rec["spans"]
        os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
        span_file = os.path.join(BUILD, "spans", "%s-seed%d.jsonl" % (a.workload, a.seed))
        with open(span_file, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        layers = benchlib.per_layer(spans, rec["codec"], cpus)
        layers["trace.overhead_pct"] = benchlib.trace_overhead_pct(rec["samples"])
        layers["host.steal_pct"] = rec["steal_pct"]
        layers["host.loadavg1"] = rec["loadavg1"]
        print("workload %s seed %d traced: %d spans in %s" % (
            a.workload, a.seed, len(spans), os.path.relpath(span_file, ROOT)))
        print(host)
        print("%-34s %6s %10s %10s %7s" % ("span", "count", "total_s", "self_s", "self%"))
        for name, count, total, self_s, share in benchlib.layer_table(spans):
            print("%-34s %6d %10.3f %10.3f %6.1f%%" % (name, count, total, self_s, 100 * share))
        print("codec chosen: %s" % ", ".join("%s=%s" % kv for kv in sorted(rec["codec_chosen"].items())))
        units = layer_units()
        for name in sorted(layers):
            print(benchlib.metric_line(name, layers[name], units[name]))
        result = {k: (v, units[k]) for k, v in layers.items()}

    checks = correctness(a.workload, rec, scale, a.seed)
    for c in rec["checks"]:
        if not c["ok"]:
            print("check FAILED %s: %s" % (c["name"], c["detail"]))
    for name, err in checks.items():
        attempted += 1
        if err:
            failed += 1
            print("check FAILED %s: %s" % (name, err))
    print("ops attempted=%d failed=%d ops_failed_ratio=%.6g" % (attempted, failed, failed / attempted))
    correct = failed == 0
    print(benchlib.result_line(correct, attempted, failed, result))
    return 0 if correct else 1


def layer_units():
    """Unit of every per-layer metric, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
