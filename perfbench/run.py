#!/usr/bin/env python3
"""Benchmark runner: builds the program and the harness, measures one
workload in a fresh JVM, checks its outputs and prints the metrics.

    python3 perfbench/run.py --workload ingest|serve --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The last line of standard output is
the result object: {"correct", "attempted", "failed", "metrics"}. Every
file it writes (build classpath, generated tables, per-run work
directories, results, spans) lives under `.bench_work/` in the checkout; a
run's work directory, which holds a few hundred MB of JSONL, is deleted
when the run ends. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import analysis  # noqa: E402

WORKLOADS = ("ingest", "serve")
WORK = os.path.join(ROOT, ".bench_work")
EXPECTED = os.path.join(HERE, "expected_results.json")
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [
        os.path.join(ROOT, "build.sbt"),
        os.path.join(ROOT, "project", "build.properties"),
        os.path.join(ROOT, "src", "main"),
        os.path.join(HERE, "harness", "build.sbt"),
        os.path.join(HERE, "harness", "project", "build.properties"),
        os.path.join(HERE, "harness", "src"),
    ]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(("%s|%d|%d\n" % (os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build():
    """Compile the program (with the root's own build definition) and the
    harness; returns the runtime classpath. Reuses the previous build when
    no input changed."""
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    stamp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g", "-Djava.io.tmpdir=" + tmp,
    ])
    log("building program and harness (sbt)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    cp = [ln for ln in lines if "scala-library" in ln and not ln.startswith("[")]
    if not cp:
        raise SystemExit("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("build done in %.0f s" % (time.time() - t0))
    return cp[-1].strip()


def run_jvm(classpath, workload, seed, seconds, trace):
    """One measurement in a fresh JVM; returns the raw observations, the
    spans and the checked observations. The run's work directory is
    deleted before returning."""
    run_dir = os.path.join(WORK, "run-%d-%d" % (os.getpid(), time.time_ns()))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    raw_path = os.path.join(run_dir, "raw.json")
    spans_path = os.path.join(run_dir, "spans.jsonl")
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp]
           + [a for p in ADD_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", run_dir, "--data", os.path.join(WORK, "data"),
              "--raw", raw_path, "--spans", spans_path])
    try:
        with open(os.path.join(WORK, "last-jvm.log"), "w") as jvm_log:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jvm_log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise SystemExit("measurement exceeded %d s" % JVM_TIMEOUT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(raw_path):
            with open(os.path.join(WORK, "last-jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit("harness exited with %d" % rc)
        with open(raw_path) as f:
            raw = json.load(f)
        spans = []
        if trace:
            with open(spans_path) as f:
                spans = [json.loads(ln) for ln in f if ln.strip()]
        # checks read the outputs, so they run before the directory goes
        return raw, spans, observe(raw)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def load_expected():
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)["queries"]


def observe(raw):
    if raw["workload"] == "ingest":
        return analysis.ingest_observations(raw)
    return analysis.serve_observations(raw, load_expected())


def record_expected(raw):
    """Write the served results of this run as the expected ones."""
    seen = {}
    for o in raw["ops"]:
        if o["error"] is not None:
            raise SystemExit("%s failed: %s" % (o["name"], o["error"]))
        want = {"rows": o["rows"], "checksum": o["checksum"]}
        if seen.setdefault(o["name"], want) != want:
            raise SystemExit("%s is not deterministic: %s vs %s" % (o["name"], seen[o["name"]], want))
    with open(EXPECTED, "w") as f:
        json.dump({"queries": dict(sorted(seen.items()))}, f, indent=1)
        f.write("\n")
    log("recorded %d expected results in %s" % (len(seen), EXPECTED))


def result_path(workload, seed, seconds, trace):
    return os.path.join(WORK, "results", "%s-seed%d-s%d-t%d.json" % (workload, seed, seconds, trace))


def untraced_result(args):
    """The kept untraced result for the same workload, seed and length, or
    else the latest untraced one of the workload at that length (the
    overhead then also holds the difference between the two seeds), or
    None."""
    same = result_path(args.workload, args.seed, args.seconds, 0)
    if os.path.exists(same):
        return same
    d = os.path.join(WORK, "results")
    others = [os.path.join(d, f) for f in os.listdir(d)] if os.path.isdir(d) else []
    others = [p for p in others
              if os.path.basename(p).startswith(args.workload + "-seed")
              and p.endswith("-s%d-t0.json" % args.seconds)]
    return max(others, key=os.path.getmtime) if others else None


def measure(classpath, args, trace):
    raw, spans, (attempted, failed, obs) = run_jvm(
        classpath, args.workload, args.seed, args.seconds, trace)
    e2e = analysis.end_to_end(raw, obs)
    saved = {"e2e": e2e, "machine": raw["machine"], "attempted": attempted,
             "failed": failed, "notes": obs["notes"], "raw": raw}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(result_path(args.workload, args.seed, args.seconds, trace), "w") as f:
        json.dump(saved, f, indent=1)
    return raw, spans, attempted, failed, obs, e2e


def summary(raw, attempted, failed, obs, e2e):
    m = raw["machine"]
    lines = ["%s seed=%d trace=%s" % (raw["workload"], raw["seed"], raw["trace"]),
             "machine: nproc=%d load_avg %.2f -> %.2f max_heap_gb=%.2f"
             % (m["nproc"], m["load_avg_before"], m["load_avg_after"], m["max_heap_gb"]),
             "error_rate=%.4f (%d of %d operations failed)"
             % (failed / attempted if attempted else 1.0, failed, attempted)]
    lines.append("phases (wall s): " + ", ".join(
        "%s=%.2f" % (k, v["wall_s"]) for k, v in raw["phases"].items())
        + ", warmup=%.2f, setup rounds=%s" % (raw["warmup_s"], ",".join("%.2f" % x for x in raw["setup_s"])))
    n = len(obs["latencies"])
    lines.append("latency samples=%d, highest supported percentile=p%s"
                 % (n, analysis.highest_supported_percentile(n)))
    for name, unit in analysis.E2E:
        lines.append("%s = %.6g %s" % (name, e2e[name], unit))
    if raw["workload"] == "ingest":
        lines.append("etl_backfill: backfill_blocks_per_s = %.6g, backfill_out_bytes_per_block = %.6g"
                     % (obs["backfill_blocks"] / obs["batch_s"],
                        obs["backfill_bytes"] / obs["backfill_blocks"]))
        lines.append("stream_ingest: ingest_latency_s_p50 = %.6g, ingest_latency_s_p90 = %.6g"
                     % (e2e["latency_s_p50"], e2e["latency_s_p90"]))
    else:
        lines.append("query_serving: sql_latency_s_p50 = %.6g, sql_latency_s_p90 = %.6g, "
                     "curation_cold_s = %.6g, curation_warm_s = %.6g"
                     % (e2e["latency_s_p50"], e2e["latency_s_p90"], obs["cold_s"], obs["warm_s"]))
    lines += ["check: " + n for n in obs["notes"][:20]]
    for ln in lines:
        print("# " + ln)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--record-expected", action="store_true",
                    help="store this run's served results as the expected ones")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no program sources at %s: run from a checkout of the repository" % ROOT)

    classpath = build()
    untraced = None
    if args.trace:
        # tracing overhead is the traced value minus the untraced one for the
        # same workload and seed; measure the untraced one if none is kept
        path = untraced_result(args)
        if path is None:
            measure(classpath, args, 0)
            path = untraced_result(args)
        with open(path) as f:
            untraced = json.load(f)["e2e"]
    raw, spans, attempted, failed, obs, e2e = measure(classpath, args, args.trace)
    if args.record_expected:
        record_expected(raw)

    if args.trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        with open(os.path.join(WORK, "trace", "%s-seed%d.spans.jsonl"
                               % (args.workload, args.seed)), "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
        values = analysis.per_layer(raw, obs, spans, e2e, untraced)
        units = dict(analysis.PER_LAYER)
    else:
        values, units = e2e, dict(analysis.E2E)
    summary(raw, attempted, failed, obs, e2e)
    print(json.dumps(analysis.result(failed == 0, attempted, failed, values, units)))


if __name__ == "__main__":
    main()
