"""Metrics and output checks for the benchmark runner.

Pure functions over the raw observations the JVM harness writes
(perfbench/harness, `perfbench.Main`): percentiles, span self time, the
independent re-implementation of the block generator's arithmetic that the
write-path checks compare against, and assembly of the result object.
"""

import bisect
import collections
import json
import math
import os
import statistics

# End-to-end metrics: every workload reports each of them (README.md says
# what each means per workload).
E2E = [
    ("setup_s", "s"),
    ("latency_s_p50", "s"),
    ("latency_s_p90", "s"),
    ("batch_s", "s"),
    ("retained_heap_gb", "GB"),
]

# Timed phases; Spark and JVM counters are reported per phase.
PHASES = ["etl_backfill", "stream_ingest", "query_sql", "query_cold", "query_warm"]

PHASE_METRICS = [
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.slot_busy_frac", "frac"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("jvm.gc_s", "s"),
    ("jvm.jit_compile_s", "s"),
    ("codegen.compile_s", "s"),
]

SINK_TABLES = ["blocks", "transactions", "account_refs"]
LAYERS = ["request", "sources", "operators", "sinks", "streaming", "queries"]

LAYER_METRICS = (
    [
        ("sources.block_range_call_s", "s"),
        ("sources.files_per_batch", "count"),
        ("operators.fanout_call_s", "s"),
        ("operators.watermark_mark_s", "s"),
        ("sinks.publish_s", "s"),
    ]
    + [("sinks.write_s." + t, "s") for t in SINK_TABLES]
    + [
        ("sinks.useful_job_frac", "frac"),
        ("sinks.out_bytes_per_block", "B/block"),
        ("streaming.batches", "count"),
        ("streaming.trigger_wait_s_p50", "s"),
        ("streaming.add_batch_s_p50", "s"),
        ("streaming.bookkeeping_s_p50", "s"),
        ("streaming.rows_per_batch", "count"),
        ("gen.late_s_max", "s"),
        ("queries.build_s", "s"),
        ("queries.action_s", "s"),
        ("queries.jobs_per_query", "count"),
        ("plancache.hits", "count"),
        ("plancache.misses", "count"),
        ("plancache.evictions", "count"),
        ("plancache.hit_frac", "frac"),
        ("plancache.cached_bytes", "bytes"),
        ("backfill.blocks_per_s", "1/s"),
        ("curation.cold_s", "s"),
        ("curation.warm_s", "s"),
    ]
    + [("self_s." + layer, "s") for layer in LAYERS]
    + [("trace_overhead." + name, unit) for name, unit in E2E]
)

PER_LAYER = LAYER_METRICS + [
    (p + "." + m, u) for p in PHASES for m, u in PHASE_METRICS
]


# ---------------------------------------------------------------- percentiles

def samples_beyond(n, q):
    """Samples strictly above the nearest-rank q-th percentile of n."""
    return n - max(1, math.ceil(q * n / 100.0))


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    v = sorted(values)
    return v[max(1, math.ceil(q * len(v) / 100.0)) - 1]


def highest_supported_percentile(n, ladder=(50, 75, 90, 95, 99, 99.9)):
    """The highest percentile of the ladder with at least ten samples
    beyond it, or None when even the median has fewer."""
    ok = [q for q in ladder if samples_beyond(n, q) >= 10]
    return max(ok) if ok else None


# ------------------------------------------------------------------ self time

def layer_of(name):
    return name.split(".", 1)[0]


def _union_length(intervals, lo, hi):
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans):
    """Self time of every span, in the span's own time unit: its duration
    minus the part of its interval that its child spans cover.

    A span's children are the spans naming it as parent. A span recorded
    without a parent (id 0) on another thread, such as a sink write inside
    a streaming batch, is a child of the shortest other span containing it.
    """
    by_id = {s["id"]: s for s in spans}
    children = collections.defaultdict(list)
    for s in spans:
        parent = s["parent"]
        if parent == 0:
            inside = [
                o for o in spans
                if o["id"] != s["id"]
                and o["start_ns"] <= s["start_ns"] and s["end_ns"] <= o["end_ns"]
                and (o["end_ns"] - o["start_ns"]) > (s["end_ns"] - s["start_ns"])
            ]
            if inside:
                parent = min(inside, key=lambda o: o["end_ns"] - o["start_ns"])["id"]
        if parent in by_id:
            children[parent].append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            [(c["start_ns"], c["end_ns"]) for c in children[s["id"]]],
            s["start_ns"], s["end_ns"])
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def self_time_by_layer(spans):
    """Sum of span self times per layer (the name's first component), in
    seconds."""
    st = self_times(spans)
    totals = collections.defaultdict(float)
    for s in spans:
        totals[layer_of(s["name"])] += st[s["id"]] / 1e9
    return dict(totals)


# ------------------------------------------------ block generator arithmetic

def tx_count(block):
    """Transactions in a generated block (BlockSources' `n_tx`)."""
    return (block * 2654435761) % 97 % 7


def expected_rows(blocks):
    """Rows each fan-out table must hold for the given block numbers: one
    blocks row per block, one transactions row per transaction and one
    account_refs row per account of each transaction (transaction i of
    block b, counting from 1, references (b + i) % 3 + 1 accounts)."""
    n_blocks = n_tx = n_acct = 0
    for b in blocks:
        n = tx_count(b)
        n_blocks += 1
        n_tx += n
        n_acct += sum((b + i) % 3 + 1 for i in range(1, n + 1))
    return {"blocks": n_blocks, "transactions": n_tx, "account_refs": n_acct}


# ------------------------------------------------------------ output readers

def part_files(table_dir):
    """Data files of a Spark JSON output directory, in name order."""
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        os.path.join(table_dir, f) for f in os.listdir(table_dir)
        if f.startswith("part-") and not f.endswith(".crc"))


def count_lines(path):
    n = 0
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 22), b""):
            n += chunk.count(b"\n")
    return n


def table_rows_and_bytes(out_dir):
    rows, size = {}, 0
    for t in SINK_TABLES:
        files = part_files(os.path.join(out_dir, t))
        rows[t] = sum(count_lines(p) for p in files)
        size += sum(os.path.getsize(p) for p in files)
    return rows, size


# ------------------------------------------------------------------ workloads

def ingest_observations(raw):
    """Check the write path's outputs and derive its samples.

    Returns (ops_attempted, ops_failed, observations) where observations
    holds the stream's per-file latencies, the backfill's totals and the
    per-batch streaming breakdown.
    """
    notes = []
    bf = raw["backfill"]
    chunks = len(bf["chunk_latency_s"])
    blocks = range(bf["start"], bf["end"])
    rows, size = table_rows_and_bytes(bf["out"])
    want = expected_rows(blocks)
    bf_ok = rows == want and bf["resumed_at"] == bf["end"]
    notes += ["backfill chunk failed: " + e for e in bf["errors"]]
    if rows != want:
        notes.append("backfill rows %s, expected %s" % (rows, want))
    if bf["resumed_at"] != bf["end"]:
        notes.append("watermark resumed at %d, expected %d" % (bf["resumed_at"], bf["end"]))

    st = raw["stream"]
    notes += ["stream failed: " + e for e in st["errors"]]
    per_file = st["per_file"]
    n_files = len(st["files"])
    ends = st["sink_ends_ns"]
    n_batches = min(len(ends[t]) for t in SINK_TABLES)
    batch_end = [max(ends[t][k] for t in SINK_TABLES) for k in range(n_batches)]
    # a part file belongs to the first batch whose blocks sink call ended
    # after the file was written
    block_batch = collections.defaultdict(list)
    for p in part_files(os.path.join(st["out"], "blocks")):
        k = bisect.bisect_left(ends["blocks"], os.stat(p).st_mtime_ns)
        with open(p) as f:
            for line in f:
                if line.strip():
                    block_batch[json.loads(line)["block_number"]].append(k)
    stream_rows, _ = table_rows_and_bytes(st["out"])
    stream_blocks = range(st["first"], st["first"] + n_files * per_file)
    want_stream = expected_rows(stream_blocks)
    tables_ok = all(stream_rows[t] == want_stream[t] for t in ("transactions", "account_refs"))
    if not tables_ok:
        notes.append("stream rows %s, expected %s" % (stream_rows, want_stream))
    extra = set(block_batch) - set(stream_blocks)
    if extra:
        notes.append("%d published blocks were never dropped" % len(extra))

    latencies, waits, failed_files = [], [], 0
    files_in_batch = collections.Counter()
    progress = sorted(st["progress"], key=lambda p: p["batch_id"])
    aligned = len(progress) == n_batches
    for i in range(n_files):
        first = st["first"] + i * per_file
        seen = [block_batch.get(b, []) for b in range(first, first + per_file)]
        batches = {k for s in seen for k in s}
        once = all(len(s) == 1 for s in seen) and len(batches) == 1
        k = batches.pop() if once else None
        if not (once and tables_ok and k < n_batches):
            failed_files += 1
            continue
        files_in_batch[k] += 1
        latencies.append((batch_end[k] - st["scheduled_ns"][i]) / 1e9)
        if aligned:
            waits.append((progress[k]["start_ns"] - st["dropped_ns"][i]) / 1e9)
    if failed_files:
        notes.append("%d of %d stream files not published exactly once" % (failed_files, n_files))

    obs = {
        "latencies": latencies,
        "batch_s": bf["elapsed_s"],
        "backfill_blocks": len(blocks),
        "backfill_bytes": size,
        "trigger_waits": waits,
        "files_per_batch": statistics.mean(files_in_batch.values()) if files_in_batch else 0.0,
        "progress": progress,
        "late_s": [(d - s) / 1e9 for d, s in zip(st["dropped_ns"], st["scheduled_ns"])],
        "notes": notes,
    }
    failed = (0 if bf_ok else chunks) + failed_files
    return chunks + n_files, failed, obs


TIMED_QUERY_PHASES = ("query_sql", "query_cold", "query_warm")


def serve_observations(raw, expected):
    """Check every served result against the expected row count and
    checksum; returns (attempted, failed, observations)."""
    notes = []
    ops = [o for o in raw["ops"] if o["phase"] in TIMED_QUERY_PHASES]
    failed = 0
    for o in ops:
        want = expected.get(o["name"])
        if o["error"] is not None:
            failed += 1
            notes.append("%s failed: %s" % (o["name"], o["error"]))
        elif want is None or want != {"rows": o["rows"], "checksum": o["checksum"]}:
            failed += 1
            notes.append("%s returned %d rows, checksum %s; expected %s"
                         % (o["name"], o["rows"], o["checksum"], want))
    sql = [o for o in ops if o["phase"] == "query_sql"]
    cold = sum(o["latency_s"] for o in ops if o["phase"] == "query_cold")
    warm = sum(o["latency_s"] for o in ops if o["phase"] == "query_warm")
    obs = {
        "latencies": [o["latency_s"] for o in sql],
        "batch_s": cold + warm,
        "cold_s": cold,
        "warm_s": warm,
        "build_s": [o["build_s"] for o in sql],
        "action_s": [o["latency_s"] - o["build_s"] for o in sql],
        "n_sql": len(sql),
        "notes": notes,
    }
    return len(ops), failed, obs


def end_to_end(raw, obs):
    lat = obs["latencies"]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "latency_s_p50": percentile(lat, 50) if lat else float("nan"),
        "latency_s_p90": percentile(lat, 90) if lat else float("nan"),
        "batch_s": obs["batch_s"],
        "retained_heap_gb": raw["retained_heap_bytes"] / 1e9,
    }


def _in_window(span, phase):
    return (phase is not None and phase["start_ns"] <= span["start_ns"]
            and span["end_ns"] <= phase["end_ns"])


def per_layer(raw, obs, spans, e2e, untraced_e2e):
    """Every per-layer metric; a layer the workload does not use reads 0."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    phases = raw["phases"]
    spark = raw["spark"]
    nproc = raw["machine"]["nproc"]

    for p in PHASES:
        ph = phases.get(p)
        if ph is None:
            continue
        c = lambda k: spark.get(p + "|" + k, 0.0)
        m[p + ".spark.jobs"] = c("spark.jobs")
        m[p + ".spark.stages"] = c("spark.stages")
        m[p + ".spark.tasks"] = c("spark.tasks")
        m[p + ".spark.failed_tasks"] = c("spark.failed_tasks")
        m[p + ".spark.task_run_s"] = c("spark.task_run_ms") / 1e3
        m[p + ".spark.task_cpu_s"] = c("spark.task_cpu_ns") / 1e9
        m[p + ".spark.slot_busy_frac"] = c("spark.task_run_ms") / 1e3 / (ph["wall_s"] * nproc)
        for k in ("shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes"):
            m[p + ".spark." + k] = c("spark." + k)
        for k in ("jvm.gc_s", "jvm.jit_compile_s", "codegen.compile_s"):
            m[p + "." + k] = ph.get(k, 0.0)

    timed = [s for s in spans if any(_in_window(s, phases.get(p)) for p in PHASES)]
    dur = collections.defaultdict(float)
    for s in timed:
        dur[s["name"]] += (s["end_ns"] - s["start_ns"]) / 1e9
    m["sources.block_range_call_s"] = dur["sources.block_range"]
    m["operators.fanout_call_s"] = dur["operators.fanout"]
    m["operators.watermark_mark_s"] = dur["operators.watermark_mark"]
    m["sinks.publish_s"] = dur["sinks.publish"]
    for t in SINK_TABLES:
        m["sinks.write_s." + t] = dur["sinks.write." + t]
    jobs = sum(v for k, v in spark.items()
               if "|span:sinks.write." in k and k.endswith("|jobs")
               and k.split("|")[0] in ("etl_backfill", "stream_ingest"))
    writes = sum(v for k, v in spark.items()
                 if "|span:sinks.write." in k and k.endswith("|write_jobs")
                 and k.split("|")[0] in ("etl_backfill", "stream_ingest"))
    m["sinks.useful_job_frac"] = writes / jobs if jobs else 0.0
    for layer, v in self_time_by_layer(timed).items():
        if "self_s." + layer in m:
            m["self_s." + layer] = v

    if raw["workload"] == "ingest":
        m["sinks.out_bytes_per_block"] = obs["backfill_bytes"] / obs["backfill_blocks"]
        m["backfill.blocks_per_s"] = obs["backfill_blocks"] / obs["batch_s"]
        prog = obs["progress"]
        m["streaming.batches"] = len(prog)
        m["streaming.rows_per_batch"] = statistics.mean(p["rows"] for p in prog) if prog else 0.0
        if prog:
            m["streaming.add_batch_s_p50"] = percentile([p["add_batch_ms"] / 1e3 for p in prog], 50)
            m["streaming.bookkeeping_s_p50"] = percentile(
                [(p["trigger_ms"] - p["add_batch_ms"]) / 1e3 for p in prog], 50)
        if obs["trigger_waits"]:
            m["streaming.trigger_wait_s_p50"] = percentile(obs["trigger_waits"], 50)
        m["sources.files_per_batch"] = obs["files_per_batch"]
        m["gen.late_s_max"] = max(obs["late_s"]) if obs["late_s"] else 0.0
    else:
        n = obs["n_sql"]
        m["queries.build_s"] = statistics.mean(obs["build_s"]) if n else 0.0
        m["queries.action_s"] = statistics.mean(obs["action_s"]) if n else 0.0
        m["queries.jobs_per_query"] = spark.get("query_sql|spark.jobs", 0.0) / n if n else 0.0
        for k in ("hits", "misses", "evictions"):
            m["plancache." + k] = sum(
                phases.get(p, {}).get("plancache." + k, 0.0) for p in ("query_cold", "query_warm"))
        looked = m["plancache.hits"] + m["plancache.misses"]
        m["plancache.hit_frac"] = m["plancache.hits"] / looked if looked else 0.0
        m["plancache.cached_bytes"] = phases.get("query_warm", {}).get("plancache.cached_bytes", 0.0)
        m["curation.cold_s"] = obs["cold_s"]
        m["curation.warm_s"] = obs["warm_s"]

    if untraced_e2e:
        for name, _ in E2E:
            m["trace_overhead." + name] = e2e[name] - untraced_e2e[name]
    return m


def result(correct, attempted, failed, metrics, units):
    """The runner's last output line."""
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
