"""Pure parts of the benchmark: workload definitions, seed-derived inputs,
statistics, metric aggregation, oracle digests and the run ledger.

Everything here runs without a JVM, so perfbench/tests can check it directly.
"""
import hashlib
import json
import math
import os
import random
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))

# Operations are entries of graft's query catalog (SparkEntry.queries). Each
# list is a subset of the family named in the workload, sized so that one run
# (three set-ups, the timed passes and the correctness pass) stays within the
# benchmark's run budget; see README.md for the families and the sizing.
WORKLOADS = {
    "metrics-sf0.1": {
        "kind": "batch", "sf": "sf0.1",
        "ops": ["q_long_tail", "q_coverage", "q_novelty"],
    },
    "iterative-sf0.1": {
        "kind": "batch", "sf": "sf0.1",
        "ops": ["q_max_coverage"],
    },
    "volume-sf1.0": {
        "kind": "batch", "sf": "sf1.0",
        # no media query: q_image_near_dup's DuckDB oracle spills over 20 GB at sf1.0
        "ops": ["q_simhash_pairs", "q_tfidf"],
    },
    "stream-sf0.1": {
        "kind": "stream", "sf": "sf0.1", "ops": ["q_incremental_dedup"],
    },
}

SETUPS = 3               # set-ups per run; setup_s is their median
MAX_PASSES = 64          # pass orders handed to the harness (runs stop earlier)
STREAM_BATCH_DOCS = (5, 15)   # micro-batch size range, documents
STREAM_BATCHES_PER_PASS = 5
INJECTED = ["selftest_throw", "selftest_wrong"]

# sf1.0 is tools/make_sf1.py's 10 key-shifted copies of sf0.1: dimension
# tables are copied once, every other table grows exactly 10x.
SF1_DIMENSIONS = ("region", "nation")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# ---------------------------------------------------------------------------
# Seed-derived inputs
# ---------------------------------------------------------------------------

def pass_orders(ops, seed, n=MAX_PASSES):
    """Operation order of each pass: a seeded shuffle per pass."""
    rng = random.Random(f"order:{seed}")
    orders = []
    for _ in range(n):
        perm = list(ops)
        rng.shuffle(perm)
        orders.append(perm)
    return orders


def batch_sizes(seed, n_docs, lo=STREAM_BATCH_DOCS[0], hi=STREAM_BATCH_DOCS[1]):
    """Micro-batch sizes (documents) that together cover n_docs."""
    rng = random.Random(f"batches:{seed}")
    sizes, total = [], 0
    while total < n_docs:
        s = min(rng.randint(lo, hi), n_docs - total)
        sizes.append(s)
        total += s
    return sizes


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

def quantile(values, q):
    """Linear-interpolation quantile (numpy's default), q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return statistics.median(values)


def samples_beyond(n, q):
    """How many of n samples lie above the q-quantile."""
    return n - math.ceil(n * q)


def tail(values, q=0.9, min_beyond=10):
    """(q-quantile, sample count) when at least min_beyond samples lie beyond
    it, else None: a tail percentile is reported only with enough samples."""
    n = len(values)
    if n == 0 or samples_beyond(n, q) < min_beyond:
        return None
    return quantile(values, q), n


def interval_union(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s",
                    "heap_peak_mb": "MB"}

# per-layer metric -> (unit, harness key summed per pass)
LAYER_SUMS = {
    "tables.scan_s": ("s", "scan_s"),
    "tables.scan_bytes": ("bytes", "scan_bytes"),
    "tables.scan_rows": ("rows", "scan_rows"),
    "build.s": ("s", "build_s"),
    "build.jobs": ("count", "build_jobs"),
    "build.checkpoints": ("count", "checkpoints"),
    "build.checkpoint_bytes": ("bytes", "checkpoint_bytes"),
    "build.collect_bytes": ("bytes", "build_result_bytes"),
    "plan.analysis_s": ("s", "plan_analysis_s"),
    "plan.optimization_s": ("s", "plan_optimization_s"),
    "plan.planning_s": ("s", "plan_planning_s"),
    "plan.nodes": ("count", "plan_nodes"),
    "plan.exchanges": ("count", "plan_exchanges"),
    "exec.s": ("s", "exec_s"),
    "exec.stages": ("count", "stages"),
    "exec.tasks": ("count", "tasks"),
    "exec.task_run_s": ("s", "task_run_s"),
    "exec.task_cpu_s": ("s", "task_cpu_s"),
    "exec.gc_s": ("s", "task_gc_s"),
    "exec.sched_delay_s": ("s", "sched_delay_s"),
    "exec.deser_s": ("s", "deser_s"),
    "exec.shuffle_write_bytes": ("bytes", "shuffle_write_bytes"),
    "exec.shuffle_write_rows": ("rows", "shuffle_write_rows"),
    "exec.shuffle_read_bytes": ("bytes", "shuffle_read_bytes"),
    "exec.fetch_wait_s": ("s", "fetch_wait_s"),
    "exec.spill_bytes": ("bytes", "spill_bytes"),
    "stream.add_batch_s": ("s", "stream_add_batch_s"),
    "stream.query_planning_s": ("s", "stream_query_planning_s"),
    "stream.commit_s": ("s", "stream_commit_s"),
    "stream.latest_offset_s": ("s", "stream_latest_offset_s"),
    "stream.rows_in": ("rows", "stream_rows_in"),
    "stream.rows_out": ("rows", "stream_rows_out"),
    "sink.write_s": ("s", "sink_write_s"),
    "sink.bytes": ("bytes", "sink_bytes"),
    "sink.files": ("count", "sink_files"),
    "jvm.gc_s": ("s", "jvm_gc_s"),
    "release.s": ("s", "release_s"),
}
LAYER_OTHER_UNITS = {
    "exec.jobs": "count", "exec.core_busy_frac": "frac", "exec.peak_mem_bytes": "bytes",
    "op.self_s": "s", "build.self_s": "s", "exec.self_s": "s",
    "setup.session_s": "s", "setup.warmup_s": "s", "setup.data_s": "s",
    "trace.overhead_s": "s", "trace.overhead_frac": "frac",
}


def per_layer_names():
    return sorted(list(LAYER_SUMS) + list(LAYER_OTHER_UNITS))


def layer_unit(name):
    return LAYER_SUMS[name][0] if name in LAYER_SUMS else LAYER_OTHER_UNITS[name]


def self_times(spans):
    """Per-op self time of the op, build and exec spans: each span's length
    minus the part of it its child spans cover."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = {}
    for op, ss in by_op.items():
        def named(n):
            return [s for s in ss if s["name"] == n]
        top = named("op")
        if not top:
            continue
        op_span = top[0]
        jobs = [s for s in ss if s["name"].startswith("job ")]
        build, exec_ = named("build"), named("exec")
        res = {}
        kids = [(s["start_ms"], s["end_ms"]) for s in build + exec_]
        if not kids:  # a micro-batch: its jobs and the sink write are the children
            kids = [(s["start_ms"], s["end_ms"]) for s in jobs + named("sink.write")]
        lo, hi = op_span["start_ms"], op_span["end_ms"]
        res["op.self_s"] = ((hi - lo) - interval_union(kids, lo, hi)) / 1e3
        for sp, key, parents in ((build, "build.self_s", ("build",)),
                                 (exec_, "exec.self_s", ("exec",))):
            if not sp:
                continue
            a, b = sp[0]["start_ms"], sp[0]["end_ms"]
            kids = [(s["start_ms"], s["end_ms"]) for s in ss
                    if s["parent"] in parents and s["name"] != "op"]
            res[key] = ((b - a) - interval_union(kids, a, b)) / 1e3
        out[op] = res
    return out


def ok_ops(result, failed):
    """Timed operations that neither threw nor disagree with the oracle."""
    return [o for o in result["ops"]
            if o["status"] == "ok" and o["name"] not in failed
            and not o.get("failed_check")]


def complete_passes(result, kind, n_ops):
    """Pass numbers whose every operation was run (the stream's last group of
    micro-batches may be partial)."""
    counts = {}
    for o in result["ops"]:
        counts[o["pass"]] = counts.get(o["pass"], 0) + 1
    want = STREAM_BATCHES_PER_PASS if kind == "stream" else n_ops
    return {p for p, c in counts.items() if c == want}


def pass_times(result, kind, n_ops, failed, traced):
    """Per complete pass: the summed latency of its successful operations."""
    passes = complete_passes(result, kind, n_ops)
    tr = {p["pass"]: p["traced"] for p in result["passes"]}
    sums = {}
    for o in ok_ops(result, failed):
        if o["pass"] in passes and tr.get(o["pass"]) == traced:
            sums[o["pass"]] = sums.get(o["pass"], 0.0) + o["t_s"]
    return sums


def end_to_end(result, kind, n_ops, failed):
    ops = [o for o in ok_ops(result, failed)
           if not _traced_pass(result, o["pass"])]
    lat = [o["t_s"] for o in ops]
    passes = pass_times(result, kind, n_ops, failed, traced=False)
    # the heap peak of each pass, then the median over passes: which
    # operation's leftovers a collection still sees depends on the order
    peaks = {}
    for o in result["ops"]:
        if "heap_mb" in o:
            peaks[o["pass"]] = max(peaks.get(o["pass"], 0.0), o["heap_mb"])
    return {
        "setup_s": median([s["setup_s"] for s in result["setups"]]),
        "pass_s": median(passes.values()) if passes else float("nan"),
        "op_p50_s": median(lat) if lat else float("nan"),
        "heap_peak_mb": median(peaks.values()),
    }


def _traced_pass(result, p):
    return any(x["pass"] == p and x["traced"] for x in result["passes"])


def per_layer(result, kind, n_ops, failed, cpus, data_s):
    passes = complete_passes(result, kind, n_ops)
    traced = sorted(p for p in passes if _traced_pass(result, p))
    selfs = self_times(result.get("spans", []))
    per_pass = {p: {} for p in traced}
    for o in ok_ops(result, failed):
        if o["pass"] not in per_pass:
            continue
        acc = per_pass[o["pass"]]
        for name, (_, key) in LAYER_SUMS.items():
            acc[name] = acc.get(name, 0.0) + float(o.get(key, 0.0) or 0.0)
        if kind == "stream":
            acc["exec.s"] = acc.get("exec.s", 0.0) + o["t_s"]
        acc["exec.jobs"] = acc.get("exec.jobs", 0.0) + o.get("build_jobs", 0) + o.get("exec_jobs", 0)
        acc["exec.peak_mem_bytes"] = max(acc.get("exec.peak_mem_bytes", 0.0), o.get("peak_mem_bytes", 0.0))
        acc["wall"] = acc.get("wall", 0.0) + o["t_s"]
        op_id = f"p{o['pass']}:{o['name']}"
        for k, v in selfs.get(op_id, {}).items():
            acc[k] = acc.get(k, 0.0) + v
    metrics = {}
    for name in per_layer_names():
        vals = [acc.get(name, 0.0) for acc in per_pass.values()]
        if name == "exec.core_busy_frac":
            vals = [acc.get("exec.task_run_s", 0.0) / (acc["wall"] * cpus)
                    for acc in per_pass.values() if acc.get("wall")]
        metrics[name] = median(vals) if vals else 0.0
    setups = result["setups"]
    metrics["setup.session_s"] = median([s["session_s"] for s in setups])
    metrics["setup.warmup_s"] = median([s["warmup_s"] for s in setups])
    metrics["setup.data_s"] = data_s
    untraced = pass_times(result, kind, n_ops, failed, traced=False)
    traced_t = pass_times(result, kind, n_ops, failed, traced=True)
    if untraced and traced_t:
        u, t = median(untraced.values()), median(traced_t.values())
        metrics["trace.overhead_s"] = t - u
        metrics["trace.overhead_frac"] = (t - u) / u
    else:
        metrics["trace.overhead_s"] = metrics["trace.overhead_frac"] = 0.0
    return metrics


# ---------------------------------------------------------------------------
# Oracle digests
# ---------------------------------------------------------------------------

def type_family(t):
    """Type family the oracle compare distinguishes (tools/check_oracle.py):
    integer widths are one family, float widths another."""
    s = str(t)
    if "int" in s and "decimal" not in s:
        return "int"
    if s in ("float", "double") or s.startswith("halffloat"):
        return "float"
    return s


def table_digest(table, canon):
    """Order-insensitive digest of an arrow table under the value semantics
    of tools/check_oracle.py --values: columns by name, type families, and
    the multiset of rows of repr()'d Python values."""
    cols = sorted(table.column_names)
    fams = [type_family(table.schema.field(c).type) for c in cols]
    rows = sorted(repr(tuple(canon(r[c]) for c in cols)) for r in table.to_pylist())
    h = hashlib.sha256()
    h.update(json.dumps([cols, fams]).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"digest": h.hexdigest(), "rows": len(rows)}


def oracle_key(data_key, name, sql):
    return hashlib.sha256(f"{data_key}\0{name}\0{sql}".encode()).hexdigest()


def files_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def stream_reduce(rows):
    """The consumer reduction of the stateless dedup stream (as in
    StreamingOpsSpec): distinct rows, then per document the best match
    (highest jaccard, exact_dup above all, ties to the smallest id)."""
    best = {}
    for doc_id, status, match_id, jac in set(rows):
        key = (-(2.0 if jac is None else jac), match_id)
        if doc_id not in best or key < best[doc_id][0]:
            best[doc_id] = (key, (status, match_id))
    return {d: v[1] for d, v in best.items()}


# ---------------------------------------------------------------------------
# Ledger
# ---------------------------------------------------------------------------

def append_ledger(path, record):
    """Append one JSON line; earlier records are never rewritten."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a", encoding="utf-8") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
