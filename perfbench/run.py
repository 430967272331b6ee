#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--inject-failures] [--bridge]

Builds graft and the harness from source into .bench_build/ when the sources
changed, prepares the workload's inputs, runs the measurement JVM
(perfbench/src/Harness.scala), checks every output against the DuckDB oracle,
appends one record to .bench_build/ledger.jsonl and prints the metrics as the
last line of stdout. Exits nonzero when any operation failed. See README.md.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import benchlib as bl

ROOT = os.path.dirname(bl.HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
LEDGER = os.path.join(BUILD, "ledger.jsonl")
DATA01 = os.path.join(bl.HERE, "data", "sf0.1")
ORACLE_CACHE = os.path.join(bl.HERE, "oracle_cache.json")
RUNTIME_ORACLE_CACHE = os.path.join(BUILD, "oracle_cache.json")
JVM_TIMEOUT_S = 900  # a hang guard; the listed workloads finish in about a minute
# A fixed heap with a fixed young generation: G1's adaptive young sizing
# otherwise collects inside some runs' operations and not others', which
# moves both their latency and what the post-operation collection still sees
# (the cleaner drops checkpoints that died during an operation).
HEAP = ["-Xms4g", "-Xmx4g", "-Xmn2g"]

# What Spark's launcher passes to a JDK 17 driver (JavaModuleOptions), as in
# build.sbt: SparkSession needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Build
# ---------------------------------------------------------------------------

def spark_jars():
    """The Spark jar directory the project itself builds against (build.sbt's
    unmanagedBase); it also holds the Scala compiler."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
    own = glob.glob(os.path.join(bl.HERE, "src", "*.scala"))
    if not main:
        raise BenchError("no graft sources under src/main/scala: not a graft checkout")
    return sorted(main) + sorted(own)


def source_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft's main sources and the harness with the Scala compiler
    from the Spark jar directory; skipped when the sources are unchanged."""
    srcs = sources()
    jars = spark_jars()
    stamp = source_hash(srcs)
    stamp_file = os.path.join(CLASSES, "SOURCE_HASH")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    cp = os.path.join(jars, "*")
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-classpath", cp, "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        raise BenchError("compile failed:\n" + proc.stdout[-4000:])
    with open(os.path.join(tmp, "SOURCE_HASH"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    log(f"compiled in {time.time() - t0:.1f} s")
    return stamp


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------

def table_files(d):
    return [os.path.join(d, f"{t}.parquet") for t in bl.TABLES]


def prepare_data(sf):
    """Directory and content key of the workload's tables. sf0.1 is the
    committed copy of the seed-42 test data; sf1.0 is generated from it with
    tools/make_sf1.py when absent, and its row counts are checked."""
    import duckdb
    missing = [p for p in table_files(DATA01) if not os.path.exists(p)]
    if missing:
        raise BenchError(f"missing input tables: {missing}")
    key01 = bl.files_digest(table_files(DATA01))
    if sf == "sf0.1":
        return DATA01, key01
    tool = os.path.join(ROOT, "tools", "make_sf1.py")
    with open(tool) as f:
        script = f.read()
    key = hashlib.sha256((key01 + script).encode()).hexdigest()
    out = os.path.join(BUILD, "data", "sf1.0")
    stamp = os.path.join(out, "INPUT_KEY")
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        shutil.rmtree(out, ignore_errors=True)
        # the tool reads a fixed source directory; point it at the checkout's copy
        patched, n = re.subn(r'(?m)^SRC = .*$', f"SRC = {DATA01!r}", script)
        if n != 1:
            raise BenchError("tools/make_sf1.py no longer has one SRC line to point at the inputs")
        gen = os.path.join(BUILD, "make_sf1_inputs.py")
        os.makedirs(BUILD, exist_ok=True)
        with open(gen, "w") as f:
            f.write(patched)
        proc = subprocess.run([sys.executable, gen, out], cwd=BUILD, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=600)
        if proc.returncode != 0:
            raise BenchError("make_sf1.py failed:\n" + proc.stdout[-2000:])
        con = duckdb.connect()
        for t in bl.TABLES:
            n01 = con.execute(f"SELECT COUNT(*) FROM '{DATA01}/{t}.parquet'").fetchone()[0]
            n10 = con.execute(f"SELECT COUNT(*) FROM '{out}/{t}.parquet'").fetchone()[0]
            want = n01 if t in bl.SF1_DIMENSIONS else 10 * n01
            if n10 != want:
                raise BenchError(f"sf1.0 {t}: {n10} rows, expected {want}")
        with open(stamp, "w") as f:
            f.write(key)
    return out, key


def incoming_docs(data_dir):
    """Documents the stream replays: hash bucket >= 80, as q_incremental_dedup."""
    import duckdb
    return duckdb.connect().execute(
        f"SELECT COUNT(*) FROM '{data_dir}/documents.parquet' WHERE "
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 >= 80"
    ).fetchone()[0]


# ---------------------------------------------------------------------------
# Oracle
# ---------------------------------------------------------------------------

class Oracle:
    """DuckDB oracle results, cached by (input data, query, oracle SQL). The
    committed cache covers the benchmark's own inputs; anything else is
    computed once per checkout and kept in .bench_build/."""

    def __init__(self, data_dir, data_key):
        self.data_dir, self.data_key = data_dir, data_key
        self.cache = {}
        for path in (ORACLE_CACHE, RUNTIME_ORACLE_CACHE):
            if os.path.exists(path):
                with open(path) as f:
                    self.cache.update(json.load(f))
        self.con = None
        self.dirty = False

    def _connect(self):
        if self.con is None:
            import duckdb
            self.con = duckdb.connect()
            tmp = os.path.join(BUILD, "duckdb_tmp")
            self.con.execute(f"SET temp_directory = '{tmp}'")
            self.con.execute("SET memory_limit = '3GB'")
            self.con.execute("SET max_temp_directory_size = '8GB'")
            for t in bl.TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        return self.con

    def lookup(self, name, sql, compute):
        # the fixture root is a checkout path; the key must not depend on it
        fixtures = os.path.join(ROOT, "fixtures")
        key = bl.oracle_key(self.data_key, name, sql.replace(fixtures, "<fixtures>"))
        if key not in self.cache:
            self.cache[key] = compute(self._connect().execute(sql).fetch_arrow_table())
            self.dirty = True
        return self.cache[key]

    def save(self):
        if self.dirty:
            os.makedirs(BUILD, exist_ok=True)
            with open(RUNTIME_ORACLE_CACHE + ".tmp", "w") as f:
                json.dump(self.cache, f, sort_keys=True)
            os.replace(RUNTIME_ORACLE_CACHE + ".tmp", RUNTIME_ORACLE_CACHE)


def check_batch(result, ops, oracle, canon):
    """Operation name -> failure reason, for outputs that threw or disagree
    with the oracle (tools/check_oracle.py --values semantics)."""
    import duckdb
    failed = {}
    for name in ops:
        o = result["outputs"][name]
        if o["status"] != "ok":
            failed[name] = o["status"]
            continue
        got = bl.table_digest(duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{o['out_dir']}/*.parquet')").fetch_arrow_table(), canon)
        try:
            want = oracle.lookup(name, o["oracle_sql"], lambda t: bl.table_digest(t, canon))
        except Exception as e:
            failed[name] = f"oracle SQL failed: {e}"
            continue
        if got != want:
            failed[name] = f"output disagrees with the oracle ({got['rows']} rows vs {want['rows']})"
    return failed


def check_stream(result, oracle):
    """Marks micro-batches whose documents the reduced stream output
    classifies differently from the oracle-checked batch twin."""
    import duckdb
    out = result["outputs"]["stream"]["out_dir"]
    rows = []
    if glob.glob(os.path.join(out, "*.parquet")):
        rows = duckdb.connect().execute(
            f"SELECT doc_id, status, match_id, jaccard FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    got = bl.stream_reduce(rows)
    want = oracle.lookup(
        "q_incremental_dedup", result["stream_oracle_sql"],
        lambda t: {"rows": [[r["doc_id"], r["status"], r["match_id"]] for r in t.to_pylist()]})
    expect = {d: (s, m) for d, s, m in want["rows"]}
    seen = set()
    for o in result["ops"]:
        for d in o.get("doc_ids", []):
            seen.add(d)
            if got.get(d, ("new", None)) != expect.get(d):
                o["failed_check"] = True
    stray = set(got) - seen
    return {"stream": f"{len(stray)} documents emitted that were never sent"} if stray else {}


# ---------------------------------------------------------------------------
# Run
# ---------------------------------------------------------------------------

def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    return p.stdout.strip() or None


def load_avg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def write_plan(path, entries):
    with open(path, "w") as f:
        for k, v in entries.items():
            if isinstance(v, (list, tuple)):
                v = ",".join(str(x) for x in v)
            f.write(f"{k}={v}\n")


def run_jvm(plan_path, result_path, log_path, work, jars, deadline):
    cmd = (["java", "-Xss8m"] + HEAP
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dgraft.fixture.root={os.path.join(ROOT, 'fixtures')}",
              "-cp", f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}",
              "perfbench.Harness", plan_path, result_path])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as logf:
        try:
            proc = subprocess.run(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                  timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness did not finish in time; log: {log_path}")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness exited with {proc.returncode}; log tail:\n{tail}")
    with open(result_path) as f:
        return json.load(f)


def op_summary(result, failed, plan_hashes):
    per = {}
    for o in result["ops"]:
        per.setdefault(o["name"], []).append(o)
    out = {}
    for name, rows in per.items():
        ok = [r["t_s"] for r in rows if r["status"] == "ok" and not r.get("failed_check")
              and name not in failed]
        status = ("ok" if len(ok) == len(rows) else
                  failed.get(name) or next((r["status"] for r in rows if r["status"] != "ok"),
                                           "output disagrees with the oracle"))
        out[name] = {"status": status, "n": len(rows), "ok": len(ok), "times_s": ok,
                     "median_s": bl.median(ok) if ok else None,
                     "plan_hash": plan_hashes.get(name, plan_hashes.get("stream"))}
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(bl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failures", action="store_true",
                    help="add one operation that throws and one with wrong output")
    ap.add_argument("--bridge", action="store_true",
                    help="also time count() beside the noop sink for every operation")
    a = ap.parse_args(argv)
    start = time.time()
    wl = bl.WORKLOADS[a.workload]
    if a.inject_failures and wl["kind"] != "batch":
        ap.error("--inject-failures applies to batch workloads")
    load_start = load_avg()

    try:
        stamp = build()
        jars = spark_jars()
        t0 = time.time()
        data_dir, data_key = prepare_data(wl["sf"])
        data_s = time.time() - t0
        ops = list(wl["ops"]) + (bl.INJECTED if a.inject_failures else [])
        run_id = (f"{datetime.datetime.now(datetime.timezone.utc):%Y%m%dT%H%M%S}"
                  f"-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
        run_dir = os.path.join(BUILD, "runs", run_id)
        work, out = os.path.join(run_dir, "work"), os.path.join(run_dir, "out")
        os.makedirs(work)
        cpus = len(os.sched_getaffinity(0))
        plan = {"kind": wl["kind"], "data_dir": data_dir, "work_dir": work, "out_dir": out,
                "cpus": cpus, "seconds": a.seconds, "trace": a.trace, "setups": bl.SETUPS,
                "bridge": int(a.bridge)}
        if wl["kind"] == "stream":
            plan["batches"] = bl.batch_sizes(a.seed, incoming_docs(data_dir))
            plan["batches_per_pass"] = bl.STREAM_BATCHES_PER_PASS
        else:
            plan["ops"] = ops
            for i, order in enumerate(bl.pass_orders(range(len(ops)), a.seed)):
                plan[f"order.{i}"] = order
        plan_path = os.path.join(run_dir, "plan.txt")
        write_plan(plan_path, plan)
        result = run_jvm(plan_path, os.path.join(run_dir, "result.json"),
                         os.path.join(run_dir, "jvm.log"), work, jars,
                         start + JVM_TIMEOUT_S)
        for name, o in result.get("outputs", {}).items():
            o.setdefault("out_dir", os.path.join(out, name))

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracle import _canon
        oracle = Oracle(data_dir, data_key)
        if wl["kind"] == "stream":
            failed = check_stream(result, oracle)
            n_ops = bl.STREAM_BATCHES_PER_PASS
        else:
            failed = check_batch(result, ops, oracle, _canon)
            n_ops = len(ops)
        oracle.save()
    except BenchError as e:
        log(f"error: {e}")
        return 2

    attempted = len(result["ops"])
    n_failed = attempted - len(bl.ok_ops(result, failed))
    if a.trace:
        values = bl.per_layer(result, wl["kind"], n_ops, failed, cpus, data_s)
        units = {k: bl.layer_unit(k) for k in values}
    else:
        values = bl.end_to_end(result, wl["kind"], n_ops, failed)
        units = bl.END_TO_END_UNITS
    lat = [o["t_s"] for o in bl.ok_ops(result, failed)]
    p90 = bl.tail(lat)
    correct = n_failed == 0 and not failed
    record = {
        "time": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "commit": git_commit(), "source_hash": stamp, "workload": a.workload,
        "sf": wl["sf"], "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus, "spark": result.get("spark_version"),
        "load_start": load_start, "load_end": load_avg(),
        "canary_start_s": result["canary_start_s"], "canary_end_s": result["canary_end_s"],
        "attempted": attempted, "failed": n_failed, "failed_frac": n_failed / attempted,
        "correct": correct, "failures": failed,
        "metrics": values, "op_samples": len(lat),
        "op_p90_s": p90[0] if p90 else None,
        "setups": result["setups"], "setup.data_s": data_s,
        "ops": op_summary(result, failed,
                          {k: v.get("plan_hash") for k, v in result.get("outputs", {}).items()}),
    }
    if "bridge" in result:
        record["bridge"] = result["bridge"]
    bl.append_ledger(LEDGER, record)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)

    for name, why in sorted(failed.items()):
        log(f"FAILED {name}: {why}")
    for o in result["ops"]:
        if o["status"] != "ok":
            log(f"FAILED {o['name']} (pass {o['pass']}): {o['status']}")
    if "bridge" in result:
        for name, b in sorted(result["bridge"].items()):
            log(f"bridge {name:24s} count {b['count_s']:.3f} s  noop {b['noop_s']:.3f} s")
    log(f"{a.workload} seed {a.seed}: {attempted} ops, {n_failed} failed, "
        f"canary {result['canary_start_s']:.3f}/{result['canary_end_s']:.3f} s, "
        f"load {load_start[0]:.2f}->{record['load_end'][0]:.2f}, "
        f"op_p90_s {'%.4f' % p90[0] if p90 else 'n/a'} over {len(lat)} ops, "
        f"{time.time() - start:.1f} s total")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": n_failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
