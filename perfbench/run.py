#!/usr/bin/env python3
"""Benchmark for the fhir2sql sync pipeline and the query engine beside it.

Run from the repository root:

    python3 perfbench/run.py --workload sync-boot --seed 1 --seconds 15 --trace 0

Workloads (BENCHMARK.json says why each is there; NOTES.md says why
sync-boot is runnable but not listed):
  sync-steady  daily re-sync of a populated mirror (~2% updates, 1% inserts,
               1% deletes per type; two generations alternate)
  query-mix    analyst queries through SparkEntry.queries on seeded tables
  sync-boot    first four-type sync into an empty embedded-Derby mirror

The first run builds the program and the benchmark's JVM side from source
with the Scala compiler in the Spark distribution, into .bench_build/.
With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced run, and the spans
are written under .bench_build/traces/. The exit code is non-zero when any
operation fails its correctness check.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the benchmark writes only under .bench_build/

WORKLOADS = ("sync-steady", "query-mix", "sync-boot")
# Every process of one run, build included, must end well inside 180 s.
JVM_TIMEOUT_S = 150
JVM_HEAP = "3g"

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("work_per_s", "1/s"), ("op_p50_s", "s")]

PER_LAYER = [
    ("source.requests", "count"), ("source.probes", "count"), ("source.page_bytes", "B"),
    ("source.scan_s", "s"),
    ("snapshot.read_s", "s"), ("snapshot.rows", "count"),
    ("diff.classify_self_s", "s"), ("diff.shuffle_bytes", "B"),
    ("sink.write_job_s", "s"), ("sink.statements", "count"), ("sink.rows", "count"),
    ("sink.txns", "count"), ("sink.aborts", "count"),
    ("sink.sql_bytes_per_payload_byte", "ratio"), ("sink.exec_s", "s"),
    ("sink.gate_wait_s", "s"), ("sink.writer_self_s", "s"),
    ("runtime.sync_one_s", "s"), ("runtime.jobs", "count"), ("reconcile.count_s", "s"),
    ("query.build_s", "s"), ("query.build_jobs", "count"), ("query.plan_s", "s"),
    ("query.exec_s", "s"), ("query.jobs", "count"), ("query.tasks", "count"),
    ("query.task_s", "s"), ("query.shuffle_bytes", "B"), ("query.spill_bytes", "B"),
    ("jvm.gc_s", "s"), ("jvm.jit_s", "s"),
    ("self.bench_s", "s"), ("self.runtime_s", "s"), ("self.snapshot_s", "s"),
    ("self.source_s", "s"), ("self.diff_s", "s"), ("self.sink_s", "s"),
    ("self.query_s", "s"), ("self.query.build_s", "s"), ("self.query.plan_s", "s"),
    ("self.query.exec_s", "s"),
    ("trace.wall_s", "s"), ("trace.blocking_share", "ratio"), ("trace.overhead_frac", "ratio"),
    ("calib_s", "s"),
]

JVM_OPTS = [
    # the program's own deployment flags (build.sbt javaOptions)
    "-XX:-DontCompileHugeMethods", "-XX:ReservedCodeCacheSize=1g", "-XX:CICompilerCount=8",
    "-Dspark.sql.codegen.methodSplitThreshold=256", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                 "java.nio", "java.util", "java.util.concurrent",
                 "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                 "sun.security.action", "sun.util.calendar")
     for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    the project's build.sbt compiles against (`unmanagedBase`)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail(f"no Spark distribution with a Scala compiler in {candidates}: set SPARK_HOME")


def sources(root):
    out = []
    for d in ("src/main/scala", "src/main/resources", "perfbench/src"):
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(dirpath, f) for f in files]
    return sorted(out)


def build(root, jars):
    """Compile the program and the benchmark's JVM side once per source
    state; returns (build id, classpath)."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no program sources at {main_src}: run from the repository root")
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(out):
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            scalac = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                      "scala.tools.nsc.Main", "-usejavacp", "-nowarn"]
            for name, srcdir, cp in (("main", main_src, []),
                                     ("bench", os.path.join(HERE, "src"), [f"{tmp}/main"])):
                os.makedirs(f"{tmp}/{name}")
                srcs = [f for f in files if f.startswith(srcdir) and f.endswith(".scala")]
                cmd = scalac + (["-cp", ":".join(cp)] if cp else []) + ["-d", f"{tmp}/{name}"] + srcs
                r = subprocess.run(cmd, capture_output=True, text=True)
                if r.returncode != 0:
                    sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
                    fail(f"compiling {name} failed")
            os.rename(tmp, out)
    return os.path.basename(out), ":".join([f"{out}/bench", f"{out}/main", os.path.join(root, "src", "main", "resources"),
                     os.path.join(jars, "*")])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest whole percentile with at least ten samples above it
    (nearest rank), or None below eleven samples."""
    if len(xs) < 11:
        return None
    s = sorted(xs)
    p = math.floor(100.0 * (len(s) - 10) / len(s))
    return p, s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def canon(v):
    """Value canon of scripts/verify_local.py."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canon_rows(con, sql):
    """Columns sorted by name, rows canonicalised and sorted, so the
    comparison and the hash do not depend on row order."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon(r[i]) for i in order) for r in cur.fetchall())
    return [cols[i].lower() for i in order], rows


def check_queries(data_dir, work, rec):
    """Each query's warm-up result against the DuckDB oracle (row count and
    order-independent row hash), and every timed count against the
    oracle's row count. Returns (attempted, failed, messages, hashes)."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    oracle_path = os.path.join(work, "qout", "oracle_sql.json")
    if not os.path.exists(oracle_path):
        return 1, 1, ["no query output to check"], {}
    with open(oracle_path) as f:
        oracles = json.load(f)
    attempted = failed = 0
    msgs, hashes, expected = [], {}, {}
    for q, sql in sorted(oracles.items()):
        attempted += 1
        try:
            ocols, orows = canon_rows(con, sql)
            scols, srows = canon_rows(con, f"SELECT * FROM '{work}/qout/{q}/*.parquet'")
        except Exception as e:  # a missing output or a failing oracle is a failure
            failed += 1
            msgs.append(f"{q}: {e}")
            continue
        expected[q] = len(orows)
        hashes[q] = (len(orows), hashlib.sha256("\n".join(orows).encode()).hexdigest()[:16])
        if ocols != scols or orows != srows:
            failed += 1
            msgs.append(f"{q}: {len(srows)} rows / columns {scols} vs oracle "
                        f"{len(orows)} rows / {ocols}")
    for q, n in rec["extra"].get("counts", []):
        attempted += 1
        if expected.get(q) != n:
            failed += 1
            if len(msgs) < 20:
                msgs.append(f"{q}: timed count {n}, oracle {expected.get(q)}")
    return attempted, failed, msgs, hashes


def op_medians(rec):
    """Median latency of each operation (resource type or query) over the
    untraced passes. The median of these is `op_p50_s`: the typical
    operation, insensitive to how many passes a run fits."""
    by = {}
    for name, secs in rec["ops"]:
        by.setdefault(name, []).append(secs)
    return {k: median(v) for k, v in by.items()}


def flag_repeats(base, key, rec):
    """Counts that must repeat exactly: compare pass with pass in this run,
    and with the last run of the same build, workload and seed."""
    flags = []
    current = {}
    for k, vals in rec["repeats"].items():
        if len(set(vals)) > 1:
            flags.append(f"{k} differs between passes: {vals}")
        if vals:
            current[k] = vals[0]
    path = os.path.join(base, "repeat_counts.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    for k, v in current.items():
        old = seen.get(key, {}).get(k)
        if old is not None and old != v:
            flags.append(f"{k} = {v}, but {old} in an earlier run of the same code and seed")
    if current:
        seen.setdefault(key, {}).update(current)
        with open(path, "w") as f:
            json.dump(seen, f)
    return flags


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    jars = spark_jars(root)
    build_id, classpath = build(root, jars)
    base = os.path.join(root, ".bench_build")
    work = os.path.join(base, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run(args, build_id, classpath, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def run(args, build_id, classpath, base, work):
    data_dir = os.path.join(work, "data")
    gen_s = []
    if args.workload == "query-mix":
        import querydata
        for _ in range(3):
            t0 = time.perf_counter()
            shutil.rmtree(data_dir, ignore_errors=True)
            querydata.write(args.seed, data_dir)
            gen_s.append(time.perf_counter() - t0)
    out = os.path.join(work, "record.json")
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log"] + JVM_OPTS +
           ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--data", data_dir])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"the benchmark JVM exited with code {proc.returncode}")
    with open(out) as f:
        rec = json.load(f)

    attempted, failed, msgs = rec["attempted"], rec["failed"], list(rec["failures"])
    hashes = {}
    if args.workload == "query-mix":
        a, f_, m, hashes = check_queries(data_dir, work, rec)
        attempted, failed, msgs = attempted + a, failed + f_, msgs + m
    attempted = max(attempted, 1)
    flags = flag_repeats(base, f"{build_id}/{args.workload}/{args.seed}", rec)

    setup = rec["setup"]
    prepare = median(gen_s) if gen_s else median(setup.get("prepare_s", []))
    setup_s = setup["session_s"] + prepare + setup.get("mirror_load_s", 0.0) + setup["warmup_s"]
    passes = rec["passes"]
    pass_s = median(passes)
    e2e = {"setup_s": setup_s, "pass_s": pass_s,
           "work_per_s": rec["work_per_pass"] / pass_s if pass_s > 0 else 0.0,
           "op_p50_s": median(list(op_medians(rec).values()))}

    layers = {k: median(v) for k, v in rec["layers"].items()}
    traced = rec["traced_passes"]
    layers["trace.overhead_frac"] = (median(traced) / pass_s - 1.0) if traced and pass_s else 0.0
    wall = layers.get("trace.wall_s", 0.0)
    layers["trace.blocking_share"] = layers.get("trace.blocking_sum_s", 0.0) / wall if wall else 0.0
    layers["calib_s"] = median(rec["extra"].get("calib_s", []))

    report(args, rec, e2e, layers, setup, prepare, attempted, failed, msgs, flags, hashes)
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(base, "traces", f"{args.workload}-{args.seed}.json"))
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def report(args, rec, e2e, layers, setup, prepare, attempted, failed, msgs, flags, hashes):
    """Human-readable summary, ahead of the JSON line."""
    sync = args.workload.startswith("sync")
    ops, passes = [secs for _, secs in rec["ops"]], rec["passes"]
    t = tail(ops)
    names = (("sync_s", "sync_resources_per_s", "sync_type_p50_s", "sync_type_tail_s") if sync
             else ("mix_s", "queries_per_s", "query_p50_s", "query_tail_s"))
    derby = " (Derby mirror)" if sync else ""
    print(f"== {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={rec['extra'].get('cores')} calib_s={layers['calib_s']:.3f}")
    print(f"setup_s               {e2e['setup_s']:.3f} s  (session {setup['session_s']:.2f}, "
          f"prepare median {prepare:.2f}, mirror load {setup.get('mirror_load_s', 0.0):.2f}, "
          f"warm-up {setup['warmup_s']:.2f})")
    print(f"{names[0]:<22}{e2e['pass_s']:.3f} s  median of n={len(passes)}{derby}  "
          f"[{' '.join(f'{p:.2f}' for p in passes)}]")
    print(f"{names[1]:<22}{e2e['work_per_s']:.1f} 1/s  ({rec['work_per_pass']} per pass)")
    meds = op_medians(rec)
    print(f"{names[2]:<22}{e2e['op_p50_s']:.3f} s  median of {len(meds)} per-operation medians "
          f"over n={len(ops)}: " + " ".join(f"{k}={v:.3f}" for k, v in meds.items()))
    print(f"{names[3]:<22}" + (f"{t[1]:.3f} s  p{t[0]} of n={len(ops)}" if t
                               else f"n/a: n={len(ops)} has no percentile with 10 samples above"))
    print(f"fail_frac             {failed / attempted:.4f}  ({failed} failed of {attempted})")
    for m in msgs[:20]:
        print(f"  FAILED {m}")
    for fl in flags:
        print(f"  FLAG {fl}")
    warm = rec["extra"].get("warmup_per_query_s")
    if warm:
        print("cold first run per query (s): " + " ".join(f"{q}={t:.2f}" for q, t in warm.items()))
    if hashes:
        print("query results (rows, sha256/16 of sorted canonical rows, DuckDB oracle):")
        for q, (n, h) in sorted(hashes.items()):
            print(f"  {q:<26}{n:>7}  {h}")
    if args.trace:
        print(f"per-layer medians over n={len(rec['traced_passes'])} traced passes{derby}:")
        for k, _ in PER_LAYER:
            print(f"  {k:<34}{layers.get(k, 0.0):.4g}")
        per_query = sorted(k for k in layers if k.startswith("per_query."))
        for k in per_query:
            print(f"  {k:<34}{layers[k]:.4g}")


if __name__ == "__main__":
    main()
