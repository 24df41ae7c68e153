#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine from `src/main` and the
runner from `perfbench/scala` with the Scala compiler that ships in the Spark
distribution, generates the workload's inputs from the seed (cached per
seed), runs one graft session at local[nproc] as a closed loop with one
client, checks the outputs, and prints one JSON line last: end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`.

Everything the run writes goes under `.perfbench/` in the current directory.
Workloads, metrics and what each per-layer metric should move are described
in perfbench/METRICS.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

TABLE_FILES = [f"{t}.parquet" for t in
               ("lineitem", "events", "documents", "embeddings")]
LANDSAT_FILES = ["scenes/scenes.jsonl", "stations", "metadatas",
                 "ground_truths.csv", "stations_catalog.csv"]

# `rows` is the workload's stated input size: rows_per_s is rows divided by
# the median steady pass.
LANDSAT_SCALE = 0.05
WORKLOADS = {
    "landsat_etl": {
        "data": "landsat", "files": LANDSAT_FILES, "queries": ["pipeline"],
        "rows": 65},
    "events_analytics": {
        "data": "tables", "files": TABLE_FILES,
        "queries": ["aj1_asof_join", "aj2_asof_tolerance", "aj3_asof_forward",
                    "aj4_asof_sql", "aj5_asof_nearest", "q1_agg",
                    "e5_streaming_tumbling"],
        "rows": 700000},
}

END_TO_END = [("setup_s", "s"), ("rows_per_s", "rows/s"),
              ("query_p50_s", "s"), ("query_p90_s", "s"),
              ("heap_peak_mb", "MB")]
KERNELS = ["graft_multi_shingle_hashes", "graft_shingle_hashes",
           "graft_winnow", "graft_lsh_bands", "graft_poly_hash",
           "graft_cut_spans", "graft_token_stats", "graft_rep_stats",
           "graft_pq_encode", "graft_int8_codes", "graft_dot"]
PER_LAYER = [
    ("engine.session_start_s", "s"), ("engine.cold_extra_s", "s"),
    ("caches.persisted", "count"), ("caches.storage_peak_mb", "MB"),
    ("queries.construct_s", "s"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_s", "s"), ("spark.cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.busy_frac", "ratio"),
    ("spark.task_p50_ms", "ms"), ("spark.task_max_ms", "ms"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"),
    ("spark.input_records", "count"), ("spark.output_mb", "MB"),
    ("spark.failed_tasks", "count"),
    ("op.rows_scanned", "count"), ("op.rows_out", "count"),
    ("op.join_rows_out", "count"), ("op.join_rows_per_row_out", "ratio"),
    ("op.exchanges", "count"), ("op.sorts", "count"),
    ("plans.asof_rows_out", "count"), ("plans.asof_ms", "ms"),
    ("pipeline.features_s", "s"), ("pipeline.split_s", "s"),
    ("pipeline.augment_s", "s"),
    ("io.scenes_s", "s"), ("io.stations_s", "s"), ("io.metadata_s", "s"),
    ("io.ground_truths_s", "s"), ("io.files_read", "count"),
] + [(f"fn.{k}.rows_per_s", "rows/s") for k in KERNELS] + [
    ("stream.batches", "count"), ("stream.batch_p50_ms", "ms"),
    ("stream.batch_max_ms", "ms"), ("stream.input_rows", "count"),
    ("stream.state_rows", "count"), ("stream.state_mem_mb", "MB"),
    ("stream.commit_ms", "ms"),
    ("trace.overhead_frac", "ratio"),
]
JVM_TIMEOUT_S = 170
HEAP = "3g"


def fail(problems):
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0")
    a = ap.parse_args(argv)
    problems = []
    if a.workload not in WORKLOADS:
        problems.append(f"unknown workload {a.workload!r}; known: "
                        + ", ".join(WORKLOADS))
    try:
        a.seed = int(a.seed)
    except ValueError:
        problems.append(f"seed is not an integer: {a.seed!r}")
    try:
        a.seconds = float(a.seconds)
        if not a.seconds > 0:
            raise ValueError
    except ValueError:
        problems.append(f"seconds is not a positive number: {a.seconds!r}")
    if a.trace not in ("0", "1"):
        problems.append(f"trace must be 0 or 1, not {a.trace!r}")
    return a, problems


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    one on PATH that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    return os.path.join(homes[0], "jars")


def preflight(root):
    """Problems that stop the run before anything is built or started."""
    problems = []
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        problems.append("no engine sources at src/main/scala: run from the "
                        "repository root")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        problems.append(f"no Spark distribution with a Scala compiler at {jars}")
    if shutil.which("java") is None:
        problems.append("java is not on PATH")
    work = os.path.join(root, ".perfbench")
    try:
        os.makedirs(work, exist_ok=True)
        probe = os.path.join(work, ".write_probe")
        with open(probe, "w") as f:
            f.write("ok")
        os.remove(probe)
    except OSError as e:
        problems.append(f"scratch directory {work} is not writable: {e}")
    return problems


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        for dirpath, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile the engine and the runner when their sources changed."""
    src = [os.path.join(root, "src", "main"), os.path.join(HERE, "scala")]
    stamp = tree_hash(src)
    out = os.path.join(state, "build")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    main, bench = os.path.join(out, "main"), os.path.join(out, "bench")
    os.makedirs(main)
    os.makedirs(bench)
    cp = os.path.join(spark_jars(), "*")

    def scalac(dest, classpath, sources):
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", dest, "-classpath", classpath] + sources
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail([f"compilation failed in {dest}"])

    def sources(base):
        return sorted(glob.glob(os.path.join(base, "**", "*.scala"),
                                recursive=True))
    scalac(main, cp, sources(os.path.join(root, "src", "main", "scala")))
    scalac(bench, cp + os.pathsep + main, sources(os.path.join(HERE, "scala")))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def inputs(state, seed, kind):
    """Generate (once per seed) and return the input directory."""
    import gen
    base = os.path.join(state, "data", str(seed))
    if kind == "tables":
        tables = os.path.join(base, "tables")
        if not os.path.exists(tables + ".done"):
            shutil.rmtree(tables, ignore_errors=True)
            gen.tables(tables, seed)
            open(tables + ".done", "w").close()
        return tables
    target = os.path.join(base, f"landsat_s{LANDSAT_SCALE}")
    if not os.path.exists(target + ".done"):
        shutil.rmtree(target, ignore_errors=True)
        facts = gen.landsat(target, seed, LANDSAT_SCALE)
        with open(os.path.join(target, "facts.json"), "w") as f:
            json.dump(facts, f)
        open(target + ".done", "w").close()
    return target


# ---- output checks -------------------------------------------------------

def canon(rows, cols):
    """tools/check.py's row canonicalisation: columns by name, doubles
    rounded to 9 places, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def digest(rows):
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def same_rows(a, b):
    if len(a) != len(b):
        return False
    for g, w in zip(a, b):
        for x, y in zip(g, w):
            if x == y:
                continue
            if isinstance(x, float) and isinstance(y, float) and \
                    abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y)):
                continue
            return False
    return True


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for f in TABLE_FILES:
        p = os.path.join(data_dir, f)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{p}'")
    return con


def golden(state, workload, data_dir, build_dir):
    """Row count, digest and rows of each query's DuckDB oracle result."""
    key = hashlib.sha256(repr(WORKLOADS[workload]).encode()).hexdigest()[:12]
    path = f"{data_dir}.golden_{workload}_{key}.pkl"
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    oracle = oracle_sql(state, build_dir)
    con = duck(data_dir)
    g = {}
    for q in WORKLOADS[workload]["queries"]:
        if q in oracle:
            rel = con.sql(oracle[q])
            rows = canon(rel.fetchall(), rel.columns)
            g[q] = {"rows": len(rows), "digest": digest(rows), "data": rows}
    with open(path, "wb") as f:
        pickle.dump(g, f)
    return g


def oracle_sql(state, build_dir):
    path = os.path.join(build_dir, "oracle_sql.json")
    if not os.path.exists(path):
        run_java(build_dir, ["perfbench.OracleDump", path], state, 120)
    with open(path) as f:
        return json.load(f)


def check_outputs(workload, gold, check_dir, record, data_dir):
    """Returns the list of problems found; each counts as one error."""
    problems = []
    if workload == "landsat_etl":
        with open(os.path.join(data_dir, "facts.json")) as f:
            facts = json.load(f)
        got = record.get("pipeline_facts", {})
        n = facts["labelled_samples"]
        want = {"samples": n, "train": n * 8 // 10,
                "train_aug": 4 * (n * 8 // 10), "n": 4 * (n * 8 // 10)
                + n - n * 8 // 10, "wmin": 365, "wmax": 365, "sentinel": 0}
        for k, v in want.items():
            if got.get(k) != v:
                problems.append(f"pipeline: {k} = {got.get(k)}, expected {v}")
        return problems
    con = duck(data_dir)
    for q in WORKLOADS[workload]["queries"]:
        files = os.path.join(check_dir, q, "*.parquet")
        if not glob.glob(files):
            problems.append(f"{q}: no output written")
            continue
        rel = con.sql(f"SELECT * FROM '{files}'")
        rows = canon(rel.fetchall(), rel.columns)
        if q not in gold:
            continue
        want = gold[q]
        if len(rows) != want["rows"]:
            problems.append(f"{q}: {len(rows)} rows, oracle has {want['rows']}")
        elif digest(rows) != want["digest"] and not same_rows(rows, want["data"]):
            problems.append(f"{q}: rows differ from the oracle")
    return problems


# ---- JVM -----------------------------------------------------------------

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_java(build_dir, args, state, timeout):
    work = os.path.join(state, "work")
    cp = os.pathsep.join([os.path.join(build_dir, "main"),
                          os.path.join(os.getcwd(), "src", "main", "resources"),
                          os.path.join(build_dir, "bench"),
                          os.path.join(spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dspark.local.dir={work}/local",
           f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, *args]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail([f"the engine did not finish within {timeout:.0f} s"])
    errs = [l for l in r.stderr.splitlines() if l.startswith("perfbench:")]
    for l in errs:
        print(l, file=sys.stderr)
    if r.returncode != 0:
        print(r.stderr[-3000:], file=sys.stderr)
        fail([f"the engine exited with code {r.returncode}"])
    return r


# ---- metrics -------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def upper_percentile(xs, p):
    """The p-th percentile, lowered to the highest percentile that still
    has 10 samples above it (never below the median). Returns the value and
    the percentile used."""
    s = sorted(xs)
    n = len(s)
    q = min(p, (n - 10) / n) if n else 0.5
    if q <= 0.5:
        return median(s), 0.5
    return s[min(n - 1, math.ceil(q * n) - 1)], q


def end_to_end(w, rec):
    setup = rec["session_start_s"] + sum(r["wall"] for r in rec["cold"])
    passes = rec["steady"]
    walls = [r["wall"] for p in passes for r in p]
    p50 = median(walls)
    p90, q = upper_percentile(walls, 0.9)
    per_query = {}
    for r in (r for p in passes for r in p):
        per_query.setdefault(r["name"], []).append(r["wall"])
    detail = {"query_samples": len(walls), "query_p90_percentile": q,
              "pass_s": [sum(r["wall"] for r in p) for p in passes],
              "heap_peak_mb_per_pass": rec["heap_peak_mb"],
              "query_median_s": {k: median(v) for k, v in per_query.items()}}
    m = {"setup_s": setup,
         "rows_per_s": w["rows"] / median([sum(r["wall"] for r in p)
                                           for p in passes]),
         "query_p50_s": p50, "query_p90_s": p90,
         "heap_peak_mb": median(rec["heap_peak_mb"])}
    return m, detail


def per_layer(w, rec):
    passes = rec["traced"]
    recs = [r for p in passes for r in p]
    tr = [r["trace"] for r in recs]

    def per_pass(k, scale=1.0):
        return median([sum(r["trace"][k] for r in p) * scale for p in passes])

    untraced = median([sum(r["wall"] for r in p) for p in rec["steady"]])
    traced = median([sum(r["wall"] for r in p) for p in passes])
    tasks = sorted(d for t in tr for d in t["task_durs"])
    batches = [b for t in tr for b in t["batch_ms"]]
    wall = sum(r["wall"] for r in recs)
    cores = rec["cores"]
    mb = 1 / 1048576.0
    m = {
        "engine.session_start_s": rec["session_start_s"],
        "engine.cold_extra_s": sum(r["wall"] for r in rec["cold"]) - untraced,
        "caches.persisted": per_pass("persisted"),
        "caches.storage_peak_mb": max([t["storage_mb"] for t in tr] or [0]),
        "queries.construct_s": median([sum(r["construct"] for r in p)
                                       for p in passes]),
        "plan.analysis_ms": per_pass("analysis_ms"),
        "plan.optimization_ms": per_pass("optimization_ms"),
        "plan.planning_ms": per_pass("planning_ms"),
        "spark.jobs": per_pass("jobs"), "spark.stages": per_pass("stages"),
        "spark.tasks": per_pass("tasks"),
        "spark.task_s": per_pass("task_ms", 1e-3),
        "spark.cpu_s": per_pass("cpu_ms", 1e-3),
        "spark.gc_s": per_pass("gc_ms", 1e-3),
        "spark.busy_frac": sum(t["task_ms"] for t in tr) / 1e3 / (wall * cores),
        "spark.task_p50_ms": median(tasks),
        "spark.task_max_ms": tasks[-1] if tasks else 0.0,
        "spark.shuffle_write_mb": per_pass("shuffle_write", mb),
        "spark.shuffle_read_mb": per_pass("shuffle_read", mb),
        "spark.spill_mb": per_pass("spill", mb),
        "spark.input_mb": per_pass("input_bytes", mb),
        "spark.input_records": per_pass("input_records"),
        "spark.output_mb": per_pass("output_bytes", mb),
        "spark.failed_tasks": sum(t["failed_tasks"] for t in tr),
        "op.rows_scanned": per_pass("rows_scanned"),
        "op.rows_out": per_pass("rows_out"),
        "op.join_rows_out": per_pass("join_rows_out"),
        "op.exchanges": per_pass("exchanges"),
        "op.sorts": per_pass("sorts"),
        "plans.asof_rows_out": per_pass("asof_rows"),
        "io.files_read": per_pass("files_read"),
        "stream.batches": per_pass("batches"),
        "stream.batch_p50_ms": median(batches),
        "stream.batch_max_ms": max(batches or [0.0]),
        "stream.input_rows": per_pass("stream_rows"),
        "stream.state_rows": per_pass("state_rows"),
        "stream.state_mem_mb": per_pass("state_mem", mb),
        "stream.commit_ms": per_pass("commit_ms"),
        "trace.overhead_frac": traced / untraced - 1.0,
    }
    rows_out = m["op.rows_out"]
    m["op.join_rows_per_row_out"] = m["op.join_rows_out"] / rows_out if rows_out else 0.0
    for k in ("plans.asof_ms",
              "pipeline.features_s", "pipeline.split_s", "pipeline.augment_s",
              "io.scenes_s", "io.stations_s", "io.metadata_s",
              "io.ground_truths_s"):
        m[k] = rec["probes"].get(k, 0.0)
    for k in KERNELS:
        m[f"fn.{k}.rows_per_s"] = rec["probes"].get(f"fn.{k}.rows_per_s", 0.0)
    top = {}
    for r in passes[0] if passes else []:
        top[r["name"]] = r["trace"]["top_ops"]
    return m, {"untraced_pass_s": untraced, "traced_pass_s": traced,
               "top_operators": top}


def main(argv):
    args, problems = parse_args(argv)
    root = os.getcwd()
    problems += preflight(root)
    if problems:
        fail(problems)
    w = WORKLOADS[args.workload]
    state = os.path.join(root, ".perfbench")
    # One run at a time per checkout: runs share the work directory.
    lock = open(os.path.join(state, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    build_dir = build(root, state)
    data_dir = inputs(state, args.seed, w["data"])
    gold = golden(state, args.workload, data_dir, build_dir)

    work = os.path.join(state, "work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "warehouse", "local", "check"):
        os.makedirs(os.path.join(work, d))
    record_path = os.path.join(work, "record.json")
    props = {
        "data": data_dir, "work": work,
        "out": record_path, "check_out": os.path.join(work, "check"),
        "queries": ",".join(w["queries"]), "tables": ",".join(w["files"]),
        "seconds": str(args.seconds), "trace": args.trace,
        "cores": str(os.cpu_count())}
    props_path = os.path.join(work, "run.properties")
    with open(props_path, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n".replace("\\", "\\\\"))
    t0 = time.time()
    run_java(build_dir, ["perfbench.Runner", props_path], state, JVM_TIMEOUT_S)
    with open(record_path) as f:
        rec = json.load(f)
    jvm_s = time.time() - t0

    runs = rec["cold"] + rec["checked"] + rec["warm"] + [
        r for k in ("steady", "traced") for p in rec.get(k, []) for r in p]
    executions = len(runs)
    failures = [r for r in runs if not r["ok"] or r["leaked"]]
    problems = check_outputs(args.workload, gold,
                             os.path.join(work, "check"), rec, data_dir)
    if args.trace == "0":
        metrics, detail = end_to_end(w, rec)
        spec = END_TO_END
    else:
        metrics, detail = per_layer(w, rec)
        spec = PER_LAYER
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    failed = len(failures) + len(problems)
    env = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": int(args.trace),
           "nproc": rec["cores"], "heap_max_mb": rec["heap_max_mb"],
           "spark_version": rec["spark_version"],
           "commit": commit_of(root), "input_rows": w["rows"],
           "input_bytes": dir_bytes(data_dir),
           "load_before": rec["load_before"], "load_after": rec["load_after"],
           "jvm_s": round(jvm_s, 2), **detail}
    print(json.dumps({"env": env}))
    shutil.rmtree(work, ignore_errors=True)
    out = {"correct": failed == 0, "attempted": executions, "failed": failed,
           "metrics": {k: {"value": metrics[k], "unit": u} for k, u in spec}}
    print(json.dumps(out))


def commit_of(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "sources:" + tree_hash([os.path.join(root, "src", "main")])[:16]


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f))
               for p, _, fs in os.walk(d) for f in fs)


if __name__ == "__main__":
    main(sys.argv[1:])
