#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --compare <artifact.json> <artifact.json>

A run builds the engine and the JVM harness (perfbench/jvm) with sbt when
their sources changed, generates the workload's inputs from the seed,
runs one JVM that times the workload's ops in a closed loop with one
client, checks every output, and prints one JSON line as the last line
of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones. Workload definitions, op lists and the
layer -> end-to-end map live in perfbench/workloads.json. The full
self-describing artifact of each run is written under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

# Spark task threads: one core is left to the driver thread, JIT and GC
CORES = min(3, max(1, (os.cpu_count() or 2) - 1))
HEAP = "2g"
# what the build depends on: a change here triggers an sbt build
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/jvm/build.sbt", "perfbench/jvm/project/build.properties",
           "perfbench/jvm/src"]
JVM_TIMEOUT_S = 170
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    """sha256 over the relative paths and bytes of every file under paths."""
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(full)
            if not any(x in d for x in ("/target", "/project/project", "__pycache__"))
            for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """sbt-compiles the engine and the harness; returns the classpath."""
    stamp = tree_hash(SOURCES)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    # sbt's boot socket and temp files stay inside the checkout, and no
    # JVM writes its perf-data file to the system temp directory
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false -XX:-UsePerfData"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "jvm"), env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if "perfbench/jvm/target" in l and ":" in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], stamp


def cached_inputs(name, params, make):
    """Generates inputs once per (generator source, params) into .bench_build/data."""
    import gen  # noqa: imported lazily so --compare needs no numpy
    key = hashlib.sha256((tree_hash(["perfbench/gen.py"]) + json.dumps(params, sort_keys=True))
                         .encode()).hexdigest()[:16]
    out = os.path.join(BUILD, "data", f"{name}-{key}")
    meta = os.path.join(out, "meta.json")
    if not os.path.exists(meta):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        result = make(gen, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"params": params, "result": result}, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out, json.load(open(meta))["result"]


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)


def stream_cuts(seed, n_docs, triggers):
    """doc_id boundaries: equal slices, each end moved by up to +-20% of a slice."""
    import random
    rng = random.Random(seed)
    step = n_docs / triggers
    inner = [int(step * i + rng.uniform(-0.2, 0.2) * step) for i in range(1, triggers)]
    return [0] + inner + [n_docs]


def canon_digest(df):
    """check_oracle.py's comparison: columns by name, values as strings, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return {"cols": list(df.columns), "rows": len(df),
            "sha": hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()}


def oracle_check(run_dir, checks, tables, tables_key):
    """Compares each result the JVM wrote under check/ with DuckDB running
    the query's oracle SQL on the same tables. Returns {check dir: error}."""
    import duckdb
    import pandas as pd
    cache = os.path.join(BUILD, "expected")
    os.makedirs(cache, exist_ok=True)
    con = None
    errors = {}
    for c in checks:
        if not c["sql"]:
            errors[c["dir"]] = f"{c['query']} has no oracle SQL"
            continue
        key = hashlib.sha256((tables_key + c["sql"]).encode()).hexdigest()[:24]
        path = os.path.join(cache, f"{c['query']}-{key}.json")
        if os.path.exists(path):
            want = json.load(open(path))
        else:
            if con is None:
                con = duckdb.connect()
                for t in os.listdir(tables):
                    if t.endswith(".parquet"):
                        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                                    f"read_parquet('{tables}/{t}')")
            want = canon_digest(con.execute(c["sql"]).df())
            with open(path, "w") as f:
                json.dump(want, f)
        got = canon_digest(pd.read_parquet(os.path.join(run_dir, "check", c["dir"])))
        if got != want:
            errors[c["dir"]] = f"{got['rows']} rows {got['cols']} != {c['query']} oracle's " \
                               f"{want['rows']} rows {want['cols']}"
    return errors


def percentile(sorted_xs, p):
    """Linear-interpolated percentile of an ascending list."""
    r = p / 100 * (len(sorted_xs) - 1)
    lo = int(r)
    hi = min(lo + 1, len(sorted_xs) - 1)
    return sorted_xs[lo] + (sorted_xs[hi] - sorted_xs[lo]) * (r - lo)


def end_to_end(rec, tail_p):
    steady = {p["pass"]: p for p in rec["passes"]
              if p["pass"] > 0 and not p["traced"]}
    lat = sorted(o["ms"] for o in rec["ops"] if o["pass"] in steady)
    tail_v = percentile(lat, tail_p)
    return {
        "setup_s": statistics.median(rec["setup_s"]),
        "cold_s": rec["passes"][0]["ms"] / 1e3,
        "warm_s": statistics.median(p["ms"] for p in steady.values()) / 1e3,
        "op_p50_ms": percentile(lat, 50),
        "op_tail_ms": tail_v,
        "heap_retained_mb": rec["heap_retained_mb"],
    }, {"op_tail_percentile": tail_p, "op_tail_n": len(lat),
        "op_tail_beyond": sum(x > tail_v for x in lat)}


def tail_percentile(ops_per_pass, min_steady):
    """The highest percentile (a multiple of 5, at least the median) that
    leaves ten samples beyond it even in a run of only min_steady passes."""
    n = ops_per_pass * min_steady
    return max(50, int(100 * (1 - 10 / n)) // 5 * 5)


def compare(a_path, b_path):
    a, b = json.load(open(a_path)), json.load(open(b_path))
    ha = {k: v for k, v in a["header"].items() if k != "source_sha"}
    hb = {k: v for k, v in b["header"].items() if k != "source_sha"}
    if ha != hb:
        diff = sorted(k for k in set(ha) | set(hb) if ha.get(k) != hb.get(k))
        die(f"artifacts differ in more than the source: {', '.join(diff)}", 3)
    print(f"{'metric':28s} {'A':>14s} {'B':>14s} {'B/A':>8s}")
    for k in sorted(set(a["metrics"]) & set(b["metrics"])):
        va, vb = a["metrics"][k]["value"], b["metrics"][k]["value"]
        ratio = f"{vb / va:8.3f}" if va else "     n/a"
        print(f"{k:28s} {va:14.4f} {vb:14.4f} {ratio}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar="ARTIFACT")
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    wl = CONFIG["workloads"].get(args.workload)
    if wl is None:
        die(f"unknown workload {args.workload!r}; known: {', '.join(CONFIG['workloads'])}")
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "src/main/scala/graft/core/MapReduce.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the repository root: {need} is missing")
    os.makedirs(BUILD, exist_ok=True)
    sys.path.insert(0, HERE)

    classpath, source_sha = build()

    t0 = time.time()
    tcfg = CONFIG["tables"]
    tables, _ = cached_inputs(
        "tables", tcfg, lambda g, d: g.tables(d, tcfg["sf"], tcfg["seed"]))
    tables_key = os.path.basename(tables)
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    spec = {
        "kind": wl["kind"], "tables": tables, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": CORES,
        "shuffle_partitions": CORES, "setups": CONFIG["setups"],
        "min_steady": wl["min_steady"] + (2 if args.trace else 0),
        "run_dir": run_dir, "out": os.path.join(run_dir, "record.json"),
    }
    if wl["kind"] == "queries":
        spec["queries"] = ",".join(wl["ops"])
        input_bytes = dir_bytes(tables)
    elif wl["kind"] == "mapreduce":
        mcfg = dict(wl["corpus"], seed=args.seed)
        mr_dir, term = cached_inputs(
            "mr", mcfg, lambda g, d: g.mr_text(d, **mcfg))
        spec.update(mr_dir=mr_dir, grep_term=term)
        input_bytes = dir_bytes(mr_dir) - os.path.getsize(os.path.join(mr_dir, "meta.json"))
    else:
        import pyarrow.parquet as pq
        n_docs = pq.read_metadata(os.path.join(tables, "documents.parquet")).num_rows
        spec["stream_cuts"] = ",".join(map(str, stream_cuts(args.seed, n_docs, len(wl["ops"]))))
        input_bytes = os.path.getsize(os.path.join(tables, "documents.parquet"))
    input_gen_s = time.time() - t0
    spec_path = os.path.join(run_dir, "spec.properties")
    with open(spec_path, "w") as f:
        for k, v in spec.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")

    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    # a fixed-size heap, so GC frequency does not depend on heap resizing
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false", *ADD_OPENS,
           "-cp", classpath, "graft.perfbench.Main", spec_path]
    t_jvm = time.time()
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(spec["out"]):  # no result line: exit non-zero
        sys.stderr.write("".join(open(log_path).readlines()[-60:]))
        die(f"benchmark JVM failed ({rc})", 1)
    rec = json.load(open(spec["out"]))
    jvm_s = time.time() - t_jvm
    ran = [o["name"] for o in rec["ops"] if o["pass"] == 0]
    if ran != wl["ops"]:
        die(f"ops run {ran} differ from workloads.json's {wl['ops']}", 1)

    # a result that differs from its oracle fails the ops it came from
    oracle_errors = oracle_check(run_dir, rec["checks"], tables, tables_key)
    for c in rec["checks"]:
        bad = oracle_errors.get(c["dir"])
        for o in rec["ops"]:
            if bad and o["name"] in c["ops"] and c["pass"] in (-1, o["pass"]) \
                    and not o["failed"]:
                o["failed"], o["error"] = True, f"oracle: {bad}"
    attempted = len(rec["ops"])
    failed = sum(o["failed"] for o in rec["ops"])
    for o in rec["ops"]:
        if o["failed"]:
            print(f"[perfbench] FAILED {o['name']} pass {o['pass']}: {o['error']}", file=sys.stderr)

    e2e, tail_info = end_to_end(rec, tail_percentile(len(wl["ops"]), wl["min_steady"]))
    wanted = BENCH["per_layer" if args.trace else "end_to_end"]
    values = rec["layers"] if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"run produced no value for {', '.join(missing)}", 1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    header = {
        "source_sha": source_sha, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": CORES,
        "shuffle_partitions": CORES, "heap": HEAP, "heap_max_mb": rec["heap_max_mb"],
        "spark": rec["spark_version"], "jdk": rec["java_version"],
        "tables_sf": tcfg["sf"], "tables_seed": tcfg["seed"], "input_bytes": input_bytes,
        "ops": wl["ops"], "benchmark_sha": tree_hash(["perfbench"]),
    }
    artifact = {
        "header": header,
        "metrics": metrics,
        "info": dict(rec["info"], fail_frac=failed / attempted, attempted=attempted,
                     failed=failed, input_gen_s=input_gen_s, prepare_s=rec["prepare_s"],
                     setup_runs_s=rec["setup_s"], measured_s=rec["measured_s"],
                     jvm_s=jvm_s, check_s=time.time() - t_jvm - jvm_s,
                     passes=len(rec["passes"]), **tail_info,
                     end_to_end_in_traced_run=e2e if args.trace else None,
                     oracle_errors=oracle_errors,
                     leaked=[(p["pass"], p["leaked_rdds"], p["leaked_b"]) for p in rec["passes"]]),
        "ops": rec["ops"],
        "spans": rec["spans"],
    }
    art_dir = os.path.join(BUILD, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    with open(os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
