#!/usr/bin/env python3
"""Lake benchmark: the dashboard and daily_lake workloads.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 lakebench/run.py --smoke          # one pass of every workload at sf0.001

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline) into .bench_build/ and generates the star-schema
tables; later runs reuse both. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; everything else goes to stderr
and to .bench_build/runs/. See lakebench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(ROOT, "BENCHMARK.json")

TABLES_SF = 0.01       # dashboard input size
TABLES_SEED = 42       # fixed: the dashboard's --seed only orders its queries
SMOKE_SF = 0.001
LAKE = dict(n_symbols=12, n_history=150, n_days=2)   # backfill, settling day, steady day
SMOKE_LAKE = dict(n_symbols=6, n_history=80, n_days=2)
RUN_LIMIT_S = 170      # a run must end within 180 s
FIRST_RUN_LIMIT_S = 880

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[lakebench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------ build
def sources_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile the engine and the benchmark; return the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("building engine + benchmark with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "export Runtime/fullClasspathAsJars"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=max(60, deadline - time.time()))
    cp = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cp:
        log(p.stdout[-4000:])
        log(p.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def java_cmd(cp, run_dir, extra=()):
    return ["java", f"-Xmx{driver_mem()}", "-XX:-UsePerfData", *JAVA_OPENS, *extra,
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.lakebench.Main"]


def java_env():
    return {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}


def class_archive(cp, stamp):
    """A class-data-sharing archive of the classes every workload loads,
    dumped by one smoke pass of both workloads; later JVMs map it instead of
    loading and verifying ~20k classes, which halves JVM + Spark start-up.
    Returns the JVM options that use it."""
    jsa = os.path.join(WORK, "classes.jsa")
    stamp_file = os.path.join(WORK, "classes.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        log("dumping the class-data-sharing archive ...")
        d = os.path.join(WORK, "train")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "tmp"))
        gen.raw_lake(os.path.join(d, "raw"), 0, **SMOKE_LAKE)
        for f in (jsa, stamp_file):
            if os.path.exists(f):
                os.remove(f)
        cmd = java_cmd(cp, d, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"]) + [
            "--workload", "train", "--data", star_tables(SMOKE_SF), "--raw", os.path.join(d, "raw"),
            "--out", d, "--seconds", "0", "--trace", "0", "--seed", "0"]
        with open(os.path.join(WORK, "train.log"), "w") as tlog:
            p = subprocess.run(cmd, cwd=d, stdout=tlog, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, env=java_env(), timeout=600)
        shutil.rmtree(d, ignore_errors=True)
        if p.returncode == 0 and os.path.exists(jsa + ".tmp"):
            os.rename(jsa + ".tmp", jsa)
        else:   # runs go on without the archive, only slower to start
            log("no class archive: the dumping JVM failed (see .bench_build/train.log)")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


# ------------------------------------------------------------------ inputs
def star_tables(sf):
    d = os.path.join(WORK, "data", f"tables-sf{sf}-seed{TABLES_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        log(f"generating star tables at sf{sf} ...")
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.tables(tmp, sf, TABLES_SEED)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def driver_mem():
    """The engine's tier-1 rule: half the machine's memory, 2..8 GB."""
    try:
        kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal:")).split()[1])
        return f"{min(8, max(2, kb // 2097152))}g"
    except Exception:
        return "2g"


# ------------------------------------------------------------------ checks
def canonical(df):
    """check_oracle.py's comparison form: columns by name, rows as strings, sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(df.astype(str).apply(lambda r: "|".join(r), axis=1)) if len(df) else []
    text = "\n".join(rows)
    return {"columns": list(df.columns), "rows": len(rows),
            "sha256": hashlib.sha256(text.encode()).hexdigest()}


def duck(tables_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def expected(tables_dir, oracle, deadline):
    """DuckDB oracle results, computed once per checkout and input set."""
    cache = os.path.join(WORK, "oracle", os.path.basename(tables_dir))
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for name, sql in sorted(oracle.items()):
        if sql is None:
            continue
        f = os.path.join(cache, f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json")
        if not os.path.exists(f):
            if time.time() > deadline:
                raise TimeoutError("oracle expectations not ready")
            con = con or duck(tables_dir)
            try:
                res = canonical(con.sql(sql).df())
            except Exception as e:
                res = {"error": f"{type(e).__name__}: {e}"}
            with open(f + ".tmp", "w") as fh:
                json.dump(res, fh)
            os.rename(f + ".tmp", f)
        out[name] = json.load(open(f))
    return out


def check_queries(run_dir, tables_dir, names, deadline):
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    exp = expected(tables_dir, oracle, deadline)
    con = duck(tables_dir)
    bad = []
    for n in names:
        files = os.path.join(run_dir, "check", n, "*.parquet")
        if not glob.glob(files):
            bad.append(f"{n}: no output")
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{files}')").df()
        if oracle.get(n) is None:   # the no-oracle trainers: rows-only
            if len(got) == 0:
                bad.append(f"{n}: no rows")
            continue
        e = exp[n]
        if "error" in e:
            bad.append(f"{n}: oracle error {e['error']}")
            continue
        g = canonical(got)
        if g != e:
            bad.append(f"{n}: got {g['rows']} rows {g['columns']} vs {e['rows']} rows {e['columns']}")
    return bad


LAKE_CHECKS = 4


def check_lake(root, facts):
    """The generator's invariants on the lake after its last partition;
    one entry per failure."""
    import duckdb
    con = duckdb.connect()
    sc = f"read_parquet('{root}/serving/combined/*.parquet')"
    sp = f"read_parquet('{root}/serving/predictions/*.parquet')"
    gp = f"read_parquet('{root}/gold/predictions/*.parquet')"
    bad = []
    n, nd = con.sql(f"SELECT count(*), count(DISTINCT doc_id) FROM {sc}").fetchone()
    keys = con.sql(f"SELECT count(DISTINCT (symbol, date)) FROM {sc}").fetchone()[0]
    want = facts["n_pairs"][-1]
    if not (n == nd == keys == want):
        bad.append(f"serving keys: {n} rows, {nd} ids, {keys} pairs vs {want} generated")
    per = dict(con.sql(f"SELECT symbol, count(*) FROM {gp} WHERE type = 'forecast' GROUP BY 1").fetchall())
    want = {s: 30 for s in facts["forecast_symbols"]}
    if per != want:
        bad.append(f"forecast rows per symbol {per} vs {want}")
    unordered = con.sql(f"SELECT count(*) FROM {sp} WHERE NOT (confidence_lower <= predicted_close "
                        f"AND predicted_close <= confidence_upper)").fetchone()[0]
    if unordered:
        bad.append(f"{unordered} unordered confidence intervals")
    orphan = con.sql(f"SELECT count(*), count(name), count(sector), count(market_cap) FROM {sc} "
                     f"WHERE symbol = '{facts['orphan']}'").fetchone()
    if orphan[0] == 0 or any(orphan[1:]):
        bad.append(f"orphan symbol rows/company fields: {orphan}")
    return bad


# ------------------------------------------------------------------ one run
def spec():
    return json.load(open(SPEC))


def run(workload, seed, seconds, trace, smoke=False):
    t_start = time.time()
    os.makedirs(WORK, exist_ok=True)
    stamp = sources_stamp()
    built = all(os.path.exists(os.path.join(WORK, f)) and open(os.path.join(WORK, f)).read() == stamp
                for f in ("build.stamp", "classes.stamp"))
    deadline = t_start + (RUN_LIMIT_S if built else FIRST_RUN_LIMIT_S)
    cp = build(deadline)
    sf = SMOKE_SF if smoke else TABLES_SF
    tables_dir = star_tables(sf)
    run_dir = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{int(trace)}{'-smoke' if smoke else ''}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    facts = None
    raw_dir = ""
    if workload == "daily_lake":
        raw_dir = os.path.join(run_dir, "raw")
        facts = gen.raw_lake(raw_dir, seed, **(SMOKE_LAKE if smoke else LAKE))
    cmd = java_cmd(cp, run_dir, class_archive(cp, stamp)) + [
           "--workload", workload, "--data", tables_dir, "--raw", raw_dir, "--out", run_dir,
           "--seconds", str(seconds), "--trace", "1" if trace else "0", "--seed", str(seed)]
    if smoke:
        cmd.append("--smoke")
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=java_env())
        try:
            p.wait(timeout=max(10, deadline - time.time() - 15))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload}: JVM did not finish in time (see {run_dir}/jvm.log)")
    res_file = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(res_file):
        fail(f"{workload}: JVM exited {p.returncode} (see {run_dir}/jvm.log)")
    res = json.load(open(res_file))

    names = sorted({o["name"] for o in res["ops"]})
    if workload == "daily_lake":
        bad = check_lake(res["checks"]["lake_root"], facts)
        shutil.rmtree(os.path.join(run_dir, "raw"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "lake"), ignore_errors=True)
    else:
        bad = check_queries(run_dir, tables_dir, names, deadline)
        shutil.rmtree(os.path.join(run_dir, "check"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    for b in bad:
        log("check failed:", b)
    for f in res["failures"]:
        log("operation failed:", f)

    s = spec()
    wanted = s["per_layer"] if trace else s["end_to_end"]
    source = res["layers"] if trace else res["e2e"]
    # a layer the workload does not call reads 0
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0 if trace else None), "unit": m["unit"]}
               for m in wanted}
    missing = [k for k, v in metrics.items() if not isinstance(v["value"], (int, float))]
    failed = res["failed"] + len(bad)
    attempted = res["attempted"] + (LAKE_CHECKS if workload == "daily_lake" else len(names))
    summary = {"correct": failed == 0 and not missing, "attempted": attempted,
               "failed": failed, "metrics": metrics}
    artifact = dict(summary, workload=workload, seed=seed, trace=trace,
                    measured_s=res["measured_s"],
                    contention=res["contention"], check_failures=bad,
                    op_failures=res["failures"], e2e=res["e2e"], layers=res["layers"],
                    wall_s=time.time() - t_start)
    if trace:
        untraced = os.path.join(WORK, "runs", f"{workload}-s{seed}-t0", "artifact.json")
        if os.path.exists(untraced):
            base = json.load(open(untraced))["e2e"]
            artifact["tracing_overhead"] = {k: res["e2e"][k] - v for k, v in base.items()
                                            if isinstance(v, (int, float)) and
                                            isinstance(res["e2e"].get(k), (int, float))}
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    if missing:
        log("metrics missing:", missing)
    return summary, artifact


def smoke():
    """One pass of each workload at sf0.001, traced and untraced; checks the
    printed schema against BENCHMARK.json."""
    s = spec()
    ok = True
    for w in [x["name"] for x in s["workloads"]]:
        for trace in (0, 1):
            summary, _ = run(w, 1, 1, trace, smoke=True)
            want = {m["name"]: m["unit"] for m in (s["per_layer"] if trace else s["end_to_end"])}
            got = {k: v["unit"] for k, v in summary["metrics"].items()}
            good = (set(summary) == {"correct", "attempted", "failed", "metrics"} and got == want
                    and summary["correct"] and all(isinstance(v["value"], (int, float))
                                                   for v in summary["metrics"].values()))
            log(f"smoke {w} trace={trace}: {'ok' if good else 'BAD'} {json.dumps(summary)[:300]}")
            ok = ok and good
    print(json.dumps({"smoke": "ok" if ok else "failed"}))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found: {need} (run from a full checkout)")
    if a.smoke:
        smoke()
    names = [w["name"] for w in spec()["workloads"]]
    if a.workload not in names:
        fail(f"--workload must be one of {names}")
    summary, _ = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
