#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload surface_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source with the Scala compiler that
ships in the Spark distribution, reads the testdata that graft.Bench reads
(batch_relaid: a relaid copy written by graft.tools.ScaleUp, cached under a
content stamp), runs one workload in a fresh JVM with one client thread,
checks every output against its DuckDB oracle or the generator's model,
and prints one JSON line as the last line of standard output. Everything it
writes stays under perfbench/.work. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

DEADLINE_S = 170        # a run's budget ...
FIRST_DEADLINE_S = 880  # ... and that of the run that builds
LAYER_SUM_TOLERANCE = 0.05

# workload -> (corpus layout, scale factor, key-shifted copies)
LAYOUTS = {
    "surface_mix": ("base", 0.01, 1),
    "batch_relaid": ("relaid", 0.1, 2),
    "dyn_rw": ("base", 0.01, 1),
}
# units of the end-to-end figures that are reported but not bounded
REPORT_UNITS = {"latency_p90_s": "s", "failed_frac": "ratio", "read_p50_s": "s",
                "read_p90_s": "s", "write_p50_s": "s", "write_p90_s": "s",
                "space_amp": "ratio"}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run_checked(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout:.0f}s: {cmd[0]} ... {cmd[-1]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                          recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not engine:
        fail(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    return engine + bench


def spark_jars():
    """The Spark distribution the sbt build compiles against (unmanagedBase)."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(sbt).read()) if os.path.exists(sbt) else None
    if not m:
        fail("build.sbt names no unmanagedBase Spark distribution")
    return m.group(1)


def build(deadline, spark):
    """Compile engine + harness into one jar, once per source stamp."""
    srcs = sources()
    if not glob.glob(os.path.join(spark, "scala-compiler-*.jar")):
        fail(f"no Spark distribution with a Scala compiler at {spark}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    jar = os.path.join(WORK, "build", h.hexdigest()[:16] + ".jar")
    if os.path.exists(jar):
        return jar, False
    shutil.rmtree(os.path.join(WORK, "build"), ignore_errors=True)
    os.makedirs(os.path.dirname(jar))
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    cp = os.path.join(spark, "*")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = run_checked(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
                          "scala.tools.nsc.Main", "-nowarn", "-d", jar + ".tmp.jar", "-cp", cp]
                         + srcs, timeout=max(60, deadline - time.time()), stdout=out, stderr=out)
    if rc != 0:
        fail(f"compilation failed, see {os.path.join(WORK, 'build.log')}")
    os.rename(jar + ".tmp.jar", jar)
    log(f"compiled in {time.time() - t0:.1f}s")
    return jar, True


def class_data_sharing(jar):
    """JVM flags for a class-data-sharing archive of the build: the first run
    dumps it at exit, later runs map it and skip most of the JVM's and
    Spark's class loading. This takes about 5 s off every run (first
    set-up cycle 13.5-13.8 s without it, 8.3 s with it, on 4 cores), which
    the run-time budget of all runs needs."""
    jsa = jar[:-len(".jar")] + ".jsa"
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}"], None
    return [f"-XX:ArchiveClassesAtExit={jsa}.tmp"], jsa


def gen_module():
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    import gen
    return gen


def java(jar, spark, tmp, flags, main):
    """A JVM over the build and the Spark distribution running `main`
    (class and arguments)."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + flags + opens +
            ["-cp", f"{jar}:{os.path.join(spark, '*')}"] + main)


def corpus(workload, con, jar, spark, deadline):
    gen = gen_module()
    kind, sf, k = LAYOUTS[workload]
    base = gen.base_dir(ROOT, sf)
    info = {"layout": kind, "sf": sf, "copies": k, "base": base,
            "tables": gen.table_info(base)}
    data = base
    if kind == "relaid":
        def scale_up(src, dst, copies, block_bytes):
            scratch = os.path.join(WORK, "scaleup")
            shutil.rmtree(scratch, ignore_errors=True)
            os.makedirs(os.path.join(scratch, "tmp"))
            log(f"writing {copies} key-shifted copies of {src} with graft.tools.ScaleUp")
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 4),
                       SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
            cmd = java(jar, spark, os.path.join(scratch, "tmp"),
                       ["-Xmx2g", f"-Dspark.hadoop.parquet.block.size={block_bytes}"],
                       ["graft.tools.ScaleUp", src, dst, str(copies)])
            t0 = time.time()
            with open(os.path.join(WORK, "scaleup.log"), "w") as out:
                rc = run_checked(cmd, timeout=deadline - time.time(), cwd=scratch, env=env,
                                 stdout=out, stderr=out)
            shutil.rmtree(scratch, ignore_errors=True)
            if rc != 0:
                fail(f"graft.tools.ScaleUp failed, see {os.path.join(WORK, 'scaleup.log')}")
            log(f"wrote the relaid layout in {time.time() - t0:.1f}s")
        data, rel_info, fresh = gen.ensure_relaid(ROOT, os.path.join(WORK, "corpus"), base, k,
                                                  scale_up)
        info.update(relaid=data, relaid_generated_now=fresh, tables=rel_info)
        stamp = os.path.join(data, "_VERIFIED.json")
        if not os.path.exists(stamp):
            bad = gen.verify_relaid(con, base, data, k, fingerprint)
            with open(stamp, "w") as f:
                json.dump({"mismatched_tables": bad}, f)
        info["relaid_mismatched_tables"] = json.load(open(stamp))["mismatched_tables"]
    return base, data, info


# ---- oracle fingerprints (the canon of tools/check_hash.py) ----------------

def canon_expr(name, typ):
    t, q = typ.upper(), f'"{name}"'
    if "[" in t or "STRUCT" in t or "MAP" in t:
        return f"to_json({q})::VARCHAR"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return f"CAST({q} AS BIGINT)"
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        return (f"(CASE WHEN {q} IS NULL THEN NULL WHEN {q} = 0 THEN 0.0 "
                f"ELSE round(CAST({q} AS DOUBLE), CAST(least(6, "
                f"8 - floor(log10(abs(CAST({q} AS DOUBLE))))) AS INTEGER)) + 0.0 END)")
    if "TIMESTAMP" in t or t == "DATE" or "TIME" in t:
        return f"CAST({q} AS VARCHAR)"
    return q


def fingerprint(con, sql):
    """(sorted column names, row count, sum of row hashes) of a query."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
    cols = sorted((r[0], r[1]) for r in desc)
    exprs = ", ".join(canon_expr(n, t) + f' AS "{n}"' for n, t in cols)
    pack = ", ".join(f'c{i} := "{n}"' for i, (n, _) in enumerate(cols))
    n, h = con.execute(f"SELECT count(*), sum(hash(struct_pack({pack}))) FROM "
                       f"(SELECT {exprs} FROM ({sql}))").fetchone()
    return [[c for c, _ in cols], n, None if h is None else int(h)]


def oracle_checks(con, data, checks):
    """Compare every engine output with its oracle; returns failed names."""
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(data, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    # oracle fingerprints are cached per corpus, outside the read-only testdata
    cache_path = os.path.join(WORK, "oracle", hashlib.sha256(data.encode()).hexdigest()[:16] + ".json")
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    failed = {}
    for c in checks:
        name, out, sql = c["name"], c["dir"], c.get("oracle")
        try:
            got = fingerprint(con, f"SELECT * FROM read_parquet('{out}/*.parquet')")
        except Exception as e:  # noqa: BLE001 - any read failure is a wrong answer
            failed[name] = f"unreadable output: {e}"
            continue
        if sql is None:
            if got[1] == 0:
                failed[name] = "no oracle and no rows"
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in cache:
            try:
                cache[key] = fingerprint(con, sql)
            except Exception as e:  # noqa: BLE001
                failed[name] = f"oracle error: {e}"
                continue
        want = cache[key]
        if got != want:
            failed[name] = f"engine {got[1]} rows hash {got[2]}, oracle {want[1]} rows hash {want[2]}"
    with open(cache_path + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(cache_path + ".tmp", cache_path)
    return failed


# ---- run ---------------------------------------------------------------------

def main():
    # a terminated run still stops its JVM (run_checked kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(LAYOUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    spark = spark_jars()
    jar, built = build(started + FIRST_DEADLINE_S, spark)
    deadline = started + (FIRST_DEADLINE_S if built else DEADLINE_S)

    import duckdb
    os.makedirs(WORK, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'duckdb.tmp')}'")
    con.execute("SET threads = 2")
    try:
        base, data, corpus_info = corpus(args.workload, con, jar, spark, deadline)
        # warm-up passes run the same queries on a tiny corpus
        warm = gen_module().base_dir(ROOT, 0.001)
    except (OSError, RuntimeError) as e:
        fail(f"no corpus: {e}")
    rows = ",".join(f"{t}={v['rows']}" for t, v in corpus_info["tables"].items())

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    out_json = os.path.join(run_dir, "result.json")
    # queries whose output already matched its oracle for this build and corpus
    verified_path = os.path.join(WORK, "verified",
                                 f"{os.path.basename(jar)}-{os.path.basename(data)}.txt")
    os.makedirs(os.path.dirname(verified_path), exist_ok=True)
    cpus = str(os.cpu_count() or 4)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"))
    env.pop("SPARK_GRAFT_HEADROOM", None)
    env.pop("SPARK_GRAFT_ADVISORY", None)
    cds, dumped = class_data_sharing(jar)
    cmd = java(jar, spark, os.path.join(run_dir, "tmp"), ["-Xmx3g"] + cds,
               ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", data, "--base", base, "--warm", warm, "--work", run_dir,
                "--out", out_json, "--verified", verified_path, "--rows", rows])
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as out:
        rc = run_checked(cmd, timeout=deadline - time.time(),
                         cwd=run_dir, env=env, stdout=out, stderr=out)
    if rc != 0 or not os.path.exists(out_json):
        tail = open(jvm_log, errors="replace").read()[-3000:]
        fail(f"harness exited with {rc}:\n{tail}")
    res = json.load(open(out_json))
    if dumped and os.path.exists(dumped + ".tmp"):
        os.replace(dumped + ".tmp", dumped)

    failed_checks = oracle_checks(con, data, res["checks"])
    with open(verified_path, "a") as f:
        for c in res["checks"]:
            if c["name"] not in failed_checks:
                f.write(c["name"] + "\n")
    ops = res["ops"]
    wrong = [o for o in ops if not o["ok"] or o["name"] in failed_checks]
    problems = list(res["problems"])
    problems += [f"oracle mismatch {n}: {why}" for n, why in sorted(failed_checks.items())]
    if corpus_info.get("relaid_mismatched_tables"):
        problems.append(f"relaid corpus differs from k shifted copies: "
                        f"{corpus_info['relaid_mismatched_tables']}")
    layers = res["per_layer"]
    if args.trace and layers.get("trace.layer_sum_err", 0.0) > LAYER_SUM_TOLERANCE:
        problems.append(f"layers do not add up to operation wall time: "
                        f"{layers['trace.layer_sum_err']:.3f} > {LAYER_SUM_TOLERANCE}")

    e2e = res["end_to_end"]
    rep = res["report"]
    # tracing overhead: this traced run against the last untraced run of the workload
    hist = os.path.join(WORK, "results")
    os.makedirs(hist, exist_ok=True)
    if not args.trace:
        with open(os.path.join(hist, f"{args.workload}.untraced.json"), "w") as f:
            json.dump({"seed": args.seed, "end_to_end": e2e}, f)
    else:
        p = os.path.join(hist, f"{args.workload}.untraced.json")
        if os.path.exists(p):
            prev = json.load(open(p))
            rep["tracing_overhead"] = {k: e2e[k] - v for k, v in prev["end_to_end"].items()
                                       if k in e2e and v is not None and e2e[k] is not None}
            rep["tracing_overhead_vs_seed"] = prev["seed"]
    for bad in wrong[:10]:
        problems.append(f"op {bad['name']} failed: {bad['error'] or failed_checks.get(bad['name'])}")

    attempted = len(ops)
    failed = len(wrong)
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["wall_s"])
    report = {
        "workload": args.workload, "seed": args.seed, "traced": bool(args.trace),
        "failed_frac": failed / max(1, attempted),
        "samples": {k: len(v) for k, v in kinds.items()},
        "checks": {"oracle_checked": len(res["checks"]), "oracle_failed": len(failed_checks)},
        "corpus": {k: v for k, v in corpus_info.items() if k != "tables"},
        "corpus_tables": corpus_info["tables"],
        "end_to_end": e2e, "per_layer": layers, **rep, "problems": problems,
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = {**e2e, **layers}
    # 0 for what was not measured: a per-layer metric of a rule that
    # GraftSession.get() no longer installs, or a latency with more failed
    # operations than its percentile allows (such a run is not correct)
    report["unmeasured"] = [m["name"] for m in wanted if values.get(m["name"]) is None]
    # every end-to-end figure with its unit, bounded or not
    figures = {**e2e, **{k: rep[k] for k in REPORT_UNITS if k in rep},
               "failed_frac": report["failed_frac"]}
    report["end_to_end"] = {k: {"value": v, "unit": units.get(k) or REPORT_UNITS[k]}
                            for k, v in figures.items()}
    metrics = {m["name"]: {"value": values.get(m["name"]) or 0.0, "unit": units[m["name"]]}
               for m in wanted}
    for k, v in report.items():
        print(f"[report] {k}: {json.dumps(v)}")
    for p in problems:
        log(f"PROBLEM: {p}")
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
