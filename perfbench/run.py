#!/usr/bin/env python3
"""graft benchmark runner.

Builds the program and the harness from source (once per source
fingerprint), generates the seeded inputs, runs one workload in one JVM
with `local[4]`, checks the outputs, and prints every metric by name
with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload live|queries --seed N \
      --seconds S --trace 0|1 [--smoke]
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("live", "queries")
BENCH_SF = 0.002     # generated corpus scale for the timed workloads
SMOKE_SF = 0.001     # the tiny smoke corpus the benchmark's own tests use
RUN_LIMIT_S = 170    # a run (after the build) must end within this
JVM_MEM = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def fingerprint(paths):
    h = hashlib.sha256()
    for base in paths:
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile program + harness; return the runtime classpath."""
    harness = os.path.join(HERE, "harness")
    fp = fingerprint([os.path.join(root, "src", "main"), harness,
                      os.path.join(harness, "project")])
    cp_file = os.path.join(out, "classpath.txt")
    fp_file = os.path.join(out, "classpath.fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f, open(cp_file) as g:
            cached_fp, cached_cp = f.read(), g.read().strip()
        if cached_fp == fp and os.path.exists(cached_cp.split(os.pathsep)[0]):
            return cached_cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building program + harness with sbt")
    t0 = time.monotonic()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=harness, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    classes = os.path.join(harness, "target")
    cp = [ln for ln in p.stdout.splitlines() if ln.startswith(classes)]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    log(f"build took {time.monotonic() - t0:.1f}s")
    full = cp[-1]
    with open(cp_file, "w") as f:
        f.write(full)
    with open(fp_file, "w") as f:
        f.write(fp)
    return full


def generate(out, seed, sf):
    d = os.path.join(out, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        sys.path.insert(0, HERE)
        import gen
        gen.generate(d, seed, sf)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def run_jvm(cp, args, work, cpus, deadline):
    """One benchmark JVM; returns its result dict (None on failure)."""
    os.makedirs(work, exist_ok=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{JVM_MEM}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
            "-cp", cp, "graftbench.Main"] + args + ["--work", work, "--out", out])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=f"{work}/spark-local")
    env.pop("GRAFT_STATE_STORE", None)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log("benchmark JVM timed out")
            return None
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        log(f"benchmark JVM exited with {proc.returncode}")
        return None
    with open(out) as f:
        return json.load(f)


def oracle_check(data_dir, check_dir):
    """Compare each dumped query result with its DuckDB oracle (or
    rows > 0 where a query has none). Returns problems and counts."""
    import duckdb
    with open(os.path.join(check_dir, "_oracle.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    problems, matched, rows_only, took = [], 0, 0, {}
    for name, sql in sorted(oracle.items()):
        t0 = time.monotonic()
        path = os.path.join(check_dir, name)
        if not os.path.isdir(path):
            problems.append(f"{name}: no result to check")
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()
        if sql is None:
            rows_only += 1
            if len(got) == 0:
                problems.append(f"{name}: 0 rows")
            continue
        want = con.execute(sql).fetchdf()
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if got.equals(want):
            matched += 1
        else:
            problems.append(f"{name}: differs from its oracle (rows {len(got)} vs {len(want)})")
        took[name] = round(time.monotonic() - t0, 3)
    return problems, {"oracle_matched": matched, "rows_only": rows_only, "seconds": took}


def load_spec(root):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


UNITS = {"live_low_p50_s": "s", "live_low_p99_s": "s", "live_high_p50_s": "s",
         "live_high_p99_s": "s", "live_low_mean_s": "s", "live_high_mean_s": "s", "report_read_p50_s": "s", "report_read_p90_s": "s",
         "derive_s": "s", "drain_eps": "1/s", "q_cold_s": "s", "q_light_s": "s",
         "q_heavy_s": "s", "query_p50_s": "s", "query_p90_s": "s"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sf0.001 corpus, for tests")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "Pipeline.scala"))):
        fail("run from the root of a graft checkout: build.sbt and src/main/scala/graft are missing")
    spec = load_spec(root)
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    t_run = time.monotonic()
    deadline = t_run + RUN_LIMIT_S
    sf = SMOKE_SF if a.smoke else BENCH_SF
    data = generate(out, a.seed, sf)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-smoke" if a.smoke else "")
    work = os.path.join(out, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--data", data, "--smoke", "1" if a.smoke else "0"]
    t_jvm = time.monotonic()
    res = run_jvm(cp, jargs, work, 4, deadline)
    if res is None:
        fail("the benchmark run did not complete", 1)
    res["detail"]["phase_s"] = {"inputs": t_jvm - t_run, "jvm": time.monotonic() - t_jvm}
    problems = list(res["problems"])
    if a.workload == "queries":
        t_oracle = time.monotonic()
        p, counts = oracle_check(data, res["detail"]["check_dir"])
        problems += p
        res["detail"]["oracle"] = counts
        res["detail"]["phase_s"]["oracle"] = time.monotonic() - t_oracle
    layers = dict(res["layers"])
    if a.trace and a.workload == "live":
        base = run_jvm(cp, jargs + ["--baseline", "1"], work + "-local1", 1, deadline)
        if base is not None:
            layers["live.drain_eps_local1"] = base["named"]["drain_eps"]
            res["detail"]["baseline_local1"] = base["named"]
        shutil.rmtree(work + "-local1", ignore_errors=True)

    attempted, failed = int(res["attempted"]), int(res["failed"])
    e2e = dict(res["gate"])
    e2e["setup_s"] = res["setup_s"]
    correct = not problems and attempted > 0

    # human-readable report: every named metric with its unit
    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}")
    print(f"  attempted {attempted}  failed {failed}  failed_share "
          f"{failed / attempted if attempted else 0.0:.4f}")
    print("  setup rounds " + "  ".join(f"{x:.3f}" for x in res["setup_rounds_s"]) + " s (setup_s is their median)")
    for k, v in sorted(res["named"].items()):
        print(f"  {k:<28} {v:12.4f} {UNITS.get(k, '')}")
    for m in spec["end_to_end"]:
        print(f"  [e2e] {m['name']:<22} {e2e.get(m['name'], float('nan')):12.4f} {m['unit']}")
    for k in ("busy_share", "steal_share", "wall_per_cpu"):
        if k in res["load"]:
            print(f"  [load] {k:<21} {res['load'][k]:12.4f}")
    for p in problems:
        print(f"  CHECK FAILED: {p}")

    art_dir = os.path.join(out, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    # the untraced run a traced one is compared with: same workload and
    # scale (a smoke run must not stand in for a full one)
    last_untraced = os.path.join(out, "last", a.workload + ("-smoke" if a.smoke else "") + ".json")
    if a.trace:
        metrics = {}
        for m in spec["per_layer"]:
            v = layers.get(m["name"])
            metrics[m["name"]] = {"value": 0.0 if v is None or v != v else v, "unit": m["unit"]}
            print(f"  [layer] {m['name']:<30} {metrics[m['name']]['value']:14.4f} {m['unit']}"
                  + ("" if v is not None else "  (idle in this workload)"))
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                plain = json.load(f)
            over = {k: e2e[k] - plain[k] for k in e2e if k in plain}
            res["detail"]["tracing_overhead"] = over
            for k, v in sorted(over.items()):
                print(f"  [tracing overhead] {k:<18} {v:+10.4f} (traced minus last untraced run)")
        else:
            print("  [tracing overhead] no untraced run of this workload yet in this checkout")
        for f, ext in (("spans.jsonl", ".spans.jsonl"), ("jvm.log", ".jvm.log")):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), os.path.join(art_dir, tag + ext))
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
        os.makedirs(os.path.dirname(last_untraced), exist_ok=True)
        with open(last_untraced, "w") as f:
            json.dump(e2e, f)
    res["layers"] = layers
    res["problems"] = problems
    res["e2e"] = e2e
    with open(os.path.join(art_dir, tag + ".json"), "w") as f:
        json.dump(res, f, indent=1, default=str)
    if correct:  # a failed run keeps its work directory for inspection
        shutil.rmtree(work, ignore_errors=True)
    print(f"  artifact: {os.path.relpath(os.path.join(art_dir, tag + '.json'), root)}  "
          f"run {time.monotonic() - t_run:.1f}s")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
