#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run, checked end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run
  1. builds the engine and the driver from source (perfbench/build.py),
  2. generates the workload's inputs from the seed (perfbench/gen.py),
     cached per seed under .bench_build/data,
  3. runs the driver (graftbench.Main) in one JVM on local[nproc]:
     setup (JVM start to session ready plus two warm-up passes), then whole
     passes of the workload's ops until --seconds have passed,
  4. compares every oracle-backed op's first result with its DuckDB
     oracle over the same generated files,
  5. writes a per-run artifact under .bench_build/artifacts (a new file
     for every run) and prints the result as the last stdout line:
     {"correct", "attempted", "failed", "metrics"}; metrics are the
     end-to-end set with --trace 0 and the per-layer set with --trace 1.

Workloads and what each metric is meant to show: perfbench/LAYERS.md.
Smoke test of the benchmark itself: python3 perfbench/smoke.py.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
# the repository's correctness gate: results are compared its way
sys.path.insert(0, os.path.join(ROOT, "tools"))

WORKLOADS = {
    # sizes of the generated `events` table and of the XES corpus
    # rendered from it ("xes_files" logs; 0 = none)
    "mining_xes": {"full": dict(events=4000, cases=80, xes_files=2),
                   "smoke": dict(events=500, cases=40, xes_files=1)},
    "stream_gates": {"full": dict(events=3000, cases=60, xes_files=2),
                     "smoke": dict(events=500, cases=10, xes_files=1)},
}
END_TO_END = ["setup_s", "rows_per_s", "op_p50_s", "peak_rss_mb"]
JVM_TIMEOUT_S = 170
HEAP = "2g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def generate(data_dir, seed, sizes, break_expectation):
    """Seeded inputs, cached per (workload, size, seed)."""
    manifest_path = os.path.join(data_dir, "manifest.json")
    if os.path.exists(manifest_path) and not break_expectation:
        return json.load(open(manifest_path)), 0.0
    import gen
    t0 = time.time()
    tmp = data_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    rows = gen.make_tables(tmp, seed, sizes)
    manifest = {"seed": seed, "sizes": sizes, "rows": rows}
    if sizes.get("xes_files"):
        ev = os.path.join(tmp, "events.parquet")
        manifest["xes"] = gen.write_xes(ev, os.path.join(tmp, "xes"), sizes["xes_files"])
    if break_expectation:
        # deliberately wrong expectations: one trace too many, one
        # directly-follows edge counted once more
        if "xes" in manifest:
            manifest["xes"]["traces"] += 1
            manifest["xes"]["dfg"][0][2] += 1
        manifest["break_expectation"] = True
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(data_dir, ignore_errors=True)
    os.rename(tmp, data_dir)
    return manifest, time.time() - t0


def oracle_check(data_dir, dump_dir, break_expectation):
    """{op: None if the dumped first result equals its DuckDB oracle, else why}."""
    path = os.path.join(dump_dir, "oracle_sql.json")
    if not os.path.exists(path):
        return {}
    import duckdb
    from check import canon
    oracles = json.load(open(path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{data_dir}/events.parquet'")
    verdict = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = con.execute(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'")
            gc, gr = canon(got.fetchall(), [d[0] for d in got.description])
            exp = con.execute(sql)
            ec, er = canon(exp.fetchall(), [d[0] for d in exp.description])
        except Exception as e:  # unreadable result or oracle error
            verdict[name] = f"oracle compare error: {str(e)[:200]}"
            continue
        if break_expectation:
            er = er[1:]  # a deliberately wrong expectation: one row short
        if gc != ec:
            verdict[name] = f"columns {gc} vs oracle {ec}"
        elif len(gr) != len(er):
            verdict[name] = f"{len(gr)} rows vs oracle {len(er)}"
        elif gr != er:
            i = next(i for i in range(len(gr)) if gr[i] != er[i])
            verdict[name] = f"row {i}: {gr[i]} vs oracle {er[i]}"
        else:
            verdict[name] = None
    con.close()
    return verdict


def source_id():
    """Commit when the repository root is a git work tree, else a hash of the sources."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=5)
        lines = out.stdout.split()
        if out.returncode == 0 and len(lines) == 2 and os.path.samefile(lines[0], ROOT):
            return lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for d in ("src/main", "perfbench"):
        for dp, _, fs in sorted(os.walk(os.path.join(ROOT, d))):
            if "__pycache__" in dp:
                continue
            for f in sorted(fs):
                with open(os.path.join(dp, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


def run_jvm(classpath, args, log_path, deadline):
    local = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(local, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout. The heap
    # starts small and the serial collector grows it by occupancy alone,
    # so the peak RSS follows the program's memory, not GC timing.
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-XX:+UseSerialGC", f"-Djava.io.tmpdir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=ERROR"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), "graftbench.Main"] + args + ["--local", local])
    # the engine's SPARK_GRAFT_* knobs stay at their defaults, and Spark
    # keeps its scratch space inside the checkout
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = local
    with open(log_path, "wb") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT, env=env)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"driver JVM timed out; see {log_path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--break-expectation", action="store_true",
                    help="corrupt the expected results (smoke test of the checks)")
    a = ap.parse_args()
    t_start = time.time()
    bb = os.path.join(ROOT, ".bench_build")
    import build
    classpath = build.build(bb)
    build_s = time.time() - t_start
    # a first run in a fresh checkout compiles first; the run itself
    # keeps its own time limit
    deadline = time.time() + JVM_TIMEOUT_S

    sizes = WORKLOADS[a.workload][a.size]
    # the cache key covers the generator itself, so a changed generator
    # never reuses stale inputs
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        size_key = hashlib.sha256(json.dumps(sizes, sort_keys=True).encode() + fh.read()).hexdigest()[:8]
    tag = f"{a.workload}-{size_key}-seed{a.seed}" + ("-broken" if a.break_expectation else "")
    data_dir = os.path.join(bb, "data", tag)
    manifest, gen_s = generate(data_dir, a.seed, sizes, a.break_expectation)

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}"
    run_dir = os.path.join(bb, "runs", run_id)
    dump_dir = os.path.join(run_dir, "dump")
    os.makedirs(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    shm_before = {d: os.path.exists(d) for d in ("/dev/shm/graft_feed", "/dev/shm/graft_ckpt")}
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace),
                "--cores", str(os.cpu_count() or 1), "--data", data_dir,
                "--out", result_path, "--dump", dump_dir,
                "--scratch", os.path.join(run_dir, "ops")]
    t0 = time.time()
    rc = run_jvm(classpath, jvm_args, os.path.join(run_dir, "driver.log"), deadline)
    jvm_s = time.time() - t0
    # the engine stages streaming feeds under /dev/shm when it can; drop
    # the (empty) base directories a run leaves behind
    for d, existed in shm_before.items():
        if not existed:
            try:
                os.rmdir(d)
            except OSError:
                pass
    if rc != 0 or not os.path.exists(result_path):
        raise SystemExit(f"driver JVM failed (rc={rc}); see {run_dir}/driver.log")
    res = json.load(open(result_path))

    t0 = time.time()
    verdict = oracle_check(data_dir, dump_dir, a.break_expectation)
    check_s = time.time() - t0
    per_op = res["per_op"]
    attempted = res["attempted"] + len(per_op)  # + each op's checked first result
    failed = res["failed"] + len(res["warm_failures"])
    for name, why in verdict.items():
        if why is not None and name not in res["warm_failures"]:
            # the first result was wrong, so every execution that
            # reproduced it was wrong too
            failed += 1 + per_op.get(name, {}).get("executions", 0)
    missing = [n for n, o in per_op.items() if o["oracle"] and n not in verdict]
    failed += len(missing)
    correct = failed == 0

    metrics = res["per_layer"] if a.trace else res["metrics"]
    out = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}
    res.update({
        "run_id": run_id, "source": source_id(), "argv": sys.argv[1:], "size": a.size,
        "sizes": sizes, "rows": manifest.get("rows"), "result": out,
        "oracle": verdict, "oracle_missing": missing,
        "timings_s": {"build": build_s, "generate": gen_s, "jvm": jvm_s, "oracle_check": check_s,
                      "total": time.time() - t_start},
        "failed_frac": failed / attempted,
    })
    art_dir = os.path.join(bb, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    # exclusive create: an artifact is never overwritten
    with open(os.path.join(art_dir, run_id + ".json"), "x") as fh:
        json.dump(res, fh, indent=1)
    shutil.rmtree(dump_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "ops"), ignore_errors=True)
    log(f"{a.workload} seed={a.seed}: {res['passes']} passes, {res['samples']} ops "
        f"(p90 valid: {res['p90_valid']}), failed {failed}/{attempted}, "
        f"gen {gen_s:.1f}s jvm {jvm_s:.1f}s check {check_s:.1f}s; artifact {run_id}.json")
    for f in res["failures"][:5] + [f"{k}: {v}" for k, v in res["warm_failures"].items()][:5] + \
            [f"{k}: {v}" for k, v in verdict.items() if v][:5]:
        log("FAIL " + f)
    for k in (END_TO_END if not a.trace else []):
        v = res["metrics"][k]
        if not (isinstance(v["value"], (int, float)) and math.isfinite(v["value"])):
            raise SystemExit(f"metric {k} is not a number: {v}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
