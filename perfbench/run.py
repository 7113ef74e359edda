#!/usr/bin/env python3
"""Benchmark for graft: one workload, one seed, one process.

    python3 perfbench/run.py --workload scan|ingest|pipeline|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source changes. Inputs are generated from the seed, the
benchmark process runs them on local[N] (N = processors) with one client
thread in a closed loop, and every result it read is checked against a
DuckDB replay. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1) named in BENCHMARK.json.
`--inputs DIR` reads the tables from a corpus directory instead, to compare
generated inputs with the corpus they imitate.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, ".results")
BUILD = os.path.join(HERE, ".build")
JAVA_TIMEOUT_S = 160
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "heap_mb": "MB",
         "read_qps": "1/s", "read_p90_ms": "ms", "selective_read_p50_ms": "ms",
         "analytic_read_p50_ms": "ms", "travel_read_p50_ms": "ms", "ingest_cycles_per_s": "1/s",
         "commit_p90_ms": "ms", "append_p50_ms": "ms", "rowlevel_p50_ms": "ms",
         "freshness_p50_ms": "ms", "read_after_write_p50_ms": "ms", "space_amp": "ratio",
         "pipeline_pass_s": "s", "error_rate": "ratio"}
# The sixteen figures of the workload table, in its order.
REPORT = ["setup_s", "read_qps", "read_p90_ms", "selective_read_p50_ms", "analytic_read_p50_ms",
          "travel_read_p50_ms", "ingest_cycles_per_s", "commit_p90_ms", "append_p50_ms",
          "rowlevel_p50_ms", "freshness_p50_ms", "read_after_write_p50_ms", "space_amp",
          "pipeline_pass_s", "error_rate", "heap_mb"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(p for p in glob.glob(os.path.join(base, "**"), recursive=True) if os.path.isfile(p))
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in env:
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building (sbt compile)")
    t0 = time.time()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.run(["sbt", "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}", "--batch",
                           "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                          cwd=HERE, env=sbt_env(),
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    lines = [l for l in proc.stdout.splitlines() if "target" in l and "classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    for old in glob.glob(os.path.join(BUILD, "classpath-*")):
        os.remove(old)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def git_head():
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def run_java(cp, args, work):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            return proc.wait(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def run_workload(workload, seed, seconds, trace, cp, inputs):
    import plan
    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, workload)
    data = os.path.join(work, "data")
    for d in (data, os.path.join(work, "tmp")):
        os.makedirs(d)
    try:
        t0 = time.time()
        spec = plan.make(workload, seed, data, os.path.join(work, "plan.tsv"), inputs)
        gen_s = time.time() - t0
        out = os.path.join(work, "result.json")
        rc = run_java(cp, ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                           "--trace", "1" if trace else "0", "--data", data, "--work", work,
                           "--plan", os.path.join(work, "plan.tsv"), "--out", out], work)
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: benchmark process failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
        wrong, problems = plan.CHECKS[workload](spec, data, res)
        res["env"].update({"git_head": git_head(), "input_gen_s": gen_s,
                           "input_corpus": inputs or "generated from the seed",
                           "inputs": {os.path.basename(p): os.path.getsize(p)
                                      for p in glob.glob(os.path.join(data, "*.parquet"))}})
        res["wrong"] = wrong
        res["problems"] = problems + [f"guard: {g}" for g in res["checks"].get("guards", [])]
        return res
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def wrong_ops(workload, res):
    """Timed operations whose result was wrong."""
    if workload == "scan":
        return sum(res["checks"]["executions"].get(str(i), 0) for i in res["wrong"])
    if workload == "pipeline":
        return sum(v["n"] for k, v in res["ops"].items() if k.split(".", 1)[1] in res["wrong"])
    return len(res["wrong"])


def summarize(workload, res):
    """Add the error rate and the full figure table to a result."""
    probe = res["checks"].get("probe_failed", 0)
    bad = res["failed"] + wrong_ops(workload, res) + probe
    res["report"]["error_rate"] = bad / max(1, res["attempted"] + (1 if "probe" in res["checks"] else 0))
    res["report"]["setup_s"] = res["e2e"]["setup_s"]
    res["report"]["heap_mb"] = res["e2e"]["heap_mb"]
    return res


def print_report(workload, res, untraced):
    env = res["env"]
    log(f"{workload}: seed {env['seed']}, nproc {env['nproc']}, local[{env['local_n']}], "
        f"heap {env['driver_heap_max_mb']} MB, Spark {env['spark_version']}, HEAD {env['git_head']}")
    log(f"{workload}: fixture {json.dumps(res['checks'].get('fixture', {}))}")
    for name in REPORT:
        v = res["report"].get(name)
        log(f"  {name:26s} {'n/a' if v is None else f'{v:.4f}'} {UNITS[name]}")
    probe = res["checks"].get("probe")
    if probe:
        log(f"  known-defect probe: {'FAILED ' + probe['error'] if probe['error'] else 'ok'}")
    for p in res["problems"]:
        log(f"  PROBLEM {p}")
    for e in res["errors"][:5]:
        log(f"  ERROR op {e['id']} {e['class']}.{e['kind']}: {e['error']}")
    unreconciled = res.get("trace", {}).get("unreconciled_ops")
    if unreconciled:
        log(f"  operations whose Spark jobs do not reconcile with wall time: {unreconciled}")
    if untraced:
        for k, v in res["e2e"].items():
            if k in untraced:
                log(f"  trace overhead {k}: {v - untraced[k]:+.4f} {UNITS[k]} "
                    f"(traced {v:.4f}, untraced {untraced[k]:.4f})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["scan", "ingest", "pipeline", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inputs", help="read the tables from this sf0.1-layout corpus directory "
                                     "instead of generating them (to compare the two)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a graft checkout (src/main/scala/graft missing)")
    sys.path.insert(0, HERE)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cp = build()
    workloads = ["scan", "ingest", "pipeline"] if a.workload == "all" else [a.workload]
    os.makedirs(RESULTS, exist_ok=True)
    kind = "traced" if a.trace else "untraced"
    results = {}
    for w in workloads:
        res = results[w] = summarize(w, run_workload(w, a.seed, a.seconds, a.trace == 1, cp,
                                                    a.inputs and os.path.abspath(a.inputs)))
        with open(os.path.join(RESULTS, f"{w}-{kind}.json"), "w") as f:
            json.dump(res, f, indent=1)
        untraced = None
        if a.trace and os.path.exists(os.path.join(RESULTS, f"{w}-untraced.json")):
            with open(os.path.join(RESULTS, f"{w}-untraced.json")) as f:
                untraced = json.load(f)["e2e"]
        print_report(w, res, untraced)
    if len(workloads) > 1:
        print(f"{'metric':26s} {'unit':6s}" + "".join(f"{w:>14s}" for w in workloads))
        for name in REPORT:
            vals = [results[w]["report"].get(name) for w in workloads]
            print(f"{name:26s} {UNITS[name]:6s}" +
                  "".join(f"{'n/a' if v is None else f'{v:.4f}':>14s}" for v in vals))
    specs = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for w, res in results.items():
        values = res["layers"] if a.trace else res["e2e"]
        prefix = f"{w}." if len(workloads) > 1 else ""
        metrics.update({prefix + m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in specs})
    print(json.dumps({
        "correct": all(not r["problems"] and not r["wrong"] and r["failed"] == 0
                       for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] + wrong_ops(w, r) for w, r in results.items()),
        "metrics": metrics}))


if __name__ == "__main__":
    main()
