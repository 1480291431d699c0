#!/usr/bin/env python3
"""graft benchmark: seeded closed-loop workloads over graft's SQL surface.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
runner JVM with sbt (offline) from the checkout's sources; later runs
reuse the build while the sources are unchanged. Inputs are generated
from the seed; every answer is checked against DuckDB or the benchmark's
own model. Human-readable lines go first; the last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics of BENCHMARK.json from an
untraced run. --trace 1 makes an untraced and then a traced run, which
also times one operator key per family after its closed loop, and
reports the per-layer metrics; the traced run's spans are written to
.bench_build/perfbench/runs/<workload>-s<seed>-trace/spans.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench import check, gen, metrics, workloads  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_DIR = os.path.join(HERE, "jvm")
CLASSPATH = os.path.join(JVM_DIR, "target", "classpath.txt")
KEYS = os.path.join(WORK, "keys.json")
JVM_TIMEOUT_S = 150
HEAP = ["-Xmx3g"]

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the repository's build passes to forked test and run JVMs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(JVM_DIR, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(JVM_DIR, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft (through its own build file) and the runner; returns
    the runner's classpath. Exits non-zero without graft's sources."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("graft sources not found next to perfbench/: run from a graft checkout")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if (os.path.exists(CLASSPATH) and os.path.exists(KEYS) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark runner (sbt) ...")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=JVM_DIR, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        log(r.stdout.decode(errors="replace")[-4000:])
        log("build failed")
        sys.exit(3)
    cp = open(CLASSPATH).read().strip()
    java(cp, "perfbench.Keys", [KEYS], os.path.join(WORK, "keys.log"))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def java(cp, main, args, log_path):
    cmd = ["java", *HEAP, *ADD_OPENS, "-cp", cp, main, *args]
    with open(log_path, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S, cwd=WORK)
    if r.returncode != 0:
        with open(log_path) as lf:
            log(lf.read()[-4000:])
        raise RuntimeError(f"{main} exited with {r.returncode}")


def run_once(cp, wl, seconds, trace, tag):
    """One runner JVM over the workload's plan; returns its result with
    each operation record carrying its class (and operator key)."""
    work = os.path.join(WORK, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = dict(wl.plan, workload=wl.name, trace=trace, seconds=seconds,
                data_dir=data_dir_of(wl.seed, wl.sf), work_dir=work)
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)
    res_path = os.path.join(work, "result.json")
    java(cp, "perfbench.Runner", [os.path.join(work, "plan.json"), res_path],
         os.path.join(work, "runner.log"))
    with open(res_path) as f:
        result = json.load(f)
    if result["exhausted"]:
        raise RuntimeError("operation list ran out before the time was up")
    by_id = {o["id"]: o for o in wl.plan["ops"] + wl.plan.get("kernel_ops", [])}
    for rec in result["ops"] + result.get("kernel_ops", []):
        src = by_id[rec["id"]]
        rec["cls"] = src["cls"]
        if "key" in src:
            rec["key"] = src["key"]
    return result, work


def data_dir_of(seed, sf):
    return os.path.join(WORK, "data", f"s{seed}-sf{sf:g}")


def make_workload(name, seed, trace):
    sf = 0.1
    wl = workloads.BUILDERS[name](seed, gen.write(seed, sf, data_dir_of(seed, sf)))
    wl.seed, wl.sf = seed, sf
    if trace:
        missing = set(workloads.KERNEL_KEYS) - set(json.load(open(KEYS))["keys"])
        if missing:
            raise ValueError(f"SparkEntry has no key {sorted(missing)}")
        wl.plan["kernel_ops"] = workloads.kernel_ops(seed)
        wl.plan["kernel_data_dir"] = gen.write(seed, workloads.KERNEL_SF,
                                               data_dir_of(seed, workloads.KERNEL_SF))
    return wl


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.BUILDERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        log("BENCHMARK.json not found at the checkout root")
        sys.exit(2)
    spec = json.load(open(spec_path))
    cp = build()
    wl = make_workload(a.workload, a.seed, a.trace)

    tag = f"{a.workload}-s{a.seed}"
    t0 = time.time()
    result, work = run_once(cp, wl, a.seconds, False, tag)
    t1 = time.time()
    verdicts = check.check(wl, result, data_dir_of(a.seed, wl.sf))
    log(f"runner {t1 - t0:.1f} s (start {result['spark_start_s']:.1f}, set-up "
        f"{result['setup_build_s']:.1f}, warm-up {result['warmup_s']:.1f}, end "
        f"{result['end_of_run_s']:.1f}); check {time.time() - t1:.1f} s")
    e2e = metrics.end_to_end(result, verdicts)
    failures = [(oid, why) for oid, why in verdicts.items() if why is not None]
    attempted = len(result["ops"])

    print(f"workload {a.workload}  seed {a.seed}  {attempted} ops in {a.seconds:g} s")
    for name, (v, unit, note) in e2e.items():
        print(f"  {name:<18} {v:14.4f} {unit:<6} {note}")
    for oid, why in failures[:20]:
        print(f"  FAILED op {oid}: {why}")

    if a.trace:
        t_result, t_work = run_once(cp, wl, a.seconds, True, tag + "-trace")
        t_verdicts = check.check(wl, t_result, data_dir_of(a.seed, wl.sf))
        t_verdicts.update(check.check_kernels(wl, t_result, wl.plan["kernel_data_dir"],
                                              json.load(open(KEYS))["oracles"]))
        per = metrics.per_layer(t_result, t_verdicts, e2e["ops_per_s"][0],
                                os.path.join(t_work, "spans.jsonl"))
        for oid, why in t_verdicts.items():
            if why is not None:
                failures.append((oid, why))
                print(f"  FAILED traced op {oid}: {why}")
        attempted += len(t_result["ops"]) + len(t_result.get("kernel_ops", []))
        print(f"per-layer (traced run, spans in {os.path.relpath(t_work, ROOT)}/spans.jsonl)")
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for name, v in per.items():
            print(f"  {name:<36} {v:16.4f} {units.get(name, '')}")
        chosen = {m["name"]: {"value": per[m["name"]], "unit": m["unit"]}
                  for m in spec["per_layer"]}
    else:
        chosen = {}
        for m in spec["end_to_end"]:
            if m["name"] not in e2e:
                log(f"metric {m['name']} not measured on {a.workload}")
                sys.exit(4)
            chosen[m["name"]] = {"value": e2e[m["name"]][0], "unit": m["unit"]}

    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": chosen}))


if __name__ == "__main__":
    main()
