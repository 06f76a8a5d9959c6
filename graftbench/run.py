#!/usr/bin/env python3
"""graftbench: end-to-end and per-layer benchmark of graft.

Usage (from the repository root):
    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness with sbt on first use (the classpath is
cached under .bench_build/ and rebuilt when a source changes), makes
the workload's inputs from the seed, runs the JVM harness
(graftbench.Main) for the given seconds, checks every output, and
prints one JSON object as the last line of stdout. With --trace 0 it
holds the end-to-end metrics, with --trace 1 the per-layer ones. The
exit code is nonzero when any output check fails.

See graftbench/BENCHMARK.md for the workloads and metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
from bench import checks, datagen, metrics  # noqa: E402

WORKLOADS = ["pipeline_wds", "pipeline_parquet_large", "queries_floor", "queries_graph"]
DEADLINE_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def source_stamp(root):
    """Hash of every input of the build: graft's and the harness's."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in [os.path.join(root, "src", "main"), os.path.join(BENCH, "src")]:
        for d, dirs, files in os.walk(base):
            dirs.sort()
            paths.extend(os.path.join(d, f) for f in sorted(files))
    for p in paths:
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, work):
    """Compile graft and the harness; return the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(work, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"], False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    tmp = os.path.join(work, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-4000:], file=sys.stderr)
        fail("build failed", 3)
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if not lines:
        fail("build printed no classpath", 3)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    print(f"graftbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1], True


def query_data(work, workload, seed):
    """Generated tables for a query workload (cached per variant)."""
    variant = seed % metrics.VARIANTS
    d = metrics.DATA[workload]
    with open(datagen.__file__, "rb") as f:
        gen = hashlib.sha256(f.read() + json.dumps(d).encode()).hexdigest()[:12]
    path = os.path.join(work, "data", f"{workload}-v{variant}-{gen}")
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp, 1000 + variant, d["sf"], d["docs"], d["vecs"])
        os.replace(tmp, path)
    return path, str(variant)


def host_context():
    ctx = {"nproc": os.cpu_count()}
    try:
        ctx["loadavg"] = list(os.getloadavg())
    except OSError:
        pass
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        ctx["steal_ticks"] = int(cpu[8]) if len(cpu) > 8 else 0
    except OSError:
        pass
    return ctx


def run_jvm(classpath, args, run_dir, deadline):
    java = shutil.which("java") or fail("java not found")
    cmd = [java, "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"] + args
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "timeout"
    log.close()
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.path.dirname(BENCH)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("graft sources not found beside graftbench/ (run from a repository checkout)")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    classpath, built = build(root, work)
    # A run that had to build gets the full deadline after the build.
    deadline = (time.time() if built else t_start) + DEADLINE_S

    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ["tmp", "spark-local"]:
        os.makedirs(os.path.join(run_dir, sub))
    record_path = os.path.join(run_dir, "record.json")
    jargs = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", run_dir,
             "--out", record_path]
    goldens = None
    if a.workload.startswith("queries"):
        data, variant = query_data(work, a.workload, a.seed)
        jargs += ["--data", data]
        with open(os.path.join(BENCH, "goldens.json")) as f:
            goldens = json.load(f)[a.workload]["variants"].get(variant, {})
    host_before = host_context()
    try:
        code = run_jvm(classpath, jargs, run_dir, deadline)
        if code != 0 or not os.path.exists(record_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"harness exited with {code}", 4)
        with open(record_path) as f:
            rec = json.load(f)
        leaked = du(os.path.join(run_dir, "tmp")) + du(os.path.join(run_dir, "spark-local"))
        if goldens is None:
            wrong, problems = checks.check_pipeline(rec)
        else:
            wrong, problems = checks.check_queries(rec, goldens)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host_after = host_context()

    attempted = len(wrong) if goldens is not None else rec["urls"] * len(wrong)
    failed = sum(wrong)
    e2e, tail_info = metrics.end_to_end(rec, wrong)
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "host": {"before": host_before, "after": host_after,
                       "steal_ticks": host_after.get("steal_ticks", 0)
                       - host_before.get("steal_ticks", 0)},
              "passes": [round(p["wall_s"], 3) for p in rec["passes"]], "calls": len(rec["calls"]),
              "setup_runs_s": rec["setup_s"], "setup_session_s": rec["setup_session_s"],
              **tail_info,
              "slowest_calls": sorted(((round(c["wall_s"], 3), c["name"]) for c in rec["calls"]),
                                      reverse=True)[:12],
              "problems": problems[:20]}
    if a.trace:
        layer = metrics.per_layer(rec, e2e, failed / max(attempted, 1), leaked)
        report["spans"] = metrics.spans_summary(rec)
        report["job_call_sites"] = sorted({j["call_site"] for j in rec.get("jobs", [])})
        values = {k: layer[k] for k in metrics.PER_LAYER}
        units = metrics.PER_LAYER
    else:
        values = e2e
        units = dict(metrics.E2E)
    report["metrics"] = values
    print(json.dumps(report))
    for p in problems[:20]:
        print(f"graftbench: check failed: {p}", file=sys.stderr)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
