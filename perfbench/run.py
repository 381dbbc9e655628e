#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness (`perfbench/build.sbt`) into `.bench_build`; later runs reuse the
build while no source changed. Each run generates its inputs from the seed
under `.bench_work`, drives the engine closed-loop for S seconds through
the JVM harness, checks every output, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are BENCHMARK.json's end-to-end list; with
`--trace 1` they are its per-layer list, and spans go to
`.bench_work/spans/`. Any correctness mismatch exits with status 1.
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
sys.dont_write_bytecode = True

DEADLINE_S = 170.0
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed engine rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(bdir):
    os.makedirs(bdir, exist_ok=True)
    stamp_file, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    log(f"build done in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, work, seconds, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "-cp", cp, "perfbench.BenchMain", "--workload", workload, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.DEVNULL,
                         stderr=subprocess.PIPE, text=True)
    try:
        _, err = p.communicate(timeout=max(5.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("engine run did not finish in time")
    if p.returncode != 0:
        sys.stderr.write("\n".join(l for l in err.splitlines()
                                   if "WARN" not in l and "INFO" not in l)[-6000:] + "\n")
        fail(f"engine run exited with status {p.returncode}")
    with open(os.path.join(work, "jvm.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(spec_path)):
        fail("no engine sources next to the benchmark: run from a full checkout")
    spec = json.load(open(spec_path))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    import check
    import gen

    bdir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(bdir)
    deadline = time.time() + DEADLINE_S

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        plan, expect, stats = gen.generate(a.workload, a.seed, work)
        generate_s = time.time() - t0
        with open(os.path.join(work, "plan.json"), "w") as f:
            json.dump(plan, f)
        t0 = time.time()
        jvm = run_jvm(cp, a.workload, work, a.seconds, a.trace, deadline)
        jvm_s = time.time() - t0
        t0 = time.time()
        res = check.check(a.workload, expect, jvm)
        check_s = time.time() - t0
        attempted = res.attempted
        failed = res.failed
        labels = jvm["labels"]
        log(f"{a.workload} seed={a.seed} cores={labels['cores']} "
            f"loadavg={labels['loadavg_start']:.2f}->{labels['loadavg_end']:.2f} "
            f"calib={labels['calib_ratio']:.3f} rounds={jvm['rounds']} "
            f"traced_rounds={jvm['traced_rounds']} ops={attempted} failed={failed} "
            f"generate_s={generate_s:.2f} input_files={stats['input_files']} "
            f"input_rows={stats['input_rows']} input_bytes={stats['input_bytes']}")
        ph = jvm["phases"]
        log(f"phases: generate {generate_s:.1f} s, jvm {jvm_s:.1f} s (calib {ph['calib_s']:.1f}, "
            f"session {ph['session_s']:.1f}, set-up {' + '.join(f'{x:.1f}' for x in ph['setup_walls'])}, "
            f"timed {ph['timed_s']:.1f}), check {check_s:.1f} s")
        for n in res.notes[:20]:
            log("MISMATCH " + n)
        if a.trace:
            values = dict(jvm["layers"])
            values["bench.generate_s"] = generate_s
            values["run.failed_ratio"] = failed / max(1, attempted)
            wanted = spec["per_layer"]
            spans_dir = os.path.join(base, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            src = os.path.join(work, "spans.jsonl")
            if os.path.exists(src):
                shutil.copy(src, os.path.join(spans_dir, f"{a.workload}-s{a.seed}.jsonl"))
        else:
            values = jvm["metrics"]
            wanted = spec["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            fail(f"metrics not produced: {missing}")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        for m in wanted:
            log(f"  {m['name']} = {values[m['name']]:.6g} {m['unit']}")
        log(f"{attempted} operations checked over {jvm['rounds']} timed rounds; "
            f"wall {time.time() - started:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
