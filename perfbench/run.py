#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload query_short --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The first run builds the engine and
the harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Each run starts one fresh JVM (perfbench.Harness)
with one sequential client, then turns its raw records into metrics here.
The last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
attaches Spark's listeners and reports the per-layer ones. See README.md.
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
import analysis as an  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
HEAP = "3g"  # fixed (-Xms = -Xmx), so heap resizing adds no noise
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest, home):
    """Compiles engine + harness unless the sources match the last build."""
    stamp = os.path.join(BUILD_DIR, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building (sbt compile)")
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        sys.exit(f"perfbench: build failed, see {os.path.join(BUILD_DIR, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)


def pass_counts(spec, seconds):
    """Passes per phase. The main phase runs a cold pass plus as many warm
    passes as fit `seconds` at the workload's typical warm-pass time (at
    least two), so that a given --seconds always yields the same number of
    samples; a query workload's trailing rebalance runs two passes."""
    warm = max(2, round(seconds / spec["warm_pass_s"]))
    if spec.get("queries"):
        return {"query-passes": 1 + warm, "rebalance-passes": 2}
    return {"rebalance-passes": 1 + warm}


def harness_args(spec, args, workdir):
    out = {
        "workdir": workdir, "seed": args.seed, "trace": args.trace,
        "out": os.path.join(workdir, "records.jsonl"),
        "setup-reps": spec["setup_reps"],
    }
    out.update(pass_counts(spec, args.seconds))
    if spec.get("queries"):
        # query workloads read, and then rebalance, the fixture catalog
        out["queries"] = ",".join(spec["queries"])
        out["fixtures"] = FIXTURES
    return [x for k, v in out.items() for x in (f"--{k}", str(v))]


def run_harness(spec, args, home, deadline):
    workdir = os.path.join(BUILD_DIR, "runs", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={workdir}/tmp",
              "-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"),
              "perfbench.Harness"] + harness_args(spec, args, workdir))
    with open(os.path.join(workdir, "harness.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=workdir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("perfbench: harness exceeded the run's time limit")
    path = os.path.join(workdir, "records.jsonl")
    if not os.path.exists(path):
        sys.exit(f"perfbench: harness exited {rc} without records, see {workdir}/harness.log")
    with open(path) as f:
        recs = [json.loads(line) for line in f]
    for d in ("warehouse", "local", "tmp", "graft"):
        shutil.rmtree(os.path.join(workdir, d), ignore_errors=True)
    return rc, recs, workdir


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    load_start = os.getloadavg()[0]

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the root of a source checkout (no src/main/scala/graft)")
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    if args.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {args.workload}; one of {', '.join(workloads)}")
    spec = workloads[args.workload]
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    os.makedirs(BUILD_DIR, exist_ok=True)
    home = spark_home()
    digest = source_digest()
    build(digest, home)
    build_s = time.time() - started

    rc, recs, workdir = run_harness(spec, args, home, started + RUN_LIMIT_S + build_s)
    run = an.Run(recs)
    results = an.checks(run, spec, expected.get(args.workload, {}))
    failed = [what for what, ok in results if not ok]
    correct = rc == 0 and not failed
    env = run.one("env")
    seeded = {s["name"]: s["bytes"] for s in run.of("seeded")}
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "git_commit": git_commit(), "source_sha256": digest,
        "nproc": env.get("nproc"), "heap": f"-Xms{HEAP} -Xmx{HEAP}",
        "max_heap_mb": env.get("max_heap_mb"),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
        "build_s": round(build_s, 3),
        "tables_in": {t["name"]: {"rows": t["rows"], "bytes": seeded.get(t["name"])}
                      for t in run.of("table_in")},
        "key_skew": an.key_skew(run),
        "records": os.path.relpath(workdir, ROOT),
    }
    print(json.dumps({"context": context}))
    for what in failed:
        print(json.dumps({"failed_check": what}))
    with open(os.path.join(workdir, "spans.jsonl"), "w") as f:
        for s in an.spans(run):
            f.write(json.dumps(s) + "\n")
    values = {}
    if correct and args.trace:
        values = an.per_layer(run, spec)
    elif correct:
        values, info = an.end_to_end(run, spec)
        print(json.dumps({"percentiles": info}))
    else:
        log(f"{len(failed)} check(s) failed; see {workdir}/harness.log")
    names = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": correct, "attempted": len(results),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
