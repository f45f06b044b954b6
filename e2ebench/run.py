#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: the feed pipeline and a query mix.

Usage (from the root of a checkout):

    python3 e2ebench/run.py --workload feed --seed 1 --seconds 20 --trace 0

The first run builds the engine and the workload code from source with
sbt into .bench_build/e2ebench; later runs reuse that build while the
sources are unchanged. Each run starts one JVM with a fixed heap, keeps
every scratch file under one temp root inside .bench_build, deletes it at
exit, and prints one JSON line last: correct, attempted, failed and the
metrics BENCHMARK.json names (end_to_end with --trace 0, per_layer with
--trace 1). RATIONALE.md explains the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "e2ebench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.01")
HEAP = "3g"
WORKLOADS = ("feed", "query_mix")
# What spark-submit would pass on JDK 17 (the root build.sbt's list).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    h = hashlib.md5()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java", ".properties"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamped build matches the sources;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def cpu_ticks():
    """(steal, total) jiffies of all cpus, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def check_hashes(results_dir):
    """query_mix: compare each written result with the committed DuckDB
    oracle fingerprint. Returns the names that do not match."""
    import oracle
    with open(os.path.join(HERE, "oracle_hashes.json")) as f:
        want = json.load(f)
    bad = []
    for name, w in sorted(want.items()):
        try:
            got = oracle.parquet_fingerprint(os.path.join(results_dir, name))
        except Exception as e:  # missing or unreadable result
            got = {"error": str(e)[:200]}
        if got != w:
            print(f"e2ebench: {name} does not match its oracle: {json.dumps(got)[:300]}", file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    classpath = build()

    tmp_parent = os.path.join(ROOT, ".bench_build")
    os.makedirs(tmp_parent, exist_ok=True)
    run_root = tempfile.mkdtemp(prefix="run-", dir=tmp_parent)
    os.makedirs(os.path.join(run_root, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_root}/tmp", "-cp", classpath, "e2ebench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--root", run_root, "--data", DATA]
    proc = None
    steal0, total0 = cpu_ticks()
    try:
        with open(os.path.join(run_root, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            out, _ = proc.communicate(timeout=a.seconds + 150)
        lines = [l for l in out.splitlines() if l.startswith("E2EBENCH_RESULT ")]
        if proc.returncode != 0 or not lines:
            with open(os.path.join(run_root, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"workload JVM exited with {proc.returncode}")
        res = json.loads(lines[-1][len("E2EBENCH_RESULT "):])
        failed, correct = res["failed"], res["correct"]
        if a.workload == "query_mix":
            sys.path.insert(0, HERE)
            bad = check_hashes(os.path.join(run_root, "results"))
            failed += len(bad)
            correct = correct and not bad
        for n in res["notes"]:
            print(f"e2ebench: {n}", file=sys.stderr)
        # CPU time the host took from this machine while the run ran; a
        # run with high steal is slow for reasons outside the program.
        steal1, total1 = cpu_ticks()
        print(f"e2ebench: cpu steal {100 * (steal1 - steal0) / max(1, total1 - total0):.1f}%",
              file=sys.stderr)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        # The last run's JVM log per workload stays for diagnosis.
        if os.path.exists(os.path.join(run_root, "jvm.log")):
            shutil.copy(os.path.join(run_root, "jvm.log"), os.path.join(BUILD, f"last-{a.workload}.log"))
        shutil.rmtree(run_root, ignore_errors=True)

    got = res["layers" if a.trace else "e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"metrics not reported: {missing}")
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
