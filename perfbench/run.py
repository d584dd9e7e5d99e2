#!/usr/bin/env python3
"""Runs one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload pipeline_queries --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source on first use (sbt,
offline), generates the input tables, runs the harness in one JVM and
prints, as the last line of stdout, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics named in
BENCHMARK.json with --trace 0, the per-layer ones with --trace 1.
The harness's untimed warm pass digests every checked output; this
script compares those digests with perfbench/expected.json, and any
mismatch counts as a failed op (--pin records them there instead).

sbt compiles into the usual target/ directories of the checkout;
everything else it writes lands under .bench_build/. Each run appends
its full result (host facts included) to
.bench_build/results/<workload>.jsonl, which perfbench/diff.py reads.
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

sys.dont_write_bytecode = True  # no __pycache__ beside the sources
import gen_data  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(BENCH, "expected.json")

WORKLOADS = ("pipeline_queries", "store_churn")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src")]
    tops.append(os.path.join(BENCH, "harness"))
    for top in tops:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, log, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build():
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src"))):
        fail("no program sources here (build.sbt and src/ are missing)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found")
    rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export harness/Runtime/fullClasspath"],
                     BUILD_TIMEOUT_S, log, cwd=os.path.join(BENCH, "harness"),
                     env=sbt_env())
    lines = open(log).read().splitlines()
    cp = [x for x in lines if x.startswith("/") and ".jar" in x]
    if rc != 0 or not cp:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def data_dir():
    d = os.path.join(BUILD, "data", f"sf{gen_data.SF}")
    if not os.path.exists(os.path.join(d, "_done")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.write(tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        open(os.path.join(d, "_done"), "w").close()
    return d


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap_gb():
    """The repository's Tier-1 SPARK_DRIVER_MEM rule: half of RAM, 2g..8g."""
    g = mem_total_kb() // 2097152
    return min(8, max(2, g))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return os.environ.get("GIT_COMMIT", "unknown")


def check_digests(workload, got):
    """Compares the warm pass's output digests with the pinned ones.
    Returns (checks made, failures)."""
    want = json.load(open(EXPECTED)).get(workload, {}) if os.path.exists(EXPECTED) else {}
    failures = []
    for k in sorted(set(want) | set(got)):
        if k not in got:
            failures.append(f"{k}: no output in the warm pass")
        elif k not in want:
            failures.append(f"{k}: no pinned digest")
        elif got[k] != want[k]:
            failures.append(f"{k}: digest {got[k]}, expected {want[k]}")
    return len(set(want) | set(got)), failures


def pin_digests(workload, got):
    pinned = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    pinned[workload] = got
    with open(EXPECTED, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this run's warm-pass digests in expected.json")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the checkout root")
    spec = json.load(open(spec_path))
    cp = build()
    data = data_dir()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    heap = heap_gb()
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # the throughput collector, since G1's concurrent threads compete with
    # the nproc task threads; earlier JIT compilation, so the warm pass
    # gets the timed units to steady state (see README, Noise)
    cmd += [f"-Xmx{heap}g", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.3"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", out]
    if a.trace:
        cmd += ["--spans", os.path.join(BUILD, "results", f"{run_id}.spans.json")]
    t0 = time.time()
    log = os.path.join(BUILD, "logs", f"{run_id}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    rc = run_bounded(cmd, JVM_TIMEOUT_S, log, cwd=work)
    if rc != 0 or not os.path.exists(out):
        fail(f"harness failed (exit {rc}); see {log}")
    res = json.load(open(out))
    res["run_s"] = time.time() - t0
    res["host"] = {"nproc": os.cpu_count(), "mem_total_kb": mem_total_kb(),
                   "heap": f"{heap}g", "git_commit": git_commit(),
                   "sf": gen_data.SF}
    res["env"] = {k: v for k, v in sorted(os.environ.items()) if k.startswith("GRAFT_")}
    if a.pin:
        pin_digests(a.workload, res["digests"])
    else:
        checks, bad = check_digests(a.workload, res["digests"])
        res["attempted"] += checks
        res["failures"] += bad
    res["failed"] = len(res["failures"])
    res["correct"] = not res["failures"]
    res["error_rate"] = res["failed"] / res["attempted"]
    results = os.path.join(BUILD, "results", f"{a.workload}.jsonl")
    os.makedirs(os.path.dirname(results), exist_ok=True)
    with open(results, "a") as f:
        f.write(json.dumps(res, sort_keys=True) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    names = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in names:
        if m["name"] in res["metrics"]:
            value = res["metrics"][m["name"]]
        elif a.trace:
            value = 0  # a layer this workload does not touch
        else:
            fail(f"metric {m['name']} missing from the harness result")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    for f in res["failures"][:20]:
        print(f"FAILED {f}")
    print(json.dumps({"correct": res["correct"],
                      "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
