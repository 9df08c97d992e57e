#!/usr/bin/env python3
"""graft benchmark: one run of one workload (see perfbench/README.md).

    python3 perfbench/run.py --workload backtest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt; later runs reuse the build while the sources are
unchanged. Each run starts fresh JVMs on a fresh, empty artifact store.
The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

    python3 perfbench/run.py --mint

re-mints perfbench/references.tsv (row count and content digest of every
query) from the current program.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.001")
REFFIX = os.path.join(ROOT, "src", "test", "resources", "reffix")
REFS = os.path.join(HERE, "references.tsv")
WORKLOADS = ("backtest", "lifecycle")          # timed mixes
FAMILIES = ("backtest", "corpus", "lifecycle")  # the query partition
# One run, build excluded, must end within 180 s; a first run that also
# builds, within 900 s.
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 700

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "latency_p50_s": "s",
    "latency_p90_s": "s", "heap_retained_mb": "MiB",
    "disk_amplification": "ratio",
}
PER_LAYER = {
    "session.start_s": "s", "tables.warm_s": "s", "tables.input_bytes": "B",
    "artifacts.wall_s": "s", "artifacts.build_s": "s",
    "artifacts.jobs": "count", "artifacts.task_s": "s",
    "artifacts.bytes_written": "B", "artifacts.files": "count",
    "artifacts.groups": "count", "artifacts.failed": "count",
    "artifacts.warmup_bytes_written": "B",
    "artifacts.timed_bytes_written": "B",
    "sinks.manifest_generations": "count", "sinks.bytes": "B",
    "sinks.files": "count", "warmup.s": "s",
    "construct.s": "s/pass", "construct.jobs": "count/pass",
    "plan.s": "s/pass", "codegen.compile_s": "s", "codegen.classes": "count",
    "codegen.timed_compile_s": "s/pass", "exec.s": "s/pass",
    "exec.task_s": "s/pass", "exec.core_busy": "ratio",
    "exec.jobs": "count/pass", "exec.stages": "count/pass",
    "exec.tasks": "count/pass", "exec.task_failures": "count/pass",
    "exec.input_bytes": "B/pass", "exec.shuffle_write_bytes": "B/pass",
    "exec.shuffle_read_bytes": "B/pass", "exec.spill_bytes": "B/pass",
    "exec.gc_s": "s/pass", "jvm.gc_s": "s", "jvm.heap_peak_mb": "MiB",
    "trace.setup_s": "s", "trace.pass_s": "s",
    "trace.query_split_err_max": "ratio", "trace.setup_split_err": "ratio",
}

# Inputs the program needs in the checkout, beside the benchmark's own.
PROGRAM_FILES = ("build.sbt", "project/build.properties",
                 "src/main/scala/graft/SparkEntry.scala", "src/test/resources/reffix")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads: the build stamp and the
    source identity recorded with each result."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main"]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} timed out after {timeout:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode


def build(digest):
    """sbt build of the program and harness, skipped while the sources are
    unchanged. Returns (classpath, jvm options)."""
    stamp = os.path.join(WORK, "build.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    if not (os.path.exists(stamp) and os.path.exists(launch)
            and open(stamp).read() == digest):
        os.makedirs(WORK, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        with open(os.path.join(WORK, "build.log"), "w") as log:
            rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.autostart=false",
                              "perfbench/launchFile"],
                             BUILD_BUDGET_S, cwd=HERE, env=env,
                             stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(launch):
            die(f"build failed (see {os.path.relpath(log.name, ROOT)})")
        with open(stamp, "w") as fh:
            fh.write(digest)
    with open(launch) as fh:
        lines = fh.read().splitlines()
    return lines[0], lines[1:]


def heap_gb():
    """The deployment heap: half the host's memory, 2 to 8 GiB."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return min(8, max(2, total // (2 << 30)))


def harness(cp, opts, args, deadline, tag):
    """One fresh JVM on a fresh, empty artifact store."""
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    store, local, tmp = (os.path.join(run_dir, d) for d in ("store", "local", "tmp"))
    for d in (store, local, tmp):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", cp, "graft.perfbench.Harness",
            "--data", DATA, "--inputs", f"{DATA},{REFFIX}",
            "--store", store, "--local-dir", local, "--out", out] + args)
    env = dict(os.environ, SPARK_GRAFT_ARTIFACT_DIR=store)
    with open(os.path.join(WORK, f"harness-{tag}.log"), "w") as log:
        rc = run_bounded(cmd, deadline - time.time(), cwd=ROOT, env=env,
                         stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out):
        die(f"harness exited with {rc} (see {os.path.relpath(log.name, ROOT)})")
    with open(out) as fh:
        res = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def git_commit():
    # Only the checkout's own repository: git would otherwise search the
    # directories above it.
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def mint(cp, opts):
    lines = []
    for w in FAMILIES:
        path = os.path.join(WORK, f"refs-{w}.tsv")
        harness(cp, opts, ["--workload", w, "--seed", "0", "--seconds", "0",
                           "--trace", "0", "--mint", path],
                time.time() + 900, f"mint-{w}")
        with open(path) as fh:
            lines += fh.read().splitlines()
    with open(REFS, "w") as fh:
        fh.write("# query\trows\tdigest (perfbench/run.py --mint)\n")
        fh.write("\n".join(sorted(lines)) + "\n")
    print(f"minted {len(lines)} references into {os.path.relpath(REFS, ROOT)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mint", action="store_true")
    a = ap.parse_args()
    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        die(f"not a graft checkout (missing {', '.join(missing)})")
    if not a.mint and not a.workload:
        ap.error("--workload is required")

    digest = source_digest()
    cp, opts = build(digest)
    if a.mint:
        return mint(cp, opts)

    start = time.time()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--refs", REFS,
            "--trace", str(a.trace), "--seconds", str(a.seconds)]
    if a.trace:
        args += ["--trace-out", os.path.join(WORK, f"trace-{a.workload}-seed{a.seed}.json")]
    res = harness(cp, opts, args, start + RUN_BUDGET_S, a.workload)

    m = res["metrics"]
    if a.trace:
        m["trace.setup_s"], m["trace.pass_s"] = m["setup_s"], m["pass_s"]
    attempted, failed = res["attempted"], res["failed"]
    invalid, failures = res["invalid"], res["failures"]
    wanted = PER_LAYER if a.trace else END_TO_END
    metrics = {k: {"value": m[k], "unit": u} for k, u in wanted.items()}

    record = {
        "identity": dict(res["identity"], commit=git_commit(),
                         source_sha256=digest, heap_gb=heap_gb(),
                         seconds=a.seconds),
        "attempted": attempted, "failed": failed, "invalid": invalid,
        "failures": failures, "passes": res["passes"],
        "pass_walls": res["pass_walls"], "metrics": m,
        "wall_s": time.time() - start, "per_query": res["per_query"],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    rpath = os.path.join(WORK, "results",
                         f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(rpath, "w") as fh:
        json.dump(record, fh, indent=1)
    for f in failures[:20]:
        print(f"FAILED {f}")
    for x in invalid:
        print(f"INVALID {x}")
    print(json.dumps({"identity": record["identity"], "detail": os.path.relpath(rpath, ROOT)}))
    print(json.dumps({"correct": failed == 0 and not invalid,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
