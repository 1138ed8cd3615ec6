#!/usr/bin/env python3
"""News-path benchmark entry point.

    python3 newsbench/run.py --workload ingest|serve|refresh --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds: it compiles the
engine's sources together with the benchmark (sbt, offline) and records
the classpath; later runs reuse it while the sources are unchanged. Each
run is one JVM running `newsbench.Main` under `local[nproc]` Spark.

--trace 0 runs one untraced pass and prints the end-to-end metrics.
--trace 1 runs two passes in that JVM: at nproc cores a warm-up op, then
untraced and traced windows on the same stores; then an untraced pass at
one core. It prints the per-layer metrics of the traced window plus the
tracing overhead and the speed-up over one core, and writes the spans to
.bench_build/out/. The last stdout line is always the JSON result.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "serve", "refresh")

# The end-to-end metrics every workload reports (BENCHMARK.json end_to_end).
E2E = ["setup_s", "op_ms.p50", "work_per_s", "store_mb"]

# The calls the two BENCHMARK.json workloads make; refresh's own calls are
# in its result file only.
CALLS = ["pipelines.admission", "streaming.st4_batch", "serve.recs_lookup",
         "serve.story_lookup", "pipelines.hybrid_search", "sources.upsert"]
CALL_MEASURES = [("jobs", "count", "lower"), ("stages", "count", "lower"),
                 ("tasks", "count", "lower"), ("task_s", "s", "lower"),
                 ("cpu_s", "s", "lower"), ("gc_s", "s", "lower"),
                 ("sched_delay_s", "s", "lower"), ("shuffle_mb", "MB", "lower"),
                 ("spill_mb", "MB", "lower"), ("input_mb", "MB", "lower"),
                 ("output_mb", "MB", "lower"), ("self_s", "s", "lower")]
STORES = ["admission", "articles", "stories", "recs", "hybrid"]
KERNELS = ["hash_embed", "fingerprint", "entities", "cosine_sim", "vector_mean"]

# The per-layer metrics (BENCHMARK.json per_layer): name, unit, better.
PER_LAYER = (
    [(f"{c}.{m}", u, b) for c in CALLS for m, u, b in CALL_MEASURES]
    + [("pipelines.admission.admitted_frac", "ratio", "higher"),
       ("pipelines.admission.jobs_slope", "count", "lower"),
       ("pipelines.admission.input_mb_slope", "MB", "lower"),
       ("streaming.st4.candidate_frac", "ratio", "lower"),
       ("streaming.st4.file_frac", "ratio", "lower"),
       ("streaming.progress.add_batch_ms", "ms", "lower"),
       ("streaming.progress.wal_commit_ms", "ms", "lower"),
       ("serve.recs_lookup.files_frac", "ratio", "lower"),
       ("serve.recs_lookup.input_kb", "KB", "lower"),
       ("serve.story_lookup.files_frac", "ratio", "lower"),
       ("serve.story_lookup.input_kb", "KB", "lower")]
    + [(f"sources.{s}.{m}", u, "lower") for s in STORES for m, u in (("files", "count"), ("mb", "MB"))]
    + [(f"functions.{k}.rows_per_s", "1/s", "higher") for k in KERNELS]
    + [("speedup_vs_1core", "ratio", "higher"), ("trace_overhead", "ratio", "lower")]
)

# Per-layer metrics of the calls and stores a workload never touches: they
# did no work and read 0. A run missing any other per-layer metric fails.
UNTOUCHED = {
    "ingest": ("serve.", "pipelines.hybrid_search.", "sources.upsert.", "sources.recs.",
               "sources.hybrid."),
    "serve": ("pipelines.admission.", "streaming.", "sources.admission.", "sources.articles."),
    "refresh": ("pipelines.admission.", "streaming.", "serve.", "pipelines.hybrid_search.",
                "sources.admission.", "sources.articles.", "sources.stories.", "sources.hybrid."),
}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"newsbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt when the sources changed since the last build;
    return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = os.path.join(HERE, "target", "build.stamp")
    want = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get("SBT_OPTS",
               f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
               "-Dsbt.offline=true -Xmx3g"))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         HERE, env, out, subprocess.STDOUT, deadline - time.time())
    if code != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    cp = open(cp_file).read().strip()
    with open(stamp, "w") as fh:
        fh.write(want)
    return cp


def jvm(cp, work):
    """The java command line up to the main class."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "newsbench.Main"])


def run_group(cmd, cwd, env, stdout, stderr, timeout):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        for s, h in previous.items():
            signal.signal(s, h)


def java_run(cp, args, deadline, trace_out):
    """One JVM running newsbench.Main; returns its JSON result."""
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (jvm(cp, work)
           + ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work]
           + (["--trace-out", trace_out] if trace_out else []))
    out_path, err_path = os.path.join(work, "stdout"), os.path.join(BUILD, "last.stderr")
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            code = run_group(cmd, ROOT, os.environ, out, err, deadline - time.time())
        lines = open(out_path).read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(open(err_path).read()[-4000:])
        fail(f"run exited {code} without a result; stderr in {err_path}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft — run from a full checkout")
    # 900 s covers a cold build on the first run; a built run ends well
    # inside 180 s.
    cp = build(start + 840)
    deadline = time.time() + 170
    os.chdir(ROOT)
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}_s{args.seed}_t{args.trace}"
    res = java_run(cp, args, deadline,
                   os.path.join(out_dir, f"trace_{stem}.json") if args.trace else None)
    with open(os.path.join(out_dir, f"result_{stem}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    if args.trace == 0:
        missing = [k for k in E2E if res["e2e"].get(k, {}).get("value") is None]
        if missing:
            fail(f"{args.workload} reported no {', '.join(missing)}")
        metrics = {k: {"value": res["e2e"][k]["value"], "unit": res["e2e"][k]["unit"]} for k in E2E}
    else:
        layer, untouched = res["layer"], UNTOUCHED[args.workload]
        missing = [n for n, _, _ in PER_LAYER if not n.startswith(untouched)
                   and (layer.get(n) or {}).get("value") is None]
        if missing:
            fail(f"{args.workload} reported no {', '.join(missing)}")
        metrics = {n: {"value": 0.0 if n.startswith(untouched) else layer[n]["value"], "unit": u}
                   for n, u, _ in PER_LAYER}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
