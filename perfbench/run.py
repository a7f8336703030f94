#!/usr/bin/env python3
"""Runs one needlespark benchmark workload and prints its result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

The first run builds the engine and the harness from source with sbt
(`perfbench/build.sbt`) and caches the classpath under `.bench_build/`;
later runs rebuild only when a source file is newer than that cache. Each
run is one JVM with a Spark `local[nproc]` session. The JVM writes an
artifact; this script adds the host record (load average, runnable tasks,
core count, seed, commit), keeps the artifact under
`.bench_build/artifacts/`, and prints one JSON object as the last line of
stdout: `correct`, `attempted`, `failed` and `metrics`. With `--trace 0`
the metrics are the end-to-end metrics of `BENCHMARK.json`, with
`--trace 1` its per-layer metrics.
"""

import argparse
import glob
import json
import os
import signal
import subprocess
import sys
import threading
import time

BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "4g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout kills the whole
    group and waits for it. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for root, _, files in os.walk(p):
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(root, f)))
    return newest


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def engine_jvmopts(root):
    """The engine build's own sbt JVM options (its `.jvmopts`), which sbt
    reads only from the directory it starts in, as `-J` arguments."""
    path = os.path.join(root, ".jvmopts")
    if not os.path.isfile(path):
        return []
    with open(path) as f:
        return ["-J" + l.strip() for l in f
                if l.strip() and not l.lstrip().startswith("#")]


def build(root, out):
    """Compiles engine and harness; returns (classpath, jvm options)."""
    cache = os.path.join(out, "classpath.json")
    sources = [os.path.join(root, p) for p in
               ("build.sbt", ".jvmopts", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project",
                "perfbench/src/main")]
    if os.path.isfile(cache) and os.path.getmtime(cache) >= newest_mtime(sources):
        with open(cache) as f:
            c = json.load(f)
        return c["classpath"], c["java_options"]
    log_path = os.path.join(out, "build.log")
    launch = os.path.join(root, "perfbench", "target", "launch.txt")
    if os.path.exists(launch):
        os.remove(launch)
    with open(log_path, "w") as log:
        code = run_group(
            ["sbt", *engine_jvmopts(root), "--batch",
             "-Dsbt.log.noformat=true", "launchFile"],
            BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
            env=sbt_env(), stdout=log, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.isfile(launch):
        fail(f"build failed, see {log_path}")
    with open(launch) as f:
        lines = [l.strip() for l in f if l.strip()]
    c = {"classpath": lines[0], "java_options": lines[1:]}
    with open(cache, "w") as f:
        json.dump(c, f)
    return c["classpath"], c["java_options"]


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class HostSampler(threading.Thread):
    """Samples /proc/loadavg and runnable tasks while the run lasts."""

    def __init__(self):
        super().__init__(daemon=True)
        self.stop = threading.Event()
        self.load_start = self.loadavg()
        self.load_max = self.load_start
        self.runnable_max = 0
        self.jiffies_start = cpu_jiffies()

    @staticmethod
    def loadavg():
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])

    @staticmethod
    def runnable():
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("procs_running"):
                    return int(line.split()[1])
        return 0

    def run(self):
        while not self.stop.wait(0.25):
            self.load_max = max(self.load_max, self.loadavg())
            self.runnable_max = max(self.runnable_max, self.runnable())


def commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return os.environ.get("PERFBENCH_COMMIT", "unknown")


def overhead(art_dir, artifact):
    """Traced minus untraced end-to-end values, gated or not, against the
    latest untraced artifact of the same workload and seed."""
    pattern = os.path.join(
        art_dir, f"{artifact['workload']}-s{artifact['seed']}-t0-*.json")
    runs = sorted(glob.glob(pattern))
    if not runs:
        return None
    with open(runs[-1]) as f:
        base = json.load(f)["end_to_end"]
    traced = artifact["end_to_end"]
    return {k: v - base[k] for k, v in traced.items() if k in base}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own planted-fault tests")
    args = ap.parse_args()

    root = os.getcwd()
    if args.selftest:
        code = run_group(["sbt", *engine_jvmopts(root), "--batch", "test"],
                         BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                         env=sbt_env())
        sys.exit(1 if code is None else code)
    if None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the root of a checkout (BENCHMARK.json missing)")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are missing")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")

    out = os.path.join(root, ".bench_build")
    art_dir = os.path.join(out, "artifacts")
    work = os.path.join(out, "work")
    tmp = os.path.join(out, "tmp")
    for d in (out, art_dir, work, tmp):
        os.makedirs(d, exist_ok=True)
    classpath, java_opts = build(root, out)

    cpus = str(len(os.sched_getaffinity(0)))
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}"
    jvm_out = os.path.join(tmp, name + ".json")
    cmd = (["java"] + java_opts +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", jvm_out])
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    sampler = HostSampler()
    sampler.start()
    log_path = os.path.join(art_dir, name + ".log")
    with open(log_path, "w") as log:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=log,
                         stderr=subprocess.STDOUT)
    sampler.stop.set()
    sampler.join()
    steal1, total1 = cpu_jiffies()
    steal0, total0 = sampler.jiffies_start
    if code != 0 or not os.path.isfile(jvm_out):
        fail(f"run failed (exit {code}), see {log_path}")
    with open(jvm_out) as f:
        artifact = json.load(f)
    os.remove(jvm_out)

    artifact["host"] = {
        "loadavg_start": sampler.load_start, "loadavg_max": sampler.load_max,
        "runnable_max": sampler.runnable_max, "nproc": int(cpus),
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "commit": commit(root), "seed": args.seed,
        "command": sys.argv}
    if args.trace:
        artifact["tracing_overhead"] = overhead(art_dir, artifact)
        names, values = spec["per_layer"], artifact["per_layer"]
    else:
        names, values = spec["end_to_end"], artifact["end_to_end"]
    # every run reports every metric: a traced run's own layers and the
    # traced end-to-end values must all be there; only the other
    # workloads' layers read 0
    own = set(artifact["layer_names"]) | {
        "traced." + m["name"] for m in spec["end_to_end"]}
    metrics = {}
    for m in names:
        v = values.get(m["name"])
        if v is None and args.trace and m["name"] not in own:
            v = 0.0
        if v is None:
            fail(f"metric {m['name']} missing, see {log_path}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    oc = artifact["outcomes"]
    result = {"correct": oc["error"] + oc["wrong"] == 0,
              "attempted": oc["attempted"],
              "failed": oc["error"] + oc["wrong"],
              "metrics": metrics}
    artifact["result"] = result
    with open(os.path.join(art_dir, name + ".json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
