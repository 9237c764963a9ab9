#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_log --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine together
with the benchmark program (`perfbench/build.sbt`, offline sbt) into the
build directory (`$CARGO_TARGET_DIR`, default `.bench_build`) and caches
the classpath there, keyed by a hash of every source file. Each run gets
its own work directory under the build directory and removes it on exit.

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end ones, with `--trace 1` the per-layer ones. Set
`PERFBENCH_RAW=<path>` to keep the run's raw measurements as JSON.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import reduce  # noqa: E402

WORKLOADS = ("bulk_build", "query_log")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {d}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, HERE).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the run."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {cmd[0]} timed out after {timeout}s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def ensure_built(root, build_dir):
    """Compile the engine and the benchmark program once per source state; return
    the runtime classpath."""
    files = source_files(root)
    stamp = source_stamp(files)
    cp_file = os.path.join(build_dir, "classpath.txt")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(build_dir, "stamp.txt")
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as c:
                        return c.read().strip()
        log("building the engine and the benchmark program with sbt (first run only)")
        env = dict(os.environ)
        env["PERFBENCH_TARGET"] = os.path.join(build_dir, "sbt-target")
        env["SPARK_HOME"] = spark_home()
        env.setdefault("COURSIER_MODE", "offline")
        sbt_opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline" not in sbt_opts:
            repos = os.path.expanduser("~/.sbt/repositories")
            extra = " -Dsbt.offline=true"
            if os.path.exists(repos):
                extra += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            env["SBT_OPTS"] = (sbt_opts + extra + " -Xmx2g").strip()
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stdin=subprocess.DEVNULL)
        text = out.decode("utf-8", "replace")
        lines = [ln for ln in text.splitlines() if ln.strip()]
        if code != 0 or not lines or "[error]" in text:
            sys.stderr.write(text[-4000:])
            raise SystemExit("perfbench: build failed")
        classpath = lines[-1].strip()
        train_cds(classpath, build_dir)
        with open(cp_file, "w") as f:
            f.write(classpath)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return classpath


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    candidates = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("perfbench: no Spark installation; set SPARK_HOME")


def train_cds(classpath, build_dir):
    """Dump a class-data-sharing archive from one short query_log run,
    which loads the classes of every layer. Runs start without it if
    this fails."""
    jsa = os.path.join(build_dir, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    work = tempfile.mkdtemp(prefix="cds-", dir=build_dir)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        args = argparse.Namespace(workload="query_log", seed=0, seconds=1, trace=0)
        cmd = java_cmd(classpath, build_dir, work, args)
        cmd.insert(1, f"-XX:ArchiveClassesAtExit={jsa}")
        code, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=sys.stderr,
                            stdin=subprocess.DEVNULL, env=child_env(work))
        if code != 0 and os.path.exists(jsa):
            os.remove(jsa)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def child_env(work):
    # The engine reads GRAFT_* knobs (GRAFT_NO_BMW_ROUTE sends every query
    # down the exact path, GRAFT_COMBINE_MB resizes the index build);
    # strip them so every run measures the default engine.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def java_cmd(classpath, build_dir, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [f"--add-opens={m}=ALL-UNNAMED" for m in JAVA_OPENS]
    # class-data sharing (see train_cds): map the archived classes instead
    # of loading and verifying thousands of Spark classes on every start
    jsa = os.path.join(build_dir, "classes.jsa")
    cds = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    return [java, "-Xmx2g", "-Xms2g", "-XX:+UseParallelGC", *cds, "-Xlog:cds=off",
            "-Xlog:cds+dynamic=off", *opens,
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            work, os.path.join(work, "raw.json")]


def report(raw, trace):
    """Print the run's context lines and return the result object."""
    counts = reduce.sample_counts(raw)
    log(f"workload={raw['workload']} seed={raw['seed']} input_hash={raw['input_hash']}")
    if raw["fingerprint"]:
        log(f"topk_fingerprint={raw['fingerprint']} (first ops of the query log)")
    log("samples " + " ".join(f"{k}={v}" for k, v in sorted(counts.items())))
    loop = [s["ms"] for s in raw["samples"] if s["loop"]]
    tail = reduce.tail_percentile(loop)
    log(f"loop ops={len(loop)}: " + (f"p{tail[0]}={tail[1]:.1f}ms" if tail else
        "no percentile has 10 samples beyond it, so no tail is reported"))
    contended = []
    for what, timings in (("loop ops", reduce.loop_ops(raw)), ("builds", reduce.rate_builds(raw)),
                          ("set-ups", raw["setups"])):
        kept = reduce.uncontended(timings)
        contended.append(f"{what} {len(timings) - len(kept)} of {len(timings)} left out"
                         if len(kept) < len(timings) else
                         f"{what} {sum(t['steal'] > reduce.MAX_STEAL for t in timings)} "
                         f"of {len(timings)} contended, none left out")
    log(f"host steal > {reduce.MAX_STEAL:.0%}: " + "; ".join(contended))
    frac = reduce.failed_frac(raw["attempted"], raw["failed"])
    log(f"attempted={raw['attempted']} failed={raw['failed']} failed_frac={frac:.4f}")
    for e in raw["errors"]:
        log(f"failure: {e}")
    metrics = reduce.per_layer(raw) if trace else reduce.end_to_end(raw)
    return {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # turn SIGTERM into an exception, so the JVM's process group is killed
    # and the work directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = ensure_built(root, build_dir)
    os.makedirs(os.path.join(build_dir, "runs"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(build_dir, "runs"))
    try:
        os.makedirs(os.path.join(work, "tmp"))
        code, _ = run_group(java_cmd(classpath, build_dir, work, args), RUN_TIMEOUT_S,
                            cwd=work, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                            env=child_env(work))
        raw_path = os.path.join(work, "raw.json")
        if not os.path.exists(raw_path):
            raise SystemExit(f"perfbench: benchmark JVM exited with {code} and no result")
        with open(raw_path) as f:
            raw = json.load(f)
        if os.environ.get("PERFBENCH_RAW"):
            shutil.copyfile(raw_path, os.environ["PERFBENCH_RAW"])
        if code != 0 or raw["fatal"]:
            raise SystemExit(f"perfbench: benchmark JVM failed: {raw['fatal'] or code}")
        result = report(raw, args.trace == 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
