#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 22 --trace 0

Workloads: medallion, corpus_release (see perfbench/README.md).
The first run builds the program and the benchmark with sbt (offline);
later runs reuse the build while the sources are unchanged. Everything
the run writes stays under perfbench/work/ and the sbt target dirs.
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
WORK = os.path.join(HERE, "work")
WORKLOADS = ("medallion", "corpus_release")

# Spark on JDK 17 outside spark-submit needs these (the program's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def program_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(HERE, "build.sbt")))


def fingerprint():
    """Hash of every build input: sources and build definitions."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, f) for f in names]
    # build definitions: the build files and the top level of project/
    # (sbt writes its own state into project/target and project/project)
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if os.path.isfile(os.path.join(proj, f))]
    for p in sorted(files):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(timeout):
    """Compiles program + benchmark when their sources changed.

    Returns the runtime classpath and whether this call built.
    """
    stamp = os.path.join(WORK, "build.json")
    fp = fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("fingerprint") == fp and all(
                os.path.exists(p) for p in b["classpath"].split(os.pathsep)):
            return b["classpath"], False
    log("building program and benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime / fullClasspath"],
        cwd=HERE, env=sbt_env(), capture_output=True, text=True,
        timeout=timeout)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("build failed")
    cp = [ln for ln in p.stdout.splitlines()
          if ln and not ln.startswith("[") and os.pathsep in ln]
    if not cp:
        raise SystemExit("build printed no classpath")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1], True


def driver_mem():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"] for m in b["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not program_present():
        log("the program's sources are not here; nothing to benchmark")
        return 2

    classpath, built_now = build(timeout=780)
    deadline = t_start + (880 if built_now else 172)

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    # -XX:MaxHeapFreeRatio=100: the full GC the benchmark runs before
    # every unit would otherwise shrink the heap each time, and each unit
    # would pay for growing it back (G1 then starts a concurrent cycle on
    # nearly every humongous allocation).
    cmd = (["java", f"-Xmx{driver_mem()}", "-XX:MaxHeapFreeRatio=100"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dlog4j2.configurationFile="
              + os.path.join(HERE, "log4j2.properties"),
              "-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--cores", str(cores)])
    sys.path.insert(0, HERE)
    import checks
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        reference = None
        if args.workload == "corpus_release":
            # the DuckDB reference runs while the JVM warms up; the JVM
            # waits for oracle.done before its first measured unit
            ready = os.path.join(work, "corpus.ready")
            while not os.path.exists(ready) and proc.poll() is None \
                    and time.time() < deadline:
                time.sleep(0.1)
            if os.path.exists(ready):
                with open(ready) as f, open(os.path.join(work, "oracle.sql")) as g:
                    reference = checks.oracle_manifest(f.read(), g.read())
                open(os.path.join(work, "oracle.done"), "w").close()
        rc = proc.wait(timeout=max(10, deadline - time.time() - 5))
    except subprocess.TimeoutExpired:
        log("benchmark JVM ran past its time budget")
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not os.path.isfile(out):
        log(f"benchmark JVM failed (rc={rc})")
        return 4
    with open(out) as f:
        res = json.load(f)

    attempted, failed = int(res["attempted"]), int(res["failed"])
    failures = list(res["failures"])
    if args.workload == "corpus_release":
        bad = checks.check_manifests(res["checks"]["manifests"], reference)
        failed += len(bad)
        failures += bad
    failed = min(failed, attempted)
    for f in failures:
        log(f"FAILED {f}")

    metrics = res["metrics"]
    want = declared_metrics(args.trace == 1)
    if set(metrics) != want:
        log(f"metric set differs from BENCHMARK.json: {sorted(set(metrics) ^ want)}")
        return 5
    shutil.rmtree(os.path.join(work, "inputs"), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
