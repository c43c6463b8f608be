#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: etl_totesys, gates_llm (see BENCHMARK.json).
The first run in a checkout builds the program and the benchmark with sbt
(offline); later runs reuse the build while the sources are unchanged.
The full artifact (environment stamp, per-op detail, spans) is written to
perfbench/out/<workload>-seed<n>-trace<t>.json.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("etl_totesys", "gates_llm")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit (the program's build.sbt sets the same).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild: the build definitions
    and all sources, main and test, of the program and the benchmark."""
    picks = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            picks += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for top in (os.path.join(ROOT, "src"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            picks += [os.path.join(d, f) for f in fs]
    return sorted(p for p in picks if os.path.isfile(p))


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def jar_signature(cp):
    """Name, size and mtime of every jar in each directory the classpath
    takes a jar from, so an added, removed or replaced library jar (the
    program's unmanaged lib directory included) forces a rebuild."""
    h = hashlib.sha256()
    for d in sorted({os.path.dirname(p) for p in cp.split(os.pathsep) if p.endswith(".jar")}):
        if os.path.isdir(d):
            for f in sorted(os.listdir(d)):
                if f.endswith(".jar"):
                    st = os.stat(os.path.join(d, f))
                    h.update(f"{d}/{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "").split()
    opts += ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and not any("sbt.repository.config" in o for o in opts):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(stamp):
    """Classpath of the built benchmark, building it first unless the last
    build in this checkout was of the same sources and jars. The class
    directories are shared by every build, so only the last one's
    classpath is ever reused."""
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            last = json.load(f)
        cp = last["classpath"]
        if (last["stamp"] == stamp and last["jars"] == jar_signature(cp)
                and all(os.path.exists(p) for p in cp.split(os.pathsep))):
            return cp
        os.remove(cp_file)
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("sbt build timed out", 3)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        die(f"sbt build failed (exit {r.returncode})", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "jars": jar_signature(cp), "classpath": cp}, f)
    return cp


def commit_id(stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"src-{stamp}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="artifact path (default perfbench/out/...)")
    ap.add_argument("--record-goldens", action="store_true",
                    help="re-fingerprint every gate into perfbench/goldens/sf0.01.json")
    ap.add_argument("--profile-gates", metavar="FILE",
                    help="time every gate of the family gates_llm samples; write JSON to FILE")
    a = ap.parse_args()
    if not (a.record_goldens or a.profile_gates) and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no program sources next to the benchmark (expected build.sbt and src/main/scala in {ROOT})")

    stamp = source_hash()
    cp = classpath(stamp)
    java = ["java"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    java += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", "-cp", cp, "perfbench.Main",
             "--root", ROOT]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    if a.record_goldens:
        sys.exit(subprocess.run(java + ["--record-goldens",
                                        os.path.join(HERE, "goldens", "sf0.01.json")]).returncode)
    if a.profile_gates:
        sys.exit(subprocess.run(java + ["--profile-gates", os.path.abspath(a.profile_gates)]).returncode)

    out = a.out or os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = java + ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--commit", commit_id(stamp), "--out", out,
                  "--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 4)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(stdout)
        die(f"benchmark process exited with {proc.returncode}", proc.returncode or 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result line: {lines[-1][:200]}", 5)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
