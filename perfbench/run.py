#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload lake_cdc --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout of the repository. The first run builds the
program and the benchmark from source with sbt (offline) and caches the
classpath under .bench_build/, then records a class-data-sharing archive there
in an untimed training run of every workload; later runs rebuild only when a
source changed.
Scratch tables, checkpoints, per-run detail and traces go under .bench_work/,
which is cleared when a run starts.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
# class-data-sharing archive of the classes the workloads load: recorded by
# an untimed training run of every workload at the end of a build, mapped by
# every run, so JVM start and the first Spark calls skip most class loading
# and verification, the same way whichever workload runs first
JSA = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("medallion_refresh", "lake_cdc", "stream_cdc")
RUN_LIMIT_S = 170
TRAIN_LIMIT_S = 400

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    out = [os.path.join(ROOT, "build.sbt"),
           os.path.abspath(__file__),
           os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "project"),):
        out += [os.path.join(base, f) for f in sorted(os.listdir(base))
                if f.endswith((".sbt", ".properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(fs)]
    return out


def stamp():
    h = hashlib.sha256(ROOT.encode())
    for p in source_files():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    want = stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    print("[perfbench] building program and benchmark (sbt)", file=sys.stderr)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (sbt exit {r.returncode})")
    lines = [l for l in r.stdout.splitlines()
             if "perfbench" in l and "classes" in l and os.pathsep in l
             and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp = jar_dirs(lines[-1].strip())
    if os.path.exists(JSA):
        os.remove(JSA)
    print("[perfbench] recording the class-data-sharing archive", file=sys.stderr)
    code, _ = run_jvm(java_cmd(cp, "perfbench.Main", ["train", WORK],
                               cds=["-XX:ArchiveClassesAtExit=" + JSA]),
                      TRAIN_LIMIT_S)
    shutil.rmtree(WORK, ignore_errors=True)
    if code != 0 or not os.path.exists(JSA):
        fail(f"training run failed (exit {code})")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def jar_dirs(cp):
    """Class directories on the classpath become jars: a shared archive
    can only hold classes that come from jars."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in sorted(os.walk(entry)):
                    for f in sorted(fs):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def java_cmd(cp, main, args, cds=None):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if cds is None:
        cds = ["-XX:SharedArchiveFile=" + JSA]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + [
        "-Xmx3g", "-XX:+UseG1GC", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + cds + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(WORK, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
        "-Dderby.system.home=" + os.path.join(WORK, "derby"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, main] + args)


def run_jvm(cmd, limit):
    """Run the JVM, relay its stderr, return (exit code, stdout lines)."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {limit:.0f}s")
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="feed every check a corrupted result; expect rejections")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources under {ROOT}: run from a checkout of the repository")
    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    if a.selftest:
        code, lines = run_jvm(java_cmd(cp, "perfbench.SelfTest", []),
                              RUN_LIMIT_S)
        print("\n".join(lines))
        sys.exit(code)
    code, lines = run_jvm(java_cmd(cp, "perfbench.Main", [
        a.workload, str(a.seed), str(a.seconds), str(a.trace), WORK]),
        RUN_LIMIT_S)
    result = None
    for line in reversed(lines):
        if line.startswith("{"):
            result = json.loads(line)
            break
    if code != 0 or result is None:
        fail(f"run failed (exit {code})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
