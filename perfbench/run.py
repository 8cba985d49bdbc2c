#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. The first call builds (sbt, offline)
into .bench_build/ and caches the classpath; later calls rebuild only when a
source file changed. The JVM writes under .bench_build/work/, apart from
the streaming checkpoints graft keeps on tmpfs (see RELOCATE). The last
line of stdout is the JSON result; everything else goes to stderr.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(BUILD, "work")
GRAFT_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("interactive", "corpus")
JVM_TIMEOUT_S = 170

# graft writes side tables and staging copies under absolute paths: string
# literals naming the target/ directory of the checkout it was written in,
# which need not exist where the benchmark runs, and /tmp. The benchmark
# compiles a copy of the sources with exactly these literal prefixes pointed
# into its own work directory, on the same disk, so that a run writes its
# files inside the checkout. Streaming drains keep their scratch
# checkpoints where graft puts them, in /dev/shm/graft_stream_ckpt/<pid>
# when the host has a tmpfs there (else under java.io.tmpdir, which is in
# the work directory); run_jvm removes that directory once the JVM is gone.
RELOCATE = ((re.compile(r'"/[^"\s]*?/target/'), '"{work}/repo/target/'),
            (re.compile(r'"/tmp/'), '"{work}/tmp/'))
SHM_CKPT = "/dev/shm/graft_stream_ckpt"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]



def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(top, exts):
    out = []
    for d, dirs, files in os.walk(top):
        dirs.sort()
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(exts)]
    return out


def relocate_sources():
    """Mirror src/main/{scala,java} into .bench_build/graft-src, relocating
    absolute scratch paths; unchanged files keep their mtime so sbt's
    incremental compile stays incremental."""
    dst_top = os.path.join(BUILD, "graft-src")
    wanted = set()
    for sub in ("scala", "java"):
        top = os.path.join(GRAFT_SRC, sub)
        for src in source_files(top, (".scala", ".java")):
            rel = os.path.relpath(src, GRAFT_SRC)
            dst = os.path.join(dst_top, rel)
            wanted.add(dst)
            with open(src, encoding="utf-8") as f:
                text = f.read()
            for pattern, new in RELOCATE:
                text = pattern.sub(new.format(work=WORK), text)
            if os.path.exists(dst):
                with open(dst, encoding="utf-8") as f:
                    if f.read() == text:
                        continue
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            with open(dst, "w", encoding="utf-8") as f:
                f.write(text)
    for f in source_files(dst_top, (".scala", ".java")):
        if f not in wanted:
            os.remove(f)


def spark_jars():
    """The jar directory graft's own build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sbt_opts():
    """SBT_OPTS from the environment, or the offline resolver settings sbt
    needs when the environment has none."""
    if "SBT_OPTS" in os.environ:
        return os.environ["SBT_OPTS"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    return ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")


def build_stamp():
    h = hashlib.sha256(WORK.encode())
    files = ([os.path.join(ROOT, "build.sbt")]
             + source_files(GRAFT_SRC, (".scala", ".java"))
             + source_files(os.path.join(HERE, "src"), (".scala", ".java"))
             + [os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")])
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile and return the runtime classpath (cached per source stamp)."""
    if not os.path.isdir(os.path.join(GRAFT_SRC, "scala", "graft")):
        raise SystemExit("no graft sources under src/main: run from the root "
                         "of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = build_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    relocate_sources()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = sbt_opts()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "-Dsbt.server.autostart=false", f"-Dperfbench.build={BUILD}",
           f"-Dperfbench.jars={spark_jars()}",
           "export Runtime/fullClasspath"]
    log("building (sbt, offline) ...")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, stdin=subprocess.DEVNULL)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.writelines(l + "\n" for l in p.stdout.splitlines()
                              if "[error]" in l)
        raise SystemExit(f"build failed (sbt exit {p.returncode}); "
                         f"see {BUILD}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, main, args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={WORK}/tmp",
             f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"] + opens
            + ["-cp", cp, main] + args)


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def run_jvm(cp, main, args, timeout=JVM_TIMEOUT_S):
    """Run one JVM in a fresh work directory; return its stdout lines, or
    exit non-zero if it fails or overruns."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    p = subprocess.Popen(java_cmd(cp, main, args), cwd=WORK,
                         stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"{main} did not finish within {timeout} s")
    finally:
        shutil.rmtree(os.path.join(SHM_CKPT, str(p.pid)), ignore_errors=True)
        try:
            os.rmdir(SHM_CKPT)  # only if no other process uses it
        except OSError:
            pass
    if p.returncode != 0:
        raise SystemExit(f"{main} exited with {p.returncode}")
    return [l for l in out.splitlines() if l.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", help="run timed and warm-up passes at this "
                    "scale instead of the workload's (tests use sf0.001)")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.tsv"),
                    help="expected (hash, rows) table")
    a = ap.parse_args()
    cp = build()
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(HERE, "data"),
            "--expected", os.path.abspath(a.expected),
            "--out", os.path.join(BUILD, "results"),
            "--nproc", str(len(os.sched_getaffinity(0))),
            "--source-id", build_stamp()[:16], "--commit", git_commit()]
    if a.scale:
        args += ["--scale", a.scale]
    lines = run_jvm(cp, "perfbench.Main", args)
    result = json.loads(lines[-1]) if lines else None
    if not isinstance(result, dict) or set(result) != {
            "correct", "attempted", "failed", "metrics"}:
        raise SystemExit("benchmark printed no result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
