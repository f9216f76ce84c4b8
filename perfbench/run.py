#!/usr/bin/env python3
"""Build and run one graft benchmark workload.

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run compiles the engine's sources
together with the benchmark (sbt, offline) and caches the classpath under
perfbench/target; later runs reuse it while no source file changed. The
last line of stdout is the run's JSON result; the exit code is non-zero,
with no result line, when the engine sources are missing, the build fails
or the run fails.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
STAMP = HERE / "target" / "perfbench.stamp"
CLASSPATH = HERE / "target" / "perfbench.classpath"
WORK = HERE / "work"
WORKLOADS = ("lake_read", "lake_write")
RUN_TIMEOUT_S = 175
JAVA_OPTS = [
    "-Xms1g", "-Xmx3g", "-Duser.timezone=UTC",
    *[arg for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                    "java.base/java.lang.reflect", "java.base/java.io",
                    "java.base/java.net", "java.base/java.nio",
                    "java.base/java.util", "java.base/java.util.concurrent",
                    "java.base/java.util.concurrent.atomic",
                    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                    "java.base/sun.security.action",
                    "java.base/sun.util.calendar")
      for arg in ("--add-opens", p + "=ALL-UNNAMED")],
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main", HERE / "project"]
    files = [HERE / "build.sbt"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    want = stamp()
    if STAMP.exists() and CLASSPATH.exists() and STAMP.read_text() == want:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    CLASSPATH.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(cp[-1].strip())
    STAMP.write_text(want)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources not found next to perfbench/ (expected build.sbt and src/main/scala)")
    cp = build()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JAVA_OPTS, "-Djava.io.tmpdir=%s" % tmp, "-cp", cp,
           "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", repr(args.seconds), "--trace", args.trace, "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    out = []
    try:
        for line in proc.stdout:
            out.append(line)
            if not line.startswith('{"correct"'):
                sys.stdout.write(line)
                sys.stdout.flush()
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out", 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    result = [l for l in out if l.startswith('{"correct"')]
    if rc != 0 or not result:
        fail("run failed (exit %d)" % rc, rc or 1)
    sys.stdout.write(result[-1])
    sys.stdout.flush()


if __name__ == "__main__":
    main()
