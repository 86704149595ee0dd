#!/usr/bin/env python3
"""Run one workload of the gVCF pipeline benchmark.

    python3 genbench/run.py --workload cohort_wide --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (into ignored `target/` directories) and
caches the classpath; later runs start the JVM directly, and rebuild only
when a source or build file changed. The last line of stdout is the JSON
result; traced runs (`--trace 1`) also leave their spans in
`genbench/work/<workload>/spans.json`.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STAMP = HERE / "target" / "bench-build.json"

WORKLOADS = ("cohort_wide", "cohort_annotated")

# Fixed heap (-Xms = -Xmx), a fixed young generation and a fixed,
# non-adaptive collector: GC work then depends on the program, not on how
# the JVM chose to size itself during this particular run.
JVM_OPTIONS = [
    "-Xms3g", "-Xmx3g", "-Xmn1g",
    "-XX:+UseParallelGC", "-XX:ParallelGCThreads=4", "-XX:-UseAdaptiveSizePolicy",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]
# Spark on JDK 17 outside spark-submit; the same list as the root build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def sources():
    """Every file whose change requires a rebuild."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes() if f.exists() else b"<missing>")
    return h.hexdigest()


def build_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The runtime classpath, building first when the sources changed."""
    want = digest()
    if STAMP.exists():
        stamp = json.loads(STAMP.read_text())
        if stamp.get("digest") == want:
            return stamp["classpath"]
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=build_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        sys.exit(f"build failed (exit {out.returncode})")
    # `export` prints the classpath as one line of paths
    cp = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")][-1]
    STAMP.parent.mkdir(parents=True, exist_ok=True)
    STAMP.write_text(json.dumps({"digest": want, "classpath": cp}))
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit(f"no program sources under {ROOT / 'src'}: run from the root of a checkout")
    cp = classpath()

    work = HERE / "work" / args.workload
    tmp = HERE / "work" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JVM_OPTIONS
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              "-cp", cp, "genbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.exit(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout)
        sys.exit(f"benchmark exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"malformed result line: {lines[-1]}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
