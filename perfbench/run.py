#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <filter_resume|dedup_skew>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the library sources
(`src/main/scala`) together with the harness (`perfbench/src`) with sbt into
`.bench_build/`; later runs reuse that build while the sources are unchanged.
The workload itself runs in one JVM (`graftbench.Main`) on a Spark session of
`local[nproc]`.
"""
import argparse
import hashlib
import os
import pathlib
import signal
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# library's own build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_stamp():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(stamp):
    """Builds when the sources changed since the last build; returns the
    runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={BUILD / 'tmp'}",
         "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        stdin=subprocess.DEVNULL)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout)
        sys.exit("perfbench: build failed")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["filter_resume", "dedup_skew"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="with --trace 1 on filter_resume: rewrite "
                         "perfbench/expected_query_hashes.tsv from this run's "
                         "query results instead of checking them")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: library sources src/main/scala/graft not found "
                 "next to perfbench/; run from a full checkout")
    stamp = sources_stamp()
    cp = classpath(stamp)
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           *(["-Dperfbench.writeExpected=true"] if a.write_expected else []),
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", str(ROOT), "--bench", str(BENCH), "--stamp", stamp]
    child = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)

    def stop(*_):
        child.kill()
        child.wait()
        sys.exit("perfbench: stopped")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(rc)


if __name__ == "__main__":
    main()
