#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload bi5-scan --seed 1 --seconds 15 --trace 0

Run from the root of the checkout. The first run builds the library and the
benchmark with sbt (into target/, perfbench/target/ and .bench_build/); later
runs reuse the build unless a source or build file was added, changed or
removed. Spark's log goes to .bench_build/logs/; standard output ends with
the result object. Options after the four required ones are passed to the
benchmark (see perfbench/README.md).
"""
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
CLASSPATH = OUT / "classpath.txt"
SOURCES = OUT / "sources.txt"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    """Every build input, one `mtime_ns path` line each, in path order."""
    files = [p for d in (ROOT, BENCH, ROOT / "project", BENCH / "project")
             for p in d.glob("*") if p.is_file() and p.suffix in (".sbt", ".properties")]
    for top in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += [p for p in top.rglob("*") if p.is_file()]
    return "".join(f"{p.stat().st_mtime_ns} {p.relative_to(ROOT)}\n" for p in sorted(files))


def build():
    """Compile with sbt unless the build inputs are the ones last built."""
    listing = sources()
    if CLASSPATH.exists() and SOURCES.exists() and SOURCES.read_text() == listing:
        return
    SOURCES.unlink(missing_ok=True)
    log = OUT / "logs" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=BENCH, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not CLASSPATH.exists():
        sys.exit(f"perfbench: build failed (exit {rc}), see {log}")
    SOURCES.write_text(listing)


def main(argv):
    opts = dict(zip(argv[::2], argv[1::2]))
    for key in ("--workload", "--seed", "--seconds", "--trace"):
        if key not in opts:
            sys.exit(f"perfbench: {key} is required")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"perfbench: no library sources at {ROOT}; run from a full checkout")
    build()
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    # a fresh temporary directory per run, so that nothing the library
    # leaves there (its query fixtures) carries over to the next run
    tmp = tempfile.mkdtemp(dir=OUT / "tmp")
    log = OUT / "logs" / f"{opts['--workload']}-seed{opts['--seed']}-trace{opts['--trace']}.log"
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", CLASSPATH.read_text().strip(), "perfbench.Main"] + argv)
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s, see {log}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.splitlines()
    for line in lines:
        print(line)
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"perfbench: run failed (exit {proc.returncode}), see {log}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
