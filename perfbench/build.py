"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships among
the repo's Spark jars, into .bench_build/classes.

The jar directory is the one the repo's build.sbt declares as
`unmanagedBase`, so the benchmark compiles and runs against exactly the
jars the tests use. A rebuild happens only when a source file changes.

    python3 perfbench/build.py        # prints the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


def spark_jars() -> Path:
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise SystemExit(f"build: {sbt} is missing; run from a full checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise SystemExit("build: build.sbt declares no existing unmanagedBase jar directory")
    return Path(m.group(1))


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine + sorted((ROOT / "perfbench" / "src").glob("*.scala"))


def classpath() -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256(str(jars).encode())
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode())
        digest.update(s.read_bytes())
    stamp = digest.hexdigest()
    stamp_file = CLASSES / ".stamp"
    cp = f"{CLASSES}{os.pathsep}{jars}/*"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    done = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"build: scalac exited with {done.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    print(classpath())
