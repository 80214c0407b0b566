"""Build file of the benchmark: compiles the repository's main sources
together with the benchmark's JVM harness (perfbench/src) into one class
directory, with the Scala compiler that ships among the Spark jars.

The output, a jar in .bench_build/perfbench/ at the root of the checkout, is
rebuilt only when a source file, a resource or this file changes.

Usage: python3 perfbench/build.py   (prints the jar's path)
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"
SCALAC_OPTS = ["-nowarn"]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's own build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = (ROOT / "build.sbt").read_text()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not Path(m.group(1)).is_dir():
        sys.exit("perfbench: cannot find the Spark jars (set SPARK_HOME)")
    return Path(m.group(1))


def sources():
    roots = [ROOT / "src" / "main" / "scala", BENCH / "src"]
    return sorted(p for r in roots for p in r.rglob("*.scala"))


def resources():
    base = ROOT / "src" / "main" / "resources"
    return sorted(p for p in base.rglob("*") if p.is_file()) \
        if base.is_dir() else []


def digest(files):
    h = hashlib.sha256()
    for f in list(files) + [Path(__file__)]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(" ".join(SCALAC_OPTS).encode())
    return h.hexdigest()


def classpath(jar):
    return f"{jar}{os.pathsep}{spark_jars()}/*"


def pack(classes, jar):
    """Jar the class directory: the JVM's class-data-sharing archive (see
    run.py) accepts classes from jars only."""
    tmp = jar.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    tmp.replace(jar)


def build():
    """Compile if stale; return the jar of the program and the harness."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("perfbench: no program sources at src/main/scala "
                 "(run from a full checkout)")
    OUT.mkdir(parents=True, exist_ok=True)
    jar = OUT / "perfbench.jar"
    stamp = OUT / "build.stamp"
    srcs, res = sources(), resources()
    want = digest(srcs + res)
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.exists() and stamp.read_text() == want and jar.exists():
            return jar
        tmp = OUT / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        argfile = OUT / "sources.txt"
        argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
        cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", f"{spark_jars()}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-d", str(tmp),
               *SCALAC_OPTS, f"@{argfile}"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            sys.exit("perfbench: compilation failed")
        base = ROOT / "src" / "main" / "resources"
        for f in res:
            dest = tmp / f.relative_to(base)
            dest.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(f, dest)
        pack(tmp, jar)
        shutil.rmtree(tmp)
        for old in OUT.glob("*.jsa"):
            old.unlink()
        stamp.write_text(want)
    return jar


if __name__ == "__main__":
    print(build())
