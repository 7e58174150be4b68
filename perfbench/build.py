"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's JVM side (`perfbench/src`) with scalac, into
`<build dir>/<stamp>/perfbench.jar`. The Spark distribution supplies the
Scala compiler and every library jar; nothing is fetched. The stamp is a
hash over the sources and the jar list: one commit's build, and everything
`run.py` keeps beside it (class-data archive, counter ledgers, traces),
sits in a directory of its own, so builds of two commits live side by side
and a comparison never meets the other commit's files.

    python3 perfbench/build.py        # build .bench_build/<stamp>/perfbench.jar
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


def build_dir():
    """`CARGO_TARGET_DIR` names the build dir when set (relative to the
    checkout root); `.bench_build` otherwise."""
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    """The jar directory of the installed Spark distribution."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")
    return Path(home) / "jars"


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"perfbench: program sources missing: {program}")
    return sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build():
    """Compile if needed; returns the run classpath and the build's own
    directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = build_dir() / h.hexdigest()[:12]
    jar = out / "perfbench.jar"
    if not jar.is_file():
        out.mkdir(parents=True, exist_ok=True)
        tmp = out / "perfbench.tmp.jar"
        argfile = out / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
        cp = f"{jars}/*"
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-4000:])
            raise SystemExit("perfbench: compile failed")
        tmp.replace(jar)
    return f"{jar}{os.pathsep}{jars}/*", out


if __name__ == "__main__":
    print(build()[0])
