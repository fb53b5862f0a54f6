"""Build file of the benchmark harness.

Compiles the program's main sources (src/main/scala) together with the
harness sources (perfbench/src) using the Scala compiler that ships in
Spark's jar directory, into .bench_build/perfbench/classes under the
checkout. A rebuild happens only when a source file changes.

    python3 perfbench/build.py      # build (or confirm up to date), print the classes dir
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark jar directory with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {ROOT / 'src/main/scala'}")
    return program + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Returns (classes dir, source digest), compiling if needed."""
    files = sources()
    jars = spark_jars()
    digest = source_digest(files)
    classes = BUILD / "classes"
    stamp = BUILD / "classes.sha256"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes, digest
    staging = BUILD / "classes.staging"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-classpath", cp, "@" + str(argfile)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp.write_text(digest)
    return classes, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
