"""Compiles the program (src/main/scala) and the harness (perfbench/src) into
one class directory with the Scala compiler that ships in Spark's jars.

The class directory is keyed by a hash of every source file, so a checkout
compiles once and later runs reuse it. Run directly to build only:

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """$SPARK_HOME/jars, else the directory build.sbt names as unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = Path(home) / "jars"
    else:
        sbt = (ROOT / "build.sbt").read_text() if (ROOT / "build.sbt").exists() else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = Path(m.group(1)) if m else ROOT / "jars"
    if not list(jars.glob("spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: program sources not found under {main}")
    files = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return files


def classpath(classes=None):
    parts = [str(spark_jars() / "*"), str(ROOT / "lib" / "*")]
    return os.pathsep.join(([str(classes)] if classes else []) + parts)


def build():
    """Returns the class directory, compiling first if the sources changed."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    classes = BUILD / f"classes-{digest.hexdigest()[:16]}"
    if classes.is_dir():
        return classes
    tmp = BUILD / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"perfbench: compiling {len(files)} source files", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-classpath", classpath(), "-d", str(tmp)]
    done = subprocess.run(cmd + [str(f) for f in files], cwd=ROOT)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
