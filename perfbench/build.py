"""Build file of the benchmark: compiles graft's main sources and the harness
in perfbench/src with the Scala compiler that ships in Spark's jars, into
`.bench_build/classes` of the checkout. Rebuilds only when a source changes.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            raise BuildError("SPARK_HOME is not set and pyspark is not importable")
    jars = Path(home) / "jars"
    if not any(jars.glob("spark-sql_2.13-*.jar")):
        raise BuildError(f"no Spark 2.13 jars under {jars}")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    harness = ROOT / "perfbench" / "src"
    if not main.is_dir():
        raise BuildError(f"graft sources not found at {main}")
    files = sorted(main.rglob("*.scala")) + sorted(harness.rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return files, resources, res


def source_key():
    """sha256 over every compiled source and resource, path and content."""
    files, _, res = sources()
    h = hashlib.sha256()
    for p in files + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile if needed; return the classes directory."""
    files, resources, res = sources()
    key = source_key()
    classes = BUILD / "classes"
    stamp = BUILD / "classes.stamp"
    if stamp.exists() and stamp.read_text() == key and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in files))
    cp = str(spark_jars() / "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-nowarn", "-d", str(classes), f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for p in res:
        dst = classes / p.relative_to(resources)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    stamp.write_text(key)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
