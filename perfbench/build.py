"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark program (perfbench/src) into
.bench_build/perfbench/classes with the Scala compiler that ships in
Spark's jars directory. Nothing is downloaded.

Usage: python3 perfbench/build.py   (from the repository root)

The Spark jars directory is $SPARK_HOME/jars, or the jars/ directory next
to the `spark-submit` found on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    candidates = [Path(home) / "jars"] if home else []
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-core_*.jar")):
            return c
    raise RuntimeError("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")


def sources(root: Path) -> list:
    graft = root / "src" / "main" / "scala"
    if not graft.is_dir():
        raise RuntimeError(f"{graft} not found: run from the root of a graft checkout")
    files = sorted(graft.rglob("*.scala")) + sorted((BENCH_DIR / "src").rglob("*.scala"))
    return [f for f in files if f.is_file()]


def build(root: Path) -> Path:
    """Compile if any source changed; return the classes directory."""
    jars = spark_jars()
    files = sources(root)
    digest = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = root / ".bench_build" / "perfbench"
    classes = out / "classes"
    stamp_file = out / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    staging = out / "classes.new"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(staging), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise RuntimeError(f"compilation failed (exit {proc.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except RuntimeError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(1)
