"""Build the program and the benchmark from source.

Compiles the repository's main Scala sources (src/main/scala) together
with the benchmark's own (perfbench/src) into one class directory, using
the Scala compiler that ships with Spark. A content hash of every source
is kept beside the classes, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py          # prints the classpath to run with
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent


def build_dir() -> Path:
    return REPO / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: neither SPARK_HOME nor spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return jars


def sources() -> list:
    main = REPO / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"perfbench: program sources not found at {main}")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH_DIR / "src").rglob("*.scala"))
    if not files:
        sys.exit("perfbench: no Scala sources to build")
    return files


def build() -> str:
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(REPO)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir() / "perfbench-classes"
    stamp_file = build_dir() / "perfbench-classes.sha256"
    classpath = f"{out}{os.pathsep}{jars}/*"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and out.is_dir():
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = build_dir() / "perfbench-sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", f"{jars}/*", f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"perfbench: compile failed (exit {res.returncode})")
    stamp_file.write_text(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
