"""Build file of the benchmark.

Compiles graft's library sources (`src/main/scala` of the checkout) together
with the benchmark's own sources (`perfbench/src`) into one class directory,
using the Scala compiler that ships in the Spark distribution's `jars/`
directory. The root sbt build is not used: the benchmark always runs code
compiled from the sources in its checkout, never classes left in `target/`.

Run directly (`python3 perfbench/build.py`) to build, or let `run.py` call
`ensure_built()`, which rebuilds only when a source file changed.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"


def build_dir() -> pathlib.Path:
    """Build outputs live under `.bench_build` of the checkout (or the
    directory the CARGO_TARGET_DIR convention names, taken relative to the
    checkout root)."""
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def spark_jars() -> pathlib.Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return pathlib.Path(home) / "jars"


def java_bin() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (pathlib.Path(home) / "bin" / "java").exists():
        return str(pathlib.Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return found


def sources() -> list:
    if not LIB_SRC.is_dir():
        raise SystemExit(f"perfbench: library sources missing ({LIB_SRC.relative_to(ROOT)})")
    files = sorted(LIB_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    return [f for f in files if f.is_file()]


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built() -> pathlib.Path:
    """Return the class directory, compiling first if any source changed."""
    files = sources()
    jars = spark_jars()
    if not list(jars.glob("scala-compiler-*.jar")):
        raise SystemExit("perfbench: the Spark distribution carries no scala-compiler jar")
    out = build_dir()
    classes = out / "classes"
    stamp = classes / ".stamp"
    want = digest(files)
    if stamp.exists() and stamp.read_text() == want:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java_bin(), "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
           "@" + str(argfile)]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({res.returncode})")
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(ensure_built())
