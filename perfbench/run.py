"""graft benchmark entry point.

    python3 perfbench/run.py --workload <ingest|http_ingest|tenant_query|corpus_prep>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the program from the checkout's sources when needed (see build.py),
then runs one workload in a fresh JVM. Everything the run writes lives under
the build directory: a per-run scratch root, removed when the run ends, and
`out/`, which keeps each run's artifact (every metric, spans, fingerprints).
The last line of standard output is the JSON result.
"""
import argparse
import os
import pathlib
import shutil
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest", "http_ingest", "tenant_query", "corpus_prep")
# A run must end within 180 s; the JVM is stopped well before that.
JVM_TIMEOUT_S = 165

# Spark 4 on JDK 17 outside spark-submit needs the module openings that
# spark-submit would pass (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")

    classes = build.ensure_built()
    jars = build.spark_jars()
    out = build.build_dir() / "out"
    out.mkdir(parents=True, exist_ok=True)
    work = build.build_dir() / "work" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [build.java_bin(), "-Xms1g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", *opens,
           f"-Dlog4j2.configurationFile={build.HERE / 'log4j2.properties'}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}",
           "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--root", str(work), "--out", str(out)]
    (work / "tmp").mkdir()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code < 0:
        print("perfbench: the program was stopped at its time limit", file=sys.stderr)
        return 3
    if code != 0:
        return code
    if last is None or not last.startswith("{"):
        print("perfbench: the program printed no result", file=sys.stderr)
        return 4
    return 0


if __name__ == "__main__":
    sys.exit(main())
