"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source if needed (see build.py), then runs the
workload in a fresh JVM. Every file the run writes lives under the build
directory and is removed when it ends, except the span file of a traced
run. The last line of stdout is the JSON result; the exit code is 0 only
when a result was printed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("lake_mixed", "curation_batch")
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these when started outside spark-submit.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    classpath = build.build()
    run_dir = build.build_dir() / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", *[x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dlog4j2.configurationFile={build.BENCH_DIR / 'log4j2.properties'}",
           "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work-dir", str(run_dir)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(out)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
