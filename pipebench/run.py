"""Run one benchmark workload and print its result as the last stdout line.

    python3 pipebench/run.py --workload <publish|consume|cdc_materialize> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the program
(see build.py). The JVM runs Spark on local[<cores>], with cores taken
from the CPU affinity of this process. All files are written under
.bench_build/ and removed when the run ends, except the build and, with
--trace 1, the span file .bench_build/work/trace-<workload>-<seed>.json.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("publish", "consume", "cdc_materialize")
TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = pathlib.Path.cwd()
    classes = build.build(root)
    jars = build.spark_jars()
    cores = len(os.sched_getaffinity(0))
    work = root / ".bench_build" / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
              "-cp", f"{classes}:{jars}/*", "pipebench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--cores", str(cores), "--work", str(work)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"pipebench: {a.workload} did not finish within {TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        raise SystemExit(f"pipebench: {a.workload} failed with exit code {proc.returncode}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
