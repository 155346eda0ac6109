"""Runs one benchmark run: builds if needed, then one JVM for one workload.

Usage, from the repository root:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The last line of standard output is the result JSON object. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402  (the benchmark's build file, next to this one)

WORKLOADS = ("groupby_uniform", "groupby_hotkey", "curation")
# a run must end within 180 s; the build before it has its own budget
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    classes = build.ensure_built()
    out = build.OUT
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--out", out]
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL)

    def stop(*_):
        proc.kill()
        proc.wait()
        sys.exit(1)
    signal.signal(signal.SIGTERM, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s, stopped", file=sys.stderr)
        stop()
    except KeyboardInterrupt:
        stop()
    return code


if __name__ == "__main__":
    sys.exit(main())
