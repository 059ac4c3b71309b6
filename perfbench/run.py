#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--size bench|tiny] [--corrupt-expected]

Compiles the harness together with the engine's sources (build.py, once per
source state), then runs perfbench.Main in one JVM and relays its output.
The last stdout line is the result JSON. Exits non-zero, without a result,
when the engine's sources are missing, the build fails or the run fails.
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402  (perfbench/build.py, beside this file)

HERE = build.HERE
ROOT = build.ROOT
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def commit():
    """The checkout's git commit when it is a git checkout."""
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown"


def main():
    spark = build.spark_home()
    src_hash = build.build(spark)
    cp = f"{build.CLASSES}{os.pathsep}{spark / 'jars'}{os.sep}*"
    # run scratch (stage outputs, spill, temp files); what killed runs
    # left behind goes first
    work_root = HERE / ".work"
    work_root.mkdir(exist_ok=True)
    build.remove_stale(work_root, "run-")
    work = work_root / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ([build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dperfbench.root={ROOT}", f"-Dperfbench.work={work}",
            f"-Dperfbench.source={src_hash}", f"-Dperfbench.commit={commit()}",
            "-Dspark.ui.enabled=false", "-Dspark.driver.host=localhost",
            "-Dspark.driver.bindAddress=127.0.0.1"]
           + opens + ["-cp", cp, "perfbench.Main"] + sys.argv[1:])
    # Spark on loopback, whatever the host name resolves to
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    try:
        rc = build.run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        build.die(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 124)
    sys.exit(rc)


if __name__ == "__main__":
    main()
