#!/usr/bin/env python3
"""Build file of the benchmark: compiles the harness (perfbench/src) together
with the engine's sources (src/main/scala) into perfbench/target/classes.

    python3 perfbench/build.py

It calls the Scala compiler that ships in Spark's jars/ directly, with the
Spark jars as the class path, so a build needs no build tool, no dependency
resolution and no file outside the checkout besides Spark itself. A build
happens once per source state: the hash of every compiled file is stamped
beside the classes, and the classes are replaced only by a complete build.
"""
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
CLASSES = TARGET / "classes"
STAMP = TARGET / "classes.source"
BUILD_TIMEOUT_S = 840


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [p for r in (ENGINE, HERE / "src") for p in sorted(r.rglob("*.scala"))]
    return files + [pathlib.Path(__file__).resolve()]


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"])
    for d in os.get_exec_path():
        submit = pathlib.Path(d) / "spark-submit"
        if submit.is_file() and (submit.resolve().parent.parent / "jars").is_dir():
            return submit.resolve().parent.parent
    die("no Spark installation: set SPARK_HOME or put Spark's bin/ on PATH")


def java():
    """The java launcher of JAVA_HOME, else the one on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and (pathlib.Path(home) / "bin" / "java").is_file():
        return str(pathlib.Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        die("no java: set JAVA_HOME or put java on PATH")
    return found


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def remove_stale(parent, prefix):
    """Remove `<prefix><pid>` entries of processes that no longer run."""
    for p in parent.glob(prefix + "*"):
        pid = p.name[len(prefix):]
        if pid.isdigit() and int(pid) != os.getpid() and not alive(int(pid)):
            shutil.rmtree(p, ignore_errors=True)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it. The group is
    killed on timeout, on a signal to this process and on every way out;
    returns the exit code, or None on timeout."""
    child = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop():
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def on_signal(*_):
        stop()
        child.wait()
        sys.exit(143)

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        return child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        stop()
        child.wait()
        for s, h in old.items():
            signal.signal(s, h)


def build(spark):
    """Compile unless the classes match the sources; returns the source hash."""
    if not ENGINE.is_dir():
        die(f"engine sources not found at {ENGINE.relative_to(ROOT)}; run from a full checkout")
    src_hash = source_hash()
    if STAMP.exists() and STAMP.read_text() == src_hash and CLASSES.is_dir():
        return src_hash
    print("[perfbench] compiling harness and engine", file=sys.stderr, flush=True)
    TARGET.mkdir(parents=True, exist_ok=True)
    remove_stale(TARGET, "build-")
    tmp = TARGET / f"build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    (tmp / "tmp").mkdir()
    args = tmp / "sources.txt"
    args.write_text("\n".join(str(p) for p in source_files() if p.suffix == ".scala") + "\n")
    cmd = [java(), "-Xss16m", "-Xmx1536m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp / 'tmp'}", "-cp", f"{spark / 'jars'}{os.sep}*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(tmp / "classes"), f"@{args}"]
    try:
        rc = run_child(cmd, BUILD_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr)
        if rc != 0:
            die("compile " + ("timed out" if rc is None else f"failed (rc={rc})"), 1)
        STAMP.unlink(missing_ok=True)
        shutil.rmtree(CLASSES, ignore_errors=True)
        (tmp / "classes").rename(CLASSES)
        STAMP.write_text(src_hash)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return src_hash


if __name__ == "__main__":
    build(spark_home())
    print(CLASSES)
