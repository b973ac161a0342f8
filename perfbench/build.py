#!/usr/bin/env python3
"""Build the benchmark: compile the program (src/main/scala) and the
harness (perfbench/harness) with the Scala compiler that ships in
Spark's jars ($SPARK_HOME/jars).

    python3 perfbench/build.py

Classes go to $CARGO_TARGET_DIR (default .bench_build) under the
checkout root; a tree is recompiled only when its sources change.
Prints the class path of the harness.
"""

import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BenchError("no java found (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BenchError("Spark jars not found (set SPARK_HOME)")
    return jars


def scala_sources(d):
    out = []
    for base, _dirs, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_into(out, sources, classpath, stamp, deadline):
    """Compile `sources` into `out` unless `out` already holds them.
    The classes are written next to `out` and moved into place whole.
    Returns whether it compiled."""
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    fresh = out + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", fresh]
    if classpath:
        cmd += ["-cp", classpath]
    log("compiling %d sources into %s" % (len(sources), os.path.relpath(out, ROOT)))
    code, output = run_proc(cmd + ["@" + argfile], deadline, capture=True)
    if code != 0:
        raise BenchError("compilation failed:\n" + output[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(fresh, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def build(out, deadline):
    """Compile what changed; returns (class path, program source digest,
    whether anything was compiled)."""
    program_src = os.path.join(ROOT, "src", "main", "scala")
    program = scala_sources(program_src)
    if not program:
        raise BenchError("no program sources under %s" % program_src)
    harness = scala_sources(os.path.join(HERE, "harness"))
    classes = os.path.join(out, "classes")
    prog_out, harness_out = os.path.join(classes, "program"), os.path.join(classes, "harness")
    prog_stamp = digest(program)
    built = compile_into(prog_out, program, None, prog_stamp, deadline)
    built |= compile_into(harness_out, harness, prog_out, digest(harness, prog_stamp), deadline)
    return [harness_out, prog_out, os.path.join(spark_jars(), "*")], prog_stamp, built


def run_proc(cmd, deadline, capture=False):
    """Run a child in its own process group; kill the group at the
    deadline. Returns (exit code, captured output)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=subprocess.STDOUT if capture else sys.stderr,
                            start_new_session=True, cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise BenchError("timed out: %s" % " ".join(cmd[:6]))
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, (out.decode(errors="replace") if out else "")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


if __name__ == "__main__":
    try:
        classpath, _, _ = build(build_dir(), time.time() + 880)
    except (BenchError, OSError) as e:
        log("error: %s" % e)
        sys.exit(1)
    print(os.pathsep.join(classpath))
