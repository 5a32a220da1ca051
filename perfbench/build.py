"""Builds the engine and the benchmark harness from the checkout's sources.

Compiles `src/main/scala` and then `perfbench/harness` with the Scala
compiler that ships in the Spark jars directory, straight into
`.bench_build/` (or `$CARGO_TARGET_DIR`). A build is skipped when a
stamp of every source file's path, size and content hash matches the
last build, so an up-to-date checkout never starts a compiler.

    python3 perfbench/build.py        # build if stale, print the classpath
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir(root=ROOT):
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(root, d)


def _sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(files, out, classpath, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(os.path.dirname(out), "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + args]
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"compile failed ({rc}); see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure_built(root=ROOT):
    """Returns the classpath of the engine plus the harness, compiling
    whichever of the two is out of date."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit(f"no engine sources under {main_src}")
    bd = build_dir(root)
    os.makedirs(bd, exist_ok=True)
    jars = os.path.join(SPARK_JARS, "*")
    main_out = os.path.join(bd, "classes-main")
    harness_out = os.path.join(bd, "classes-harness")
    with open(os.path.join(bd, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        main_files = _sources(main_src)
        stamp = _stamp(main_files)
        stamp_file = main_out + ".stamp"
        if not (os.path.isdir(main_out) and os.path.exists(stamp_file)
                and open(stamp_file).read() == stamp):
            _compile(main_files, main_out, jars,
                     os.path.join(bd, "compile-main.log"))
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
        h_files = _sources(os.path.join(HERE, "harness"))
        h_stamp = _stamp(h_files, stamp)
        h_stamp_file = harness_out + ".stamp"
        if not (os.path.isdir(harness_out) and os.path.exists(h_stamp_file)
                and open(h_stamp_file).read() == h_stamp):
            _compile(h_files, harness_out, main_out + ":" + jars,
                     os.path.join(bd, "compile-harness.log"))
            with open(h_stamp_file, "w") as fh:
                fh.write(h_stamp)
    return ":".join([harness_out, main_out, jars])


if __name__ == "__main__":
    print(ensure_built())
