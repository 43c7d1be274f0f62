"""Builds what a benchmark run needs, inside the checkout, from source.

- classes: the program's `src/main/scala` plus the harness in
  `perfbench/src`, compiled in one scalac pass against Spark's jars into
  `.bench_build/classes`.
- data: `graft.tools.DataGen <sf>` output, with `tools/fix_events_ns.py`
  applied so events read as the program's own test data does.

Both are cached under `.bench_build` and rebuilt when their sources
change; neither is timed by a run.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


def _spark_jars():
    """The jar directory the program's build.sbt compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m:
        return m.group(1)
    return os.path.join(os.environ["SPARK_HOME"], "jars") if os.environ.get("SPARK_HOME") else ""


SPARK_JARS = _spark_jars()

# JDK 17 module opens Spark needs outside spark-submit (the list
# org.apache.spark.launcher.JavaModuleOptions carries).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def source_digest():
    """Digest of the program sources: names the build when git cannot."""
    return _digest(_sources(PROGRAM_SRC))


def java_cmd(classes, heap):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation keep GC sizing, and so peak RSS
    # and pause placement, the same from run to run
    return ["java", *ADD_OPENS, f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g",
            "-XX:+ExplicitGCInvokesConcurrent",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(SPARK_JARS, '*')}"]


def classes():
    """Compiled program + harness; compiles when any source changed."""
    program = _sources(PROGRAM_SRC)
    if not program:
        raise BuildError(f"no program sources under {PROGRAM_SRC}")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at '{SPARK_JARS}' (set SPARK_HOME)")
    srcs = program + _sources(HARNESS_SRC)
    stamp = _digest(srcs)
    out = os.path.join(OUT, "classes")
    stamp_file = out + ".stamp"
    if _read(stamp_file) == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(SPARK_JARS, "*")
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath", cp, *srcs]))
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(["java", "-Xss16m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "@" + args_file], stdout=sys.stderr)
    if r.returncode != 0:
        raise BuildError("scalac failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def data(sf, cls, cores):
    """DataGen tables at scale factor `sf`; generated once per program version."""
    gen_src = os.path.join(PROGRAM_SRC, "graft", "tools", "DataGen.scala")
    stamp = _digest([gen_src]) + sf
    d = os.path.join(OUT, "data", f"sf{sf}")
    stamp_file = os.path.join(d, ".stamp")
    if _read(stamp_file) == stamp:
        return d
    shutil.rmtree(d, ignore_errors=True)
    print(f"[perfbench] generating sf{sf} data", file=sys.stderr, flush=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    r = subprocess.run([*java_cmd(cls, "4g"), "-Dspark.ui.enabled=false",
                        "graft.tools.DataGen", sf, d], env=env, cwd=OUT,
                       stdout=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"DataGen {sf} failed")
    # events.ts as TIMESTAMP(NANOS), the layout graft's readers expect
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "fix_events_ns.py"), d],
                       stdout=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"fix_events_ns {sf} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return d
