"""Build the program and the benchmark from source.

The program's sources (src/main/scala, src/main/resources) and the
benchmark's own (perfbench/src) are compiled together with the Scala
compiler that ships in the Spark distribution the program runs on, into
.bench_build/classes-<hash>/; the benchmark's base tables are then
generated into its data/ directory. A build whose source hash is
already present is reused, so only the first run in a checkout pays.

    python3 perfbench/build.py      # prints the class directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]
# Spark on JDK 17 needs these outside spark-submit (as the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    if exe and os.path.exists(exe):
        return exe
    exe = shutil.which("java")
    if not exe:
        fail("no java found (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME/jars, or
    the one next to spark-submit on PATH."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def jvm(classes, jars, tmpdir):
    """The JVM command line that runs a main class of the build, with the
    JVM's default JIT, as the program is deployed. No perf-data file, so
    nothing is written outside the checkout."""
    return [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
            *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
            "-Dlog4j2.configurationFile=" + os.path.join(
                ROOT, "perfbench", "log4j2.properties"),
            "-Djava.io.tmpdir=" + tmpdir,
            "-cp", classes + os.pathsep + os.path.join(jars, "*")]


def spark_version(jars):
    found = glob.glob(os.path.join(jars, "spark-core_*.jar"))
    if not found:
        return "unknown"
    return os.path.basename(found[0]).split("-", 1)[1][:-len(".jar")]


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names
                if suffix is None or n.endswith(suffix)]
    return sorted(out)


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    scala = _files(program, ".scala")
    if not scala:
        fail(f"no program sources under {os.path.relpath(program, ROOT)}")
    bench = _files(os.path.join(ROOT, "perfbench", "src"), ".scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    return scala + bench, resources, _files(resources)


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    scala, res_dir, res = sources()
    h = hashlib.sha256()
    h.update(" ".join(SCALAC_OPTS + [spark_version(jars)]).encode())
    for f in scala + res:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in scala) + "\n")
    cp = os.path.join(jars, "*")
    print(f"perfbench: compiling {len(scala)} sources", file=sys.stderr)
    r = subprocess.run(
        [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main",
         *SCALAC_OPTS, "-d", tmp, "-cp", cp, "@" + argfile],
        stdout=sys.stderr, timeout=850)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    scratch = os.path.join(tmp, "gen-tmp")
    os.makedirs(scratch)
    r = subprocess.run(jvm(tmp, jars, scratch) + ["perfbench.Data",
                       os.path.join(tmp, "data")], stdout=sys.stderr, timeout=300)
    shutil.rmtree(scratch, ignore_errors=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("generating the base tables failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.replace(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
