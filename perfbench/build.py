"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala` of the checkout) together with the benchmark's own JVM
code (`perfbench/src`) into one class directory, with the Scala compiler
that ships among the Spark jars. A stamp of every source's hash skips the
compile when nothing changed.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the sbt build names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine + bench


def classes_dir():
    return os.path.join(build_dir(), "classes")


def classpath():
    return classes_dir() + os.pathsep + os.path.join(spark_jars(), "*")


JVM_FLAGS = ["-Xmx3g", "-XX:+UseG1GC"]
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def java_cmd(tmp, main_args):
    """The benchmark JVM's command line (the default tiered JIT)."""
    cmd = ["java"] + JVM_FLAGS + ["-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath(), "perfbench.Main"] + main_args


def build(log=sys.stderr):
    """Compile if any source changed; returns the source stamp."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    stamp = h.hexdigest()
    out = classes_dir()
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    os.makedirs(build_dir(), exist_ok=True)
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    jars = spark_jars()
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-classpath", cp, "-d", out, "-nowarn"] + srcs) + "\n")
    print(f"build: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "@" + argfile],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


if __name__ == "__main__":
    print(build())
