"""Build the engine and the harness from source with scalac.

The engine's sbt build compiles `src/main/scala` against the jar directory
its `build.sbt` names in `unmanagedBase` (the Spark distribution's jars)
and nothing else. The Scala compiler jars ship in that directory too, so
one scalac run over the engine sources plus `perfbench/harness` gives the
classes without an sbt launcher and writes only into the build directory.
Output is keyed by a hash of every source file, so an unchanged checkout
builds once.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import time

# JVM flags the engine's build.sbt gives forked runs (JDK 17 module opens
# that spark-submit would otherwise inject).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    return files


def sbt_setting(root, pattern):
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(pattern, f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def jar_dir(root):
    """The `unmanagedBase` directory of the engine's build.sbt, else
    $SPARK_HOME/jars."""
    return (sbt_setting(root, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
            or os.path.join(os.environ.get("SPARK_HOME", ""), "jars"))


def ensure(root, build_dir):
    """Return (classpath list, seconds spent compiling; 0 when cached)."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    scala = sbt_setting(root, r'scalaVersion\s*:=\s*"([^"]+)"')
    if scala is None:
        raise SystemExit(f"no scalaVersion in {root}/build.sbt")
    h = hashlib.sha256(scala.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    jdir = jar_dir(root)
    jars = sorted(glob.glob(os.path.join(jdir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars in {jdir}")
    cp = [out] + jars
    if os.path.isfile(os.path.join(out, ".done")):
        return cp, 0.0
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    compiler = [os.path.join(jdir, f"scala-{j}-{scala}.jar")
                for j in ("compiler", "library", "reflect")]
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-d", out, "-classpath", ":".join(jars),
                           "-Ybackend-parallelism", "4", "-nowarn"] + srcs))
    t0 = time.perf_counter()
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}",
                    "-cp", ":".join(compiler),
                    "scala.tools.nsc.Main", "@" + argfile], check=True)
    open(os.path.join(out, ".done"), "w").close()
    return cp, time.perf_counter() - t0
