"""Build file of the deal-loop benchmark.

Compiles the engine's main sources together with the benchmark's own
sources with the Scala compiler that ships in the Spark distribution (no
sbt, no dependency resolution), packs them into one jar, and records a
JDK class-data archive from a short training run. A stamp over the
source tree makes a second call with unchanged sources a no-op.

    python3 perfbench/build.py            # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    one whose spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler: set SPARK_HOME")


def build_dir(root):
    # the benchmark keeps every build and run artefact under one ignored
    # directory of the checkout
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(BENCH_DIR, "src/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    return main + own


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_args(root):
    """JVM flags of every benchmark process: heap, the module opens Spark
    needs outside spark-submit, quiet logging, checkout-local temp files."""
    out = build_dir(root)
    args = ["-Xmx4g", "-Xss8m", "-Xlog:disable", "-Xlog:all=warning:stderr"]
    for p in JDK17_OPENS:
        args += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return args + [
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
        "-Djava.io.tmpdir=" + tmp,
    ]


def classpath(root):
    return os.path.join(build_dir(root), "graftbench.jar") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def archive(root):
    """Class-data archive of the classes a run loads (JDK AppCDS): it
    roughly halves JVM and Spark start-up, which every run pays."""
    return os.path.join(build_dir(root), "graftbench.jsa")


def build(root):
    """Compile, package and train the class archive if needed."""
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "build.sha256")
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs + [os.path.join(BENCH_DIR, f) for f in ("build.py", "log4j2.properties")]:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return
    for f in (stamp, archive(root), os.path.join(out, "graftbench.jar")):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"compile failed ({r.returncode})")
    # a jar, since the class archive refuses directories on the class path
    with zipfile.ZipFile(os.path.join(out, "graftbench.jar"), "w") as jar:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                jar.write(p, os.path.relpath(p, classes))
    r = subprocess.run(["java", "-XX:ArchiveClassesAtExit=" + archive(root)] + jvm_args(root) +
                       ["-cp", classpath(root), "graftbench.Train"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 and os.path.exists(archive(root)):
        os.remove(archive(root))
    with open(stamp, "w") as f:
        f.write(digest + "\n")


if __name__ == "__main__":
    build(os.getcwd())
