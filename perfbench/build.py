"""Build file of the benchmark harness: compiles the engine
(`src/main/scala`) together with the harness (`perfbench/harness/src`)
with the Scala compiler that ships in the Spark distribution, into one
jar in a content-addressed directory under the build dir. Nothing is
fetched; the only inputs are the sources and `$SPARK_HOME/jars`.

    python3 perfbench/build.py            # prints the jar
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ENGINE_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join("perfbench", "harness", "src")


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME") or os.path.join(os.sep, "opt", "spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"no Spark jars under {jars}; set SPARK_HOME")
    return jars


def sources():
    files = []
    for root in (ENGINE_SRC, HARNESS_SRC):
        if not os.path.isdir(root):
            raise SystemExit(f"missing source tree {root}: run from the repository root")
        files += sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile if the sources changed; return the jar."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    jar = os.path.join(out, "harness.jar")
    if os.path.exists(os.path.join(out, ".ok")):
        return jar
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp,
                        "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("scalac failed")
    # a jar, not a directory, so the JVM can archive its classes (run.py)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for root, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                z.write(os.path.join(root, n), os.path.relpath(os.path.join(root, n), classes))
    shutil.rmtree(classes)
    open(os.path.join(out, ".ok"), "w").close()
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return jar


if __name__ == "__main__":
    print(build())
