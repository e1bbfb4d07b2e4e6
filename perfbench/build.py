"""Build file of the benchmark package: compiles the engine's main sources
together with the benchmark's own Scala harness (`perfbench/scala/`) into
`.bench_build/classes`, with the Scala compiler that ships in Spark's jars.

The build reads only the checkout and `$SPARK_HOME/jars` (default
`/opt/spark`), needs no network and no sbt, and is skipped when a stamp of
every source and resource file's content matches the last build.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
JARS = os.path.join(SPARK_HOME, "jars", "*")
HERE = os.path.dirname(os.path.abspath(__file__))


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return engine, bench


def build(root, out_dir):
    """Compile if the sources changed; returns the class-path entry."""
    engine, bench = sources(root)
    if not engine:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    resources = os.path.join(root, "src/main/resources")
    resource_files = sorted(glob.glob(os.path.join(resources, "**", "*"),
                                      recursive=True))
    digest = hashlib.sha256()
    for path in engine + bench + [f for f in resource_files
                                  if os.path.isfile(f)]:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    subprocess.run(
        ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", JARS,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", JARS] + engine + bench,
        check=True, stdout=sys.stderr)
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
