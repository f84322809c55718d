"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's JVM side (`perfbench/scala`) with the Scala compiler that
ships in Spark's jar directory, against those jars, as the program's own
build does. The directory is $SPARK_HOME/jars, or else the `unmanagedBase`
that build.sbt names.

    python3 perfbench/build.py        # from the repository root

Output goes to $CARGO_TARGET_DIR (default `.bench_build`) under the root;
a stamp of the sources' hash makes an unchanged tree a no-op.
"""

import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent


def spark_jars(root=None):
    if "SPARK_HOME" in os.environ:
        jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = pathlib.Path(root or os.getcwd()) / "build.sbt"
        m = sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise SystemExit(f"build: set SPARK_HOME; {sbt} names no unmanagedBase")
        jars = pathlib.Path(m.group(1))
    if not (jars / "scala-compiler-2.13.17.jar").exists():
        raise SystemExit(f"build: no Spark 4 / Scala 2.13 jars under {jars}")
    return jars


def sources(root):
    prog = root / "src" / "main" / "scala"
    if not prog.is_dir():
        raise SystemExit(f"build: {prog} not found; run from the repository root")
    files = sorted(prog.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    return files


def build(root=None):
    """Compile when the sources changed; returns the classes directory."""
    root = pathlib.Path(root or os.getcwd()).resolve()
    files = sources(root)
    jars = spark_jars(root)
    out = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / f"classes.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-d", str(tmp), "-classpath", cp, "-nowarn"] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac exited {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
