"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/scala) into one class
directory with the Scala compiler that ships among Spark's jars.

    python3 perfbench/build.py            # from the repository root

The output goes to $CARGO_TARGET_DIR or .bench_build (relative to the
repository root). A stamp of the sources' content skips the compile when
nothing changed.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys


def spark_jars():
    """Directory of Spark's jars: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return pathlib.Path(home) / "jars"


def sources(root):
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not files:
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the repository root")
    return files + sorted((root / "perfbench" / "scala").rglob("*.scala"))


def build_dir(root):
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def build(root):
    """Compiles if needed; returns the class directory."""
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp_value = digest.hexdigest()
    out = build_dir(root)
    classes, stamp = out / "classes", out / "stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == stamp_value:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", str(classes), "-nowarn",
           "-d", str(classes)]
    cmd += [str(f) for f in files]
    result = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if result.returncode != 0:
        sys.stderr.write(result.stdout[-20000:])
        raise SystemExit("perfbench: compile failed")
    stamp.write_text(stamp_value)
    return classes


if __name__ == "__main__":
    print(build(pathlib.Path.cwd()))
