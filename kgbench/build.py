"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (kgbench/src) with the Scala compiler that ships in Spark's
jars directory, and packs the classes into one jar under
.bench_build/kgbench/. A build is keyed by a hash of every source file, so an
unchanged checkout reuses it.

    python3 kgbench/build.py        # prints the jar path
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "kgbench"


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home, "bin", "java") if home else None
    if exe and exe.is_file():
        return str(exe)
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH or under JAVA_HOME")
    return found


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home or "", "jars")
    if not home or not jars.is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources() -> list:
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((ROOT / "kgbench" / "src").glob("*.scala"))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under kgbench/src")
    return main + bench


def build() -> pathlib.Path:
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    out = BUILD / ("build-" + digest.hexdigest()[:16])
    jar = out / "kgbench.jar"
    if jar.is_file():
        return jar
    for old in BUILD.glob("build-*"):
        shutil.rmtree(old, ignore_errors=True)
    classes = out / "classes"
    classes.mkdir(parents=True)
    cmd = [java(), "-Xmx2g", "-Xss16m", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(classes)] + [str(p) for p in srcs]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    tmp = out / "kgbench.jar.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    os.replace(tmp, jar)
    shutil.rmtree(classes)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"kgbench build: {e}")
