#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine (`src/main/scala`) together with the benchmark's JVM
harness (`perfbench/scala`) into one jar, with the Scala compiler and
Spark jars of the Spark distribution ($SPARK_HOME), then runs
`perfbench.Warmup` once to write a class-data archive (AppCDS) that
every benchmark JVM maps at start. A stamp of the sources' content makes
a rebuild a no-op when nothing changed. Everything goes to the build
directory: `.bench_build`, or $CARGO_TARGET_DIR when set.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import fcntl
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
# the module opens Spark needs on JDK 17 outside spark-submit; no
# hsperfdata file, which the JVM would write outside the build directory
JVM_OPTS = ["-Xss8m", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def build_dir(root: pathlib.Path) -> pathlib.Path:
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def _spark_jars() -> str:
    """The jars of the Spark distribution: $SPARK_HOME/jars, else the
    distribution that holds the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return str(pathlib.Path(home) / "jars")


def _sources(root: pathlib.Path):
    found = []
    for d in SOURCE_DIRS:
        if not (root / d).is_dir():
            raise BuildError(f"missing source directory {d} under {root}")
        found += sorted((root / d).rglob("*.scala"))
    return found


def _stamp(root, files) -> str:
    h = hashlib.sha256(pathlib.Path(__file__).read_bytes())  # this file's flags too
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _run(cmd, cwd, what):
    done = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=600)
    if done.returncode != 0:
        raise BuildError(f"{what} failed:\n{done.stdout[-4000:]}")


def _jar(classes: pathlib.Path, jar: pathlib.Path) -> None:
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())


def java_command(root: pathlib.Path):
    """`java` with the benchmark's classpath and JVM options, built first
    if the sources changed; append heap options, the main class and its
    arguments."""
    out = build_dir(root)
    files = _sources(root)
    jars = _spark_jars()
    out.mkdir(parents=True, exist_ok=True)
    jar, archive, stamp_file = out / "perfbench.jar", out / "perfbench.jsa", out / "build.stamp"
    with open(out / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = _stamp(root, files)
        if not (stamp_file.exists() and stamp_file.read_text() == want):
            stamp_file.unlink(missing_ok=True)
            classes, scratch = out / "classes", out / "warmup"
            for p in (classes, scratch):
                shutil.rmtree(p, ignore_errors=True)
                p.mkdir()
            (out / "scalac.args").write_text("\n".join(str(f) for f in files))
            _run(["java", "-Xss8m", "-XX:-UsePerfData", "-Xmx3g", "-cp", f"{jars}/*",
                  "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
                  "-d", str(classes), f"@{out / 'scalac.args'}"], root, "scalac")
            _jar(classes, jar)
            archive.unlink(missing_ok=True)
            _run(["java", *JVM_OPTS, f"-XX:ArchiveClassesAtExit={archive}",
                  f"-Djava.io.tmpdir={scratch}", "-cp", f"{jar}:{jars}/*",
                  "perfbench.Warmup", str(scratch)], scratch, "class-data archive run")
            shutil.rmtree(scratch, ignore_errors=True)
            stamp_file.write_text(want)
    return ["java", *JVM_OPTS, f"-XX:SharedArchiveFile={archive}",
            "-cp", f"{jar}:{jars}/*"]


if __name__ == "__main__":
    try:
        print(" ".join(java_command(pathlib.Path(__file__).resolve().parent.parent)))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
