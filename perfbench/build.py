"""Build file of the benchmark: compiles the program under test
(`src/main`) together with the benchmark's own Scala sources into one
jar, `perfbench/target/perfbench-<stamp>.jar`.

The Scala compiler is the one shipped in the Spark distribution's
`jars/` directory (found through SPARK_HOME, or through `spark-submit`
on PATH), so the build needs nothing but a JDK and Spark. The stamp is
a hash of every source and resource file; a jar is kept per stamp, so
going back to sources built before needs no compile.

    python3 perfbench/build.py        # prints the jar path
"""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
SCALA_SOURCES = [ROOT / "src" / "main" / "scala", BENCH / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"
TARGET = BENCH / "target"
# scalac is killed after this long; a cold compile of src/main and the
# benchmark takes about 25 s on a 4-core box
COMPILE_DEADLINE_S = 600.0


class BuildError(Exception):
    pass


def spark_home() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("neither SPARK_HOME nor spark-submit on PATH")
        home = pathlib.Path(submit).resolve().parent.parent
    return pathlib.Path(home)


def _files(base: pathlib.Path, suffix: str = ""):
    return sorted(p for p in base.rglob("*" + suffix) if p.is_file())


def _stamp(sources, resources, jars) -> str:
    h = hashlib.sha256()
    for p in list(sources) + list(resources):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    return h.hexdigest()


def build() -> pathlib.Path:
    for d in SCALA_SOURCES:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
    sources = [p for d in SCALA_SOURCES for p in _files(d, ".scala")]
    resources = _files(RESOURCES) if RESOURCES.is_dir() else []
    jars_dir = spark_home() / "jars"
    jars = sorted(jars_dir.glob("*.jar"))
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError(f"no Scala compiler in {jars_dir}")

    jar = TARGET / f"perfbench-{_stamp(sources, resources, jars)[:24]}.jar"
    if jar.is_file():
        return jar

    classes = TARGET / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = TARGET / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cmd = [
        "java", "-Xmx2g", "-Xss8m",
        "-cp", os.pathsep.join(str(j) for j in compiler),
        "scala.tools.nsc.Main",
        "-nowarn", "-encoding", "UTF-8",
        "-classpath", str(jars_dir / "*"),
        "-d", str(classes),
        "@" + str(argfile),
    ]
    try:
        code = subprocess.run(cmd, cwd=TARGET, timeout=COMPILE_DEADLINE_S).returncode
    except subprocess.TimeoutExpired:
        raise BuildError(f"scalac took more than {COMPILE_DEADLINE_S:.0f} s")
    if code != 0:
        raise BuildError("scalac failed")

    tmp = jar.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for p in _files(classes):
            z.write(p, p.relative_to(classes).as_posix())
        for p in resources:
            z.write(p, p.relative_to(RESOURCES).as_posix())
    shutil.rmtree(classes)
    tmp.replace(jar)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
