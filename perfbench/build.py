#!/usr/bin/env python3
"""Build the benchmark: compile graft's sources (src/main/scala) together
with the bench's own (perfbench/src) into one class directory, with the
Scala 2.13 compiler that ships among Spark's jars. A digest of every input
file names the output, so an unchanged tree is built once.

    python3 perfbench/build.py            # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SOURCES = [ROOT / "src" / "main" / "scala", BENCH / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def out_root() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME (no spark-submit on PATH)")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        sys.exit(f"perfbench: no Spark jars under {jars}")
    return jars


def inputs():
    for base in SOURCES + [RESOURCES]:
        if base.is_dir():
            yield from sorted(p for p in base.rglob("*") if p.is_file())


def digest() -> str:
    h = hashlib.sha256()
    for p in inputs():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(spark_jars() / "*")])


def build() -> Path:
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("perfbench: no graft sources (src/main/scala) next to perfbench/")
    key = digest()
    classes = out_root() / f"classes-{key}"
    if (classes / ".complete").exists():
        return classes
    jars = spark_jars()
    compiler = sorted(jars.glob("scala-compiler-2.13*.jar"))
    library = sorted(jars.glob("scala-library-2.13*.jar"))
    reflect = sorted(jars.glob("scala-reflect-2.13*.jar"))
    if not (compiler and library and reflect):
        sys.exit(f"perfbench: no Scala 2.13 compiler among {jars}")
    tmp = out_root() / f"building-{key}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    srcs = [str(p) for base in SOURCES for p in sorted(base.rglob("*.scala"))]
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp",
           os.pathsep.join(str(j) for j in compiler + library + reflect),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar"))),
           f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compile failed")
    argfile.unlink()
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    (tmp / ".complete").write_text(key + "\n")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    # older builds of other trees are of no further use
    for old in out_root().glob("classes-*"):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
