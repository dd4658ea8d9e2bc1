"""Build for the benchmark: compiles the engine (src/main) together with the
benchmark's own Scala sources (perfbench/src) into one classes directory.

It calls the Scala compiler directly from the Spark distribution's jars (the
same jars build.sbt compiles against), so a build needs no sbt, no network
and writes nothing outside the checkout. The output directory is keyed by a
digest of every source and resource, so an unchanged tree is never rebuilt
and a changed one always is.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"

ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"


class BuildError(Exception):
    pass


def _files(root, pattern):
    return sorted(p for p in root.rglob(pattern) if p.is_file()) if root.is_dir() else []


def spark_jars():
    """The Spark distribution build.sbt compiles against: its unmanagedBase."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m is None:
        raise BuildError(f"no unmanagedBase := file(...) in {sbt}")
    return Path(m.group(1))


def spark_classpath():
    return str(spark_jars() / "*")


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    sources = _files(ENGINE_SRC, "*.scala") + _files(BENCH_SRC, "*.scala")
    resources = _files(ENGINE_RES, "*")
    if not _files(ENGINE_SRC, "*.scala"):
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    compiler = sorted(spark_jars().glob("scala-compiler-*.jar"))
    if not compiler:
        raise BuildError(f"no scala-compiler jar in {spark_jars()}")

    h = hashlib.sha256(compiler[-1].name.encode())
    for f in sources + resources:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".complete").exists():
        return classes

    OUT.mkdir(parents=True, exist_ok=True)
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old)
    tmp = OUT / "classes.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in sources) + "\n")
    print(f"[perfbench] compiling {len(sources)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", spark_classpath(),
           "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    for f in resources:
        dst = tmp / f.relative_to(ENGINE_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dst)
    (tmp / ".complete").write_text("")
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
