"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
Scala sources (perfbench/scala) into <build dir>/classes with the Scala
compiler that ships in the Spark distribution's jars, the jar directory
the repository's build.sbt compiles against. A stamp over every source file
skips the compile when nothing changed.

Usage: python3 perfbench/build.py [checkout root]
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SOURCE_DIRS = ["src/main/scala", "src/main/resources", "perfbench/scala"]


def spark_jars(root):
    """The jar directory build.sbt compiles against (its
    `unmanagedBase := file("...")`), else $SPARK_HOME/jars."""
    for line in (Path(root) / "build.sbt").read_text().splitlines():
        if line.startswith("unmanagedBase") and 'file("' in line:
            return Path(line.split('file("')[1].split('"')[0])
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    raise FileNotFoundError("no Spark jar directory: set SPARK_HOME")


def build_dir(root):
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    d = d if d.is_absolute() else root / d
    return d / "perfbench"


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        base = root / d
        if not base.is_dir():
            raise FileNotFoundError(f"missing source directory {d}")
        out += sorted(p for p in base.rglob("*") if p.is_file())
    return out


def classpath(root):
    return os.pathsep.join([str(build_dir(root) / "classes"),
                            str(root / "src/main/resources"),
                            str(spark_jars(root) / "*")])


def ensure_built(root, log=sys.stderr):
    root = Path(root).resolve()
    files = sources(root)
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir(root)
    if (out / "stamp").is_file() and (out / "stamp").read_text() == stamp:
        return
    jars = spark_jars(root)
    if not any(jars.glob("scala-compiler-*.jar")):
        raise FileNotFoundError(f"no Scala compiler in {jars}")
    shutil.rmtree(out, ignore_errors=True)
    (out / "classes").mkdir(parents=True)
    scala = [str(p) for p in files if p.suffix == ".scala"]
    (out / "sources.txt").write_text("\n".join(scala) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out / "classes"),
           "-cp", str(jars / "*"), f"@{out / 'sources.txt'}"]
    print(f"[perfbench] compiling {len(scala)} Scala files", file=log)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, cwd=root)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise RuntimeError("compile failed")
    (out / "stamp").write_text(stamp)


if __name__ == "__main__":
    ensure_built(sys.argv[1] if len(sys.argv) > 1 else ".")
