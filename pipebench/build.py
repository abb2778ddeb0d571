"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (pipebench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/pipebench/classes-<hash>. A build is
reused while no source file changes.

    python3 pipebench/build.py        # from the root of the repository
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    distribution with a Scala compiler whose spark-submit is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        pathlib.Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if pathlib.Path(d, "spark-submit").exists()]
    for home in homes:
        jars = pathlib.Path(home) / "jars"
        if list(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit(f"pipebench: no Spark distribution with a Scala compiler in {homes}")


def sources(root):
    program = root / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"pipebench: program sources not found at {program}")
    return sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build(root):
    """Return the directory of compiled classes, compiling if needed."""
    root = pathlib.Path(root).resolve()
    srcs = sources(root)
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    for jar in sorted(jars.glob("scala-compiler-*.jar")):
        digest.update(jar.name.encode())
    out = root / ".bench_build" / "pipebench"
    classes = out / f"classes-{digest.hexdigest()[:16]}"
    if (classes / ".done").exists():
        return classes
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / "classes-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = out / "scalac-sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    print(f"pipebench: compiling {len(srcs)} sources", file=sys.stderr)
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise SystemExit("pipebench: compilation failed")
    for old in out.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(classes)
    (classes / ".done").touch()
    return classes


if __name__ == "__main__":
    print(build(pathlib.Path.cwd()))
