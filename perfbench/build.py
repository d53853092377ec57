"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, into a directory keyed by a hash of every source,
so an unchanged tree is compiled once.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def out_dir() -> pathlib.Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home, "bin", "java")) if home else "java"


def spark_jars() -> list:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = sorted(pathlib.Path(home, "jars").glob("*.jar")) if home else []
    if not jars:
        sys.exit("perfbench: no Spark jars found; set SPARK_HOME")
    return jars


def sources() -> list:
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        sys.exit("perfbench: no program sources under src/main/scala")
    return main + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build() -> pathlib.Path:
    """Compiles if needed; returns the classes directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = out_dir() / f"classes-{h.hexdigest()[:16]}"
    if (classes / "BUILT").exists():
        return classes
    out_dir().mkdir(parents=True, exist_ok=True)
    for old in out_dir().glob("classes-*"):
        shutil.rmtree(old)
    tmp = classes.with_suffix(".tmp")
    tmp.mkdir()
    cp = os.pathsep.join(str(j) for j in spark_jars())
    argfile = out_dir() / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run([java(), "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                       stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp)
        sys.exit("perfbench: compilation failed")
    tmp.rename(classes)
    (classes / "BUILT").write_text("")
    return classes


if __name__ == "__main__":
    print(build())
