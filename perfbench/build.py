"""Build file of the benchmark: compiles the library and the benchmark.

The library (`src/main/scala`, plus `src/main/resources` when present) and
the benchmark (`perfbench/scala`) are compiled with the Scala compiler that
ships in Spark's own jars, so no build tool and no download is needed.
Outputs are jars under `.bench_build/perfbench/` in the checkout, named
after a hash of their sources, so an unchanged tree is compiled once. They
are jars, not class directories, because the JVM's class-data-sharing
archive (see run.py) accepts only jars on the class path.

    python3 perfbench/build.py        # prints the runtime classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "scala"
LIB_SRC = ROOT / "src" / "main" / "scala"
LIB_RES = ROOT / "src" / "main" / "resources"
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars() -> Path:
    """Spark's jars: under $SPARK_HOME, else beside the `spark-submit` on
    PATH, else in the installed pyspark package."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(Path(os.environ["SPARK_HOME"]))
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(Path(submit).resolve().parent.parent)
    try:
        import pyspark
        homes.append(Path(pyspark.__file__).parent)
    except ImportError:
        pass
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise SystemExit("no Spark jars with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources(d: Path, suffixes=(".scala", ".java")) -> list:
    return sorted(p for p in d.rglob("*") if p.is_file() and p.suffix in suffixes)


def sources_all(d: Path) -> list:
    return sorted(p for p in d.rglob("*") if p.is_file())


def digest(files: list, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def compile_into(dest: Path, srcs: list, classpath: str, extra: Path = None) -> None:
    """scalac `srcs` into the jar `dest`, adding the files under `extra`;
    the jar appears only when complete."""
    if dest.exists():
        return
    tmp = dest.with_name(dest.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    classes = tmp / "classes"
    classes.mkdir()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes),
           f"@{argfile}"]
    # run inside the output directory: scalac also searches the working
    # directory for classes, where the checkout's directories would read
    # as packages
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=tmp)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"compilation of {dest.name} failed")
    jar = tmp / "out.jar"
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for base in [classes] + ([extra] if extra else []):
            for f in sorted(base.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(base).as_posix())
    jar.rename(dest)
    shutil.rmtree(tmp, ignore_errors=True)


def build() -> str:
    """Compile what is stale and return the runtime classpath."""
    lib_srcs = sources(LIB_SRC) if LIB_SRC.is_dir() else []
    if not lib_srcs:
        raise SystemExit(f"library sources not found under {LIB_SRC}")
    bench_srcs = sources(BENCH_SRC)
    if not bench_srcs:
        raise SystemExit(f"benchmark sources not found under {BENCH_SRC}")
    jars = spark_jars()
    jar_cp = str(jars / "*")
    res = LIB_RES if LIB_RES.is_dir() else None
    lib_jar = OUT / f"lib-{digest(lib_srcs + (sources_all(res) if res else []))}.jar"
    compile_into(lib_jar, lib_srcs, jar_cp, res)
    bench_jar = OUT / f"bench-{digest(bench_srcs, lib_jar.name)}.jar"
    compile_into(bench_jar, bench_srcs, f"{lib_jar}{os.pathsep}{jar_cp}")
    for old in list(OUT.glob("lib-*.jar")) + list(OUT.glob("bench-*.jar")):
        if old not in (lib_jar, bench_jar):
            old.unlink()
    return os.pathsep.join([str(bench_jar), str(lib_jar), jar_cp])


if __name__ == "__main__":
    print(build())
