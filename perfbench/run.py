"""Entry point of the benchmark.

    python3 perfbench/run.py --workload curate_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the library and the benchmark (perfbench/build.py), runs one JVM
with `local[nproc]` Spark, forwards its output, and prints the result
object as the last line of standard output. Everything it writes stays
under `.bench_build/perfbench/` in the checkout: the run's working files
are removed at exit; the build's jars, the class archive and a traced
run's span file stay. The exit code is non-zero, and no result is printed,
when the build, the run or the result fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("curate_batch", "reco_sar")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classpath: str, work: Path, main: str, args: list,
                jvm_opts: tuple = ()) -> list:
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata file: the JVM would write it to the system temp dir
    return (["java", "-Xmx3g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work / 'tmp'}", "-Duser.timezone=UTC"]
            + list(jvm_opts) + opens + ["-cp", classpath, main] + args)


def class_archive(classpath: str, cpus: int) -> list:
    """JVM options that load classes from a class-data-sharing archive of
    this class path. Loading Spark's classes from 287 jars costs a fresh
    JVM several seconds, paid again by every run; the archive is dumped
    once per build by a one-second traced run of every workload without
    warm-ups, so it holds the classes all workloads load. Every run uses
    it: when the dump fails, the run fails, so that no result is measured
    another way."""
    key = hashlib.sha256(classpath.encode()).hexdigest()[:16]
    jsa = build.OUT / f"cds-{key}.jsa"
    if not jsa.exists():
        for old in build.OUT.glob("cds-*"):
            if old.is_file():
                old.unlink()
        work = build.OUT / f"cds-work-{os.getpid()}"
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        tmp = jsa.with_name(jsa.name + f".tmp{os.getpid()}")
        log = build.OUT / f"cds-dump-{os.getpid()}.log"
        cmd = jvm_command(classpath, work, "perfbench.Main",
                          ["curate_batch", "1", "1", "classes", str(work),
                           str(cpus)],
                          (f"-XX:ArchiveClassesAtExit={tmp}", "-Xlog:cds=off",
                           "-Xlog:cds+dynamic=off"))
        try:
            with open(log, "w") as err:
                subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=err,
                               cwd=work, timeout=600)
        except subprocess.TimeoutExpired:
            pass
        shutil.rmtree(work, ignore_errors=True)
        if not tmp.exists():
            tail = log.read_text(errors="replace").splitlines()[-20:]
            log.unlink()
            sys.stderr.write("\n".join(tail) + "\n")
            raise SystemExit("class-data-sharing archive dump failed")
        log.unlink()
        tmp.rename(jsa)
    return [f"-XX:SharedArchiveFile={jsa}"]


def run_jvm(cmd: list, work: Path) -> list:
    """Run the JVM, echo its stdout, and return its stdout lines."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0:
        sys.stdout.write("\n".join(lines) + "\n")
        raise SystemExit(f"benchmark JVM exited with code {proc.returncode}")
    return lines


def main() -> None:
    # a terminated runner still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    classpath = build.build()
    cpus = len(os.sched_getaffinity(0))
    work = build.OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        if a.self_test:
            spec = build.ROOT / "BENCHMARK.json"
            lines = run_jvm(jvm_command(classpath, work, "perfbench.SelfTest",
                                        [str(spec)] if spec.exists() else []),
                            work)
            print("\n".join(lines))
            return
        lines = run_jvm(jvm_command(classpath, work, "perfbench.Main", [
            a.workload, str(a.seed), str(a.seconds), str(a.trace),
            str(work), str(cpus)], class_archive(classpath, cpus)), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result: {lines[-1]}")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
