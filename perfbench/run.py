#!/usr/bin/env python3
"""Seeded benchmark for graft's public Scala API.

Builds the program from src/main and the benchmark (perfbench.Main) from
perfbench/src with the
Scala compiler that ships in Spark's jars directory, then runs one workload
in a fresh JVM and prints its detail line followed by the result line. See perfbench/README.md.

    python3 perfbench/run.py --workload collection --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("collection", "analytics")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# the JVM flags spark-submit would add on JDK 17, plus the vector module
# the packed kNN kernel and MLlib's BLAS use
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "--add-modules=jdk.incubator.vector", "-Xmx4g", "-Xss16m", "-XX:-UsePerfData"]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        die("java not found: set JAVA_HOME or put java on PATH")
    return str(exe)


def sources(base):
    return sorted(p for p in base.rglob("*") if p.is_file())


def digest(files, *extra):
    h = hashlib.sha256()
    for e in extra:
        h.update(e.encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def compiled(out, compile_into):
    """Returns `out`, compiling into it first unless an earlier build of the
    same sources finished there."""
    if (out / "ok").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.time()
    compile_into(tmp)
    (tmp / "ok").write_text(f"{time.time() - t0:.1f}\n")
    prefix = out.name.split("-")[0] + "-"
    for old in out.parent.glob(prefix + "*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    print(f"[perfbench] built {out.name} in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def build(jars):
    """Compiles the program, then the benchmark against it; each is rebuilt
    only when its sources change."""
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        die("no program sources under src/main/scala: run from a checkout of the repo")
    compiler = [str(jars / n) for n in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar")]
    missing = [c for c in compiler if not Path(c).exists()]
    if missing:
        die(f"Scala compiler jars missing: {missing}")
    scalac = [java(), "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
              "scala.tools.nsc.Main", "-nowarn"]
    prog_files = sources(main)
    prog_key = digest(prog_files)
    bench_files = sources(BENCH / "src")

    def compile_program(d):
        run_checked(scalac + ["-d", str(d), "-cp", str(jars / "*")] +
                    [str(p) for p in prog_files if p.suffix == ".scala"])
        if (main / "resources").is_dir():
            shutil.copytree(main / "resources", d, dirs_exist_ok=True)

    program = compiled(BUILD / f"program-{prog_key}", compile_program)

    def compile_bench(d):
        run_checked(scalac + ["-d", str(d), "-cp", os.pathsep.join([str(program), str(jars / "*")])] +
                    [str(p) for p in bench_files if p.suffix == ".scala"])

    bench = compiled(BUILD / f"bench-{digest(bench_files, prog_key)}", compile_bench)
    return program, bench


def run_checked(cmd):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, cwd=ROOT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        die("build failed")


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def run_bench(built, jars, args, timeout):
    """Runs perfbench.Main under a per-run temp root inside the checkout;
    returns its stdout lines, or None if it failed. The JVM stays in this
    process's group and ends when this process does."""
    # a run whose launcher was killed outright leaves its root behind
    for old in (ROOT / ".bench_build").glob("run-*"):
        if not pid_alive(int(old.name.split("-")[1])):
            shutil.rmtree(old, ignore_errors=True)
    tmp = ROOT / ".bench_build" / f"run-{os.getpid()}-{time.time_ns()}"
    tmp.mkdir(parents=True)
    program, bench = built
    cp = os.pathsep.join([str(bench), str(program), str(jars / "*")])
    cmd = [java()] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}/hadoop",
        "-cp", cp, "perfbench.Main"] + args + [
        "--cores", str(len(os.sched_getaffinity(0))), "--tmp", str(tmp)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=tmp)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run timed out after {timeout}s", file=sys.stderr)
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        print(f"[perfbench] perfbench.Main exited with {proc.returncode}", file=sys.stderr)
        return None
    return out.decode().strip().splitlines()


def selftest(built, jars):
    """Every check passes on real outputs at three seeds per workload, and
    every corruption of a passing output is rejected."""
    ok = True
    for seed in (1, 2, 3):
        for w in WORKLOADS:
            lines = run_bench(built, jars, ["--workload", w, "--seed", str(seed),
                                             "--seconds", "1", "--trace", "0", "--selftest"],
                               RUN_TIMEOUT_S)
            if lines is None:
                print(f"{w} seed {seed}: run failed")
                ok = False
                continue
            detail, result = json.loads(lines[-2]), json.loads(lines[-1])
            trials = detail["selftest"]
            missed = [t for t in trials if not t["rejected"]]
            print(f"{w} seed {seed}: correct={result['correct']} "
                  f"checks passed={sum(detail['checks_passed'].values())} "
                  f"corruptions rejected={len(trials) - len(missed)}/{len(trials)}")
            for t in trials:
                print(f"    {'rejected' if t['rejected'] else 'MISSED  '} "
                      f"{t['check']}: {t['corruption']}")
            ok = ok and result["correct"] and not missed and bool(trials)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


def main():
    # SIGTERM and SIGHUP unwind like Ctrl-C, so a running JVM is killed
    # and its temp root removed
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    jars = spark_jars()
    built = build(jars)
    if a.selftest:
        sys.exit(selftest(built, jars))
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    lines = run_bench(built, jars, ["--workload", a.workload, "--seed", str(a.seed),
                                     "--seconds", str(a.seconds), "--trace", str(a.trace)],
                       RUN_TIMEOUT_S)
    if not lines:
        die("run failed", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die("the run printed no result line", 1)
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
