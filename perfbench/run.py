#!/usr/bin/env python3
"""Run one workload of the layered benchmark and print its result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) into .bench_build/; later runs reuse
that build while the sources are unchanged. The harness runs in one JVM on
local[min(nproc, 4)] with a fixed heap, and prints, as its last stdout line,
{"correct", "attempted", "failed", "metrics"}. A detail file (per-operation
kinds, set-up repetitions, failures, per-layer notes) is named on the line
before it. See perfbench/BENCHMARK.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("decode_scan", "mql_mix", "wire_rw", "curation")
HEAP = "3g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# what spark-submit would add for Spark on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files += sorted(p for p in (ROOT / "project").glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, cwd, timeout, stdout, stderr, env=None):
    """Run a process in its own group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    """Build if the sources changed since the last build; return the classpath."""
    stamp = BUILD / "build.stamp"
    cp_file = BUILD / "classpath.txt"
    fp = fingerprint()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspath"],
                         BENCH, BUILD_TIMEOUT_S, out, subprocess.STDOUT, sbt_env())
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    if code != 0 or not lines:
        tail = "\n".join(lines[-20:])
        fail(f"build failed (exit {code}); see {log}\n{tail}", 1)
    cp = lines[-1]
    if "perfbench" not in cp or not all(Path(p).exists() for p in cp.split(os.pathsep)):
        fail(f"could not read the runtime classpath from {log}", 1)
    cp_file.write_text(cp)
    stamp.write_text(fp)
    return cp


def clean_stale_work(work_root):
    if not work_root.exists():
        return
    for d in work_root.iterdir():
        try:
            pid = int(d.name.rsplit("-", 1)[1])
            os.kill(pid, 0)
        except (IndexError, ValueError):
            shutil.rmtree(d, ignore_errors=True)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--small", action="store_true",
                    help="smoke-test sizes (a hundredth of the benchmark's inputs)")
    ap.add_argument("--inject-wrong", metavar="KIND",
                    help="compare operations of this kind against a wrong answer")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("the engine's sources (build.sbt, src/main/scala) are not next to perfbench/")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    cp = classpath()
    work_root = BUILD / "work"
    clean_stale_work(work_root)
    work = work_root / f"{a.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    suffix = "-small" if a.small else ""
    detail = BUILD / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}{suffix}.json"
    log = BUILD / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}{suffix}.log"
    log.parent.mkdir(parents=True, exist_ok=True)

    # no hsperfdata file in the system temp dir: a run writes only its checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
            "--detail", str(detail)]
    if a.small:
        cmd.append("--small")
    if a.inject_wrong:
        cmd += ["--inject-wrong", a.inject_wrong]

    out_path = work / "stdout.txt"
    try:
        with open(out_path, "w") as out, open(log, "w") as err:
            code = run_group(cmd, ROOT, RUN_TIMEOUT_S, out, err)
        lines = [l for l in out_path.read_text().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        tail = "\n".join(log.read_text().splitlines()[-30:])
        fail(f"run failed (exit {code}); see {log}\n{tail}", 1)
    for l in lines:
        print(l)


if __name__ == "__main__":
    main()
