#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload cdc_lake --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source first (see build.py), then
runs the measurement in one JVM at local[nproc]. --trace 1 runs the traced
variant: it writes a span file and reports the per-layer metrics instead of
the end-to-end ones. All files go under the build directory of the checkout.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing into the benchmark's own directory
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cdc_lake", "curation")
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes: Path, work: Path, main: str, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", f"{classes}{os.pathsep}{build.classpath()}", main] + list(args))


def run_jvm(cmd, log: Path, timeout: float):
    """Run the JVM in its own process group; stderr goes to `log`. Returns
    (exit code, stdout lines). The group is killed on timeout or interrupt."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out.splitlines()


def tail_of(log: Path, n=40):
    try:
        return "".join(log.read_text(errors="replace").splitlines(True)[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classes = build.build()
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-t{a.trace}"
    work = build.build_dir() / "perfbench" / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    logs = build.build_dir() / "perfbench" / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{name}.log"
    if a.selftest:
        main_class, args = "graftbench.SelfTest", ["--work", str(work)]
    else:
        main_class = "graftbench.Main"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work)]
    # the measurement gets the whole per-run budget; a first run that had to
    # compile first stays far inside the longer first-run allowance
    budget = 900 if a.selftest else TIMEOUT_S
    try:
        code, lines = run_jvm(java_cmd(classes, work, main_class, args), log, budget)
    except subprocess.TimeoutExpired:
        sys.stderr.write(tail_of(log))
        print(f"run: {name} exceeded its time budget", file=sys.stderr)
        return 4
    finally:
        if a.trace:  # keep the span file next to the logs
            for f in work.glob("*.spans.jsonl"):
                shutil.copy(f, logs / f.name)
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    if code != 0:
        sys.stderr.write(tail_of(log))
        print(f"run: {name} exited with code {code} (log: {log})", file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main())
