"""Run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first run builds the program and the
benchmark (see build.py); later runs reuse the build while no source
changed. The workload runs in one local Spark JVM (``local[4]``). Every
end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``) is printed by name and unit, and the last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. The exit code is non-zero when an output check fails or a
timed call failed. A full record of the run (every sample, the spans, the
input digests, the host-speed receipt) is written under
``.bench_build/perfbench/records/`` with a name no other run shares.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "2g"

# What spark-submit injects for Spark 4 on JDK 17 (the program's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(cp, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, main] + args)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true",
                   help="run the benchmark's self-tests of its reference code")
    a = p.parse_args()
    if not a.self_test and a.workload is None:
        p.error("--workload is required")
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    out = build.build_dir()
    work = os.path.join(out, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.self_test:
        cmd = jvm_command(cp, work, "graft.perfbench.SelfTest", [])
    else:
        cmd = jvm_command(cp, work, "graft.perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--records", os.path.join(out, "records")])
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s and was stopped", file=sys.stderr)
        code = 3
    except KeyboardInterrupt:
        code = 130
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


def _interrupt(signum, frame):
    raise KeyboardInterrupt


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _interrupt)
    sys.exit(main())
