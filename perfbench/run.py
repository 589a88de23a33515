"""Run one graft benchmark workload in a fresh JVM and print its result.

    python3 perfbench/run.py --workload row_checks --seed 1 --seconds 10 --trace 0

Workloads: row_checks, compile_wide, dataset_checks, quarantine_runner.
`--trace 1` interleaves traced runs with the untraced ones and reports the
per-layer metrics instead of the end-to-end ones. Optional: `--spans FILE`
writes every traced span as JSON; `--break-threshold` and `--break-replay`
are self-test faults (see README.md).

The last stdout line is the result object
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`; a
`PERFBENCH_DETAIL` line before it carries samples, answers and span self
times. Builds graft from source on first use (see build.py). Every file the
run writes lives under `.bench_tmp/` in the checkout and is removed at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Variables that would point Spark outside the checkout.
STRIPPED_ENV = ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--spans")
    p.add_argument("--break-threshold", action="store_true",
                   help="self-test: send graft a wrong threshold; every run must fail its answer check")
    p.add_argument("--break-replay", action="store_true",
                   help="self-test: quarantine_runner's traced replay sleeps 5 s; every traced run must fail")
    return p.parse_args(argv)


def java_command(classes, jars, tmp, main_class, args):
    """A JVM for `main_class` whose temp files stay under `tmp`."""
    # no perf-data file: HotSpot would put it in /tmp whatever java.io.tmpdir says
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + [
        f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}",
        f"-Dderby.system.home={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        main_class, *args,
    ]


def bench_args(a, tmp):
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--tmp", tmp]
    if a.spans:
        args += ["--spans", os.path.abspath(a.spans)]
    if a.break_threshold:
        args += ["--break-threshold"]
    if a.break_replay:
        args += ["--break-replay"]
    return args


def _terminate(signum, frame):
    raise SystemExit(f"run: stopped by signal {signum}")


def main(argv):
    a = parse_args(argv)
    graft_env = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if graft_env:
        sys.exit("run: benchmark sessions take no graft settings; unset " + ", ".join(graft_env))
    classes, jars = build.build()
    tmp = os.path.join(build.ROOT, ".bench_tmp", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "java"))
    env = {k: v for k, v in os.environ.items() if k not in STRIPPED_ENV}
    log_path = os.path.join(tmp, "jvm.log")
    result = None
    signal.signal(signal.SIGTERM, _terminate)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(java_command(classes, jars, tmp, "perfbench.Main", bench_args(a, tmp)),
                                    stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                sys.exit(f"run: {a.workload} did not finish within {RUN_TIMEOUT_S} s")
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        for line in out.splitlines():
            if line.startswith("PERFBENCH_DETAIL "):
                print(line, flush=True)
            elif line.startswith("{"):
                try:
                    result = json.loads(line)
                except ValueError:
                    pass
        if proc.returncode != 0 or result is None:
            with open(log_path) as f:
                lines = [ln for ln in f if not ln.lstrip().startswith(("at ", "..."))]
            sys.stderr.write("".join(lines[-30:]))
            sys.exit(f"run: {a.workload} exited with code {proc.returncode} and no result")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
