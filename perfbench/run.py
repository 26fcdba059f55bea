"""Product-path benchmark runner.

    python3 perfbench/run.py --workload <bulk_fold|trickle|clean_table> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (see build.py), then
runs one workload in one `spark-submit` driver at `local[nproc]`.
Everything the run writes stays under perfbench/work/ and is removed
when it ends. The last line of standard output is the result object;
see README.md.
"""

import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

import build

BENCH = pathlib.Path(__file__).resolve().parent
WORKLOADS = ("bulk_fold", "trickle", "clean_table")
DRIVER_MEMORY = "3g"
# the driver is killed this long after it starts, so a run on a built
# jar always ends within the 180 s a run may take; the build before it
# has its own deadline (build.py)
DEADLINE_S = 170.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args(argv)
    if not a.selftest and a.workload is None:
        p.error("--workload is required")
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    return a


def driver_command(jar, work, args):
    cores = os.cpu_count() or 1
    java_opts = " ".join([
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j.configurationFile={BENCH / 'log4j2.properties'}",
        "-XX:+UseParallelGC",
    ])
    cmd = [
        str(build.spark_home() / "bin" / "spark-submit"),
        "--master", f"local[{cores}]",
        "--driver-memory", DRIVER_MEMORY,
        # headless: no UI server; changes nothing the jobs execute
        "--conf", "spark.ui.enabled=false",
        # one shuffle partition per core: with the default 200 the runs
        # do not fit the benchmark's time budget; see README.md
        "--conf", f"spark.sql.shuffle.partitions={cores}",
        "--driver-java-options", java_opts,
        "--class", "perfbench.BenchMain",
        str(jar),
        "--work", str(work),
    ]
    if args.selftest:
        return cmd + ["--selftest"]
    return cmd + [
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]


def main(argv):
    args = parse_args(argv)
    try:
        jar = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = BENCH / "work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

    proc = subprocess.Popen(
        driver_command(jar, work, args),
        cwd=work, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    last = None
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
        for line in out.splitlines():
            if line.strip():
                last = line
                if not line.startswith('{"correct"'):
                    print(line)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        print("perfbench: driver exceeded its deadline", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    if code != 0:
        print(f"perfbench: driver exited with {code}", file=sys.stderr)
        return code or 1
    if args.selftest:
        return 0
    try:
        result = json.loads(last or "")
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print("perfbench: driver printed no result", file=sys.stderr)
        return 4
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
