"""Benchmark entry point. Run from the repo root:

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program (perfbench/build.py), makes the inputs, runs one
benchmark JVM and prints its result as the last line of stdout: one JSON
object with `correct`, `attempted`, `failed` and `metrics`. Every
reading and writing stays under the build directory ($CARGO_TARGET_DIR,
default .bench_build). Exits non-zero, printing no result, when the
build, the inputs or the run fail.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ["zeek_rotated_gz", "zeek_wide_plain", "contract_floor"]
CONTRACT_SEED = 42
# a run must end within 180 s, or 900 s when it had to build first
RUN_BUDGET_S, BUILD_RUN_BUDGET_S = 175, 880
XMX = "8g"
PINS = os.path.join(HERE, "pins", "contract_sf0.1.tsv")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def contract_data(build_dir):
    """The contract tables at sf0.1 and the sf0.001 warm-up copy, made
    once per build directory from a fixed seed (the pinned output hashes
    hold for exactly these tables)."""
    import contract_data as cd
    root = os.path.join(build_dir, "data", f"contract_seed{CONTRACT_SEED}")
    done = os.path.join(root, "DONE")
    if not os.path.isfile(done):
        for sf in ("0.1", "0.001"):
            cd.generate(os.path.join(root, f"sf{sf}"), float(sf), CONTRACT_SEED)
        open(done, "w").close()
    return root


def jvm_cmd(build_dir, classes, jars, main, main_args):
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{XMX}",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(build_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([classes] + jars), main] + main_args


def commit():
    # only this checkout's own repository; git would otherwise report
    # the commit of any repository enclosing it
    if not os.path.exists(".git"):
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    start = time.monotonic()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    import build
    classes, jars, build_s = build.build(build_dir)
    if build_s:
        print(f"context build_s={build_s:.1f}", flush=True)

    work = os.path.join(build_dir, "work")
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--work", work, "--out", out, "--commit", commit()]
    if args.workload == "contract_floor":
        main_args += ["--data", contract_data(build_dir), "--pins", PINS]
    cmd = jvm_cmd(build_dir, classes, jars, "perfbench.Main", main_args)

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
    budget = BUILD_RUN_BUDGET_S if build_s else RUN_BUDGET_S
    timer = threading.Timer(max(1.0, start + budget - time.monotonic()), kill)
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
    finally:
        timer.cancel()
        kill()
        proc.wait()
    if code != 0 or not os.path.isfile(out):
        print(f"perfbench: benchmark JVM exited with code {code}", file=sys.stderr)
        sys.exit(1)
    with open(out) as f:
        result = json.load(f)
    os.remove(out)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result", file=sys.stderr)
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
