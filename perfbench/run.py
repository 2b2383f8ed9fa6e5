"""Lakehouse benchmark: one command per workload run.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (see build.py), starts one
JVM that generates the seeded inputs, sets up its tables, runs the
workload's closed loop for --seconds and checks every result, then prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones. The exit code is 0 only when the run finished and every
result was correct.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("olap", "small_commits")
# Spark 4 on JDK 17 outside spark-submit needs these (the launcher's defaults)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def result_line(stdout):
    """The JVM's result: the last stdout line, one JSON object."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    if not isinstance(r["attempted"], int) or r["attempted"] < 1 or not isinstance(r["failed"], int):
        return None
    for m in r["metrics"].values():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            return None
    return r


def main(argv):
    a = parse(argv)
    if not (ROOT / "src" / "main" / "scala").is_dir():
        print("perfbench: no engine sources under src/main/scala; nothing to run", file=sys.stderr)
        return 2
    out_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classpath = build.build(out_dir / "classes")
    t0 = time.monotonic()  # a run is limited; a first build is not
    work = out_dir / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log_path = out_dir / "logs" / f"{a.workload}-{a.seed}-trace{a.trace}.log"
    log_path.parent.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), "-Xmx2g", "-Xss4m", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.system.home={work / 'derby'}",
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work),
           "--spans", str(out_dir / "traces" / f"{a.workload}-{a.seed}.jsonl")]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)

        def stop(signum, _frame):
            raise SystemExit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            stdout, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {RUN_LIMIT_S} s; log in {log_path}", file=sys.stderr)
            return 1
        finally:
            # the JVM and anything it started end with this command
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    tail = [l for l in log_path.read_text(errors="replace").splitlines() if l.startswith("[perfbench]")]
    sys.stderr.write("\n".join(tail[-60:]) + "\n")
    r = result_line(stdout)
    if proc.returncode != 0 or r is None:
        print(f"perfbench: run failed (exit {proc.returncode}); log in {log_path}", file=sys.stderr)
        return 1
    print(json.dumps(r))
    return 0 if r["correct"] and r["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
