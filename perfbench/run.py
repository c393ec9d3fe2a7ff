"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --stream-rates 2000,3000,4500 \
        --workload worker_stream --seed 1 --seconds 30 --trace 0

Builds the program and the benchmark (see build.py), then runs the workload
in one JVM on ``local[<cores>]``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. ``--save DIR`` also writes that line to
``DIR/<workload>__<seed>__t<trace>.json`` for compare.py.
Exit code 0 only when a result was printed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("curate_batch", "store_ingest", "worker_stream")
# a run must end well inside three minutes, build excluded
RUN_TIMEOUT_S = 170
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def select(result, trace):
    """Keep the metrics BENCHMARK.json names for this mode, checking that
    each was measured with the unit it declares."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in spec:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            sys.exit(f"perfbench: metric {m['name']} [{m['unit']}] not measured "
                     f"as declared: {got}")
        metrics[m["name"]] = got
    return {"correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--stream-rates", default="",
                    help="worker_stream offered rates in rows/s, low,mid,high "
                         "(BENCHMARK.json's command fixes them)")
    ap.add_argument("--save", default="")
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    work = os.path.join(build.build_dir(), "runs",
                        f"{a.workload}-{a.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            # more JIT threads than the default for a few cores clear the
            # compile queue of a fresh JVM sooner, so ops reach their
            # steady speed earlier in the run
            "-XX:CICompilerCount=6",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--stream-rates", a.stream_rates,
              "--trace-out", os.path.join(build.build_dir(), "traces")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: run timed out")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: workload exited with {proc.returncode}")
    result = select(json.loads(lines[-1]), a.trace)
    line = json.dumps(result, separators=(",", ":"))
    if a.save:
        os.makedirs(a.save, exist_ok=True)
        name = f"{a.workload}__{a.seed}__t{a.trace}.json"
        with open(os.path.join(a.save, name), "w") as f:
            f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
