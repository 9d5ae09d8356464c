"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_cold --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. Generates the inputs from
``--seed`` (``tools/gen_sf.py``), starts a fresh worker process
(``worker.py``) with a fresh cache root under ``.perfbench_work/``, and
prints two JSON lines on stdout: the run's environment record, then the
result (``correct``, ``attempted``, ``failed``, ``metrics``). ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the workload traced and
reports the per-layer metrics, the traced run's ``total_s`` and the
tracing overhead. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SF = 0.01
WORKLOADS = ("catalog_cold", "cron_ticks")
#: every run must end well inside the 180 s a run may take
DEADLINE_S = 170.0
DRIVER_MEMORY = "3g"
#: No perf-data file in /tmp. C1 only: in a process that lives a minute,
#: C2's background compiles doubled the JVM's CPU (catalog_cold, 4 CPUs:
#: 76 vs 33 CPU-s for the timed phase, 24.4 vs 19.9 s wall) and made every
#: time swing with the host's load; most of their output arrived too late
#: to be used.
JAVA_OPTIONS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"

END_TO_END = {
    "setup_s": "s",
    "total_s": "s",
    "cpu_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "cache_mb": "MB",
    "stored_mb": "MB",
}


def spark_cpus() -> int:
    """Spark's task slots (and shuffle partitions): half the CPUs. The
    driver JVM keeps another CPU or more busy with planning, code
    generation, JIT and GC; with a slot per CPU the run measured the
    scheduler (catalog_cold on 4 CPUs, 4 vs 2 slots: 23.4 vs 20.0 s,
    70.7 vs 61.5 CPU-s)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def layer_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name in ("spark.jobs", "spark.stages", "spark.tasks"):
        return "count/op"
    if name.endswith(("_ratio", "_amplification")):
        return "ratio"
    return "count"


def source_digest() -> str:
    """md5 of the engine's Python sources (the checkout has no git)."""
    h = hashlib.md5()
    pkg = os.path.join(ROOT, "binance_futures_availability_spark")
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _dirs, names in os.walk(pkg):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (the JVM and
    Python workers it started) and wait until all of it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        if not group_alive(proc.pid):
            return
        time.sleep(0.05)


def run_worker(args, inputs: str, work: str, trace: int, deadline: float) -> dict:
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        {
            # the engine and this directory, for the driver AND for the
            # Python workers Spark forks (they do not inherit sys.path)
            "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.path.join(ROOT, "tools")]),
            "SPARK_GRAFT_CPUS": str(spark_cpus()),
            "SPARK_GRAFT_CACHE": os.path.join(work, "cache"),
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-memory {DRIVER_MEMORY} --driver-java-options "
                f"'-Djava.io.tmpdir={tmp} {JAVA_OPTIONS}' pyspark-shell"
            ),
            "PYTHONHASHSEED": "0",
        }
    )
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--inputs", inputs, "--work", work, "--out", out,
        "--spawned", repr(time.time()),
        "--spawned-cpu", *map(repr, probes.host_cpu()),
    ]
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    if code != 0 or not os.path.exists(out):
        with open(log_path, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"worker {why}; log tail:\n{tail}")
    with open(out, encoding="utf-8") as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    # a TERM (a caller's timeout) unwinds through the finally blocks below,
    # which stop the worker's process group and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("__spark_entry__.py", "binance_futures_availability_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: engine not found ({need} missing under {ROOT})",
                  file=sys.stderr)
            return 2

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen_sf

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "inputs")
        with contextlib.redirect_stdout(sys.stderr):  # its progress lines
            gen_sf.generate(SF, inputs, args.seed)
        run = run_worker(args, inputs, os.path.join(work, "w"), args.trace, deadline)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    problems = list(run["problems"])
    hermetic = run["env"]["hermetic"]
    if any(hermetic.values()):
        problems.append(f"run was not hermetic: {hermetic}")
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": SF,
        "nproc": nproc,
        "spark_cpus": spark_cpus(),
        "pyspark": pyspark.__version__,
        "commit": git_commit(),
        "source_md5": source_digest(),
        "trace": args.trace,
        "steal_s": run["env"]["steal_s"],
        "setup_wall_s": run["env"]["setup_wall_s"],
        "total_wall_s": run["env"]["total_wall_s"],
        "ops": run["ops"],
        "failed_ops": run["failed_ops"],
        "hermetic": hermetic,
        "op_labels": run["env"]["op_labels"],
        "op_s": run["env"]["op_s"],
        "op_wall_s": run["env"]["op_wall_s"],
        "problems": problems,
    }
    for key in ("setup_stages", "checked_queries", "symbols", "probe_requests"):
        if key in run["env"]:
            env[key] = run["env"][key]
    if args.trace:
        layers = {**run["layers"], "trace.total_s": run["metrics"]["total_s"]}
        metrics = {
            k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())
        }
    else:
        metrics = {
            k: {"value": run["metrics"][k], "unit": u} for k, u in END_TO_END.items()
        }
    print(json.dumps({"perfbench_env": env}))
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": run["ops"],
                "failed": run["failed_ops"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
