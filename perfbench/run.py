"""The repository's benchmark: one workload, one closed-loop client, the
default session at local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the input tables
under ``perfbench/.work/data`` from a fixed data seed, and the DuckDB
answers the checks compare against (``expected.json`` holds the slow
ones; ``worker.py --prepare --write-expected`` regenerates it). ``--seed``
picks the reactive block boundaries.

Each run starts fresh worker processes: all of them time the program's
set-up, reported as the median, and the last one then runs the
workload as a closed loop, one operation at a time: a cold pass, then
warm passes until ``--seconds`` of warm work and the workload's fixed
number of warm passes, whose operations give the latency percentiles.
The session is ``get_spark()`` as shipped; only deployment settings
are set. The last line of stdout is the result JSON, the line
before it the stamp; the full record, and with ``--trace 1`` the spans,
go to ``perfbench/.work/runs/<run>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from stats import median  # noqa: E402
from workloads import WORKLOADS, resolve  # noqa: E402

DATA_SEED = 42
SETUP_SAMPLES = 2  # fresh processes whose set-up is timed; the last runs the workload
DRIVER_MEM = "2g"  # the session default, 24g, is more than a small host can spare
RUN_LIMIT_S = 170  # a run that has not finished by then is stopped
BUILD_TIMEOUT_S = 800

E2E = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ok_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "io.load_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.cold_build_s": "s",
    "operators.cold_build_jobs": "count",
    "plan.s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.failed_tasks": "count",
    "exec.slot_busy_ratio": "ratio",
    "reactive.feed_s": "s",
    "reactive.poll_s": "s",
    "reactive.poll_jobs": "count",
    "reactive.idle_poll_s": "s",
    "reactive.bytes_written_per_input_byte": "ratio",
    "trace.record_s": "s",
    "jvm.peak_rss_mb": "MB",
}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def ensure_built(env: dict, sf: str) -> str:
    """The build: input tables for ``sf`` and the DuckDB expectations of
    every workload on them. Runs once per checkout, in its first run."""
    out = os.path.join(WORK, "data", sf)
    marker = os.path.join(WORK, f"built-{sf}")
    if os.path.exists(marker):
        return out
    if not os.path.isdir(out):
        from datagen import write_tables

        os.makedirs(os.path.dirname(out), exist_ok=True)
        write_tables(out, float(sf[2:]), DATA_SEED)
    subprocess.run([sys.executable, os.path.join(HERE, "worker.py"), "--prepare",
                    "--workload", "-", "--seed", "0", "--seconds", "0", "--sf-dir", out,
                    "--work", WORK, "--run-dir", WORK], cwd=CHECKOUT, env=env, check=True,
                   stdout=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(marker, "w"):
        pass
    return out


def deployment_env(cpus: int) -> dict[str, str]:
    """Deployment settings only: core count, local dirs, driver memory
    and temp dirs inside the checkout. No bench-only session knob."""
    env = dict(os.environ)
    for k in list(env):
        if k.startswith("SPARK_GRAFT_") or k == "PYSPARK_SUBMIT_ARGS":
            del env[k]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        # without -XX:-UsePerfData the JVM writes /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def run_worker(args, env, sf_dir: str, run_dir: str, setup_only: bool,
               deadline: float) -> tuple[float, dict, dict | None]:
    """Start one worker; returns (set-up seconds from process start to
    READY, set-up phases, result or None). A worker still running at
    ``deadline`` is killed; its JVM exits when the gateway pipe closes."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--sf-dir", sf_dir, "--work", WORK, "--run-dir", run_dir]
    if setup_only:
        cmd.append("--setup-only")
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "a") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=CHECKOUT, env=env)
        watchdog = threading.Timer(max(0.0, deadline - t0), proc.kill)
        watchdog.start()
        setup_s, phases, result, t_last = None, None, None, t0
        try:
            for line in proc.stdout:
                tag, _, payload = line.partition(" ")
                if tag == "READY":
                    setup_s = time.perf_counter() - t0
                    phases = json.loads(payload)
                elif tag == "RESULT":
                    result = json.loads(payload)
                t_last = time.perf_counter()
            proc.wait()
            teardown_s = time.perf_counter() - t_last
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or setup_s is None or (not setup_only and result is None):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"worker exited with {proc.returncode}")
    phases["teardown_s"] = teardown_s
    return setup_s, phases, result


def versions(env: dict) -> dict:
    out = {"python": platform.python_version()}
    try:
        import duckdb
        import pyspark

        out.update(pyspark=pyspark.__version__, duckdb=duckdb.__version__)
    except ImportError as e:
        out["import_error"] = str(e)
    try:
        jv = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30,
                            env=env)
        lines = [ln for ln in jv.stderr.splitlines() if "JAVA_TOOL_OPTIONS" not in ln]
        out["java"] = lines[0] if lines else None
    except (OSError, subprocess.SubprocessError):
        out["java"] = None
    return out


def source_id() -> dict:
    """git SHA when the checkout is a repository, and always a hash of
    the program's sources, which identifies a checkout without .git."""
    import hashlib

    h = hashlib.sha256()
    for root, dirs, files in os.walk(os.path.join(CHECKOUT, "basis_spark")):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    sha = None
    try:
        top, head = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=CHECKOUT, capture_output=True,
            text=True, timeout=30).stdout.split() or (None, None)
        if top and os.path.realpath(top) == os.path.realpath(CHECKOUT):
            sha = head
    except (OSError, subprocess.SubprocessError, ValueError):
        pass
    return {"git_sha": sha, "source_sha256": h.hexdigest()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    for path in ("basis_spark/session.py", "basis_spark/operators/__init__.py",
                 "tools/oracle_sweep.py"):
        if not os.path.isfile(os.path.join(CHECKOUT, path)):
            return fail(f"{path} not found: run from the root of a basis_spark checkout")

    cpus = len(os.sched_getaffinity(0))  # what nproc prints
    env = deployment_env(cpus)
    sf_dir = ensure_built(env, resolve(args.workload).sf)
    deadline = time.perf_counter() + RUN_LIMIT_S
    load_start = os.getloadavg()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}")
    os.makedirs(run_dir)

    setups, phases = [], []
    result = None
    for i in range(SETUP_SAMPLES):
        last = i == SETUP_SAMPLES - 1
        s, ph, res = run_worker(args, env, sf_dir, run_dir, not last, deadline)
        setups.append(s)
        phases.append(ph)
        result = res if last else result

    metrics = dict(result["metrics"], setup_s=median(setups))
    if args.trace:
        layer = dict(result["layers"])
        for k in ("session.start_s", "registry.import_s"):
            layer[k] = median([p[k] for p in phases])
        shown = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        shown = {k: {"value": metrics[k], "unit": u} for k, u in E2E.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "source": source_id(), "versions": versions(env),
        "nproc": cpus, "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "driver_memory": DRIVER_MEM, "SPARK_LOCAL_DIRS": env["SPARK_LOCAL_DIRS"],
        "data_seed": DATA_SEED, "sf_dir": os.path.relpath(sf_dir, CHECKOUT),
        "load_avg_start": load_start, "load_avg_end": os.getloadavg(),
        "setup_samples_s": setups, "setup_phases": phases,
        "metrics": metrics, "result": result,
    }
    if args.trace:
        record["layers"] = layer
        record["tracing_overhead"] = tracing_overhead(args, metrics)
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({k: record.get(k) for k in (
        "source", "versions", "nproc", "SPARK_GRAFT_CPUS", "driver_memory", "load_avg_start",
        "load_avg_end", "seed", "tracing_overhead")}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": shown,
    }))
    return 0


def tracing_overhead(args, traced: dict) -> dict | None:
    """Traced against the latest untraced run of the same workload and
    seed in this checkout, metric by metric, as traced/untraced - 1."""
    runs = os.path.join(WORK, "runs")
    pat = re.compile(re.escape(f"{args.workload}-s{args.seed}-t0-"))
    prior = sorted(d for d in os.listdir(runs) if pat.match(d))
    for d in reversed(prior):
        path = os.path.join(runs, d, "record.json")
        if os.path.exists(path):
            with open(path) as fh:
                base = json.load(fh)["metrics"]
            return {"untraced_run": d, **{
                k: traced[k] / base[k] - 1 for k in ("pass_s", "op_p50_s", "cold_pass_s")}}
    return None


if __name__ == "__main__":
    raise SystemExit(main())
