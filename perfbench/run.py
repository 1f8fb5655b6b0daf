"""Layer-separated benchmark of the engine's ``queries()`` keys.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. writes a seed-shuffled copy of the sf0.1 tables (``gen.py``) into
   ``.perfbench_run/`` under the root, the run's only scratch space;
2. starts ``worker.py`` in a fresh process with a hermetic environment
   (``SPARK_GRAFT_CPUS`` = usable cores, a driver heap below host RAM,
   ``TMPDIR``/``SPARK_LOCAL_DIRS``/``SMETL_DRAIN_SCRATCH`` and the
   working directory inside the scratch space);
3. prints every metric as ``name value unit``, then one JSON line
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics of one traced warm
   pass with ``--trace 1``;
4. removes the scratch space and every process it started.

Workloads, their keys, the keys trimmed to fit a run and the layer map
are recorded in ``workloads.json``. ``attempted`` counts the workload's
keys and ``failed`` those that raised or did not match their oracle;
``failed_ratio`` is printed with the metrics. A traced run also writes
its spans to ``.perfbench_traces/<workload>-seed<N>.json``.

Exits non-zero, printing no result, when the program is missing from
the root, the source tables are missing, or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_run")
TRACES = os.path.join(ROOT, ".perfbench_traces")

sys.path.insert(0, HERE)
import gen  # noqa: E402
from layertrace import LAYER_METRICS  # noqa: E402

#: End-to-end metrics and their units, in the order they are printed.
END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "driver_peak_rss_mb": "MiB",
}

#: Driver JVM heap: the session default (16g) exceeds a 15 GiB host.
DRIVER_MEM = "4g"

#: Wall-clock budget of one run; the worker is killed past it.
RUN_TIMEOUT_S = 170


def load_workloads() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"]


def hermetic_env(scratch: str) -> dict[str, str]:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=os.path.join(scratch, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        SMETL_DRAIN_SCRATCH=os.path.join(scratch, "drain"),
        # Spark's Python workers import the program from the root too
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    for d in ("tmp", "local", "drain", "work"):
        os.makedirs(os.path.join(scratch, d))
    return env


def _group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes of a process group, from /proc."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # fields after the parenthesised command: state ppid pgrp
                state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except OSError:
            continue
        if int(pgrp) == pgid and state != "Z":
            pids.append(int(entry))
    return pids


def _reap_group(pgid: int) -> None:
    """Kill whatever is left of the worker's process group (the JVM and
    its Python daemons) and wait until none of it runs."""
    deadline = time.monotonic() + 10
    while _group_members(pgid):
        if time.monotonic() > deadline:
            raise RuntimeError(f"process group {pgid} survived SIGKILL")
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_worker(args, keys: list[str], data: str, env: dict, t_start: float) -> dict:
    out = os.path.join(SCRATCH, "result.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--root", ROOT,
        "--data", data,
        "--keys", ",".join(keys),
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--out", out,
    ]
    if args.trace:
        os.makedirs(TRACES, exist_ok=True)
        cmd += ["--trace-file", os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json")]
    t0 = time.time()
    # worker stdout goes to our stderr: the result line must be our last stdout line
    proc = subprocess.Popen(
        [*cmd, "--t0", repr(t0)],
        cwd=os.path.join(SCRATCH, "work"),
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=max(1.0, RUN_TIMEOUT_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _reap_group(proc.pid)
        proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: worker {'timed out' if rc is None else f'exited {rc}'}")
    with open(out) as f:
        return json.load(f)


def main() -> None:
    t_start = time.monotonic()
    workloads = load_workloads()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("__spark_entry__.py", "social_media_etl_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found under {ROOT}")
    if not os.path.isdir(gen.SOURCE_DIR):
        raise SystemExit(f"perfbench: source tables {gen.SOURCE_DIR} not found")

    keys = workloads[args.workload]["keys"]
    shutil.rmtree(SCRATCH, ignore_errors=True)
    try:
        env = hermetic_env(SCRATCH)
        data = os.path.join(SCRATCH, "data")
        gen.generate(data, args.seed)
        res = run_worker(args, keys, data, env, t_start)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)

    for k, why in res["failed"].items():
        print(f"FAILED {k}: {why.strip().splitlines()[-1]}", file=sys.stderr)
    m = res["metrics"]
    print(f"keys (seed order): {' '.join(res['keys'])}")
    print(f"warm passes: {' '.join(f'{s:.3f}' for s in res['warm_passes_s'])} s")
    for name, unit in END_TO_END.items():
        print(f"{name} {m[name]:.6g} {unit}")
    print(f"failed_ratio {m['failed_ratio']:.6g} ratio")
    if args.trace:
        reported = {n: (res["layers"][n], u) for n, u in LAYER_METRICS.items()}
        for name, (value, unit) in reported.items():
            print(f"{name} {value:.6g} {unit}")
        print(f"trace file: {res['trace_file']}")
    else:
        reported = {n: (m[n], u) for n, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": not res["failed"],
                "attempted": len(keys),
                "failed": len(res["failed"]),
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in reported.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
