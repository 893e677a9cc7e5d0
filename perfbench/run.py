"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --driver-memory 4g --workload detect_train --seed 1 --seconds 25 --trace 0

Run from the root of a checkout.  The run happens in a fresh child
process (``perfbench/harness.py``) with its own directory under
``.perfbench/``: ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the driver JVM's
``java.io.tmpdir`` all point into it, and it is deleted when the run
ends, after every process the run started has exited.  The driver heap
is ``--driver-memory``, never inherited from the environment;
``BENCHMARK.json``'s command states it.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``, which hold the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``.
The lines before it print the same metrics by name with their units,
and the full run record (per-query latencies, the correctness check,
the host canary and, when traced, every span and per-query layer
record) is written to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.trace import PER_LAYER, dir_bytes  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

RUN_LIMIT_S = 150  # a run that has not finished by then is killed
MARKER = "PERFBENCH_RUN"
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {"setup_s": "s", "wall_s": "s"}


def _marked_pids(marker: str) -> list[int]:
    """Every live process whose environment carries this run's marker:
    the harness, the JVM it launched and the JVM's Python workers (which
    leave the harness's process group)."""
    needle = f"{MARKER}={marker}\0".encode()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as fh:
                if needle in fh.read():
                    pids.append(int(entry))
        except OSError:
            continue
    return pids


def stop_all(marker: str) -> None:
    """Terminate what is left of the run's processes and wait for them."""
    for sig, grace in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 15.0)):
        pids = _marked_pids(marker)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while _marked_pids(marker) and time.monotonic() < deadline:
            time.sleep(0.1)
    if _marked_pids(marker):
        raise RuntimeError("benchmark processes survived SIGKILL")


@contextlib.contextmanager
def run_environment(driver_memory: str):
    """A fresh run directory under ``.perfbench/`` and the environment of
    a child process that keeps its temp files there: yields
    ``(run_dir, env, cpus)``.  On exit every process carrying the run's
    marker is stopped and the directory is deleted."""
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    tmp_dir = os.path.join(run_dir, "tmp")
    jvm_dir = os.path.join(run_dir, "spark")
    os.makedirs(tmp_dir)
    os.makedirs(jvm_dir)
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        TMPDIR=tmp_dir,
        SPARK_LOCAL_DIRS=jvm_dir,
        SPARK_DRIVER_MEMORY=driver_memory,
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={jvm_dir} -XX:-UsePerfData")
            + " --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        **{MARKER: run_dir},
    )
    try:
        yield run_dir, env, cpus
    finally:
        try:
            stop_all(run_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", required=True, help="driver JVM heap, e.g. 4g")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "openseizuredatabase_spark", "plans", "registry.py")):
        print("perfbench: run from a checkout of the repository: "
              "openseizuredatabase_spark/ is missing", file=sys.stderr)
        return 2

    rc = record = None
    with run_environment(args.driver_memory) as (run_dir, env, cpus):
        result_path = os.path.join(run_dir, "result.json")
        cmd = [
            sys.executable, "-m", "perfbench.harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--result", result_path,
        ]
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        finally:
            stop_all(run_dir)
            proc.wait()
        if rc == 0:
            with open(result_path) as fh:
                record = json.load(fh)
            record["run_tmp_bytes"] = dir_bytes(os.path.join(run_dir, "tmp"))
    if record is None:
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return 1

    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(records, name), "w") as fh:
        json.dump(record, fh, indent=1)

    if args.trace:
        layers = record["layers"]
        values = dict(layers["metrics"])
        values["host.canary_cpu_s"] = min(c["cpu_s"] for c in record["canary"])
        values["host.canary_shuffle_s"] = min(c["shuffle_s"] for c in record["canary"])
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        print(f"dominant layer of {args.workload}: {layers['dominant_layer']} "
              f"(self time per layer, s: "
              + ", ".join(f"{k} {v:.2f}" for k, v in layers["layer_s"].items()) + ")")
    else:
        metrics = {k: {"value": record[k], "unit": u} for k, u in END_TO_END.items()}
        print(f"fail_frac {record['fail_frac']:.4f} ratio "
              f"({record['failed']} of {record['attempted']} executions)")
        print(f"query_p50_s {record['query_p50_s']} s (diagnostic, "
              f"{record['query_samples']} samples); "
              f"wall_s over {len(record['pass_walls'])} warm passes")
        print("host canary (diagnostic): " + ", ".join(
            f"cpu {c['cpu_s']:.3f} s / shuffle {c['shuffle_s']:.3f} s" for c in record["canary"]))
    for key, m in metrics.items():
        print(f"{key} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
