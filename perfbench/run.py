#!/usr/bin/env python3
"""Benchmark entry point for the engine.

usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a source checkout.  It generates the workload's
corpus from the seed under ``perfbench/.work/``, runs one measurement
in a child process (``worker.py``) on ``local[<cores>]``, and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: process start until ``get_spark`` has returned and one
  warm-up query (``agg_pricing_summary``) has been fetched;
- ``pass_cpu_s``: median over the timed passes of the CPU seconds the
  engine's processes (the Python client, its JVM, Python workers) spend on one
  pass, JIT compiler threads excluded.  CPU rather than wall time,
  because on a shared virtual machine the wall time of the same pass
  varies far more between runs than its CPU time does;
- ``peak_rss_mb``: peak resident memory (VmHWM) of the Python client
  plus its JVM;
- ``ok_frac``: ops that ran and matched DuckDB, divided by ops attempted.

Wall times (pass, median op) and the host probes go to stderr.
``--trace 1`` reports the per-layer metrics (see BENCHMARK.json and
``worker.py``) and keeps the run's spans in ``perfbench/.traces/``.
``--smoke`` uses the tiny corpus of the self-test.  Exits non-zero,
without a result, when the engine is not in the checkout or the run
fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DEADLINE_S = 170

sys.path.insert(0, str(HERE))
from workloads import WORKLOADS  # noqa: E402


def _group_alive(pgid: int) -> bool:
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[2]) == pgid:
                    return True
        except (OSError, ValueError, IndexError):
            continue
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process left in the worker's group and wait for them."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait_s
        while time.time() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _exit_on_term(signum, frame):
    sys.exit(128 + signum)


def main() -> int:
    t0 = time.time()
    signal.signal(signal.SIGTERM, _exit_on_term)  # so the finally below stops the worker
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    if not (ROOT / "etl_builder_spark" / "__init__.py").is_file():
        print(f"perfbench: engine package etl_builder_spark not found under {ROOT}", file=sys.stderr)
        return 2
    import datagen

    spec = WORKLOADS[args.workload]
    work = HERE / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        (work / d).mkdir(parents=True)
    try:
        data = datagen.generate(
            str(work / "data"), spec["smoke_sf" if args.smoke else "sf"], args.seed, spec["dirty"]
        )
        cores = len(os.sched_getaffinity(0))
        submit = [
            # JVM temp files in the work dir; no hsperfdata file under /tmp
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false",
        ]
        if args.trace == "1":
            submit += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{work / 'eventlog'}",
                "--conf", "spark.eventLog.compress=false",
            ]
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join([str(ROOT), str(HERE)]),
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_GRAFT_DRIVER_MEM="2g",
            SPARK_LOCAL_DIRS=str(work / "local"),
            TMPDIR=str(work / "tmp"),
            PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        )
        result_path = work / "result.json"
        cmd = [
            sys.executable, str(HERE / "worker.py"), args.workload, data,
            str(args.seed), str(args.seconds), args.trace, str(result_path),
        ]
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(DEADLINE_S - (time.time() - t0), 1))
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {DEADLINE_S}s, stopped", file=sys.stderr)
            rc = -1
        finally:
            _stop_group(proc.pid)
            proc.wait()
        if rc != 0 or not result_path.is_file():
            print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
            return 1
        result = json.loads(result_path.read_text())
        if args.trace == "1":
            traces = HERE / ".traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "spans.json", traces / f"{args.workload}-seed{args.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
