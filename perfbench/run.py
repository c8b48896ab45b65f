"""Estimator and text-curation benchmark for cuml_spark.

    python3 perfbench/run.py --workload ml_fit_serve --seed 0 --seconds 24 --trace 0

Runs one workload (``ml_fit_serve`` or ``text_curation``, see
workloads.py) in a fresh worker process with fixed cores and driver heap,
checks every timed call's output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-call Spark ledger
(see ledger.py) and writes the run's spans under ``perfbench/_out/``.
``--tiny`` runs one round of each kind at toy sizes, for the smoke test.

Must be run from a checkout that holds the ``cuml_spark`` package next to
``perfbench/``; everything the run writes stays inside that checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Rounds per run = seconds / nominal round time (the round's latency on
# 4 cores at the benchmark's introduction), so a run's work is fixed by
# --seconds and a faster program finishes it sooner.
NOMINAL_ROUND_S = {"ml_fit_serve": 6.0, "text_curation": 8.0}
WORKLOADS = tuple(NOMINAL_ROUND_S)
MIN_ROUNDS = 3
DRIVER_MEM = "2g"
WORKER_TIMEOUT_S = 170


def cores() -> int:
    return len(os.sched_getaffinity(0))


def worker_env(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options \"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}\" pyspark-shell"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return env


def run_worker(args: argparse.Namespace, work: str, outdir: str) -> tuple[dict, float]:
    rounds = 1 if args.tiny else max(
        MIN_ROUNDS, math.ceil(args.seconds / NOMINAL_ROUND_S[args.workload]))
    if args.trace:  # a lead round, then traced and untraced rounds in fours
        rounds = 1 + 4 * max(1, math.ceil((rounds - 1) / 4))
    worker_args = {"workload": args.workload, "seed": args.seed, "rounds": rounds,
                   "trace": bool(args.trace), "tiny": args.tiny,
                   "workdir": work, "outdir": outdir}
    spawned = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(worker_args)],
        cwd=work, env=worker_env(work), stdout=subprocess.PIPE, text=True,
        start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: worker exceeded {WORKER_TIMEOUT_S}s")
    finally:
        # the worker stops Spark and waits for its JVM; this ends whatever
        # is left of its process group (Python daemons, or all of it after
        # a timeout)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: worker failed (exit {proc.returncode})")
    return json.loads(lines[-1]), spawned


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=24.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="toy sizes and one round per kind (smoke test)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cuml_spark", "__init__.py")):
        print(f"perfbench: no cuml_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    outdir = os.path.join(HERE, "_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    try:
        res, spawned = run_worker(args, work, outdir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rounds = res["rounds"]
    print(f"perfbench: {args.workload} untraced rounds (s): "
          + " ".join(f"{r:.3f}" for r in rounds), file=sys.stderr)
    for name, spans in res["call_s"].items():
        print(f"perfbench:   {name} (s): " + " ".join(f"{t:.3f}" for t in spans),
              file=sys.stderr)
    if args.trace:
        metrics = {name: {"value": value, "unit": unit_of(name)}
                   for name, value in res["per_layer"].items()}
        # traced minus untraced wall time over the same number of rounds,
        # leaving out the lead round, which is still warming up
        untraced = rounds[1:]
        overhead = sum(res["traced_rounds"]) - sum(untraced)
        metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
        print(f"perfbench: tracing overhead {overhead:+.3f} s over {len(untraced)} "
              f"rounds (untraced wall {sum(untraced):.3f} s); spans in {res['spans']}",
              file=sys.stderr)
    else:
        wall_s = sum(rounds)
        metrics = {
            "setup_s": {"value": res["first_call"] - spawned, "unit": "s"},
            "wall_s": {"value": wall_s, "unit": "s"},
            "round_p50_s": {"value": statistics.median(rounds), "unit": "s"},
            "rows_per_s": {"value": len(rounds) * res["rows_per_round"] / wall_s,
                           "unit": "rows/s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
            "ok_ratio": {"value": (res["attempted"] - res["failed"]) / res["attempted"],
                         "unit": "ratio"},
        }
    if res["harness_imported"]:
        print(f"perfbench: timed path imported {res['harness_imported']}", file=sys.stderr)
    if res["ledger_errors"]:
        print(f"perfbench: {res['ledger_errors']} ledger errors", file=sys.stderr)
    correct = (res["failed"] == 0 and not res["harness_imported"]
               and not res["ledger_errors"])
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def unit_of(metric: str) -> str:
    stat = metric.rsplit(".", 1)[1]
    if stat.endswith("_s") or stat == "s":
        return "s"
    return "MB" if stat.endswith("_mb") else "count"


if __name__ == "__main__":
    sys.exit(main())
