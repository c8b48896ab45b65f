"""One benchmark run of one workload, in a fresh process started by run.py.

    python3 perfbench/worker.py '<json args>'

Set-up (Spark session, seeded inputs, one untimed warm round on a
toy-sized copy of the inputs) runs first.
The timed phase then runs a fixed number of rounds.  Between calls,
outside every timed span, the runner collects Python garbage and asks the
JVM for a GC, so one call's garbage is not collected inside the next
call's span.  Outputs are checked outside the timed spans too.  The
result is printed as one JSON line.

With ``trace`` set, an untraced lead round is followed by traced and
untraced rounds in the order traced, untraced, untraced, traced, ...: the
traced rounds give the per-call ledger (see ledger.py) and the difference
between the two kinds of round gives the tracing overhead.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import traceback

from ledger import CALL_STATS, TOTAL_STATS, Tracer
from workloads import LEDGER_CALLS, WORKLOADS


def cpu_probe_ms() -> float:
    """Median time of a fixed pure-Python loop: a yardstick of the host's
    speed, taken outside every timed span."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc (0 if gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Runner:
    def __init__(self, spark, workload, tracer: Tracer | None):
        self.jvm_system = spark.sparkContext._jvm.System
        self.workload = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.call_s: dict[str, list[float]] = {}  # untraced timed spans
        self.pause_s = 0.0  # untimed time spent in pause()

    def pause(self) -> None:
        t0 = time.perf_counter()
        gc.collect()
        self.jvm_system.gc()
        self.pause_s += time.perf_counter() - t0

    def check(self, call, out) -> bool:
        try:
            if call.check(out):
                return True
            self.failures.append(f"{call.name}: output check failed")
        except Exception:
            self.failures.append(f"{call.name} check: {traceback.format_exc()}")
        return False

    def run_round(self, index: int, traced: bool, counted: bool) -> tuple[float, list]:
        """Run one round; returns (latency, per-call ledgers).  The round
        latency is the sum of its calls' timed spans."""
        tracer = self.tracer if traced else None
        round_span = tracer.begin_round(index) if tracer else None
        if tracer:
            tracer.rows.install()
        latency, ledgers = 0.0, []
        try:
            for call in self.workload.round_calls():
                self.pause()
                if tracer:
                    tracer.begin_call(call.name, round_span)
                ok, out = True, None
                start, t0 = time.time(), time.perf_counter()
                try:
                    out = call.run()
                except Exception:
                    ok = False
                    self.failures.append(f"{call.name}: {traceback.format_exc()}")
                elapsed = time.perf_counter() - t0
                latency += elapsed
                if not tracer:
                    self.call_s.setdefault(call.name, []).append(elapsed)
                if tracer:
                    ledgers.append((call.name, tracer.end_call(start, start + elapsed)))
                if ok:
                    ok = self.check(call, out)
                if counted:
                    self.attempted += 1
                    self.failed += not ok
        finally:
            if tracer:
                tracer.rows.uninstall()
                tracer.end_round(round_span)
            self.workload.end_round()
        return latency, ledgers


def per_layer(ledgers: list[list[tuple[str, dict]]], call_names: list[str]) -> dict:
    """Median over traced rounds of each call's stats, plus per-round
    workload totals; calls a workload does not make read 0."""
    out: dict[str, float] = {}
    by_call: dict[str, list[dict]] = {}
    for round_ledgers in ledgers:
        for name, ledger in round_ledgers:
            by_call.setdefault(name, []).append(ledger)
    for name in call_names:
        for stat in CALL_STATS:
            values = [ledger[stat] for ledger in by_call.get(name, [])]
            out[f"{name}.{stat}"] = statistics.median(values) if values else 0
    for stat in TOTAL_STATS:
        per_round = [sum(ledger[stat] for _, ledger in rl) for rl in ledgers]
        out[f"spark.{stat}"] = statistics.median(per_round)
    return out


def main(args: dict) -> int:
    from cuml_spark.core.session import get_spark

    probe_before, steal0 = cpu_probe_ms(), steal_ticks()
    t_start = time.time()
    spark = get_spark(app_name=f"perfbench-{args['workload']}")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    workload = WORKLOADS[args["workload"]](
        spark, args["workdir"], args["seed"], args["tiny"])
    run_id = f"{args['workload']}-seed{args['seed']}-{os.getpid()}"
    tracer = Tracer(spark, run_id) if args["trace"] else None
    runner = Runner(spark, workload, tracer)
    try:
        t_session = time.time()
        workload.setup()
        t_inputs = time.time()
        # warm every call once, on a toy-sized copy of the inputs: the cold
        # cost of a first call (class loading, code generation, Python
        # workers) hardly depends on the data size
        warm = Runner(spark, WORKLOADS[args["workload"]](
            spark, os.path.join(args["workdir"], "warm"), args["seed"], True), None)
        warm.workload.setup()
        warm.run_round(-1, traced=False, counted=False)
        runner.failures += [f"warm round: {f}" for f in warm.failures]
        runner.pause()
        first_call = time.time()
        print(f"set-up: session {t_session - t_start:.2f} s, inputs "
              f"{t_inputs - t_session:.2f} s, warm round {first_call - t_inputs:.2f} s ("
              + ", ".join(f"{n} {t[0]:.2f}" for n, t in warm.call_s.items()) + ")",
              file=sys.stderr)
        untraced, traced, ledgers = [], [], []
        for index in range(args["rounds"]):
            # with tracing on, an untraced lead round is followed by rounds
            # traced, untraced, untraced, traced, ... so warm-up drift does
            # not favour either kind
            is_traced = tracer is not None and index > 0 and (index - 1) % 4 in (0, 3)
            latency, round_ledgers = runner.run_round(index, is_traced, counted=True)
            (traced if is_traced else untraced).append(latency)
            if is_traced:
                ledgers.append(round_ledgers)
        timed_end = time.time()
        probe_after, steal1 = cpu_probe_ms(), steal_ticks()
        print(f"timed phase: {timed_end - first_call:.2f} s elapsed, of which "
              f"{runner.pause_s:.2f} s in GC pauses", file=sys.stderr)
        print(f"host: cpu probe {probe_before:.1f} ms before, {probe_after:.1f} ms "
              f"after; steal {100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1f}%",
              file=sys.stderr)
    finally:
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    if tracer:
        runner.failures += [f"ledger: {e}" for e in tracer.errors]
    for failure in runner.failures:
        print(failure, file=sys.stderr)
    result = {
        "attempted": runner.attempted,
        "failed": runner.failed,
        "ledger_errors": len(tracer.errors) if tracer else 0,
        "first_call": first_call,
        "rounds": untraced,
        "call_s": runner.call_s,
        "traced_rounds": traced,
        "rows_per_round": sum(c.rows for c in workload.round_calls()),
        "peak_rss_mb": peak_rss_mb,
        "harness_imported": sorted(m for m in sys.modules
                                   if m.startswith("cuml_spark.harness")),
    }
    if tracer:
        result["per_layer"] = per_layer(ledgers, LEDGER_CALLS)
        spans_path = os.path.join(args["outdir"], f"spans-{run_id}.json")
        tracer.write(spans_path, {"untraced_rounds_s": untraced,
                                  "traced_rounds_s": traced})
        result["spans"] = spans_path
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(json.loads(sys.argv[1])))
