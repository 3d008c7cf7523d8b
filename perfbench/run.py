"""spark-mine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pickaxe_expand --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The command generates the workload's
inputs from --seed, boots one Spark session pinned to this host
(local[nproc], nproc shuffle partitions, 2g driver heap), sets up and warms
up (all of it reported as setup_s), then runs the workload's passes until
--seconds of timed work have accumulated, checks every answer (untimed),
and prints a report ('#' lines, every metric with its unit) followed by the
JSON result line. With --trace 1 it runs a traced series and then one
untraced reference pass instead, and the result line carries the per-layer
metrics and the tracing overhead (traced minus reference pass time). The
report, spans included, goes to .perfbench_work/perfbench-report-*.json.

Workloads: pickaxe_expand (write path) and query_mix (read path) are the
ones BENCHMARK.json runs on every seed; mine_query and registry_mix are the
read path's two halves at full size (more requests, all nine registry
queries) for longer manual runs.
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
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.common import REPORT_NAME, descendants  # noqa: E402

WORKLOADS = ("pickaxe_expand", "query_mix", "mine_query", "registry_mix")


def host_env(work: str) -> dict:
    """Pin Spark to this host: local[nproc], nproc shuffle partitions, a
    driver heap well below RAM, and every temp/local dir inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_SQL_SHUFFLE_PARTITIONS": str(nproc),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return {"nproc": nproc, "driver_memory": env["SPARK_DRIVER_MEMORY"]}


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM and
    the Python workers), sampled every 0.5 s from /proc."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_rss_kb() -> int:
        total = 0
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    total += next((int(l.split()[1]) for l in f if l.startswith("VmRSS:")), 0)
            except OSError:
                pass
        return total

    def run(self):
        while not self._stop_evt.wait(0.5):
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return max(self.peak_kb, self._tree_rss_kb()) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (and with it the Python workers) and
    wait until every process this run started has exited."""
    if spark is not None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        spark.stop()
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig in (None, signal.SIGKILL):
        if sig is not None:
            for pid in descendants():
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.time() + 30
        while descendants() and time.time() < deadline:
            time.sleep(0.2)


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    s = sorted(xs)
    return s[min(len(s), max(1, math.ceil(q * len(s)))) - 1]


def make_workload(name: str, spark, seed: int, work: str):
    if name == "pickaxe_expand":
        from perfbench.pickaxe_expand import PickaxeExpand as W
    elif name == "query_mix":
        from perfbench.query_mix import QueryMix as W
    elif name == "mine_query":
        from perfbench.mine_query import MineQuery as W
    else:
        from perfbench.registry_mix import RegistryMix as W
    return W(spark, seed, work)


def measure(wl, tracer, seconds: float) -> tuple[list, list[float], list[float]]:
    """Passes until `seconds` of timed work (at least one pass); returns the
    ops, each pass's timed seconds and each pass's CPU seconds. Both sum
    the ops' own windows, so answer checks and cache clearing between
    operations are not counted."""
    ops, passes, cpu = [], [], []
    while not passes or sum(passes) < seconds:
        p = wl.run_pass(tracer)
        ops += p
        passes.append(sum(o.seconds for o in p))
        cpu.append(sum(o.cpu_s for o in p))
        tracer.collect_stage_rows()
    return ops, passes, cpu


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mine_database_spark", "session.py")):
        print(f"perfbench: no mine_database_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    host = host_env(work)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t_setup = time.perf_counter()
        from mine_database_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        boot_s = time.perf_counter() - t_setup

        from perfbench.layers import layer_metrics
        from perfbench.trace import Tracer

        wl = make_workload(args.workload, spark, args.seed, work)
        sizes = wl.setup()
        off = Tracer(spark, enabled=False)
        wl.warmup(off)
        wl.reset()
        setup_s = time.perf_counter() - t_setup

        traced_ops, traced_passes, tracer = [], [], None
        if args.trace:
            tracer = Tracer(spark, enabled=True)
            traced_ops, traced_passes, _ = measure(wl, tracer, args.seconds)
            # one untraced reference pass, after the traced ones: passes still
            # get faster as the JIT warms, so the overhead errs high
            ops, passes, cpu = measure(wl, off, 0)
        else:
            ops, passes, cpu = measure(wl, off, args.seconds)
        failures = wl.finish(ops + traced_ops)

        attempted = len(ops) + len(traced_ops)
        failed = sum(not o.ok for o in ops + traced_ops)
        run_s = statistics.median(passes)
        lat = [o.seconds for o in ops]
        peak_rss_mb = rss.stop()
        e2e = {
            "setup_s": (setup_s, "s"),
            "run_cpu_s": (statistics.median(cpu), "s"),
            "ok_frac": ((attempted - failed) / attempted, "fraction"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        # printed and reported, not gated: wall time swings with the host's
        # neighbours (the CPU seconds above do not count stolen time), so a
        # change that only loses parallelism or adds driver waits passes the
        # gate and shows here; a run holds too few requests for steady
        # percentiles, and the rest exist on one workload only
        scoped = {"run_s": (run_s, "s"), "failed_frac": (failed / attempted, "fraction"),
                  "requests": (len(lat), "count"),
                  "req_per_s": (len(ops) / sum(passes), "1/s"),
                  "req_p50_s": (statistics.median(lat), "s"), "req_p90_s": (quantile(lat, 0.9), "s"),
                  **wl.extra_metrics(run_s, ops)}
        load1, load5, _ = os.getloadavg()
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "host": {**host, "loadavg_1m": load1, "loadavg_5m": load5},
            "inputs": sizes, "boot_s": boot_s, "passes": passes,
            "ops": [(o.kind, o.seconds, o.cpu_s, o.ok, o.rows) for o in ops],
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **scoped}.items()},
            "failures": failures,
            "notes": getattr(wl, "notes", {}),
        }
        if args.trace:
            spans = tracer.rows()
            layers = layer_metrics(spans, boot_s)
            layers["trace.overhead_s"] = (statistics.median(traced_passes) - run_s, "s")
            report["traced_passes"] = traced_passes
            report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
            report["spans"] = spans
            metrics = layers
        else:
            metrics = e2e
        os.makedirs(base, exist_ok=True)
        path = os.path.join(base, REPORT_NAME.format(
            workload=args.workload, seed=args.seed, kind="traced" if args.trace else "plain"))
        with open(path, "w") as f:
            json.dump(report, f, indent=1, default=str)
        print(f"# {args.workload} seed={args.seed} nproc={host['nproc']} "
              f"loadavg={load1:.2f}/{load5:.2f} inputs={json.dumps(sizes)}")
        for k, (v, u) in {**e2e, **scoped, **(metrics if args.trace else {})}.items():
            print(f"# {k} = {v:.6g} {u}")
        for k, v in report["notes"].items():
            print(f"# {k} = {v}")
        for msg in failures:
            print(f"# FAILED: {msg}")
        print(f"# report: {os.path.relpath(path, ROOT)}")
        print(json.dumps({
            "correct": not failures and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if rss.is_alive():
            rss.stop()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
