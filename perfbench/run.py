#!/usr/bin/env python3
"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload kg_build --seed 0 --seconds 5 \
        --trace 0

One process drives Spark on ``local[<cores>]`` as a closed loop with one
client: it sets up (session start, input generation from the seed),
runs the workload's operation until ``--seconds`` have passed, at least
once, then checks the outputs. There is no warm-up op (see
``workloads.Workload``). Details go to stderr; the last line of
stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` starts
Spark with the event log on, runs one untimed op, then runs half
the time without spans and half with every layer call inside a span,
and reports the per-layer metrics of the warm traced ops, with the
tracing overhead between the two halves; the spans themselves go to
stderr as one JSON list.

Exit status: 0 when every gate passed; 1 when a gate failed or more
than half the timed ops failed; 2 when the program under test or the
workload cannot be found.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s"}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def start_session(work: str, cores: int, event_dir: str | None = None):
    from multivac_spark.session import get_spark

    conf = {"spark.driver.memory": "1g",
            "spark.local.dir": f"{work}/local",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.ui.showConsoleProgress": "false"}
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=str(max(cores, 8)),
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    """Runs a workload's operations, each wrapped so that a failure is
    printed and counted and the run goes on."""

    def __init__(self, wl, ctx):
        self.wl, self.ctx = wl, ctx
        self.next_i = 0

    def one(self, measured: bool) -> dict | None:
        i = self.next_i
        self.next_i += 1
        tr = self.ctx.tr
        tr.run_id = i if measured else None
        try:
            kind, run = self.wl.op(self.ctx)
            with tr.span("op", kind=kind):
                t0 = time.perf_counter()
                after = run()
                latency = time.perf_counter() - t0
            if after:
                with tr.span("check"):
                    after()
        except Exception:  # an op failure is counted, and the run goes on
            log(f"op {i} failed:")
            traceback.print_exc()
            return None
        finally:
            tr.run_id = None
        return {"kind": kind, "latency_s": latency}

    def measure(self, seconds: float) -> tuple[list[dict], int]:
        """Ops until ``seconds`` have passed, at least one:
        (successful ops, failures)."""
        ops: list[dict] = []
        failed = 0
        t_end = time.perf_counter() + seconds
        while not (ops or failed) or time.perf_counter() < t_end:
            got = self.one(measured=True)
            if got:
                ops.append(got)
            else:
                failed += 1
                if failed > len(ops) + 2:
                    break  # mostly failing: stop rather than spin
        return ops, failed


def overhead_pct(untraced: list[dict], traced: list[dict]) -> float:
    """Mean traced op latency against the mean untraced one."""
    mean = lambda ops: statistics.mean(o["latency_s"] for o in ops)
    return 100 * (mean(traced) / mean(untraced) - 1)


def run(args, work: str) -> dict:
    from measure import RssSampler
    from spans import Tracer, layer_metric_units, layer_metrics, \
        parse_event_log
    from workloads import WORKLOADS, Ctx, GateError

    cores = len(os.sched_getaffinity(0))
    sampler = RssSampler().start()
    spark = None
    try:
        events = f"{work}/events" if args.trace else None
        if events:
            os.makedirs(events)
        t0 = time.perf_counter()
        spark = start_session(work, cores, events)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload]()
        ctx = Ctx(spark, Tracer(), work, args.seed)
        t = time.perf_counter()
        wl.generate(ctx)
        gen_s = time.perf_counter() - t
        wl.load(ctx)
        runner = Runner(wl, ctx)
        if args.trace:
            runner.one(measured=False)  # per-layer figures: warm ops
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.3f}s (session {session_s:.3f}s, "
            f"inputs {gen_s:.3f}s)")

        seconds = args.seconds / 2 if args.trace else args.seconds
        ops, failed = runner.measure(seconds)
        traced: list[dict] = []
        peak_rss = sampler.peak
        log("latencies", [f"{o['kind']}:{o['latency_s']:.3f}" for o in ops])
        # a failed op misses every latency limit: it counts as slowest
        lat = [o["latency_s"] for o in ops] + [math.inf] * failed
        if statistics.median(lat) == math.inf:
            raise RuntimeError(f"{failed} of {len(lat)} timed ops failed")
        log("counts", {k: v[-1] for k, v in ctx.tr.counts.items()})

        if args.trace:
            ctx.tr = Tracer(spark.sparkContext)
            traced, traced_failed = runner.measure(seconds)
            failed += traced_failed
            if not traced:
                raise RuntimeError("no traced operation succeeded")
            log("traced", [f"{o['kind']}:{o['latency_s']:.3f}"
                           for o in traced])

        correct = True
        try:
            with ctx.tr.span("gates"):
                wl.check(ctx)
        except GateError as e:
            correct = False
            log(f"GATE FAILED: {e}")

        if args.trace:
            spark.stop()
            spark = None
            logs = glob.glob(f"{events}/*")
            jobs, stages = parse_event_log(logs[0])
            log("spans", json.dumps(ctx.tr.spans))
            values = layer_metrics(ctx.tr, jobs, stages)
            values["session.start_s"] = session_s
            values["corpus.gen_s"] = gen_s
            values["trace.overhead_pct"] = overhead_pct(ops, traced)
            units = layer_metric_units()
        else:
            values = {"setup_s": setup_s,
                      "peak_rss_mb": peak_rss / 2**20,
                      "op_p50_s": statistics.median(lat)}
            units = E2E_UNITS
        # the timed loops' own tally: warm-up ops are not counted
        return {"correct": correct,
                "attempted": len(ops) + len(traced) + failed,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u}
                            for k, u in units.items()}}
    finally:
        sampler.stop()
        if spark is not None:
            spark.stop()


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it and its
    Python workers to exit."""
    from measure import process_tree
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    rest = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while rest and time.time() < deadline:
        rest = [p for p in rest if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in rest:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "multivac_spark")):
        log(f"multivac_spark not found next to {HERE}; run from a "
            "checkout of the repository")
        return 2
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {list(WORKLOADS)}")
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    for d in ("local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # every JVM spark-submit starts would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")
        if p)
    try:
        result = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
